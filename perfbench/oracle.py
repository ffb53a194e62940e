"""Off-the-clock correctness checks: every output of a run is compared with
an independent DuckDB computation over the generator's files.

Each check returns (attempted, failed, notes) for its workload.
"""
import hashlib
import json
import os
import re

import duckdb


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 4")  # runs after the measured JVM has exited
    con.execute("SET enable_progress_bar = false")
    return con


def _same_set(con, actual, expected):
    """True when two relations hold the same rows (both are row sets)."""
    n_a, n_e, a_only, e_only = con.execute(f"""
      SELECT (SELECT count(*) FROM {actual}), (SELECT count(*) FROM {expected}),
             (SELECT count(*) FROM (SELECT * FROM {actual} EXCEPT SELECT * FROM {expected})),
             (SELECT count(*) FROM (SELECT * FROM {expected} EXCEPT SELECT * FROM {actual}))
    """).fetchone()
    return n_a == n_e and a_only == 0 and e_only == 0, dict(
        rows=n_a, expected_rows=n_e, unexpected=a_only, missing=e_only)


def digest(con, rel, cols):
    """Order-independent content digest of a relation."""
    n, h = con.execute(f"SELECT count(*), sum(hash({', '.join(cols)})) FROM {rel}").fetchone()
    return f"{n}:{h}"


def check_pipeline(inp, report):
    con = _con()
    expected = f"'{inp}/truth/expected.parquet'"
    attempted = failed = 0
    notes = []
    for it in report["iterations"]:
        attempted += 1
        out = os.path.join(it["dir"], "out", "korean_japanese_hanjya")
        if "error" in it or not os.path.isdir(out):
            failed += 1
            notes.append(dict(n=it["n"], error=it.get("error", "no output")))
            continue
        actual = f"(SELECT word_id, korean, japanese, hanjya FROM '{out}/*.parquet')"
        ok, stats = _same_set(con, actual, expected)
        failed += not ok
        notes.append(dict(n=it["n"], ok=ok, traced=it["traced"],
                          digest=digest(con, actual, ["word_id", "korean", "japanese", "hanjya"]),
                          **stats))
    return attempted, failed, notes


def materialized(sql):
    """The same query with every non-recursive CTE marked MATERIALIZED.

    DuckDB inlines CTEs by default, so a recursive CTE that joins a derived
    edge list re-derives the whole signature → pair chain on every
    recursion step; materializing changes only the evaluation strategy."""
    out, pos = [], 0
    for m in re.finditer(r"\b(\w+) AS \(", sql):
        depth, end = 0, m.end() - 1
        for end in range(m.end() - 1, len(sql)):
            depth += {"(": 1, ")": -1}.get(sql[end], 0)
            if depth == 0:
                break
        if re.search(rf"\b{m.group(1)}\b", sql[m.end():end]):
            continue  # recursive: DuckDB cannot materialize it
        out.append(sql[pos:m.start()] + f"{m.group(1)} AS MATERIALIZED (")
        pos = m.end()
    return "".join(out) + sql[pos:]


def _dedup_expected(con, inp, name, sql):
    """Run the program's registered DuckDB oracle once per (input, SQL)."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:12]
    path = os.path.join(inp, f"expected-{name}-{key}.parquet")
    if not os.path.exists(path):
        con.execute(f"COPY ({materialized(sql)}) TO '{path}.tmp' (FORMAT parquet)")
        os.rename(path + ".tmp", path)
    return f"'{path}'"


def check_dedup(inp, report):
    con = _con()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{inp}/in/documents.parquet'")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{inp}/in/embeddings.parquet'")
    sqls = report["outputs"]["oracle_sql"]
    cols = {"clusters": ["cluster_id", "doc_id", "is_keeper"],
            "eclusters": ["cluster_id", "vec_id", "is_keeper"]}
    expected = {k: _dedup_expected(con, inp, k, sqls[k]) for k in cols}
    attempted = failed = 0
    notes = []
    for it in report["iterations"]:
        attempted += 1
        if "error" in it:
            failed += 1
            notes.append(dict(n=it["n"], error=it["error"]))
            continue
        note = dict(n=it["n"], traced=it["traced"])
        ok = True
        for k, cs in cols.items():
            actual = f"(SELECT {', '.join(cs)} FROM '{it['dir']}/out/{k}/*.parquet')"
            same, stats = _same_set(con, actual, expected[k])
            ok &= same
            note[k] = dict(digest=digest(con, actual, cs), **stats)
        note["ok"] = ok
        failed += not ok
        notes.append(note)
    return attempted, failed, notes


AGG = """SELECT count(*), coalesce(sum(v), 0), coalesce(sum(k), 0), coalesce(max(day), -1),
                coalesce(sum(length(tag)), 0) FROM {t} WHERE k BETWEEN {lo} AND {hi}"""
DIGEST = """SELECT count(*), coalesce(sum(k), 0), coalesce(sum(v), 0), coalesce(sum(day), 0),
                   coalesce(sum(length(tag)), 0), coalesce(sum(k * v % 1000003), 0) FROM {t}"""


def check_catalog(inp, report):
    """Replay the ops the JVM ran in DuckDB, keeping one snapshot per table
    version, and compare every read and every retained version."""
    out = report["outputs"]
    ops = json.load(open(os.path.join(inp, "ops.json")))[:out["ops_run"]]
    reads = {r["op"]: r for r in out["reads"]}
    con = _con()
    con.execute("CREATE TABLE t (k BIGINT, v BIGINT, day INTEGER, tag VARCHAR)")
    snap = {out["create_version"]: "s_create"}
    con.execute("CREATE TABLE s_create AS SELECT * FROM t")
    prev = out["create_version"]
    failed = 0
    bad = []
    for j, op in enumerate(ops):
        kind = op["op"]
        if kind in ("insert", "merge"):
            src = f"(SELECT k, v, day, tag FROM '{inp}/in/{op['file']}')"
            if kind == "merge":
                con.execute(f"DELETE FROM t WHERE k IN (SELECT k FROM {src})")
            con.execute(f"INSERT INTO t SELECT * FROM {src}")
        elif kind == "delete":
            con.execute(f"DELETE FROM t WHERE k IN ({', '.join(map(str, op['keys']))})")
        elif kind in ("read", "read_version"):
            r = reads[j]
            table = "t" if kind == "read" else snap.get(r["version"])
            want = None if table is None else list(
                con.execute(AGG.format(t=table, lo=op["lo"], hi=op["hi"])).fetchone())
            if want != r["row"]:
                failed += 1
                bad.append(dict(op=j, version=r["version"], got=r["row"], want=want))
        v = out["version_after"][j]
        if v != prev:
            snap[v] = f"s{v}"
            con.execute(f"CREATE TABLE s{v} AS SELECT * FROM t")
            prev = v
    for ver in out["versions"]:
        table = snap.get(ver["version"])
        want = None if table is None else list(con.execute(DIGEST.format(t=table)).fetchone())
        if want != ver["digest"]:
            failed += 1
            bad.append(dict(version=ver["version"], got=ver["digest"], want=want))
    attempted = len(out["statements"]) + len(out["versions"])
    failed += sum(1 for it in report["iterations"] if "error" in it)
    return attempted, failed, [dict(versions_checked=len(out["versions"]),
                                    reads_checked=len(reads), mismatches=bad[:5],
                                    reads={j: r["row"] for j, r in reads.items()})]


CHECKS = {"pipeline_ref": check_pipeline, "dedup_corpus": check_dedup,
          "catalog_incremental": check_catalog}
