"""Seeded input generators for the three benchmark workloads.

Every generator runs outside the measured JVM, is a pure function of
(workload, seed, scale), and caches its output on disk under
``<cache>/<workload>-s<seed>-x<scale>/``; a directory that holds a ``DONE``
marker is reused as is. Alongside the program's inputs each generator writes
the truth the oracle needs (``truth/``), so the check never reads the
program's own intermediate files.
"""
import hashlib
import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _fresh(path):
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)


with open(os.path.abspath(__file__), "rb") as _f:
    # a changed generator never reuses inputs cached by an older one
    GEN_DIGEST = hashlib.sha256(_f.read()).hexdigest()[:8]


def cache_name(workload, seed, scale):
    return f"{workload}-s{seed}-x{scale}-g{GEN_DIGEST}"


def cached(cache, workload, seed, scale, build):
    """Return the generated directory for (workload, seed, scale), building
    it with ``build(tmpdir, seed, scale)`` when it is not cached yet."""
    out = os.path.join(cache, cache_name(workload, seed, scale))
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = out + ".tmp"
    _fresh(tmp)
    build(tmp, seed, scale)
    open(os.path.join(tmp, "DONE"), "w").close()
    if os.path.exists(out):
        shutil.rmtree(out)
    os.rename(tmp, out)
    return out


def evict(cache, keep):
    """Drop all cached inputs except the directories named in ``keep``."""
    if not os.path.isdir(cache):
        return
    for name in os.listdir(cache):
        if name not in keep:
            shutil.rmtree(os.path.join(cache, name), ignore_errors=True)


# ---------------------------------------------------------------------------
# pipeline_ref: the reference DAG's three raw line-text formats
# ---------------------------------------------------------------------------
#
# README volume at scale 1: 2M page-index title lines (A2), 300k langlink
# tuples packed 10 per SQL-dump line (A3), 100k hanja lines (A1). Titles
# draw article ids from 1.2M pages, so pages repeat across edits and the
# DISTINCT collapses them; a page's Hangul title is fixed by its id.
PIPE_TITLES = 2_000_000
PIPE_LANGLINKS = 300_000
PIPE_HANJA = 100_000
PIPE_PAGES = 1_200_000
PIPE_WORDS = 400_000
PIPE_TUPLES_PER_LINE = 10


def build_pipeline(out, seed, scale):
    nt = max(200, int(PIPE_TITLES * scale))
    nl = max(30, int(PIPE_LANGLINKS * scale))
    nh = max(20, int(PIPE_HANJA * scale))
    pages = max(100, int(PIPE_PAGES * scale))
    words = max(50, int(PIPE_WORDS * scale))
    rng = np.random.default_rng(seed)
    # seeded input properties: over-arity (P3) and under-arity shares, in
    # thousandths of lines. The bands are narrow: the seed varies the
    # content, not the amount of work, so runs on different seeds compare.
    over_t = int(rng.integers(28, 33))
    over_l = int(rng.integers(28, 33))
    over_h = int(rng.integers(95, 106))
    under = int(rng.integers(4, 7))
    props = dict(titles=nt, langlink_tuples=nl, hanja=nh, pages=pages,
                 words=words, over_arity_permille=dict(titles=over_t,
                 langlink=over_l, hanja=over_h), under_arity_permille=under)

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    s = int(seed)
    # deterministic pseudo-random draws: hash(seed, tag, i)
    con.execute(f"""
      CREATE MACRO r(tag, i) AS hash({s}, tag, i);
      CREATE MACRO syl(tag, i) AS chr(44032 + CAST(r(tag, i) % 11172 AS INTEGER));
      CREATE MACRO kata(tag, i) AS chr(12449 + CAST(r(tag, i) % 86 AS INTEGER));
      CREATE MACRO han(tag, i) AS chr(19968 + CAST(r(tag, i) % 20902 AS INTEGER));
    """)
    con.execute(f"""
      CREATE TABLE words AS
      SELECT w, substr(syl('w1', w) || syl('w2', w) || syl('w3', w) || syl('w4', w),
                       1, 2 + CAST(r('wl', w) % 3 AS INTEGER)) AS korean
      FROM range({words}) t(w)""")
    con.execute(f"""
      CREATE TABLE titles AS
      WITH d AS (
        SELECT i, CAST(1000000 + i AS VARCHAR) AS edit_id,
               CAST(1 + r('tp', i) % {pages} AS VARCHAR) AS word_id,
               (1 + r('tp', i) % {pages}) % {words} AS w,
               r('to', i) % 1000 AS u
        FROM range({nt}) t(i))
      SELECT d.i, d.edit_id, d.word_id,
             CASE WHEN u < {over_t} THEN w.korean || ':' || syl('tx', i) ELSE w.korean END AS korean,
             u >= 1000 - {under} AS broken
      FROM d JOIN words w USING (w)""")
    con.execute(f"""
      CREATE TABLE langlink AS
      SELECT j, CAST(1 + r('la', j) % {pages} AS VARCHAR) AS article_id, 'ja' AS language,
             substr(kata('k1', j) || kata('k2', j) || kata('k3', j) || kata('k4', j)
                    || kata('k5', j) || kata('k6', j), 1, 2 + CAST(r('kl', j) % 5 AS INTEGER))
             || CASE WHEN r('lo', j) % 1000 < {over_l} THEN ',' || kata('k7', j) ELSE '' END AS text
      FROM range({nl}) t(j)""")
    con.execute(f"""
      CREATE TABLE hanja AS
      WITH d AS (SELECT m, r('hw', m) % {words} AS w, r('ho', m) % 1000 AS u
                 FROM range({nh}) t(m))
      SELECT d.m, w.korean,
             substr(han('h1', m) || han('h2', m) || han('h3', m), 1,
                    1 + CAST(r('hl', m) % 3 AS INTEGER)) AS hanjya,
             syl('e1', m) || syl('e2', m) || ' ' || syl('e3', m) || syl('e4', m)
             || CASE WHEN u < {over_h} THEN ':' || syl('e5', m) || ' ' || syl('e6', m) ELSE '' END
               AS examples,
             u >= 1000 - {under} AS broken
      FROM d JOIN words w USING (w)""")

    raw = os.path.join(out, "raw")
    truth = os.path.join(out, "truth")
    for d in ("titles_raw", "hanja_raw", "langlink_raw"):
        os.makedirs(os.path.join(raw, d))
    os.makedirs(truth)

    def write_lines(sql, path):
        # one line per row, written as-is: the lines hold no tab, quote or
        # newline, so the CSV writer never quotes them
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT csv, HEADER false, DELIMITER '\t')")
        return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]

    n_lines = {}
    n_lines["titles"] = write_lines(
        """SELECT CASE WHEN broken THEN edit_id || ':' || word_id
                       ELSE edit_id || ':' || word_id || ':' || korean END
           FROM titles ORDER BY i""",
        os.path.join(raw, "titles_raw", "part-00000.txt"))
    n_lines["hanja"] = write_lines(
        """SELECT CASE WHEN broken THEN korean || ':' || hanjya
                       ELSE korean || ':' || hanjya || ':' || examples END
           FROM hanja ORDER BY m""",
        os.path.join(raw, "hanja_raw", "part-00000.txt"))
    n_lines["langlink"] = write_lines(
        f"""SELECT string_agg(article_id || ',' || language || ',' || text, '),(' ORDER BY j)
            FROM langlink GROUP BY j // {PIPE_TUPLES_PER_LINE}
            ORDER BY j // {PIPE_TUPLES_PER_LINE}""",
        os.path.join(raw, "langlink_raw", "part-00000.txt"))
    props["raw_lines"] = n_lines

    # truth tables: the generator's own records, never re-parsed lines
    con.execute(f"COPY (SELECT edit_id, word_id, korean FROM titles WHERE NOT broken) "
                f"TO '{truth}/titles.parquet' (FORMAT parquet)")
    con.execute(f"COPY (SELECT korean, hanjya, examples FROM hanja WHERE NOT broken) "
                f"TO '{truth}/hanja.parquet' (FORMAT parquet)")
    con.execute(f"COPY (SELECT article_id, language, text FROM langlink) "
                f"TO '{truth}/langlink.parquet' (FORMAT parquet)")
    # the dimension the DAG must produce, computed once per seed
    con.execute(f"""COPY ({PIPELINE_EXPECTED_SQL.format(truth=truth)})
                    TO '{truth}/expected.parquet' (FORMAT parquet)""")
    props["staged_rows"] = con.execute(
        f"""SELECT (SELECT count(*) FROM titles WHERE NOT broken)
                 + (SELECT count(*) FROM hanja WHERE NOT broken)
                 + (SELECT count(*) FROM langlink)""").fetchone()[0]
    props["expected_rows"] = con.execute(
        f"SELECT count(*) FROM '{truth}/expected.parquet'").fetchone()[0]
    with open(os.path.join(out, "props.json"), "w") as f:
        json.dump(props, f, indent=1)


PIPELINE_EXPECTED_SQL = """
  SELECT DISTINCT k.word_id, k.korean, kj.text AS japanese, kh.hanjya
  FROM '{truth}/titles.parquet' k
  LEFT JOIN '{truth}/langlink.parquet' kj ON k.word_id = kj.article_id
  LEFT JOIN '{truth}/hanja.parquet' kh ON k.korean = kh.korean"""


# ---------------------------------------------------------------------------
# dedup_corpus: a near-duplicate-rich document + embedding corpus, tiled
# ---------------------------------------------------------------------------
#
# One base tile (1500 docs, 600 64-d unit vectors) is tiled 2x the way
# graft.tools.ScaleBench.generate tiles sf0.1: tile k > 0 prefixes every
# token with "t<k>" (vocabularies are disjoint, so no cross-tile text pairs)
# and rotates every vector by k positions. The seed draws the base tile and
# its near-duplicate density.
DEDUP_DOCS = 1500
DEDUP_VECS = 600
DEDUP_TILES = 2
DEDUP_DIM = 64
# A near-duplicate copies a document at most this many copies deep, so
# clusters are deeper than one hop (connected components iterates) but
# their diameter, and with it the number of propagation rounds, does not
# depend on the seed.
DEDUP_MAX_DEPTH = 2


def _doc_texts(rng, n, density):
    vocab = ["".join(chr(97 + c) for c in rng.integers(0, 26, int(rng.integers(3, 9))))
             for _ in range(4000)]
    # Zipf-like token frequencies: a shared head, a long tail
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()
    docs = []
    copyable = []  # documents fewer than DEDUP_MAX_DEPTH copies deep
    depth = []
    kinds = {"fresh": 0, "reorder": 0, "extend": 0, "drift": 0}
    for i in range(n):
        if i > 20 and rng.random() < density:
            j = copyable[int(rng.integers(0, len(copyable)))]
            src = list(docs[j])
            depth.append(depth[j] + 1)
            kind = ["reorder", "extend", "drift"][int(rng.integers(0, 3))]
            if kind == "reorder":       # same token set, different text
                a, b = rng.integers(0, len(src), 2)
                src[a], src[b] = src[b], src[a]
                src.append(src[int(rng.integers(0, len(src)))])
            elif kind == "extend":      # one new token: J = |A| / (|A| + 1)
                src.append(vocab[int(rng.choice(len(vocab), p=p))])
            else:                       # three replaced tokens: usually below 0.95
                for _ in range(3):
                    src[int(rng.integers(0, len(src)))] = vocab[int(rng.integers(0, len(vocab)))]
            kinds[kind] += 1
            docs.append(src)
        else:
            m = int(rng.integers(25, 80))
            docs.append([vocab[j] for j in rng.choice(len(vocab), m, p=p)])
            depth.append(0)
            kinds["fresh"] += 1
        if depth[i] < DEDUP_MAX_DEPTH:
            copyable.append(i)
    return docs, kinds


def build_dedup(out, seed, scale):
    rng = np.random.default_rng(seed)
    n_docs = max(60, int(DEDUP_DOCS * scale))
    n_vecs = max(30, int(DEDUP_VECS * scale))
    tiles = DEDUP_TILES if scale >= 1 else 1
    # narrow bands: the seed varies the content, not the amount of work
    density = float(rng.uniform(0.24, 0.26))
    vdensity = float(rng.uniform(0.19, 0.21))
    docs, kinds = _doc_texts(rng, n_docs, density)
    langs = np.array(["en", "fr", "zh", "de", "ko"])[rng.integers(0, 5, n_docs)]
    sources = np.array(["web", "wiki", "news", "code"])[rng.integers(0, 4, n_docs)]

    base = rng.standard_normal((n_vecs, DEDUP_DIM))
    vdepth = np.zeros(n_vecs, dtype=int)
    for i in range(n_vecs):
        if i > 10 and rng.random() < vdensity:
            src = np.flatnonzero(vdepth[:i] < DEDUP_MAX_DEPTH)
            j = int(src[int(rng.integers(0, len(src)))])
            base[i] = base[j] + 0.05 * rng.standard_normal(DEDUP_DIM)
            vdepth[i] = vdepth[j] + 1
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)

    doc_rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    vec_rows = {"vec_id": [], "embedding": [], "label": []}
    for k in range(tiles):
        pre = f"t{k}" if k else ""
        for i, toks in enumerate(docs):
            text = " ".join(pre + t for t in toks)
            doc_rows["doc_id"].append(k * n_docs + i)
            doc_rows["text"].append(text)
            doc_rows["lang"].append(str(langs[i]))
            doc_rows["source"].append(str(sources[i]))
            doc_rows["n_chars"].append(len(text))
        rot = np.roll(base, k, axis=1).astype(np.float32)
        for i in range(n_vecs):
            vec_rows["vec_id"].append(k * n_vecs + i)
            vec_rows["embedding"].append(rot[i].tolist())
            vec_rows["label"].append(int(labels[i]))

    inp = os.path.join(out, "in")
    os.makedirs(inp)
    pq.write_table(pa.table({
        "doc_id": pa.array(doc_rows["doc_id"], pa.int64()),
        "text": pa.array(doc_rows["text"], pa.string()),
        "lang": pa.array(doc_rows["lang"], pa.string()),
        "source": pa.array(doc_rows["source"], pa.string()),
        "n_chars": pa.array(doc_rows["n_chars"], pa.int64())}),
        os.path.join(inp, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array(vec_rows["vec_id"], pa.int64()),
        "embedding": pa.array(vec_rows["embedding"], pa.list_(pa.float32())),
        "label": pa.array(vec_rows["label"], pa.int32())}),
        os.path.join(inp, "embeddings.parquet"))
    with open(os.path.join(out, "props.json"), "w") as f:
        json.dump(dict(docs=n_docs * tiles, vectors=n_vecs * tiles, tiles=tiles,
                       text_dup_density=round(density, 4),
                       vector_dup_density=round(vdensity, 4),
                       near_dup_kinds_per_tile=kinds), f, indent=1)


# ---------------------------------------------------------------------------
# catalog_incremental: a daily ingest script against one catalog table
# ---------------------------------------------------------------------------
#
# Op list (ops.json) plus one small parquet file per batch. The JVM runs the
# ops in order until its time is up; the oracle replays the prefix it ran.
CAT_INITIAL = 20_000
CAT_INSERT = 1_000
CAT_MERGE = 500
CAT_DELETE = 40
CAT_ROUNDS = 40
CAT_MAINT_EVERY = 4
CAT_KEEP_LAST = 6


def build_catalog(out, seed, scale):
    rng = np.random.default_rng(seed)
    rounds = max(1, round(CAT_ROUNDS * scale))
    initial = max(500, int(CAT_INITIAL * scale))
    n_ins = max(50, int(CAT_INSERT * scale))
    n_merge = max(25, int(CAT_MERGE * scale))
    n_del = max(4, int(CAT_DELETE * scale))
    # narrow band: the seed varies the content, not the amount of work
    update_share = float(rng.uniform(0.48, 0.52))
    inp = os.path.join(out, "in")
    os.makedirs(inp)
    live = set()
    next_key = 0
    ops = []
    user_bytes = 0

    def batch(name, keys, day):
        nonlocal user_bytes
        keys = np.array(sorted(keys), dtype=np.int64)
        n = len(keys)
        tags = ["".join(chr(97 + c) for c in rng.integers(0, 26, int(rng.integers(4, 12))))
                for _ in range(n)]
        path = os.path.join(inp, name + ".parquet")
        pq.write_table(pa.table({
            "k": pa.array(keys, pa.int64()),
            "v": pa.array(rng.integers(0, 1_000_000, n), pa.int64()),
            "day": pa.array(np.full(n, day), pa.int32()),
            "tag": pa.array(tags, pa.string())}), path)
        user_bytes += os.path.getsize(path)
        return name + ".parquet"

    def fresh_keys(n):
        nonlocal next_key
        ks = list(range(next_key, next_key + n))
        next_key += n
        return ks

    ks = fresh_keys(initial)
    ops.append({"op": "insert", "file": batch("r000-load", ks, 0)})
    live.update(ks)
    for r in range(1, rounds + 1):
        ks = fresh_keys(n_ins)
        ops.append({"op": "insert", "file": batch(f"r{r:03d}-insert", ks, r)})
        live.update(ks)
        n_upd = int(round(n_merge * update_share))
        live_sorted = np.array(sorted(live), dtype=np.int64)
        upd = rng.choice(live_sorted, n_upd, replace=False).tolist()
        new = fresh_keys(n_merge - n_upd)
        ops.append({"op": "merge", "file": batch(f"r{r:03d}-merge", upd + new, r)})
        live.update(new)
        live_sorted = np.array(sorted(live), dtype=np.int64)
        gone = sorted(int(k) for k in rng.choice(live_sorted, n_del, replace=False))
        ops.append({"op": "delete", "keys": gone})
        live.difference_update(gone)
        lo = int(rng.integers(0, max(1, next_key // 2)))
        ops.append({"op": "read", "lo": lo, "hi": lo + next_key // 3})
        lo = int(rng.integers(0, max(1, next_key // 2)))
        ops.append({"op": "read_version", "lag": int(rng.integers(1, CAT_KEEP_LAST - 1)),
                    "lo": lo, "hi": lo + next_key // 3})
        if r % CAT_MAINT_EVERY == 0:
            ops.append({"op": "compact", "target_files": 2})
            ops.append({"op": "expire", "keep_last": CAT_KEEP_LAST})
        ops.append({"op": "end_round", "round": r})
    with open(os.path.join(out, "ops.json"), "w") as f:
        json.dump(ops, f)
    with open(os.path.join(out, "props.json"), "w") as f:
        json.dump(dict(rounds=rounds, initial_rows=initial, insert_rows=n_ins,
                       merge_rows=n_merge, merge_update_share=round(update_share, 4),
                       delete_keys=n_del, maint_every=CAT_MAINT_EVERY,
                       keep_last=CAT_KEEP_LAST, user_bytes=user_bytes), f, indent=1)


BUILDERS = {
    "pipeline_ref": build_pipeline,
    "dedup_corpus": build_dedup,
    "catalog_incremental": build_catalog,
}
