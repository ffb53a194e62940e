#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs.

Usage (from the repository root):  python3 perfbench/selftest.py [workload ...]

For each workload it makes one untraced and one traced run on a tiny seed
and checks that
  * both runs are correct (every output matches its DuckDB oracle);
  * in every traced iteration the module layers plus unattributed_ms sum to
    the iteration's wall time, no layer is negative and the layers do not
    cover more than the wall time (unattributed_ms >= 0), and the reported
    per-layer means obey the same sum;
  * traced and untraced iterations produce the same output digest, within
    the traced run and across the two runs.
Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
SCALE = {"pipeline_ref": 0.01, "dedup_corpus": 0.1, "catalog_incremental": 0.2}
LAYERS = {
    "pipeline_ref": ["pipeline.staging_ms", "pipeline.load_join_ms", "pipeline.checks_ms"],
    "dedup_corpus": ["dedup.signature_ms", "dedup.pairs_ms", "dedup.clusters_ms",
                     "similarity.semdedup_ms"],
    "catalog_incremental": ["catalog.insert_ms", "catalog.merge_ms", "catalog.delete_ms",
                            "catalog.maint_ms", "catalog.read_ms"],
}


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--scale", str(SCALE[workload])]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        raise SystemExit(1)


def digests(workload, detail):
    """Output digest per iteration (pipeline, dedup) or the read results of
    every op (catalog)."""
    if workload == "catalog_incremental":
        return {"reads": detail["checks"][0]["reads"]}
    if workload == "dedup_corpus":
        return {c["n"]: (c["clusters"]["digest"], c["eclusters"]["digest"])
                for c in detail["checks"]}
    return {c["n"]: c["digest"] for c in detail["checks"]}


def selftest(workload):
    plain_detail, plain = run(workload, 0)
    check(plain["correct"] and plain["failed"] == 0, f"{workload}: untraced run correct")
    detail, traced = run(workload, 1)
    check(traced["correct"] and traced["failed"] == 0, f"{workload}: traced run correct")
    its = [it for it in detail["iterations"] if it["traced"]]
    check(len(its) >= 1, f"{workload}: {len(its)} traced iteration(s)")
    for it in its:
        lay = it["layers"]
        parts = [lay[k] for k in LAYERS[workload]]
        total = sum(parts) + lay["unattributed_ms"]
        check(abs(total - it["wall_ms"]) <= 1e-6 * it["wall_ms"] + 1e-6,
              f"{workload} iteration {it['n']}: layers + unattributed = {total:.3f} ms"
              f" = wall {it['wall_ms']:.3f} ms")
        check(min(parts) >= 0 and lay["unattributed_ms"] >= -1.0,
              f"{workload} iteration {it['n']}: layers cover {sum(parts):.1f} of "
              f"{it['wall_ms']:.1f} ms, unattributed {lay['unattributed_ms']:.1f} ms")
    m = {k: v["value"] for k, v in traced["metrics"].items()}
    total = sum(m[k] for k in LAYERS[workload]) + m["unattributed_ms"]
    check(abs(total - m["wall_ms"]) <= 1e-6 * m["wall_ms"] + 1e-6,
          f"{workload}: reported layer means sum to wall_ms ({total:.3f} ms)")
    d_traced, d_plain = digests(workload, detail), digests(workload, plain_detail)
    if workload == "catalog_incremental":
        a, b = d_traced["reads"], d_plain["reads"]
        common = set(a) & set(b)
        check(common and all(a[j] == b[j] for j in common),
              f"{workload}: {len(common)} reads equal across traced and untraced runs")
    else:
        vals = set(d_traced.values()) | set(d_plain.values())
        check(len(vals) == 1, f"{workload}: one output digest over "
              f"{len(d_traced) + len(d_plain)} traced and untraced iterations: {vals}")


if __name__ == "__main__":
    for w in sys.argv[1:] or list(SCALE):
        selftest(w)
    print("selftest passed")
