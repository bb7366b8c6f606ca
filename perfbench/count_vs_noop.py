#!/usr/bin/env python3
"""One-time table: count() against full materialization, per query.

    python3 perfbench/count_vs_noop.py [REPS]

times every registry query of the olap family (taxi_*, tpch_*, join_*)
and the corpus family (llm/Dedup, llm/SimSearch, llm/Curation) on the
sf0.01 data three ways: `count()` as graft.Bench times it, a write to
Spark's `noop` sink, and this benchmark's construct + plan + materialize.
Each figure is the minimum of REPS (default 3) executions after a warm
one. Writes perfbench/count_vs_noop.json and perfbench/count_vs_noop.md.
"""
import json
import os
import subprocess
import sys
import time

import run

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    reps = sys.argv[1] if len(sys.argv) > 1 else "3"
    jars = run.spark_jars()
    os.makedirs(run.WORK, exist_ok=True)
    run.build(jars)
    run_dir = os.path.join(run.WORK, "runs", f"count-vs-noop-{int(time.time())}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(HERE, "count_vs_noop.json")
    cmd = run.java_command(jars, run_dir, "perfbench.CountVsNoop",
                           [os.path.join(HERE, "data", "sf0.01"), run_dir, out, reps])
    with open(os.path.join(run_dir, "jvm.log"), "wb") as log:
        subprocess.run(cmd, cwd=run.ROOT, stdout=log, stderr=subprocess.STDOUT, check=True)
    with open(out) as f:
        rows = json.load(f)
    lines = ["# count() against full materialization, per query",
             "",
             f"sf0.01, `local[{os.cpu_count()}]`, min of {reps} after one warm execution. "
             "`count` is what graft.Bench times; `noop` writes every row to Spark's noop "
             "sink; `bench` is this benchmark's construct + plan + materialize. "
             "Generated by `perfbench/count_vs_noop.py`.",
             "",
             "| query | family | count s | noop s | bench s | noop/count |",
             "|---|---|---|---|---|---|"]
    for r in rows:
        if "error" in r:
            lines.append(f"| `{r['query']}` | {r['family']} | error: {r['error'][:80]} | | | |")
            continue
        lines.append(f"| `{r['query']}` | {r['family']} | {r['count_s']:.3f} | {r['noop_s']:.3f} "
                     f"| {r['bench_s']:.3f} | {r['noop_s'] / r['count_s']:.2f} |")
    for fam in ("olap", "corpus"):
        ok = [r for r in rows if r["family"] == fam and "error" not in r]
        c, n, b = (sum(r[k] for r in ok) for k in ("count_s", "noop_s", "bench_s"))
        lines.append(f"| **{fam} total** ({len(ok)}) | | {c:.2f} | {n:.2f} | {b:.2f} | {n / c:.2f} |")
    with open(os.path.join(HERE, "count_vs_noop.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} and count_vs_noop.md")


if __name__ == "__main__":
    main()
