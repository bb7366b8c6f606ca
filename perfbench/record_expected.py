#!/usr/bin/env python3
"""Record the expected results that run.py checks olap and corpus against.

    python3 perfbench/record_expected.py WORKLOAD SF [SEED ...]

runs the workload once per seed (three by default) with --record, so each
query executes in several orders and JVMs, and writes
perfbench/expected/WORKLOAD-sfSF.json. A query whose row count differs
between executions is an error. A query whose fingerprint differs keeps
its row count only and is listed under "rows_only".

Record only from a build whose outputs at that scale pass
tools/oracle_check.py, and say so in the file's "source" field.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    workload, sf = sys.argv[1], sys.argv[2]
    seeds = [int(s) for s in sys.argv[3:]] or [1, 2, 3]
    seen = {}
    for seed in seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", "12", "--sf", sf, "--record"],
            check=True, capture_output=True, text=True).stdout.splitlines()
        report = json.loads(out[-2][len("perfbench report: "):])
        failures = [f for f in report["failures"] if "no expected value" not in f["cause"]]
        if failures:
            sys.exit(f"seed {seed}: queries failed: {failures}")
        for name, execs in report["observed"].items():
            seen.setdefault(name, []).extend(execs)
    queries, rows_only = {}, []
    for name, execs in sorted(seen.items()):
        rows = {e["rows"] for e in execs}
        if len(rows) != 1:
            sys.exit(f"{name}: row count differs between executions: {sorted(rows)}")
        fps = {e["fp"] for e in execs}
        queries[name] = {"rows": rows.pop(), "fp": fps.pop() if len(fps) == 1 else None}
        if queries[name]["fp"] is None:
            rows_only.append(name)
    path = os.path.join(HERE, "expected", f"{workload}-sf{sf}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"workload": workload, "sf": sf, "seeds": seeds,
                   "executions": sum(len(v) for v in seen.values()),
                   "source": "perfbench/record_expected.py; outputs of the same build "
                             "pass tools/oracle_check.py at this scale",
                   "rows_only": rows_only, "queries": queries}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}: {len(queries)} queries, rows only: {rows_only}")


if __name__ == "__main__":
    main()
