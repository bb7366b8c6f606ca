#!/usr/bin/env python3
"""Smoke self-test of the benchmark, on the sf0.001 data.

    python3 perfbench/selftest.py

Checks, from the root of a checkout:
  1. olap at sf0.001 passes its correctness check and prints every
     end-to-end metric of BENCHMARK.json with its unit (--trace 0), and
     every per-layer metric with its unit (--trace 1);
  2. ingest prints every end-to-end metric and passes its checks;
  3. a corrupted expected fingerprint is reported as a failure, with its
     cause in the report line;
  4. in a directory holding only BENCHMARK.json and the benchmark's files,
     the command exits non-zero without printing a result.
Exits non-zero on the first check that fails.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_build", "perfbench", "selftest")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload, trace, *extra, cwd=ROOT):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                              "--trace", str(trace)] + list(extra)
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def parse(p):
    lines = p.stdout.splitlines()
    assert p.returncode == 0, f"exit {p.returncode}: {p.stderr[-2000:]}"
    return json.loads(lines[-1]), json.loads(lines[-2][len("perfbench report: "):])


def check_metrics(result, declared):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    got = result["metrics"]
    for m in declared:
        assert m["name"] in got, f"metric {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{m['name']}: unit {got[m['name']]['unit']}"
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
    assert set(got) == {m["name"] for m in declared}, set(got) ^ {m["name"] for m in declared}


def main():
    os.makedirs(SCRATCH, exist_ok=True)
    sf = ["--sf", "0.001"]

    result, _ = parse(run("olap", 0, *sf))
    check_metrics(result, BENCH["end_to_end"])
    assert result["correct"] and result["failed"] == 0, result
    print("ok: olap sf0.001 end-to-end metrics, correct")

    result, report = parse(run("olap", 1, *sf))
    check_metrics(result, BENCH["per_layer"])
    assert result["correct"], report["failures"]
    assert os.path.exists(report["trace_file"]), report["trace_file"]
    print("ok: olap sf0.001 per-layer metrics, trace written")

    result, report = parse(run("ingest", 0))
    check_metrics(result, BENCH["end_to_end"])
    assert result["correct"], report["failures"]
    print("ok: ingest end-to-end metrics, correct")

    with open(os.path.join(HERE, "expected", "olap-sf0.001.json")) as f:
        expected = json.load(f)
    victim = next(n for n, q in sorted(expected["queries"].items()) if q["fp"])
    fp = expected["queries"][victim]["fp"]
    expected["queries"][victim]["fp"] = f"{int(fp, 16) ^ 1:016x}"
    corrupt = os.path.join(SCRATCH, "olap-corrupt.json")
    with open(corrupt, "w") as f:
        json.dump(expected, f)
    result, report = parse(run("olap", 0, *sf, "--expected", corrupt))
    assert not result["correct"] and result["failed"] >= 1, result
    causes = [x for x in report["failures"] if x["unit"] == victim]
    assert causes and "fingerprint" in causes[0]["cause"], report["failures"]
    print(f"ok: corrupted fingerprint of {victim} reported: {causes[0]['cause']}")

    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("target"))
    p = run("olap", 0, cwd=bare)
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout[-500:])
    print(f"ok: without the engine the command exits {p.returncode} and prints no result")


if __name__ == "__main__":
    try:
        main()
    except AssertionError as e:
        sys.exit(f"selftest failed: {e}")
