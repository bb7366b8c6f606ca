#!/usr/bin/env python3
"""The repository benchmark: one closed loop over one workload.

    python3 perfbench/run.py --workload olap|corpus|ingest --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout. It compiles the engine (src/main) and
the harness in perfbench/harness from source with the Scala compiler of the
Spark jar directory the engine's build.sbt names, and starts one JVM that
runs a warm pass and then timed passes for --seconds. The last line of standard output is the result object:
{"correct", "attempted", "failed", "metrics"}; the line before it is the
run's report (failure causes, per-unit and per-step times, trace file).

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
Everything the run writes goes under .bench_build/perfbench/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HARNESS, "src", "main", "scala")
ENGINE_CLASSES = os.path.join(WORK, "classes", "engine")
HARNESS_CLASSES = os.path.join(WORK, "classes", "harness")
RUN_LIMIT_S = 170  # a run, build excluded, ends within this many seconds

# the --add-opens list of the engine's build.sbt javaOptions
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jar directory the engine's build.sbt compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    home = os.environ.get("SPARK_HOME", "")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    die("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def scala_sources(root):
    return sorted(os.path.join(d, n) for d, _, names in os.walk(root)
                  for n in names if n.endswith(".scala"))


def source_stamp(jars):
    h = hashlib.sha256(jars.encode())
    files = [os.path.join(ROOT, "build.sbt")] + scala_sources(ENGINE_SRC) \
        + scala_sources(HARNESS_SRC)
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, what, sources, out, classpath, log):
    """Compile with the Scala compiler that ships in the Spark jar directory
    (the engine's build.sbt pins the same Scala version), so a build needs
    neither sbt's caches nor a network."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(WORK, "scalac-args")
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={WORK}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-d", tmp]
    if classpath:
        cmd += ["-classpath", classpath]
    with open(log, "ab") as f:
        r = subprocess.run(cmd + ["@" + args_file], cwd=ROOT, stdout=f,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=800)
    if r.returncode != 0:
        die(f"compiling the {what} failed; see {log}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(jars):
    """Compile the engine and the harness unless their sources are unchanged."""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Scala compiler in {jars}")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp(jars)
    if (os.path.isdir(ENGINE_CLASSES) and os.path.isdir(HARNESS_CLASSES)
            and os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    log = os.path.join(WORK, "build.log")
    scalac(jars, "engine", scala_sources(ENGINE_SRC), ENGINE_CLASSES, None, log)
    scalac(jars, "harness", scala_sources(HARNESS_SRC), HARNESS_CLASSES, ENGINE_CLASSES, log)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def java_command(jars, run_dir, main_class, args):
    """The JVM command line: graft.Bench's JVM options, heap aside, with
    the temporary directory placed in the run's own directory."""
    cp = os.pathsep.join([HARNESS_CLASSES, ENGINE_CLASSES, os.path.join(jars, "*")])
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
               "-cp", cp, main_class] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["olap", "corpus", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", default="0.01", help="scale of the olap/corpus data")
    ap.add_argument("--expected", help="expected-values file to check against")
    ap.add_argument("--record", action="store_true",
                    help="add every execution's rows and fingerprint to the report")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no engine sources here: run from the root of a repository checkout")
    data = os.path.join(HERE, "data", f"sf{a.sf}")
    if not os.path.isdir(data):
        die(f"no data for sf{a.sf}")
    os.makedirs(WORK, exist_ok=True)
    jars = spark_jars()
    build(jars)

    launch = time.time()
    run_id = f"{a.workload}-{a.seed}-{int(launch * 1000)}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(os.path.join(run_dir, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", run_dir,
            "--out", os.path.join(run_dir, "result.json"),
            "--launch-ms", str(int(launch * 1000))]
    if a.workload == "ingest":
        sys.path.insert(0, HERE)
        sys.dont_write_bytecode = True
        import gen_ingest
        spec = gen_ingest.generate(a.seed, os.path.join(run_dir, "inputs"))
        spec_file = os.path.join(run_dir, "ingest-spec.json")
        with open(spec_file, "w") as f:
            json.dump(spec, f)
        args += ["--ingest-spec", spec_file]
    else:
        expected = a.expected or os.path.join(HERE, "expected", f"{a.workload}-sf{a.sf}.json")
        if os.path.exists(expected):
            args += ["--expected", expected]
        elif not a.record:
            die(f"no expected values at {expected}")
    if a.record:
        args.append("--record")

    cmd = java_command(jars, run_dir, "perfbench.Main", args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "wb") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.time() - launch)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"the run exceeded {RUN_LIMIT_S} s; see {log}", 3)
    result_file = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_file):
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        die(f"the harness exited with {code}; last log lines:\n{tail}", 1)
    with open(result_file) as f:
        result = json.load(f)
    report = result.pop("report")
    # the run's warehouse and spill files are spent; keep result, report, trace
    for d in ("warehouse", "spark-local", "ingest", "inputs", "tmp"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print("perfbench report: " + json.dumps(report, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
