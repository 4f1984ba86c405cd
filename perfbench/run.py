"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark's JVM side
from source into ``.bench_build/`` (once per source state), generates the
workload's inputs from the seed, runs it in a fresh JVM, checks the
landed outputs against DuckDB oracles and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1``
its per-layer metrics. See ``perfbench/README.md``.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 160
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the project build's
    unmanagedBase (the jars the project itself compiles against)."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.exists(sbt):
            fail("no build.sbt and no SPARK_HOME: cannot locate the Spark jars")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            fail("build.sbt names no unmanagedBase")
        d = m.group(1)
    if not os.path.isdir(d):
        fail(f"Spark jar directory {d} not found")
    return d


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(roots[0]):
        fail("program sources (src/main/scala) not found; run from a full checkout")
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out.extend(os.path.join(d, f) for f in fs if f.endswith(".scala"))
    return sorted(out)


def build(jars):
    """Compile program + benchmark once per source state; return classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-cp", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    os.rename(tmp, classes)
    for old in os.listdir(BUILD):  # builds of earlier source states
        if old.startswith("classes-") and os.path.join(BUILD, old) != classes:
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the benchmark's own tests shrink it)")
    a = ap.parse_args()
    if "GRAFT_HARNESS_FILES_PER_TRIGGER" in os.environ:
        fail("GRAFT_HARNESS_FILES_PER_TRIGGER is set; it changes StreamOps' "
             "micro-batch count, so the benchmark refuses to run under it")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    jars = spark_jars()
    classes = build(jars)
    run = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    data, work = os.path.join(run, "data"), os.path.join(run, "work")
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        # set-up part 1: input generation, three times, median
        gen_s = []
        for _ in range(3):
            shutil.rmtree(data, ignore_errors=True)
            t = time.perf_counter()
            inputs = gen.generate(a.workload, a.seed, data, a.scale)
            gen_s.append(time.perf_counter() - t)
        result = os.path.join(run, "result.json")
        # no hsperfdata file: it would land in the system temp dir
        cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
                f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
                  "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--data", data, "--work", work, "--result", result,
                  "--gen-s", repr(statistics.median(gen_s))])
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=run)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
        if proc.returncode != 0 or not os.path.exists(result):
            fail(f"benchmark JVM exited with {proc.returncode}")
        res = json.load(open(result))
        oracle = json.load(open(os.path.join(work, "oracle.json")))
        t = time.perf_counter()
        n_checks, errors = check.check(a.workload, data, res["facts"], oracle)
        print(f"[perfbench] checks: {n_checks} in {time.perf_counter() - t:.1f} s", file=sys.stderr)
        for e in errors:
            print(f"perfbench: check failed: {e}", file=sys.stderr)
        if a.trace:
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(BUILD, f"spans-{a.workload}-{a.seed}.json"))
        got = res["layers" if a.trace else "e2e"]
        missing = [m["name"] for m in wanted if m["name"] not in got]
        if missing:
            fail(f"benchmark JVM emitted no value for {missing}")
        attempted = res["attempted"] + n_checks
        failed = res["failed"] + len(errors)
        # every metric the JVM computed, listed in BENCHMARK.json or not
        # (a hand run of a workload outside its list reads its own here)
        print(json.dumps({"workload": a.workload, "seed": a.seed, "samples": res["samples"],
                          "inputs": inputs, "metrics": got}), file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                        for m in wanted},
        }))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
