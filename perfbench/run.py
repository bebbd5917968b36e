#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <elt_daily|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source into .bench_build/ (reused while the sources are unchanged),
generates the workload's inputs from the seed, runs the workload in a
fresh JVM on local[<cores>], checks every output, and prints one JSON
line: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exits non-zero when the build fails or an output check fails.

After set-up the JVM makes one untimed warm-up pass, then timed passes
until --seconds have gone by, at least one; timings are medians over the
timed passes (see README.md).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import oracle  # noqa: E402

# Input sizes per workload; BENCHMARK.json and README.md say why.
ELT_LOCATIONS = 20
ELT_DAYS = 3
ELT_BACKFILL_DAYS = 1
TABLES_SF = 0.02

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """The Spark distribution's jars (Spark, Scala library and compiler) the
    project builds against: build.sbt's unmanagedBase, else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    for d in ([m.group(1)] if m else []) + [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]:
        if os.path.isdir(d):
            return d
    raise SystemExit("perfbench: no Spark jars (build.sbt unmanagedBase or $SPARK_HOME/jars)")


SPARK_JARS = spark_jars()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def walk(base):
    return [os.path.join(d, n) for d, _, names in os.walk(base) for n in names]


def sources():
    return sorted(f for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala"))
                  for f in walk(base) if f.endswith(".scala"))


def build():
    """Compile the program and the harness together into one jar; cached by
    source hash."""
    files = sources()
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in files):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for f in files + sorted(walk(RESOURCES)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    jar = os.path.join(BUILD, "classes.jar")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(jar):
        return jar
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(files)} sources")
    t = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
                        "-cp", f"{SPARK_JARS}/*",
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", f"{SPARK_JARS}/*"] + files,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    if os.path.isdir(RESOURCES):  # data source registrations
        shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    # a jar, not a directory: class-data sharing archives classes from jars only
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for f in sorted(walk(classes)):
            z.write(f, os.path.relpath(f, classes))
    os.replace(jar + ".tmp", jar)
    for f in os.listdir(BUILD):  # archives of the previous build no longer match
        if f.endswith(".jsa"):
            os.remove(os.path.join(BUILD, f))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"compiled in {time.time() - t:.1f}s")
    return jar


def generate(workload, seed, inputs):
    shutil.rmtree(inputs, ignore_errors=True)
    if workload == "elt_daily":
        cmd = [sys.executable, os.path.join(HERE, "gen_openaq.py"), inputs, str(seed),
               str(ELT_LOCATIONS), str(ELT_DAYS), str(ELT_BACKFILL_DAYS)]
    else:
        cmd = [sys.executable, os.path.join(HERE, "gen_tables.py"), inputs, str(seed), str(TABLES_SF)]
    subprocess.run(cmd, check=True)


def run_jvm(jar, workload, inputs, scratch, trace, seconds, seed, out, budget):
    env = dict(os.environ, GRAFT_DRAIN_SCRATCH="tmp",
               SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
    tmpdir = os.path.join(scratch, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    # class-data sharing: the first run of a workload after a build records
    # the classes it loaded into an archive at exit; later runs map them from
    # it instead of loading them again, which shortens the run, not the metrics
    archive = os.path.join(BUILD, f"{workload}.jsa")
    share = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
             else f"-XX:ArchiveClassesAtExit={archive}")
    # no hsperfdata file: the run writes nothing outside the checkout
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", share, "-Xlog:cds=off"] + JVM_OPENS +
           [f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{jar}:{SPARK_JARS}/*", "perfbench.Main",
            workload, inputs, scratch, str(trace), str(seconds), str(seed), out])
    with open(os.path.join(BUILD, f"{workload}.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env)
        try:
            p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: {workload} did not finish within {budget:.0f}s")
    if p.returncode != 0:
        raise SystemExit(f"perfbench: {workload} JVM exited {p.returncode}; see {logf.name}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["elt_daily", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t0 = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jar = build()
    t_build = time.time()
    inputs = os.path.join(BUILD, "inputs", a.workload)
    scratch = os.path.join(BUILD, "scratch", a.workload)
    generate(a.workload, a.seed, inputs)
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    out = os.path.join(BUILD, f"{a.workload}.result.json")
    if os.path.exists(out):
        os.remove(out)
    # a first run may spend long in the build; the rest keeps the per-run deadline
    budget = DEADLINE_S - (time.time() - t_build) - 15
    run_jvm(jar, a.workload, inputs, scratch, a.trace, a.seconds, a.seed, out, budget)
    with open(out) as f:
        res = json.load(f)

    failures = list(res["failures"])
    t_jvm = time.time()
    wrong = oracle.compare(inputs, res["oracle"])
    log(f"generate + JVM {t_jvm - t_build:.1f}s, oracle {time.time() - t_jvm:.1f}s")
    failures += [f"{op}: {msg}" for op, msg in wrong]
    failed = res["threw"] + len(wrong)
    for msg in failures:
        log(f"FAIL {msg}")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["layers"] if a.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"], {}).get("value")
        if v is None and not a.trace:
            raise SystemExit(f"perfbench: harness did not report {m['name']}")
        # a per-layer metric of a layer this workload never calls reads 0
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    shutil.rmtree(scratch, ignore_errors=True)
    shutil.rmtree(inputs, ignore_errors=True)
    correct = not failures
    log(f"{a.workload}: {res['attempted']} ops, "
        f"{time.time() - t0:.1f}s total")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": min(max(failed, 1), res["attempted"]) if not correct else 0,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
