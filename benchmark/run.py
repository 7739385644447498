#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a checkout.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (benchmark/build.sbt, once per
source state), prepares the inputs, runs one measured JVM and prints as its
last stdout line one JSON object: {"correct", "attempted", "failed",
"metrics"}. The line before it is the resolved configuration. With --trace 1
the metrics are the per-layer ones, and the run leaves its span trace and
self-time table under benchmark/.work/.

Offline helpers (see benchmark/README.md):

    python3 benchmark/run.py capture --rows all|compute --data <dir> --out <dir> --golden-file <f>
    python3 benchmark/run.py fullcheck --rows all|compute --data <dir> --golden-file <f>
    python3 benchmark/run.py metrics
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.01")
GOLDEN = os.path.join(HERE, "golden")
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SCALEUP = os.path.join(ROOT, "scripts", "scaleup.py")

RUN_LIMIT_S = 170     # one measured run, build excluded
BUILD_LIMIT_S = 880   # a run that also builds
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
RESULT_PREFIX = "GRAFTBENCH-RESULT "
CONFIG_PREFIX = "GRAFTBENCH-CONFIG "


def die(msg):
    print(f"[benchmark] {msg}", file=sys.stderr)
    sys.exit(1)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation: set SPARK_HOME")
    return home


def source_stamp():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env):
    """Compile with sbt unless the sources are unchanged since the last build."""
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return False
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt not found on PATH")
    log = os.path.join(WORK, "build.log")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile", "writeClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=600).returncode
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}")
    if rc != 0 or not os.path.exists(CLASSPATH):
        die(f"build failed; see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return True


def shard():
    """The 4x key-offset shard of the fixture, built once per checkout."""
    out = os.path.join(WORK, "x4")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    rc = subprocess.run([sys.executable, SCALEUP, DATA, out, "4"],
                        stdout=subprocess.DEVNULL, stderr=sys.stderr, timeout=120).returncode
    if rc != 0:
        die("scripts/scaleup.py failed")
    open(os.path.join(out, ".done"), "w").close()
    return out


def java_cmd(args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else (shutil.which("java") or "java")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    return [java, *opens, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main", *args]


def main():
    if not (os.path.isdir(ENGINE_SRC) and os.path.exists(SCALEUP)):
        die("run from the root of a checkout that holds the engine sources "
            "(src/main/scala) and scripts/scaleup.py")
    if not os.path.isdir(DATA):
        die(f"missing fixture {DATA}")
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    built = build(env)
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - T0)

    if len(sys.argv) > 1 and sys.argv[1] in ("capture", "fullcheck", "metrics"):
        sys.exit(subprocess.run(java_cmd(sys.argv[1:]), env=env, cwd=ROOT).returncode)

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["battery_sf0.01", "compute_x4", "workflow_roundtrip"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    shard_dir = shard() if a.workload == "compute_x4" else ""
    run_work = os.path.join(WORK, "run")
    shutil.rmtree(run_work, ignore_errors=True)
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{a.workload}-{a.seed}-{a.trace}.log")
    cmd = java_cmd(["run", "--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", a.trace, "--data", DATA,
                    "--shard", shard_dir, "--work", run_work, "--golden", GOLDEN])
    with open(log, "w") as err:
        try:
            p = subprocess.run(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                               stdin=subprocess.DEVNULL, text=True, timeout=max(10, limit))
        except subprocess.TimeoutExpired:
            die(f"run exceeded {limit:.0f} s; see {log}")
    with open(log) as fh:
        for line in fh:
            if line.startswith("[graftbench]"):
                sys.stderr.write(line)
    config = result = None
    for line in p.stdout.splitlines():
        if line.startswith(CONFIG_PREFIX):
            config = json.loads(line[len(CONFIG_PREFIX):])
        elif line.startswith(RESULT_PREFIX):
            result = json.loads(line[len(RESULT_PREFIX):])
    if p.returncode != 0 or result is None:
        die(f"run failed (exit {p.returncode}); see {log}")
    for f in os.listdir(run_work):
        if f.startswith(("trace-", "selftime-", "details-")):
            shutil.copy(os.path.join(run_work, f), logs)
    print(json.dumps({"config": config}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
