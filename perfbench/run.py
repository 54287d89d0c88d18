#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark (perfbench/build.sh) into .bench_build/ and generates the input
tables there; later runs reuse both as long as the sources they were made
from (src/main, perfbench/src, perfbench/build.sh) are unchanged, and
rebuild and regenerate both when any of them changes. Each run is one JVM with a local Spark
session of `nproc` task threads and an explicit heap. The last line of
standard output is {"correct", "attempted", "failed", "metrics"}: with
--trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics (a layer the workload does not exercise reads 0).
Spark's log goes to .bench_build/logs/. Any failure exits non-zero without
printing a result.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
DATA = os.path.join(BUILD, "data")
SOURCES = ["src/main", "perfbench/src", "perfbench/build.sh"]
HEAP_GB = 4
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def physical_ram_gb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    fail("cannot read MemTotal from /proc/meminfo")


def spark_home():
    """$SPARK_HOME, else the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def source_digest():
    """SHA-256 over the path and bytes of every file the build and the
    generated inputs are made from, in a fixed order."""
    h = hashlib.sha256()
    for top in SOURCES:
        path = os.path.join(ROOT, top)
        if not os.path.exists(path):
            fail(f"no {top} in {ROOT}: run from the root of a checkout")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
            h.update(b"\0")
    return h.hexdigest()


def build():
    """Compile unless .bench_build/classes was built from these very
    sources. A rebuild also drops the generated inputs, whose readonly
    layer the program built (perfbench/src/perfbench/Data.scala)."""
    digest = source_digest()
    stamp = os.path.join(CLASSES, "_COMPLETE")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return
    shutil.rmtree(CLASSES, ignore_errors=True)
    shutil.rmtree(DATA, ignore_errors=True)
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = subprocess.call(["bash", os.path.join(HERE, "build.sh")],
                               cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                               env=dict(os.environ, SPARK_HOME=spark_home()))
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {code})")
    with open(stamp, "w") as f:
        f.write(digest + "\n")


def jvm(cpus, workload, seed, seconds, trace):
    """Run perfbench.Main in a JVM of its own; return its standard output.
    Spark's log goes to .bench_build/logs/."""
    jars = os.path.join(spark_home(), "jars")
    tmp = os.path.join(BUILD, "tmp")
    logs = os.path.join(BUILD, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    cmd = [shutil.which("java"), f"-Xms{HEAP_GB}g", f"-Xmx{HEAP_GB}g",
           "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", ":".join([os.path.join(CLASSES, "bench"),
                             os.path.join(CLASSES, "main"),
                             os.path.join(jars, "*")]),
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--root", ROOT]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    env.pop("SPARK_DRIVER_MEM", None)
    log = os.path.join(logs, f"{workload}-{seed}-{trace}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} exceeded {RUN_TIMEOUT_S} s; log in {log}")
    if proc.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload} failed (exit {proc.returncode}); log in {log}")
    return out


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    bench = spec()
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}")
    # host-safe settings: one task thread per core, a heap below RAM
    cpus = len(os.sched_getaffinity(0))
    if cpus < 2:
        fail("serve_mix's two client threads need at least two cores")
    ram = physical_ram_gb()
    if HEAP_GB + 1 > ram:
        fail(f"heap {HEAP_GB} GB (+1 GB off-heap) exceeds physical RAM {ram:.1f} GB")
    if shutil.which("java") is None:
        fail("no java on PATH")
    build()

    if not os.path.exists(os.path.join(DATA, "_COMPLETE")):
        jvm(cpus, "prepare", 0, 0, 0)
    out = jvm(cpus, a.workload, a.seed, a.seconds, a.trace)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail(f"run of {a.workload} printed no result")

    res = json.loads(lines[-1])
    declared = bench["per_layer" if a.trace else "end_to_end"]
    got = res["metrics"]
    extra = sorted(set(got) - {m["name"] for m in declared})
    if extra:
        fail(f"metrics missing from BENCHMARK.json: {extra}")
    metrics = {}
    for m in declared:
        entry = got.get(m["name"], {"value": 0.0, "unit": m["unit"]})
        v = entry["value"]
        if entry["unit"] != m["unit"]:
            fail(f"metric {m['name']} in {entry['unit']}, declared {m['unit']}")
        if v is None:
            fail(f"metric {m['name']} is not a number")
        if not a.trace and v <= 0:
            fail(f"end-to-end metric {m['name']} is {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
