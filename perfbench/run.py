#!/usr/bin/env python3
"""Benchmark of the TPG pipeline, its two dashboards and the query catalog.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 8 --trace 0

It builds the program and the benchmark from source (perfbench/build.sh) the
first time and whenever a source changes, generates the fixed catalog tables
once with the program's own generator, runs one workload in one JVM, checks
every output, and prints as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1. A line before it stamps the run with
nproc, load, JVM version, commit and seed.

Workloads (see BENCHMARK.json): pipeline, dashboard, catalog.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402

BENCH = "perfbench"
BUILD = f"{BENCH}/.build"
CLASSES = f"{BUILD}/classes"
SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
# The catalog reads fixed tables: the program's generator at this scale.
CATALOG_SF = "0.01"
CATALOG_DATA = f"{BUILD}/data/sf{CATALOG_SF}"
WORKLOADS = ("pipeline", "dashboard", "catalog")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources_digest():
    h = hashlib.sha256()
    for top in ("src/main/scala", f"{BENCH}/src"):
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    h.update(p.encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(f"{BENCH}/build.sh", "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def java_cmd(main, args, tmp):
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd.append(f"-Djava.io.tmpdir={tmp}")
    return cmd + ["-cp", f"{CLASSES}:{SPARK_JARS}/*", main] + args


def ensure_build(env):
    """Compile when the sources changed; generate the catalog tables once."""
    stamp = f"{BUILD}/stamp"
    digest = sources_digest()
    built = os.path.exists(stamp) and open(stamp).read() == digest
    if not built:
        os.makedirs(BUILD, exist_ok=True)
        subprocess.run(["bash", f"{BENCH}/build.sh"], check=True, stdout=sys.stderr)
    data_stamp = f"{CATALOG_DATA}.stamp"
    if not built or not os.path.exists(data_stamp):
        shutil.rmtree(CATALOG_DATA, ignore_errors=True)
        tmp = os.path.abspath(f"{BUILD}/tmp")
        os.makedirs(tmp, exist_ok=True)
        subprocess.run(java_cmd("graft.tools.GenData", [CATALOG_DATA, CATALOG_SF], tmp=tmp),
                       check=True, env=env, stdout=sys.stderr, stderr=sys.stderr)
        with open(data_stamp, "w") as fh:
            fh.write(digest)
    with open(stamp, "w") as fh:
        fh.write(digest)


def cpu_busy(seconds=0.2):
    """Share of all CPUs busy over a short window, from /proc/stat."""
    def snap():
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return sum(v), v[3] + v[4]
    t0, i0 = snap()
    time.sleep(seconds)
    t1, i1 = snap()
    return 1 - (i1 - i0) / max(1, t1 - t0)


def commit():
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        head = ""
    return head or os.environ.get("GIT_COMMIT", "unknown")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir("src/main/scala/graft"):
        sys.exit("perfbench: run from the root of a checkout; src/main/scala/graft is missing")
    nproc = os.cpu_count() or 1
    work = os.path.abspath(f"{BENCH}/.work/{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_LOCAL_DIRS=f"{work}/tmp")
    env.pop("SPARK_MASTER", None)
    ensure_build(env)

    load_before = os.getloadavg()[0]
    busy_before = cpu_busy()
    out = f"{work}/result.json"
    cmd = java_cmd("perfbench.Main", [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                      work, os.path.abspath(CATALOG_DATA), out],
                   tmp=f"{work}/tmp")
    with open(f"{work}/jvm.log", "w") as log:
        subprocess.run(cmd, check=True, env=env, stdout=log, stderr=log, timeout=170)
    with open(out) as fh:
        res = json.load(fh)

    failed = res["failed"] + checks.run(a.workload, res, BENCH)
    attempted = res["attempted"]
    metrics = dict(res["layer"]) if a.trace else dict(res["e2e"])
    if a.trace:
        metrics["failed_frac"] = failed / attempted
    else:
        metrics["ok_frac"] = 1 - failed / attempted
    with open("BENCHMARK.json") as fh:
        declared = json.load(fh)
    units = {m["name"]: m["unit"]
             for m in declared["per_layer" if a.trace else "end_to_end"]}
    if set(metrics) != set(units):
        sys.exit(f"perfbench: metrics differ from BENCHMARK.json: {set(metrics) ^ set(units)}")
    stamp = dict(res["stamp"], workload=a.workload, seed=a.seed, trace=a.trace, nproc=nproc,
                 load1_before=load_before, load1_after=os.getloadavg()[0],
                 cpu_busy_before=round(busy_before, 3), loaded=busy_before > 0.25,
                 commit=commit())
    print("stamp " + json.dumps(stamp))
    os.makedirs(f"{BENCH}/.runs", exist_ok=True)
    with open(f"{BENCH}/.runs/{a.workload}-{a.seed}-{a.trace}.json", "w") as fh:
        json.dump({"stamp": stamp, "attempted": attempted, "failed": failed,
                   "metrics": metrics, "latencies_ms": res["latencies_ms"]}, fh)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
