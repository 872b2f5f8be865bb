#!/usr/bin/env python3
"""Repo benchmark: one command builds the program from source, generates
the seeded inputs, runs one workload in a fresh JVM and prints every
metric with its unit. The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1.

    python3 perfbench/run.py --workload ingest_burst --seed 1 --seconds 5 --trace 0

Exit status is non-zero when the program cannot be built or run, or when
any output check fails. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing beside the sources

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("ingest_burst", "catalog_mix")
HEAP = "2g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# engine settings that would override the pinned session config
UNPINNED_ENV = ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "SPARK_GRAFT_PERIODIC_GC")


def layer_unit(name):
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb_end"):
        return "MB"
    if name.endswith("_per_s"):
        return "1/s"
    if "_s_p" in name or name.endswith("_s"):
        return "s"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    build_dir = os.path.join(ROOT, build_dir) if not os.path.isabs(build_dir) else build_dir
    os.makedirs(build_dir, exist_ok=True)
    try:
        classes = build.build(build_dir)
    except build.BuildError as e:
        sys.exit("perfbench: build failed: %s" % e)
    jars = build.spark_jars()

    out_root = os.path.join(ROOT, ".bench_out")
    inputs = gen.generate(a.workload, a.seed, os.path.join(out_root, "inputs", "%s-%d" % (a.workload, a.seed)))
    work = os.path.join(out_root, "runs", "%s-%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))

    nproc = len(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items() if k not in UNPINNED_ENV}
    env.update(SPARK_GRAFT_CPUS=str(nproc), SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # a fixed heap: G1 then sizes its regions the same way on every run
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss16m", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
              "-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
              "--workload", a.workload, "--inputs", inputs, "--work", work, "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--seed", str(a.seed), "--cores", str(nproc),
              "--cohorts", os.path.join(HERE, "cohorts.json")])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            # a slow program still yields a result: the units run while
            # --seconds lasts, and set-up plus warm-up take about 60 s
            rc = proc.wait(timeout=max(170, 3 * a.seconds + 120))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        sys.exit("perfbench: benchmark JVM failed (exit %s)" % rc)
    with open(result_path) as fh:
        res = json.load(fh)

    env_info = dict(res["env"], nproc=nproc, commit=commit(), seed=a.seed, workload=a.workload,
                    seconds=a.seconds, trace=a.trace)
    keep = os.path.join(out_root, "results")
    os.makedirs(keep, exist_ok=True)
    stem = os.path.join(keep, "%s-%d-t%d-%d" % (a.workload, a.seed, a.trace, int(time.time())))
    with open(stem + ".json", "w") as fh:
        json.dump(dict(res, env=env_info), fh, indent=1)
    if a.trace and os.path.exists(os.path.join(work, "trace.json")):
        shutil.copy(os.path.join(work, "trace.json"), stem + ".trace.json")
    shutil.rmtree(work, ignore_errors=True)

    print("perfbench %s" % " ".join("%s=%s" % kv for kv in sorted(env_info.items())))
    for name, m in sorted(res["named"].items()):
        print("  %-36s %14.6f %s" % (name, m["value"], m["unit"]))
    for c in res["checks"]:
        print("  CHECK FAILED: %s" % c)
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(res["layers"].items())}
        for k, m in metrics.items():
            print("  %-36s %14.6f %s" % (k, m["value"], m["unit"]))
    else:
        metrics = res["e2e"]
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    if not res["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
