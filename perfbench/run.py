#!/usr/bin/env python3
"""graft benchmark: one workload at one seed, measured for a set time.

Usage:
  python3 perfbench/run.py --workload {ingest,serve} --seed N \
      --seconds S --trace {0,1}

Builds the program from source (perfbench/build.py), runs the workload
in its own JVM on inputs generated from the seed, checks every timed
call's output, and prints as its last line one JSON object:
  {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics (from Spark's listeners; see perfbench/README.md).
Everything a run writes stays under the build directory and is removed
when it ends.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("ingest", "serve")
# the JVM's limit, counted from the end of the build
RUN_LIMIT_S = 170

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def cpu_times():
    """The host's aggregate CPU counters (user ... steal), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def launch(classes, run_dir, args, deadline):
    """Runs the workload JVM; returns the epoch ms at which it was spawned."""
    cpus = len(os.sched_getaffinity(0))
    kv = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
          "trace": args.trace, "run_dir": run_dir, "cpus": cpus}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # a committed, pre-touched heap floor: without it the full GC after
    # each pass hands heap back to the OS and the next pass page-faults
    # it in again (about 100k faults a pass on a 30k-event `ingest`), which costs
    # more the busier the host is
    cmd = ["java", "-XX:-UsePerfData", "-Xms1g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Xss4m",
           f"-Djava.io.tmpdir={tmp}"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graftbench.Main"] + [f"{k}={v}" for k, v in kv.items()]
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    spawn_ms = time.time() * 1000
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1, deadline - time.time()))
    except BaseException as e:
        # never leave the JVM behind: on a timeout or an interrupt, kill
        # its whole process group and wait for it
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            raise SystemExit("workload JVM ran past the time limit")
        raise
    finally:
        log.close()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"workload JVM exited with {rc}")
    return spawn_ms


def main():
    # a terminated run still stops its JVM (see launch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args()
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {WORKLOADS}")
    classes = build.build()
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(build.BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        before = cpu_times()
        spawn_ms = launch(classes, run_dir, args, deadline)
        after = cpu_times()
        if before and after and sum(after) > sum(before):
            # time a virtual machine's CPUs waited for the host: runs
            # with a large share are measuring the neighbours
            sys.stderr.write("host: {:.1%} of CPU time stolen during the run\n".format(
                (after[7] - before[7]) / (sum(after) - sum(before))))
        records = metrics.load(os.path.join(run_dir, "trace.jsonl"))
        wrong = oracle.wrong_ops(os.path.join(run_dir, "data"), os.path.join(run_dir, "out"))
        result = metrics.result(records, args.workload, spawn_ms, bool(args.trace), wrong)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for w in result.pop("warnings", []):
        sys.stderr.write(f"warning: {w}\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
