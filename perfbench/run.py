#!/usr/bin/env python3
"""graft's benchmark: one command runs one named workload and prints its
metrics as the last line of standard output.

    python3 perfbench/run.py --workload api_query --seed 1 --seconds 20 --trace 0

Run it from the root of a graft checkout. The first run builds the classes
and the fixture under .bench_build/ (see build.py); that is never part of a
measured number. See perfbench/README.md for the workloads and metrics.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import fcntl  # noqa: E402
import getpass  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import measure  # noqa: E402

WORKLOADS = ("api_query", "curation", "stream_replay")
JVM_TIMEOUT_S = 150


def outside_snapshot():
    """Names, sizes and mtimes under the shared locations a run must leave
    untouched: the default artifact root and /dev/shm, plus graft_* entries
    at the top of /tmp."""
    snap = {}
    roots = [os.path.join("/tmp", f"graft-{getpass.getuser()}"), "/dev/shm"]
    for root in roots:
        for dirpath, dirs, files in os.walk(root):
            for name in dirs + files:
                p = os.path.join(dirpath, name)
                try:
                    st = os.lstat(p)
                    snap[p] = (st.st_size, st.st_mtime_ns)
                except OSError:
                    pass
    try:
        for name in os.listdir("/tmp"):
            if name.startswith("graft_"):
                snap[os.path.join("/tmp", name)] = None
    except OSError:
        pass
    return snap


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: the hypervisor's share shows how
    much neighbours took from the run."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return 0, 0


def steal_frac(t0, t1):
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total > 0 else 0.0


def load1():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


class Runner:
    def __init__(self, classes, heap, cpus):
        self.classes, self.heap, self.cpus = classes, heap, cpus

    def harness(self, config, run_dir, timeout=JVM_TIMEOUT_S):
        """Runs the harness JVM on `config` inside `run_dir`; returns
        (result, launch epoch ms)."""
        for sub in ("tmp", "local", "scratch", "artifacts", "verify", "warehouse"):
            os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
        config = dict(config, run_dir=os.path.abspath(run_dir), cpus=self.cpus,
                      out=os.path.abspath(os.path.join(run_dir, "result.json")))
        if os.path.exists(config["out"]):
            os.remove(config["out"])
        cfg_path = os.path.join(run_dir, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(config, f)
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.abspath(os.path.join(run_dir, "local")),
                   SPARK_GRAFT_CPUS=str(self.cpus))
        cmd = build.java_cmd(self.classes, os.path.abspath(os.path.join(run_dir, "tmp")), self.heap)
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            launch_ms = time.time() * 1000
            p = subprocess.Popen(cmd + [cfg_path], stdout=log, stderr=subprocess.STDOUT, env=env)
            try:
                p.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise SystemExit(f"perfbench: harness timed out after {timeout} s")
        if p.returncode != 0 or not os.path.exists(config["out"]):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: harness failed (exit {p.returncode})")
        with open(config["out"]) as f:
            return json.load(f), launch_ms


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    load_start, ticks0 = load1(), cpu_ticks()
    runs = os.path.join(build.BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    prep_dir = os.path.join(runs, f"prepare-{os.getpid()}")
    # one build at a time per checkout; runs share what it leaves
    with open(os.path.join(build.BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        classes, stamp = build.compile_classes()
        runner = Runner(classes, build.heap(), build.cpus())
        try:
            registry = build.registry(stamp, lambda cfg: runner.harness(cfg, prep_dir))
            data = build.fixture(lambda cfg: runner.harness(cfg, prep_dir, timeout=600))
        finally:
            shutil.rmtree(prep_dir, ignore_errors=True)

    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    before = outside_snapshot()
    try:
        summary = measure.run(runner, args, data, registry, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    after = outside_snapshot()
    summary.outside_changed = sorted(set(before.items()) ^ set(after.items()))
    summary.env = {"nproc": os.cpu_count(), "affinity_cpus": len(os.sched_getaffinity(0)),
                   "spark_graft_cpus": runner.cpus, "heap": runner.heap,
                   "load1_start": load_start, "load1_end": load1(), "commit": commit(),
                   "steal_frac": steal_frac(ticks0, cpu_ticks())}
    summary.emit()


if __name__ == "__main__":
    main()
