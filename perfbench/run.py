"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics with the Spark UI off; ``--trace 1`` is the traced run, which
reports the per-layer metrics (see perfbench/README.md). The last stdout
line is the JSON result; the line before it is a report of the run
environment and the sample counts behind each median.

Working files go under ``.perfbench_work/`` in the checkout; this run's
own directory there is deleted at exit. Traces are kept in
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"
SETUP_REPEATS = 3
MIN_UNITS = 3
# jobs run before timing: the first in a session is cold, and the next few
# still speed up as the JVM compiles the driver's planning code
WARM_UNITS = 2
# the engine's sizing rule (config.RuntimeConfig): 2-3x the cores
SHUFFLE_PER_CORE = 2

END_TO_END_UNITS = {
    "pages_per_s": "1/s",
    "dup_recall": "ratio",
    "dup_precision": "ratio",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let the Python
    workers import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # fixed str hashing in the Python workers: one less run-to-run variable
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark_local")
    os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None


def descendants(pid: int) -> list[int]:
    """Pids of every live descendant of ``pid``, read from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def peak_rss_mb() -> dict:
    """VmHWM in MiB of every descendant of this process — the driver JVM
    and the Python workers — summed by program name."""
    out: dict = {}
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def host_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes: a gauge of how fast this
    host runs right now. Shared hosts drift by tens of percent over
    minutes; the report carries the gauge so a reader can tell host drift
    from program change. No metric is scaled by it."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i
        times.append(time.perf_counter() - t0)
    return stats.median(times)


def start_session(trace: bool):
    from lsh_qd_spark.config import RuntimeConfig
    from lsh_qd_spark.session import get_spark

    confs = {
        # a fixed-size heap: the JVM's resident size then tracks what the
        # run touches, not when G1 decided to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        confs.update(
            {
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    ncores = len(os.sched_getaffinity(0))
    return get_spark(
        app_name="perfbench",
        master=f"local[{ncores}]",
        runtime=RuntimeConfig(
            shuffle_partitions=SHUFFLE_PER_CORE * ncores, extra_confs=confs
        ),
    )


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM this process launched and wait for
    it and every process it started."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        if not [p for p in kids if os.path.exists(f"/proc/{p}")]:
            return
        time.sleep(0.1)


def environment(spark) -> dict:
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or None
    except OSError:
        commit = None
    conf = spark.conf
    return {
        "nproc": os.cpu_count(),
        "cores_used": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "commit": commit,
        "pythonpath": os.environ["PYTHONPATH"],
    }


class Run:
    """One benchmark run: set-up, the timed window and its checks."""

    def __init__(self, args, work: str):
        from perfbench.workloads import Instance

        self.args = args
        self.work = work
        self.inst = Instance(args.workload, args.seed, work)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.scores: list[dict] = []
        self.problems: list[str] = []

    def setup(self) -> list[float]:
        """Start a Spark session and load the input, ``SETUP_REPEATS``
        times; returns each set-up's seconds. The first start launches the
        JVM; later ones stop the session and start a new one in it.
        Writing the seed's input (once, after the first start) is not
        part of any set-up time."""
        times = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark = start_session(bool(self.args.trace))
            started = time.perf_counter()
            if i == 0:
                self.inst.generate(self.spark)
            t1 = time.perf_counter()
            self.inst.load(self.spark)
            times.append((started - t0) + (time.perf_counter() - t1))
        self.inst.load_truth(self.spark)
        return times

    def unit(self, tracer=None) -> float | None:
        """One timed unit plus its correctness check (outside the time)."""
        self.attempted += 1
        try:
            wall = self.inst.run_unit(self.spark, tracer)
            scores = self.inst.check(self.spark)
        except Exception:  # noqa: BLE001 — a failed unit is counted
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            self.problems.append(f"unit {self.attempted}: exception")
            return None
        self.scores.append(scores)
        if scores["problems"]:
            self.failed += 1
            self.problems += [f"unit {self.attempted}: {p}" for p in scores["problems"]]
        return wall

    def window(self, seconds: float, min_units: int = MIN_UNITS):
        """Run units until ``seconds`` have passed and at least
        ``min_units`` ran; returns the wall times of the units that did not
        raise (a unit whose check failed still counts as failed)."""
        walls, n, t0 = [], 0, time.perf_counter()
        while n < min_units or time.perf_counter() - t0 < seconds:
            wall = self.unit()
            n += 1
            if wall is not None:
                walls.append(wall)
            elif self.failed >= min_units:
                break
        return walls

    def warm_up(self) -> list[float]:
        """``WARM_UNITS`` jobs before timing; their times are reported and
        kept out of every median."""
        return self.window(0, min_units=WARM_UNITS)

    def end_to_end(self, setups: list[float]) -> tuple[dict, dict]:
        warm = self.warm_up()
        walls = self.window(self.args.seconds)
        if not walls:
            raise RuntimeError("every unit raised")
        rss = peak_rss_mb()
        values = {
            "pages_per_s": self.inst.n_pages / stats.median(walls),
            "dup_recall": stats.median([s["recall"] for s in self.scores]),
            "dup_precision": stats.median([s["precision"] for s in self.scores]),
            "setup_s": stats.median(setups),
            "peak_rss_mb": sum(rss.values()),
        }
        samples = {
            "warm_up_s": warm,
            "peak_rss_mb": rss,
            "batch_s": stats.summarize(walls),
            "setup_s": stats.summarize(setups),
            "batch_walls": walls,
            "setups": setups,
        }
        return values, samples


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    args = parse_args(argv)
    if args.workload not in WORKLOADS:
        raise SystemExit(
            f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}"
        )
    work = os.path.join(
        WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(work, exist_ok=True)
    pin_environment(work)
    run = None
    probe_before = host_probe_s()
    try:
        run = Run(args, work)
        setups = run.setup()
        env = environment(run.spark)
        if args.trace:
            from perfbench.layers import traced

            values, samples, units = traced(run, setups)
        else:
            values, samples = run.end_to_end(setups)
            units = END_TO_END_UNITS
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "pages": run.inst.n_pages,
            "env": env,
            "host_probe_s": [probe_before, host_probe_s()],
            "samples": samples,
            "problems": run.problems,
        }
    finally:
        if run is not None and run.spark is not None:
            stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_ROOT)  # only when no traces were kept
    print(json.dumps({"report": report}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    k: {"value": float(v), "unit": units[k]}
                    for k, v in values.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
