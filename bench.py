#!/usr/bin/env python
"""Benchmark harness: one measured run, one JSON line.

The last stdout line is the result:
  {"metric": "total_bench_sec", "value": N, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "bench_docs": ...,
   "pages_per_sec": ..., "headline_trials": [...], "headline_cpus": ...,
   "scaling": {...}}

Three parts, all measured by this run:
1. Headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
   production hash mode (xxhash64), on local[$SPARK_GRAFT_CPUS] (default:
   the cores this process may run on).
2. End-to-end dedup throughput (pages/sec) on a deterministic synthetic
   crawl of $SPARK_GRAFT_BENCH_DOCS pages (default 3M). Measured in a fresh
   JVM with a warm-up pass and the median of $SPARK_GRAFT_SCALE_TRIALS
   trials (same discipline as the scaling workers).
3. Scaling: the same dedup job at local[N] vs local[4N]
   ($SPARK_GRAFT_SCALE_CPUS, default 4,16) in child processes, rounds
   interleaved; efficiency = median per-round (rate_4N / rate_N) / 4,
   target ≥ 0.8 (BASELINE.md), computed from this run's rounds only.

The same numbers are written to BENCH/BASELINE.md.

Run `python bench.py` (or `--full`); `--skip-scaling` drops part 3. Any
other argument prints usage and exits 2 without starting a run. Past
$SPARK_GRAFT_BENCH_HARD_DEADLINE seconds (default 1740) a watchdog reaps the
worker processes, prints what this run measured so far flagged
"timed_out": true, and exits 0. SIGTERM reaps the worker processes and
exits 143. The harness signals no process it did not start.

Per-layer numbers (wall, task-seconds, shuffle, Python workers) come from
`python3 perfbench/run.py --trace 1`; physical plans from `plan_audit.py`.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# generous heap: GC pressure at high thread counts costs ~25% wall time
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "40g")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "3000000"))
BENCH_CORPUS_DIR = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/dev/shm/lsh_qd_bench")
# num_bands=8 comes from the planner (params.get_k_l_minhash semantics):
# detect probability at J=0.70 with k=2,l=8 is 1-(1-0.49)^8 ≈ 0.9954.
BENCH_CFG = dict(
    shingle_k=5,
    rows_per_band=2,
    num_bands=8,
    jaccard_threshold=0.70,
    max_bucket_size=500,
    shingle_hash="fast",
)
SCALING_TARGET = 0.8


def _session(cpus: int):
    from lsh_qd_spark.config import RuntimeConfig
    from lsh_qd_spark.session import get_spark

    # 2 shuffle tasks per core at BOTH parallelism levels (the engine's own
    # RuntimeConfig rule of thumb). With AQE the count is only a ceiling —
    # but a 1×-per-core ceiling makes every reduce stage straggler-bound:
    # one stalled core holds 1/cpus of the stage hostage with nothing for
    # the other cores to steal.
    return get_spark(
        app_name=f"bench_local{cpus}",
        master=f"local[{cpus}]",
        runtime=RuntimeConfig(
            shuffle_partitions=max(8, 2 * cpus),
            # UI on in bench sessions only: its REST status API is the
            # achieved-concurrency instrument (negligible overhead at
            # minute-scale jobs; sessions elsewhere keep it off)
            extra_confs={"spark.ui.enabled": "true"},
        ),
    )


def _task_seconds(spark) -> float | None:
    """Cumulative executor task time (seconds) from the local REST status
    API. Wall-clock measures the host's grant; task-seconds / wall = how
    many task slots the ENGINE kept busy."""
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        if not base:
            return None
        with urllib.request.urlopen(f"{base}/api/v1/applications", timeout=5) as r:
            apps = json.load(r)
        app_id = apps[0]["id"]
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}/stages?status=complete", timeout=10
        ) as r:
            stages = json.load(r)
        return sum(s.get("executorRunTime", 0) for s in stages) / 1000.0
    except Exception:  # noqa: BLE001 — instrument, never fails the bench
        return None


def _bench_pages_path(n_docs: int) -> str:
    return f"{BENCH_CORPUS_DIR}/pages_{n_docs}"


def _ensure_corpus(spark, n_docs: int) -> str:
    """Materialize the deterministic bench corpus once (generation excluded
    from the timed window)."""
    from lsh_qd_spark.synth import SynthConfig, generate_pages

    path = _bench_pages_path(n_docs)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        cfg = SynthConfig(n_docs=n_docs, seed=42)
        # fixed 64-file layout regardless of the GENERATING session's
        # parallelism: a corpus written by a local[4] worker would otherwise
        # have 4 fat files (2 row groups each) and cap every higher-
        # parallelism reader at ~8-way scans — which silently flattened the
        # measured 4→16 scaling to ~0.3 until diagnosed
        generate_pages(spark, cfg).repartition(64).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def run_dedup_job(spark, pages_path: str) -> tuple[int, float, float | None]:
    """The timed unit: read → shingle → sign → band → pairs → verify →
    cluster → count. Returns (n_pages, wall_seconds, achieved_concurrency)
    where achieved_concurrency = executor-task-seconds / wall-seconds over
    the timed window (None when the status API is unavailable)."""
    from lsh_qd_spark.config import DedupConfig
    from lsh_qd_spark.plans.pipeline import DedupPipeline

    pages = spark.read.parquet(pages_path)
    n_pages = pages.count()
    pipe = DedupPipeline(DedupConfig(**BENCH_CFG))
    task_before = _task_seconds(spark)
    t0 = time.time()
    out = pipe.run(pages)
    out["clusters"].count()
    wall = time.time() - t0
    task_after = _task_seconds(spark) if task_before is not None else None
    conc = (
        round((task_after - task_before) / wall, 2)
        if task_after is not None
        else None
    )
    return n_pages, wall, conc


def headline_queries(spark) -> dict[str, float]:
    """Representative operator timings over the driver sf tables."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from lsh_qd_spark.config import DedupConfig
    from lsh_qd_spark.plans.pipeline import DedupPipeline

    qs = entrymod.queries()
    # stream each finished timing into the watchdog's snapshot: a
    # mid-phase watchdog fire then still reports every completed query
    # instead of an empty dict
    times: dict[str, float] = _latest_payload.setdefault("queries", {})
    times.clear()
    for name in (
        "exact_dup_clusters",
        "token_totals",
        "quality_scores",
        "ann_cosine_topk",
    ):
        t0 = time.time()
        qs[name](spark, SF_DIR).count()
        times[name] = round(time.time() - t0, 3)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    # production-mode SimHash near-dup (the oracle-mode twin uses the
    # deliberately slow portable hash — not a throughput path)
    from lsh_qd_spark.functions.fast_shingle import make_text_shingles_udf
    from lsh_qd_spark.functions.simhash import (
        hamming_expr,
        make_simhash_udf,
        simhash_chunks,
    )
    from lsh_qd_spark.operators.pairs import candidate_pairs

    t0 = time.time()
    sh_udf = make_text_shingles_udf(5)
    sim_udf = make_simhash_udf()
    # no filter between the two kernels (would double-eval via pushdown);
    # null fingerprints are filtered AFTER the persist (cache-side filter)
    fp = docs.select(
        "doc_id", sim_udf(sh_udf(F.col("text"))).alias("simhash")
    ).persist()
    nonnull = fp.where(F.col("simhash").isNotNull())
    cand = candidate_pairs(
        simhash_chunks(nonnull), alpha=1, max_bucket_size=500
    )
    f = fp.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("h_a"))
    g = fp.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("h_b"))
    (
        cand.join(f, "id_a")
        .join(g, "id_b")
        .where(hamming_expr(F.col("h_a"), F.col("h_b")) <= 6)
        .count()
    )
    times["simhash_near_dup_prod"] = round(time.time() - t0, 3)
    fp.unpersist()

    # production-mode (fused kernel) dedup over the sf documents table
    pipe = DedupPipeline(DedupConfig(**BENCH_CFG))
    t0 = time.time()
    out = pipe.run(docs)
    out["clusters"].count()
    times["dedup_pipeline_prod"] = round(time.time() - t0, 3)
    return times


# N vs 4N parallelism pair for the scaling measurement.
SCALE_CPUS = tuple(
    int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_CPUS", "4,16").split(",")
)
SCALE_TRIALS = int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", "3"))
# Scaling rounds use the SAME corpus size as the headline: the job carries
# ~15 s of parallelism-independent stage latency (shuffle setup, CC
# rounds), which is ~25% of a 4-thread run but >50% of a 16-thread run at
# 1M pages — an Amdahl floor that caps the measured ratio near 0.45. At 3M
# pages the fixed fraction is small and the ratio reflects the engine.
SCALE_DOCS = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", str(BENCH_DOCS)))


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def worker(
    cpus: int,
    out_path: str,
    n_trials: int | None = None,
    n_docs: int | None = None,
) -> None:
    spark = _session(cpus)
    path = _ensure_corpus(spark, n_docs or BENCH_DOCS)
    # warm JVM + python UDF workers outside the timed window
    from lsh_qd_spark.config import DedupConfig
    from lsh_qd_spark.plans.pipeline import DedupPipeline

    DedupPipeline(DedupConfig(**BENCH_CFG)).signatures_from_text(
        spark.read.parquet(path).limit(2000)
    ).count()
    # median-of-N trials (min-of-N inflates the scaling ratio when the slow
    # point is interference-bound; median is the believable central
    # tendency on a shared host)
    secs: list[float] = []
    concs: list[float] = []
    n_pages = 0
    for _ in range(n_trials or SCALE_TRIALS):
        n_pages, s, conc = run_dedup_job(spark, path)
        secs.append(s)
        if conc is not None:
            concs.append(conc)
    with open(out_path, "w") as f:
        json.dump(
            {
                "cpus": cpus,
                "n_pages": n_pages,
                "sec": _median(secs),
                "trials": secs,
                "achieved_concurrency": _median(concs) if concs else None,
            },
            f,
        )
    spark.stop()


def _pkg_zip() -> str:
    """Zip the ``lsh_qd_spark`` package for shipping to executor python
    workers — the programmatic equivalent of ``spark-submit --py-files``.
    Rebuilt on every call (<100 ms) and swapped in atomically so a
    concurrent caller never reads a half-written archive."""
    import zipfile

    path = "/tmp/lsh_qd_spark_pkg.zip"
    tmp = f"{path}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        pkg = os.path.join(REPO, "lsh_qd_spark")
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for fn in files:
                # everything, not just .py: package data (e.g.
                # data/lang_profiles.json, loaded at oracle.py import via
                # importlib.resources) must reach executor workers too —
                # same content as `zip -qr ... lsh_qd_spark`
                if not fn.endswith((".pyc", ".pyo")):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, REPO))
    os.replace(tmp, path)
    return path


def _session_cluster(n_exec: int, cores: int, mem_mb: int):
    """SparkSession on ``local-cluster[n,cores,mem]`` — REAL separate
    executor JVMs (netty shuffle, cross-process serialization, per-executor
    memory), not threads in the driver. The package zip is added up front:
    executor python workers import the pandas-UDF kernels by module
    reference, exactly as they would from ``spark-submit --py-files`` on a
    real cluster."""
    from lsh_qd_spark.config import RuntimeConfig
    from lsh_qd_spark.session import get_spark

    spark = get_spark(
        app_name=f"bench_cluster{n_exec}x{cores}",
        master=f"local-cluster[{n_exec},{cores},{mem_mb}]",
        runtime=RuntimeConfig(
            shuffle_partitions=max(8, 2 * n_exec * cores),
            extra_confs={
                "spark.executor.memory": f"{mem_mb}m",
                # status API = achieved-concurrency instrument (as _session)
                "spark.ui.enabled": "true",
            },
        ),
    )
    spark.sparkContext.addPyFile(_pkg_zip())
    return spark


# Worker children in flight right now. Each worker python owns a JVM
# grandchild, so a plain subprocess kill — what subprocess.run's timeout
# does, and what the watchdog's os._exit implicitly abandons — leaves that
# JVM running after the bench is gone. Workers therefore run as their own
# process-group leaders and every kill path reaps the whole group.
_live_children: list[subprocess.Popen] = []


def _kill_child_tree(proc: subprocess.Popen) -> None:
    """Best-effort SIGKILL of a worker's entire process group."""
    import signal

    try:
        os.killpg(proc.pid, signal.SIGKILL)  # pgid == pid (new session)
    except (ProcessLookupError, PermissionError):
        pass
    try:
        proc.wait(timeout=10)
    except Exception:  # noqa: BLE001 — reaping is best-effort
        pass


def _run_child(cmd: list[str], timeout: int = 1500) -> subprocess.CompletedProcess:
    """subprocess.run with a process group + live registry: a timeout kills
    the worker AND its JVM, and the hard-deadline watchdog can reap every
    in-flight worker before it emits the partial payload and exits."""
    proc = subprocess.Popen(
        cmd,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        cwd=REPO,
        start_new_session=True,
    )
    _live_children.append(proc)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        _kill_child_tree(proc)
        raise
    finally:
        try:
            _live_children.remove(proc)
        except ValueError:
            pass
    return subprocess.CompletedProcess(cmd, proc.returncode, out, err)


def _run_worker(
    cpus: int, n_trials: int | None = None, n_docs: int | None = None
) -> dict:
    """Fresh-JVM measurement at a given parallelism: warm-up outside the
    timed window, median of SCALE_TRIALS (or ``n_trials``). One discipline
    for headline and scaling runs."""
    out_path = os.path.join(
        tempfile.gettempdir(), f"lsh_qd_bench_{os.getpid()}_{cpus}.json"
    )
    cmd = [sys.executable, os.path.abspath(__file__), "--worker", str(cpus), out_path]
    if n_docs and not n_trials:
        # the worker protocol is positional (trials then docs): silently
        # dropping n_docs here would benchmark the DEFAULT corpus while
        # the caller labels the result with its requested size
        raise ValueError("_run_worker: n_docs requires an explicit n_trials")
    if n_trials:
        cmd.append(str(n_trials))
        if n_docs:
            cmd.append(str(n_docs))
    proc = _run_child(cmd)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr.decode()[-2000:])
        raise RuntimeError(f"bench worker local[{cpus}] failed")
    with open(out_path) as f:
        result = json.load(f)
    os.remove(out_path)
    return result


def run_scaling(deadline: float | None = None) -> dict:
    """N vs 4N throughput from this run's rounds:

    - Trials are INTERLEAVED in time (N,4N,N,4N,…): the shared host's load
      drifts on a minutes scale, so running all N trials then all 4N
      trials lets one noisy window land entirely on one level and
      fabricate (or destroy) the ratio.
    - Efficiency is the median of PER-ROUND ratios (each round's adjacent
      N,4N pair shares the same host load), not the ratio of pooled
      medians — a single saturated round then cannot dominate.
    - ``deadline`` (epoch seconds) bounds the phase: a new round starts
      only if the previous round's duration fits before the deadline, so
      the process always exits with whatever rounds completed.
    """
    n, n4 = SCALE_CPUS
    trials: dict[int, list[float]] = {c: [] for c in SCALE_CPUS}
    concs: dict[int, list[float]] = {c: [] for c in SCALE_CPUS}
    ratios: list[float] = []
    n_pages = SCALE_DOCS

    def snapshot() -> dict:
        """The scaling dict over the rounds completed so far."""
        n_sec, n4_sec = _median(trials[n]), _median(trials[n4])
        eff = round(_median(ratios), 3)
        return {
            "n_pages": n_pages,
            "cpus_n": n,
            "cpus_4n": n4,
            "n_sec": round(n_sec, 2),
            "4n_sec": round(n4_sec, 2),
            "n_pages_per_sec": round(n_pages / n_sec, 1),
            "4n_pages_per_sec": round(n_pages / n4_sec, 1),
            "scaling_efficiency_n_to_4n": eff,
            "target": SCALING_TARGET,
            "target_met": eff >= SCALING_TARGET,
            "round_ratios": [round(r, 3) for r in ratios],
            "n_trials": [round(t, 2) for t in trials[n]],
            "4n_trials": [round(t, 2) for t in trials[n4]],
            # achieved task concurrency (executor-task-sec / wall-sec,
            # median across rounds): ~cpus at both levels means the ENGINE
            # filled every granted slot and any wall-clock ratio shortfall
            # is the host's grant, not the plan
            "n_achieved_concurrency": (
                round(_median(concs[n]), 2) if concs[n] else None
            ),
            "4n_achieved_concurrency": (
                round(_median(concs[n4]), 2) if concs[n4] else None
            ),
        }

    for i in range(SCALE_TRIALS):
        t_round = time.time()
        try:
            # both legs must succeed before the round counts: a failed 4N
            # leg must not leave an orphan N measurement in the medians
            legs = {
                c: _run_worker(c, n_trials=1, n_docs=SCALE_DOCS)
                for c in SCALE_CPUS
            }
        except (RuntimeError, subprocess.TimeoutExpired) as e:
            sys.stderr.write(f"scaling round {i} failed: {e}\n")
            if not ratios:
                raise
            break
        for c, r in legs.items():
            trials[c].append(r["sec"])
            if r.get("achieved_concurrency") is not None:
                concs[c].append(r["achieved_concurrency"])
        n_pages = legs[n]["n_pages"]
        ratios.append((legs[n]["sec"] / legs[n4]["sec"]) / (n4 / n))
        # a watchdog fire during a later round still reports this one
        _latest_payload["scaling"] = snapshot()
        round_cost = time.time() - t_round
        if (
            deadline is not None
            and i + 1 < SCALE_TRIALS
            and time.time() + round_cost > deadline
        ):
            sys.stderr.write(
                f"scaling: deadline reached after round {i + 1}; "
                f"reporting {len(ratios)} round(s)\n"
            )
            break
    return snapshot()


def _trial_rows(
    s: dict | None = None, payload: dict | None = None
) -> list[str]:
    """Raw trials of this run, one row per phase and parallelism: the
    scaling legs and the headline worker, ordered by parallelism."""
    rows: list[tuple[int, str]] = []

    def put(phase, cpus, ts):
        if ts and cpus is not None:
            trials = ", ".join(f"{t:.1f}" for t in ts)
            rows.append(
                (cpus, f"| {phase} | local[{cpus}] | {trials} | {_median(ts):.1f} |")
            )

    if s:
        put("scaling", s.get("cpus_n"), s.get("n_trials"))
        put("scaling", s.get("cpus_4n"), s.get("4n_trials"))
    if payload:
        put(
            "headline",
            payload.get("headline_cpus") or CPUS,
            payload.get("headline_trials"),
        )
    return [row for _, row in sorted(rows, key=lambda r: r[0])]


def write_bench_md(payload: dict) -> None:
    """BENCH/BASELINE.md from this run's payload — nothing else."""
    s = payload.get("scaling") or {}
    lines = [
        "# BENCH — measured throughput & scaling",
        "",
        "Written by `python bench.py`; every number below is from that one "
        f"run ({payload.get('value')} s wall).",
        "",
        f"- host: {os.cpu_count()} CPUs, {len(os.sched_getaffinity(0))} "
        "usable by the run",
        f"- corpus: deterministic synthetic pages, n={payload.get('bench_docs')}",
        f"- config: {BENCH_CFG}",
        "- end-to-end dedup (shingle→minhash→band→pairs→verify→cluster)",
        "",
        f"Headline per-query seconds at {payload.get('sf')}: "
        f"`{json.dumps(payload.get('queries', {}))}`",
        "",
        f"Headline dedup throughput at local[{payload.get('headline_cpus')}]: "
        f"{payload.get('pages_per_sec')} pages/sec (fresh JVM, warm-up pass, "
        f"median of {len(payload.get('headline_trials') or [])} trials).",
        "",
    ]
    if s:
        lines += [
            "| parallelism | wall (s) | pages/sec | achieved concurrency |",
            "|---|---|---|---|",
            f"| local[{s.get('cpus_n')}] (N) | {s.get('n_sec')} | "
            f"{s.get('n_pages_per_sec')} | {s.get('n_achieved_concurrency')} |",
            f"| local[{s.get('cpus_4n')}] (4N) | {s.get('4n_sec')} | "
            f"{s.get('4n_pages_per_sec')} | {s.get('4n_achieved_concurrency')} |",
            "",
            f"**Scaling efficiency N→4N: {s.get('scaling_efficiency_n_to_4n')}**"
            f" — target ≥ {s.get('target')} "
            + ("met" if s.get("target_met") else "not met")
            + f" in this run. Median of per-round paired ratios "
            f"`{s.get('round_ratios')}` at {s.get('n_pages')} pages. Achieved "
            "concurrency is executor-task-seconds ÷ wall-seconds from the "
            "Spark status API (median across rounds): a 4N leg that keeps "
            "~4N slots busy while the wall-clock ratio falls short points "
            "at the host's core grant, not the engine's plan.",
            "",
        ]
    else:
        lines += ["No scaling measurement in this run.", ""]
    lines += [
        "## Measurement discipline",
        "",
        "Every throughput number comes from the same protocol: fresh JVM per",
        "parallelism level (child process), a warm-up signature pass outside",
        "the timed window, then the median of the end-to-end trials. Scaling",
        "trials are INTERLEAVED in time (N,4N,N,4N,…) so host-load drift hits",
        "both levels equally. Raw trials (seconds):",
        "",
        "| phase | parallelism | trials | median |",
        "|---|---|---|---|",
        *_trial_rows(s, payload),
        "",
        "Per-layer numbers: `python3 perfbench/run.py --trace 1`. Physical-plan",
        "audit: BENCH/PLANS.md (`python plan_audit.py`).",
    ]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


# --- hard-deadline watchdog --------------------------------------------------
# A starved host can stall ANY Spark stage indefinitely — phase deadlines
# only help between phases. At HARD_DEADLINE the watchdog reaps the worker
# processes, prints the snapshot of what this run measured so far (flagged
# "timed_out": true) and exits 0. Normal completion disarms it.
HARD_DEADLINE_SEC = int(os.environ.get("SPARK_GRAFT_BENCH_HARD_DEADLINE", "1740"))
_done = threading.Event()
_latest_payload: dict = {}


def _emit(payload: dict) -> None:
    """Single exit path for the printed JSON line (main + watchdog)."""
    sys.stdout.write(json.dumps(payload) + "\n")
    sys.stdout.flush()


def _arm_watchdog(t_start: float) -> None:
    def fire() -> None:
        if _done.wait(timeout=max(0.0, t_start + HARD_DEADLINE_SEC - time.time())):
            return  # normal completion
        # reap in-flight workers FIRST: os._exit abandons children
        for p in list(_live_children):
            _kill_child_tree(p)
        _latest_payload.setdefault("metric", "total_bench_sec")
        _latest_payload.setdefault("unit", "sec")
        _latest_payload["value"] = round(time.time() - t_start, 2)
        _latest_payload["timed_out"] = True
        _emit(_latest_payload)
        os._exit(0)

    threading.Thread(target=fire, daemon=True, name="bench-watchdog").start()


def _terminate_with_children(signum, frame) -> None:
    """SIGTERM handler: take this run's in-flight worker groups (and their
    JVMs) down with it, then exit 143."""
    for p in list(_live_children):
        _kill_child_tree(p)
    os._exit(143)


def _usage() -> str:
    return (
        "usage: python bench.py [--full | --skip-scaling]\n"
        "  (bare) | --full   per-query times + dedup throughput + N->4N scaling\n"
        "  --skip-scaling    the same without the scaling phase\n"
        "Any other argument prints this usage and exits 2 without a run.\n"
    )


def main() -> None:
    import signal

    signal.signal(signal.SIGTERM, _terminate_with_children)
    if len(sys.argv) >= 4 and sys.argv[1] == "--worker":
        n_trials = int(sys.argv[4]) if len(sys.argv) >= 5 else None
        n_docs = int(sys.argv[5]) if len(sys.argv) >= 6 else None
        worker(int(sys.argv[2]), sys.argv[3], n_trials, n_docs)
        return
    if [a for a in sys.argv[1:] if a not in ("--full", "--skip-scaling")]:
        sys.stderr.write(_usage())
        raise SystemExit(2)

    t_start = time.time()
    _arm_watchdog(t_start)
    _latest_payload.update(
        {"metric": "total_bench_sec", "unit": "sec", "queries": {}, "sf": SF_DIR}
    )
    spark = _session(CPUS)
    times = headline_queries(spark)
    _ensure_corpus(spark, BENCH_DOCS)
    spark.stop()

    # headline dedup throughput at local[CPUS]: same fresh-JVM + warm-up +
    # median-of-N discipline as the scaling workers. Degrade rather than
    # die: a starved host can push 3 trials past the worker timeout — fall
    # back to a single trial, then to reporting the phase as absent.
    head = None
    try:
        head = _run_worker(CPUS)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        sys.stderr.write(f"headline worker failed ({e}); 1-trial retry\n")
        try:
            head = _run_worker(CPUS, n_trials=1)
        except (RuntimeError, subprocess.TimeoutExpired) as e2:
            sys.stderr.write(f"headline worker retry failed: {e2}\n")
    times["dedup_bench_corpus"] = round(head["sec"], 3) if head else None
    _latest_payload.update(
        {
            "bench_docs": head["n_pages"] if head else BENCH_DOCS,
            "pages_per_sec": (
                round(head["n_pages"] / head["sec"], 1) if head else None
            ),
            "headline_trials": (
                [round(t, 2) for t in head.get("trials", [])] if head else []
            ),
            "headline_cpus": CPUS,
            "scaling": None,
        }
    )

    if "--skip-scaling" not in sys.argv:
        # the phase deadline sits 10 min inside the watchdog's so a last
        # round that overruns its estimate still finishes before the
        # watchdog would cut it
        deadline = t_start + max(600, HARD_DEADLINE_SEC - 600)
        try:
            _latest_payload["scaling"] = run_scaling(deadline=deadline)
        except Exception as e:  # noqa: BLE001 — partial results beat rc!=0
            sys.stderr.write(f"scaling phase failed: {e}\n")

    _latest_payload["value"] = round(time.time() - t_start, 2)
    _done.set()  # disarm the watchdog before the normal single emit
    write_bench_md(_latest_payload)
    _emit(_latest_payload)


if __name__ == "__main__":
    main()
