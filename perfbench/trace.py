"""Tracing for the benchmark's traced run.

``Tracer`` keeps spans in memory (name, start, end, parent, run id) and
writes them out once at the end. ``layer_patches`` wraps the engine's
layer entry points *from outside*: each wrapped call runs under a Spark
job group named after its layer, and its DataFrame result is persisted
and counted inside that group, so the layer's jobs hold only that layer's
work. ``RestMetrics`` reads the per-stage and per-SQL-node numbers for a
job group from Spark's status REST API (the UI is on only in this run).

The wrappers are installed only for the traced run; the end-to-end runs
call the engine untouched.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
import urllib.request

from perfbench import stats


class Tracer:
    """In-memory span recorder. Spans of one timed unit share a run id."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict = {}
        self.run_id = ""
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span and run its Spark jobs under the job group
        ``<run id>/<enclosing span names>/<name>``; the enclosing group is
        restored on exit."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "group": f"{parent['group'] if parent else self.run_id}/{name}",
        }
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(rec["group"], rec["group"])
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, prev)
            self.spans.append(rec)

    def count(self, name: str, value: float) -> None:
        key = (self.run_id, name)
        self.counts[key] = self.counts.get(key, 0) + value

    def run_spans(self, run_id: str) -> list[dict]:
        return [s for s in self.spans if s["run_id"] == run_id]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": self.spans,
                    "counts": [
                        {"run_id": r, "name": n, "value": v}
                        for (r, n), v in self.counts.items()
                    ],
                },
                f,
                indent=1,
            )


def _materialize(tracer: Tracer, layer: str, df, held: list):
    """Persist + count ``df`` inside the current span; records rows_out."""
    from pyspark.sql import DataFrame

    if not isinstance(df, DataFrame):
        return df
    df = df.persist()
    held.append(df)
    n = df.count()
    tracer.count(f"{layer}.rows_out", n)
    if layer == "pairs" and "via_star" in df.columns:
        tracer.count(
            "pairs.star_edges", df.where(df["via_star"]).count()
        )
    return df


def _wrap(tracer: Tracer, layer: str, fn, held: list, on_result=None):
    def wrapped(*args, **kwargs):
        with tracer.span(layer):
            out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(args, kwargs, out)
            return _materialize(tracer, layer, out, held)

    wrapped.__wrapped__ = fn
    return wrapped


@contextlib.contextmanager
def layer_patches(tracer: Tracer, held: list):
    """Wrap each layer's entry point for the duration of the block.

    A target missing from the engine (renamed or removed by a later
    change) is skipped, never fatal: its work then shows up in the
    enclosing span's self time.
    """
    from lsh_qd_spark import io
    from lsh_qd_spark.plans import pipeline

    def cc_stats(args, kwargs, out):
        st = kwargs.get("stats")
        if st:
            tracer.count("cluster.iterations", st.get("iterations", 0))
            tracer.count(
                "cluster.driver_path", float(st.get("path") == "driver")
            )

    targets = [
        (pipeline.DedupPipeline, "signatures_from_text", "sign", None),
        (pipeline.DedupPipeline, "buckets", "band", None),
        (pipeline, "candidate_pairs", "pairs", None),
        (pipeline, "verify_pairs_text", "verify", None),
        (pipeline, "connected_components", "cluster", cc_stats),
        (io, "write_stage", "io", None),
    ]
    saved = []
    for owner, attr, layer, hook in targets:
        fn = owner.__dict__.get(attr)
        if fn is None:
            continue
        saved.append((owner, attr, fn))
        setattr(owner, attr, _wrap(tracer, layer, fn, held, hook))
    try:
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


class RestMetrics:
    """Spark status REST API reader for one application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        url = sc.uiWebUrl
        if not url:
            raise RuntimeError("the Spark UI is off; the traced run needs it")
        # the UI binds to the driver host; the benchmark runs local[N]
        port = url.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def snapshot(self, spark, timeout: float = 30.0) -> dict:
        """Jobs, stages and SQL executions once the status store has
        caught up. Listener events arrive asynchronously, so a sentinel
        job is run last and waited for; SQL executions are then waited on
        until none is still running."""
        sc = spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup("perfbench-sentinel", "perfbench-sentinel")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        deadline = time.monotonic() + timeout
        while True:
            jobs = self.get("/jobs")
            sentinel = any(
                j.get("jobGroup") == "perfbench-sentinel"
                and j["status"] == "SUCCEEDED"
                for j in jobs
            )
            sql = self.get(
                "/sql?details=true&planDescription=false&length=100000"
            )
            running = any(e.get("status") == "RUNNING" for e in sql)
            if (sentinel and not running) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        return {"jobs": jobs, "stages": self.get("/stages"), "sql": sql}

    def group_metrics(self, snap: dict, match) -> dict:
        """Totals over the jobs whose group name satisfies ``match``."""
        jobs = [j for j in snap["jobs"] if match(j.get("jobGroup") or "")]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        stages = [s for s in snap["stages"] if s["stageId"] in stage_ids]
        out = stats.stage_totals(stages)
        out["jobs"] = len(jobs)
        execs = [
            e
            for e in snap["sql"]
            if job_ids.intersection(
                e.get("successJobIds", []) + e.get("failedJobIds", [])
            )
        ]
        out.update(stats.python_worker_totals(execs))
        done = [s for s in stages if s.get("status") == "COMPLETE"]
        out["skew"] = 1.0
        if done:
            heavy = max(done, key=lambda s: s.get("executorRunTime", 0))
            summary = self.get(
                f"/stages/{heavy['stageId']}/{heavy['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )
            out["skew"] = stats.task_skew(summary)
        return out
