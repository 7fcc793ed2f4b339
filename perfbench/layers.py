"""The traced run: per-layer metrics and the tracing overhead.

After the warm-up jobs the run times untraced units, then traced units in
the same session. In a traced unit every layer's output is materialised
under its own job group (see ``trace.layer_patches``); each per-layer
metric is the median over the traced units. The tracing overhead is the
traced units' median wall time against the untraced units' median.
"""

from __future__ import annotations

import os
import time

from perfbench import stats
from perfbench.trace import RestMetrics, Tracer, layer_patches

MIB = float(1 << 20)

# name → unit, in the order BENCHMARK.json lists them
PER_LAYER_UNITS = {
    "sign.wall_s": "s",
    "sign.task_s": "s",
    "sign.py_run_s": "s",
    "sign.py_init_s": "s",
    "sign.py_in_mb": "MB",
    "sign.skew": "ratio",
    "sign.rows_out": "count",
    "band.wall_s": "s",
    "band.task_s": "s",
    "band.shuffle_mb": "MB",
    "band.rows_out": "count",
    "pairs.wall_s": "s",
    "pairs.task_s": "s",
    "pairs.shuffle_mb": "MB",
    "pairs.spill_mb": "MB",
    "pairs.skew": "ratio",
    "pairs.rows_out": "count",
    "pairs.star_edges": "count",
    "verify.wall_s": "s",
    "verify.task_s": "s",
    "verify.py_run_s": "s",
    "verify.py_in_mb": "MB",
    "verify.skew": "ratio",
    "verify.rows_out": "count",
    "verify.yield": "ratio",
    "cluster.wall_s": "s",
    "cluster.iterations": "count",
    "io.wall_s": "s",
    "io.write_mb": "MB",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.task_s": "s",
    "pipeline.busy_slots": "ratio",
    "pipeline.self_s": "s",
    "batch.first_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_pct": "%",
}

LAYERS = ("sign", "band", "pairs", "verify", "cluster", "io")
COUNTS = (
    "sign.rows_out",
    "band.rows_out",
    "pairs.rows_out",
    "pairs.star_edges",
    "verify.rows_out",
    "cluster.iterations",
    "cluster.driver_path",
)


def unit_metrics(rest: RestMetrics, snap: dict, tracer: Tracer, run_id: str) -> dict:
    """Every per-layer metric of one traced unit except the two that
    compare against untraced units."""
    spans = tracer.run_spans(run_id)
    selft = stats.self_times(spans)
    root = next(s for s in spans if s["parent"] is None)
    in_run = run_id + "/"
    out = {}
    for layer in LAYERS:
        out[f"{layer}.wall_s"] = sum(
            selft[s["id"]] for s in spans if s["name"] == layer
        )
        m = rest.group_metrics(
            snap,
            lambda g, name=layer: g.startswith(in_run)
            and g.rsplit("/", 1)[-1] == name,
        )
        out[f"{layer}.task_s"] = m["task_s"]
        out[f"{layer}.skew"] = m["skew"]
        out[f"{layer}.shuffle_mb"] = m["shuffle_write_bytes"] / MIB
        out[f"{layer}.spill_mb"] = m["spill_bytes"] / MIB
        out[f"{layer}.py_run_s"] = m["py_run_s"]
        out[f"{layer}.py_init_s"] = m["py_init_s"] + m["py_start_s"]
        out[f"{layer}.py_in_mb"] = m["py_in_bytes"] / MIB
        out[f"{layer}.write_mb"] = m["output_bytes"] / MIB
    counts = {n: v for (r, n), v in tracer.counts.items() if r == run_id}
    for name in COUNTS:
        out[name] = counts.get(name, 0.0)
    out["verify.yield"] = (
        out["verify.rows_out"] / out["pairs.rows_out"] if out["pairs.rows_out"] else 0.0
    )
    whole = rest.group_metrics(snap, lambda g: g.startswith(in_run))
    wall = root["end"] - root["start"]
    out["pipeline.jobs"] = whole["jobs"]
    out["pipeline.stages"] = whole["stages"]
    out["pipeline.task_s"] = whole["task_s"]
    out["pipeline.busy_slots"] = whole["task_s"] / wall
    out["pipeline.self_s"] = selft[root["id"]]
    out["trace.wall_s"] = wall
    return out


def traced(run, setups: list[float]):
    """The traced run. Returns (metrics, samples, units)."""
    half = run.args.seconds / 2
    warm = run.warm_up()
    plain = run.window(half, min_units=2)
    if not warm or not plain:
        raise RuntimeError("every warm-up or untraced unit raised")
    tracer = Tracer(run.spark)
    rest = RestMetrics(run.spark)
    done: list[tuple[str, float]] = []
    held: list = []
    t0 = time.perf_counter()
    with layer_patches(tracer, held):
        while len(done) < 2 or time.perf_counter() - t0 < half:
            tracer.run_id = f"t{len(done)}"
            wall = run.unit(tracer)
            for df in held:
                df.unpersist()
            held.clear()
            if wall is None:
                break
            done.append((tracer.run_id, wall))
    if not done:
        raise RuntimeError("the first traced unit raised")
    snap = rest.snapshot(run.spark)
    per_unit = [unit_metrics(rest, snap, tracer, r) for r, _ in done]
    tracer.write(
        os.path.join(
            os.path.dirname(run.work),
            "traces",
            f"{run.args.workload}-seed{run.args.seed}.json",
        )
    )
    traced_walls = [w for _, w in done]
    values = {k: stats.median([m[k] for m in per_unit]) for k in per_unit[0]}
    values["batch.first_s"] = warm[0]
    values["trace.overhead_pct"] = 100.0 * (
        stats.median(traced_walls) / stats.median(plain) - 1.0
    )
    values = {k: values[k] for k in PER_LAYER_UNITS}
    samples = {
        "setup_s": stats.summarize(setups),
        "untraced_s": stats.summarize(plain),
        "traced_s": stats.summarize(traced_walls),
        "per_unit": per_unit,
    }
    return values, samples, PER_LAYER_UNITS
