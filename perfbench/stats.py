"""Pure helpers of the benchmark: summaries, pair-count scoring, span
self-time and parsing of Spark REST metric strings.

Nothing here touches Spark, the filesystem or the clock, so every function
is unit-tested in ``perfbench/tests``.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from collections.abc import Iterable, Mapping, Sequence


def median(values: Sequence[float]) -> float:
    """Median of a non-empty sample (mean of the middle two when even)."""
    if not values:
        raise ValueError("median of an empty sample")
    s = sorted(values)
    mid = len(s) // 2
    return float(s[mid]) if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank percentile ``q`` in [0, 100] of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return float(s[rank - 1])


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest of p50/p90/p99/p99.9 that leaves at least ``min_beyond``
    samples above it in a sample of ``n``; None when even p50 does not."""
    best = None
    for q in (50.0, 90.0, 99.0, 99.9):
        beyond = n - max(1, math.ceil(q / 100.0 * n))
        if beyond >= min_beyond:
            best = q
    return best


def summarize(values: Sequence[float]) -> dict:
    """Median, the widest tail percentile the sample supports, extremes
    and the sample count — the shape every timing is reported in."""
    out = {"n": len(values), "median": median(values)}
    q = tail_percentile(len(values))
    if q is not None:
        out[f"p{q:g}"] = percentile(values, q)
    out["min"] = float(min(values))
    out["max"] = float(max(values))
    return out


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def cluster_pair_scores(
    predicted: Mapping[int, int], truth: Mapping[int, int]
) -> dict:
    """Pair-counting precision and recall of a clustering.

    ``predicted`` and ``truth`` map doc id → cluster label; a doc absent
    from a map is a singleton there. A pair of docs is a predicted
    (truth) duplicate when both share a predicted (truth) cluster. The
    counts come from cluster sizes and the predicted × truth contingency
    table, so a cluster of n docs costs O(n), never O(n²) pairs.
    """
    pred_pairs = sum(_pairs(n) for n in Counter(predicted.values()).values())
    truth_pairs = sum(_pairs(n) for n in Counter(truth.values()).values())
    cells = Counter(
        (label, truth[doc]) for doc, label in predicted.items() if doc in truth
    )
    both = sum(_pairs(n) for n in cells.values())
    return {
        "pred_pairs": pred_pairs,
        "truth_pairs": truth_pairs,
        "true_pairs": both,
        "recall": both / truth_pairs if truth_pairs else 1.0,
        "precision": both / pred_pairs if pred_pairs else 1.0,
    }


def self_times(spans: Iterable[Mapping]) -> dict:
    """Self time of each span: its duration minus the part of its
    interval covered by its direct children (overlapping children are
    merged, and children are clipped to the parent). Keyed by span id."""
    spans = list(spans)
    children: dict = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append(s)
    out = {}
    for s in spans:
        start, end = s["start"], s["end"]
        ivs = sorted(
            (max(c["start"], start), min(c["end"], end))
            for c in children.get(s["id"], [])
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (end - start) - covered
    return out


_UNITS = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
    "ns": 1e-9,
}
_QTY = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")


def parse_quantity(text: str) -> float:
    """Parse one Spark UI quantity — '44.5 s', '1.3 MiB', '12 ms',
    '2,048' — into base units (seconds, bytes or a plain count)."""
    m = _QTY.match(text)
    if not m:
        raise ValueError(f"not a Spark metric quantity: {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in {text!r}")
    return value * _UNITS.get(unit, 1)


def parse_sql_metric(text: str) -> float:
    """Total of a SQL-tab metric value from the REST API, in base units.

    Plain counters read '1,234'. Timing and size metrics read
    'total (min, med, max (stageId: taskId))\n44.5 s (0.2 s, 1.1 s, 9.8 s
    (stage 3.0: task 17))', whose total is the first quantity of the
    second line."""
    body = text.strip().split("\n")[-1]
    return parse_quantity(body.partition("(")[0])


PY_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to initialize Python workers": "py_init_s",
    "time to start Python workers": "py_start_s",
    "data sent to Python workers": "py_in_bytes",
}


def python_worker_totals(executions: Iterable[Mapping]) -> dict:
    """Sum the Python-worker SQL metrics over every plan node of the given
    REST ``/sql`` executions."""
    out = {v: 0.0 for v in PY_METRICS.values()}
    for ex in executions:
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                key = PY_METRICS.get(m.get("name"))
                if key is not None:
                    out[key] += parse_sql_metric(m["value"])
    return out


def stage_totals(stages: Iterable[Mapping]) -> dict:
    """Sum REST ``/stages`` attempts: task time, shuffle, spill, output."""
    out = {
        "stages": 0,
        "task_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "output_bytes": 0,
    }
    for st in stages:
        if st.get("status") not in ("COMPLETE", "FAILED"):
            continue
        out["stages"] += 1
        out["task_s"] += st.get("executorRunTime", 0) / 1000.0
        out["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        out["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get(
            "diskBytesSpilled", 0
        )
        out["output_bytes"] += st.get("outputBytes", 0)
    return out


def task_skew(summary: Mapping) -> float:
    """max/median executor run time from a REST ``taskSummary`` fetched
    with ``quantiles=0.5,1.0``; 1.0 when the median is zero."""
    med, top = summary["executorRunTime"][:2]
    return top / med if med > 0 else 1.0
