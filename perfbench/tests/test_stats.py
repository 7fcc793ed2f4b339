"""Tests of the benchmark's pure helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import math

import pytest

from perfbench import stats


def test_median_odd_even_and_empty():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_percentile_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 50) == 50.0
    assert stats.percentile(xs, 90) == 90.0
    assert stats.percentile(xs, 100) == 100.0
    assert stats.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        stats.percentile(xs, 101)


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(5) is None
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(1000) == 99.0


def test_summarize_reports_count_and_supported_tail():
    s = stats.summarize([float(i) for i in range(1, 21)])
    assert s["n"] == 20
    assert s["median"] == 10.5
    assert s["p50"] == 10.0
    assert "p90" not in s
    assert stats.summarize([2.0, 1.0]) == {
        "n": 2,
        "median": 1.5,
        "min": 1.0,
        "max": 2.0,
    }


def test_cluster_pair_scores_hand_built():
    # truth: {1,2,3} and {4,5}; 6 is a singleton  → 3 + 1 = 4 truth pairs
    truth = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    # predicted: {1,2} {3,4,5} {6,7}            → 1 + 3 + 1 = 5 pairs
    predicted = {1: 1, 2: 1, 3: 3, 4: 3, 5: 3, 6: 6, 7: 6}
    # pairs in both: (1,2) and (4,5)
    s = stats.cluster_pair_scores(predicted, truth)
    assert (s["truth_pairs"], s["pred_pairs"], s["true_pairs"]) == (4, 5, 2)
    assert s["recall"] == pytest.approx(0.5)
    assert s["precision"] == pytest.approx(0.4)


def test_cluster_pair_scores_perfect_and_large_without_pair_explosion():
    n = 200_000  # 2e10 pairs if enumerated
    truth = {i: 0 for i in range(n)}
    s = stats.cluster_pair_scores(dict(truth), truth)
    assert s["true_pairs"] == n * (n - 1) // 2
    assert s["recall"] == s["precision"] == 1.0


def test_cluster_pair_scores_empty_sides():
    assert stats.cluster_pair_scores({}, {})["recall"] == 1.0
    s = stats.cluster_pair_scores({}, {1: 1, 2: 1})
    assert s["recall"] == 0.0 and s["precision"] == 1.0


def test_self_times_subtract_merged_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},  # overlaps 2
        {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # clipped to 10
        {"id": 5, "parent": 2, "start": 2.0, "end": 3.0},  # grandchild
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(2.0)
    assert st[5] == pytest.approx(1.0)


@pytest.mark.parametrize(
    "text,value",
    [
        ("44.5 s", 44.5),
        ("12 ms", 0.012),
        ("1.3 MiB", 1.3 * (1 << 20)),
        ("2,048", 2048.0),
        ("512 B", 512.0),
        ("2.0 m", 120.0),
    ],
)
def test_parse_quantity(text, value):
    assert stats.parse_quantity(text) == pytest.approx(value)


def test_parse_quantity_rejects_unknown_unit():
    with pytest.raises(ValueError):
        stats.parse_quantity("3 parsecs")


def test_parse_sql_metric_total():
    text = (
        "total (min, med, max (stageId: taskId))\n"
        "180.0 MiB (0.4 MiB, 1.3 MiB, 85.3 MiB (stage 12.0: task 301))"
    )
    assert stats.parse_sql_metric(text) == pytest.approx(180.0 * (1 << 20))
    assert stats.parse_sql_metric("1,234") == 1234.0


def test_python_worker_totals_from_rest_sql():
    def metric(name, value):
        return {"name": name, "value": value}

    timing = "total (min, med, max (stageId: taskId))\n{} ({}, {}, {} (stage 3.0: task 9))"
    executions = [
        {
            "nodes": [
                {
                    "nodeName": "ArrowEvalPython",
                    "metrics": [
                        metric("time to run Python workers", timing.format("44.5 s", "1 s", "2 s", "9 s")),
                        metric("time to initialize Python workers", timing.format("18.7 s", "0.1 s", "1 s", "2 s")),
                        metric("time to start Python workers", timing.format("6.7 s", "0.1 s", "1 s", "2 s")),
                        metric("data sent to Python workers", timing.format("2.0 MiB", "0.1 MiB", "0.5 MiB", "1.0 MiB")),
                        metric("number of output rows", "24,000"),
                    ],
                },
                {"nodeName": "Project", "metrics": []},
            ]
        },
        {
            "nodes": [
                {
                    "nodeName": "MapInPandas",
                    "metrics": [
                        metric("time to run Python workers", timing.format("1.5 s", "0.1 s", "0.2 s", "1 s")),
                        metric("data sent to Python workers", timing.format("180.0 MiB", "0.4 MiB", "1.3 MiB", "85.3 MiB")),
                    ],
                }
            ]
        },
    ]
    t = stats.python_worker_totals(executions)
    assert t["py_run_s"] == pytest.approx(46.0)
    assert t["py_init_s"] == pytest.approx(18.7)
    assert t["py_start_s"] == pytest.approx(6.7)
    assert t["py_in_bytes"] == pytest.approx(182.0 * (1 << 20))


def test_stage_totals_skip_unfinished_and_sum_bytes():
    stages = [
        {
            "status": "COMPLETE",
            "executorRunTime": 1500,
            "shuffleWriteBytes": 100,
            "memoryBytesSpilled": 7,
            "diskBytesSpilled": 3,
            "outputBytes": 13,
        },
        {"status": "SKIPPED", "executorRunTime": 99999},
        {"status": "COMPLETE", "executorRunTime": 500},
    ]
    t = stats.stage_totals(stages)
    assert t["stages"] == 2
    assert t["task_s"] == pytest.approx(2.0)
    assert t["shuffle_write_bytes"] == 100
    assert t["spill_bytes"] == 10
    assert t["output_bytes"] == 13


def test_task_skew():
    assert stats.task_skew({"executorRunTime": [10.0, 85.0]}) == 8.5
    assert stats.task_skew({"executorRunTime": [0.0, 3.0]}) == 1.0
    assert not math.isnan(stats.task_skew({"executorRunTime": [1.0, 1.0]}))
