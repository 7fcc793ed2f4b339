"""The benchmark's workloads: inputs, the timed unit and its checks.

Every input comes from ``synth.generate_pages`` with the run's seed, and
the engine is driven only through its public batch call: ``cli.run_batch``
with arguments parsed by ``cli.build_parser()``, which writes the
verified pairs, clusters and survivors.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

from perfbench import stats

# shingle_hash stays at the engine default ('fast', the fused kernel)
ENGINE = {
    "shingle_k": 5,
    "rows_per_band": 2,
    "num_bands": 8,
    "jaccard_threshold": 0.70,
    "max_bucket_size": 500,
}
# a check fails below these pair-counting scores against planted truth
MIN_RECALL = 0.99
MIN_PRECISION = 0.99


# workload name → synth.SynthConfig fields (the seed comes from the run)
WORKLOADS = {
    # mostly unique pages: under 1k candidate pairs, so per-pair pairs and
    # verify work barely shows
    "crawl_fresh": {
        "n_docs": 12_000,
        "dup_fraction": 0.05,
        "boiler_fraction": 0.002,
        "cluster_size": 3,
    },
    # pairs + verify dominate; the boilerplate cluster (> 500 members)
    # takes the mega-bucket star path
    "crawl_dupheavy": {
        "n_docs": 3_000,
        "dup_fraction": 0.45,
        "boiler_fraction": 0.18,
        "cluster_size": 40,
    },
}


class Instance:
    """One workload's inputs and outputs under the run's work prefix."""

    def __init__(self, workload: str, seed: int, work: str):
        from lsh_qd_spark.synth import SynthConfig

        self.scfg = SynthConfig(
            seed=seed, shingle_k=ENGINE["shingle_k"], **WORKLOADS[workload]
        )
        if self.scfg.n_background < 0:
            raise ValueError(f"{workload}: page fractions add up to more than 1")
        self.input_dir = os.path.join(work, "input")
        self.out_dir = os.path.join(work, "out")
        self.truth: dict = {}

    @property
    def n_pages(self) -> int:
        return self.scfg.n_docs

    # --- set-up ---------------------------------------------------------

    def generate(self, spark) -> None:
        """Write the seed's pages as parquet (benchmark input, untimed)."""
        from lsh_qd_spark.synth import generate_pages

        generate_pages(spark, self.scfg).write.mode("overwrite").parquet(
            self.input_dir
        )

    def load(self, spark) -> None:
        """Open the input table and count it — the input side of set-up."""
        spark.read.parquet(self.input_dir).count()

    def load_truth(self, spark) -> None:
        """Planted clusters whose similarity tier reaches the threshold."""
        from lsh_qd_spark.synth import truth_clusters

        pdf = truth_clusters(spark, self.scfg).toPandas()
        pdf = pdf[pdf["tier"] >= ENGINE["jaccard_threshold"]]
        self.truth = dict(zip(pdf["doc_id"].tolist(), pdf["cluster_id"].tolist()))

    # --- the timed unit -------------------------------------------------

    def run_unit(self, spark, tracer=None) -> float:
        """One ``run_batch`` job; returns its wall time. The previous
        job's outputs are deleted first, so the checks read only this
        job's."""
        from lsh_qd_spark import cli

        shutil.rmtree(self.out_dir, ignore_errors=True)
        args = cli.build_parser().parse_args(
            [
                "--input", self.input_dir,
                "--output", self.out_dir,
                "--shingle-k", str(ENGINE["shingle_k"]),
                "--rows-per-band", str(ENGINE["rows_per_band"]),
                "--num-bands", str(ENGINE["num_bands"]),
                "--jaccard-threshold", str(ENGINE["jaccard_threshold"]),
                "--max-bucket-size", str(ENGINE["max_bucket_size"]),
            ]
        )
        t0 = time.perf_counter()
        with tracer.span("pipeline") if tracer else contextlib.nullcontext():
            cli.run_batch(spark, args)
        return time.perf_counter() - t0

    # --- checks ---------------------------------------------------------

    def check(self, spark) -> dict:
        """Score the unit's written clusters against planted truth."""
        pdf = spark.read.parquet(os.path.join(self.out_dir, "clusters")).toPandas()
        predicted = dict(zip(pdf["doc_id"].tolist(), pdf["cluster_id"].tolist()))
        scores = stats.cluster_pair_scores(predicted, self.truth)
        problems = []
        if len(predicted) != len(pdf):
            problems.append("a doc is in two clusters")
        n_surv = spark.read.parquet(os.path.join(self.out_dir, "survivors")).count()
        if n_surv != len(set(predicted.values())):
            problems.append(
                f"{n_surv} survivors for {len(set(predicted.values()))} clusters"
            )
        if scores["recall"] < MIN_RECALL:
            problems.append(f"recall {scores['recall']:.4f} < {MIN_RECALL}")
        if scores["precision"] < MIN_PRECISION:
            problems.append(
                f"precision {scores['precision']:.4f} < {MIN_PRECISION}"
            )
        scores["problems"] = problems
        return scores
