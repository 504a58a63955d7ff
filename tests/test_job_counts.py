"""Structural job-count ceilings for the dedup entry points and the
staged pipeline.

The round-4 cross_modal regression (un-persisted pair streams re-ran the
hot-bucket probes and branch unions per consumer, ~2x the job count) was
caught by wall-clock on a noisy host; these tests make the action/stage
budget regression-proof independent of host speed: each operator call
may not launch more Spark jobs than a ceiling set ~25-30% above the
measured steady-state count. A refactor that accidentally adds a
cluster action, drops a persist, or un-elides the hot-bucket branches
on a skew-free corpus blows the ceiling immediately.

Counts are read from the DAGScheduler's job-id counter, which covers
jobs submitted from ANY thread (several operators materialize tiers on
worker threads, which job-group-based counting would miss).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finddup_spark.operators.dedup import (
    cross_modal_dedup,
    embedding_lsh_dedup,
    minhash_dedup,
    simhash_dedup,
)
from finddup_spark.plans.pipeline import DedupPipeline
from finddup_spark.sources.tables import load_pages


def _jobs(spark) -> int:
    nj = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return nj if isinstance(nj, int) else nj.get()


@pytest.fixture(scope="module")
def docs(spark):
    # skew-free near-dup corpus: distinct texts, a few exact dups — the
    # hot-bucket branches must stay ELIDED (their un-elision is one of
    # the regressions this suite exists to catch)
    rows = []
    for i in range(200):
        body = " ".join(f"w{i}t{j}" for j in range(30))
        rows.append((i, body))
        if i % 10 == 0:
            rows.append((1000 + i, body))  # exact dup
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


@pytest.fixture(scope="module")
def vecs(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((120, 16))
    rows = [(int(i), [float(x) for x in base[i % 120]]) for i in range(150)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


# ceilings = measured steady-state jobs (sf0.1 bench, 2026-08) + margin:
#   minhash 32, simhash 19, embedding_lsh 17, cross_modal 50
CASES = [
    ("minhash", 42),
    ("simhash", 26),
    ("embedding_lsh", 24),
    ("cross_modal", 64),
]


@pytest.mark.parametrize("name,ceiling", CASES)
def test_dedup_job_ceiling(spark, docs, vecs, name, ceiling):
    def run():
        if name == "minhash":
            return minhash_dedup(docs).count()
        if name == "simhash":
            return simhash_dedup(docs).count()
        if name == "embedding_lsh":
            return embedding_lsh_dedup(vecs, dim=16, threshold=0.95).count()
        return cross_modal_dedup(
            docs, vecs.select("vec_id", "embedding"), dim=16
        ).count()

    run()  # warm codegen/broadcast caches — the budget is steady-state
    j0 = _jobs(spark)
    n = run()
    used = _jobs(spark) - j0
    assert n > 0
    assert used <= ceiling, (
        f"{name}_dedup launched {used} Spark jobs (ceiling {ceiling}) — "
        "an action/persist/branch-elision regression"
    )


# measured steady-state jobs of DedupPipeline.run on the 500-row
# tiny_corpus (local[8], 8 shuffle partitions, 2026-10): 72 + ~28%
PIPELINE_CEILING = 92


def test_pipeline_job_ceiling(spark, tiny_corpus, tmp_path):
    """The flagship's budget, threads included: the errors tier and the
    minhash/substring edge tiers submit their jobs from driver threads,
    which the DAGScheduler counter covers."""
    pages = load_pages(spark, tiny_corpus[0])
    # warm run into its own directory; resume=False so the measured run
    # recomputes every stage instead of skipping finished ones
    DedupPipeline(spark, str(tmp_path / "warm"), resume=False).run(pages)
    j0 = _jobs(spark)
    run = DedupPipeline(spark, str(tmp_path / "steady"), resume=False).run(pages)
    used = _jobs(spark) - j0
    assert not any(st.skipped for st in run.stages)
    assert used <= PIPELINE_CEILING, (
        f"DedupPipeline.run launched {used} Spark jobs (ceiling "
        f"{PIPELINE_CEILING}) — an action/persist/branch-elision regression"
    )
