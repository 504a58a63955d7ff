"""Benchmark contamination detection (training-pipeline operator).

Before training, corpora are decontaminated against evaluation
benchmarks: any training document sharing a long-enough token n-gram
with a benchmark item is flagged (and usually dropped), so eval scores
measure generalization rather than memorization. The public recipe
(GPT-2/GPT-3 appendix decontamination, successors use 8-13-gram
overlap) is exactly an n-gram join:

1. benchmark side: DISTINCT n-token grams over the (small) benchmark
   suite;
2. corpus side: DISTINCT n-token grams per document;
3. flag = any shared gram; report per-doc overlap counts.

Scale shape: the benchmark gram set is small by construction (eval
suites are MBs against a 100 TB corpus) — it BROADCASTS, so the corpus
side is one explode + broadcast left-semi-style join + per-doc
re-aggregation: no corpus-sized shuffle on gram strings, and with
``hashed=True`` (production default, same idiom as
:mod:`finddup_spark.operators.boilerplate`) the per-doc distinct and
re-aggregation exchange 8-byte hashed-gram longs (computed in the
vectorized kernel, :func:`finddup_spark.operators.boilerplate.
_batch_space_shingles`), never gram text. The
string form (``hashed=False``) is what the DuckDB driver oracle
recomputes value-for-value; tests prove hashed == string.

Gram semantics are shared with boilerplate.doc_shingles: k-token
windows over ``split(text, " ")`` tokens (single-space separator, empty
tokens kept — not the signature kernel's whitespace-run tokenizer),
whole-doc gram when a text is shorter than n tokens (so short benchmark
prompts still contaminate their verbatim copies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from finddup_spark.operators.boilerplate import doc_shingles


def benchmark_grams(
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    hashed: bool = True,
) -> DataFrame:
    """(shingle) — the distinct n-gram fingerprint set of the benchmark
    suite. Small by construction; callers broadcast it."""
    bid = benchmark.select(
        F.monotonically_increasing_id().alias("__bench_id"), F.col(text_col)
    )
    return (
        doc_shingles(bid, k=n, id_col="__bench_id", text_col=text_col, hashed=hashed)
        .select("shingle")
        .distinct()
    )


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    hashed: bool = True,
) -> DataFrame:
    """(doc_id, n_grams, n_contaminated, contamination_ratio,
    is_contaminated) — per-document benchmark n-gram overlap.

    ``n_grams`` counts the document's DISTINCT n-grams,
    ``n_contaminated`` how many of those appear anywhere in the
    benchmark suite; ``is_contaminated`` is the drop flag
    (``n_contaminated > 0``). The benchmark gram set is broadcast —
    the corpus never shuffles on gram values, only on ``doc_id`` for
    the final per-doc count (partial-aggregated, 8-byte keys)."""
    bench = benchmark_grams(benchmark, n=n, text_col=bench_text_col, hashed=hashed)
    sh = doc_shingles(docs, k=n, id_col=id_col, text_col=text_col, hashed=hashed)
    joined = sh.join(
        F.broadcast(bench).withColumn("__hit", F.lit(1)), "shingle", "left"
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_contaminated"),
        F.round(
            F.sum(F.coalesce("__hit", F.lit(0))) / F.count(F.lit(1)), 6
        ).alias("contamination_ratio"),
        (F.sum(F.coalesce("__hit", F.lit(0))) > 0).alias("is_contaminated"),
    )
