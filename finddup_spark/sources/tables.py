"""Source-side loaders (SURVEY.md §2.1 S1/S2).

The reference walks directory roots with ``os.walk``
(``finddup.py:810-917``) and normalizes/dedups overlapping search roots
(``finddup.py:693-736``). Spark's ``FileIndex`` subsumes the walk; root
dedup becomes ``dropDuplicates`` at ingest; the production source is one
Iceberg table (``spark.read.format("iceberg")``), which in this sandbox is
parquet with identical semantics minus snapshot pinning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_pages(spark: SparkSession, pages_path: str) -> DataFrame:
    """Read the pages corpus (Iceberg in production; parquet here).

    Snapshot semantics (reference F6 invalidation, ``finddup.py:974-1005``):
    re-crawled urls appear multiple times with different ``warc_ts``; the
    pipeline reads ONE consistent snapshot = the latest row per url at
    read time (groupBy-max + self-semijoin — cheap, key-partitioned).
    With real Iceberg this is a pinned snapshot id and the dedup below is
    unnecessary.
    """
    raw = spark.read.parquet(pages_path)
    latest = raw.groupBy("url").agg(F.max("warc_ts").alias("warc_ts"))
    return raw.join(latest, ["url", "warc_ts"], "left_semi")


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a `pages`-shaped table from the driver's `documents` table.

    Used by bench.py so the benchmark input comes from driver-generated
    data (TESTDATA.md) rather than anything synthesized ad hoc:
    url from (source, doc_id), text as-is, html rendered by the
    deterministic template, lang as-is.
    """
    from ..extract import render_html

    docs = load_table(spark, sf_dir, "documents")

    @F.pandas_udf("binary")
    def render_udf(text):
        return text.map(lambda t: render_html(t) if t is not None else None)

    return docs.select(
        F.col("doc_id"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit("/doc"),
            F.col("doc_id").cast("string"), F.lit(".html"),
        ).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        render_udf(F.col("text")).alias("html"),
        F.col("text"),
        F.col("lang"),
    )
