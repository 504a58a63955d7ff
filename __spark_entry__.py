"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship exact-dedup clustering on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
training-pipeline operator family).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per SQL-expressible query;
non-SQL-expressible ops (MinHash UDFs, CC iterations, LSH re-rank,
multimodal plumbing) are rows-only and are covered instead by the mirror
oracle + reference-CLI tests in tests/.

Column names and integer widths are aligned on both sides (the driver
hashes values after sorting columns by name); float columns are rounded
identically on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"
LANGS = ("en", "fr", "es", "de", "zh")

# PII patterns shared verbatim with the engine (lockstep by construction:
# the pii_scrub oracle SQL embeds these same strings)
from finddup_spark.functions.pii import (  # noqa: E402
    EMAIL_RE as _PII_EMAIL_RE,
    IPV4_RE as _PII_IPV4_RE,
    PHONE_RE as _PII_PHONE_RE,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


#: sf_dir -> embedding dim. The array<float> parquet schema does not carry
#: the dim, so it costs one tiny .first() probe — cached so the three
#: embedding queries share a single driver round-trip per corpus instead of
#: probing once each (round-3 VERDICT cleanup #6).
_EMB_DIM_CACHE: dict[str, int] = {}


def _emb_dim(spark: SparkSession, sf_dir: str) -> int:
    if sf_dir not in _EMB_DIM_CACHE:
        _EMB_DIM_CACHE[sf_dir] = len(
            _emb(spark, sf_dir).select("embedding").first()[0]
        )
    return _EMB_DIM_CACHE[sf_dir]


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Exact-duplicate clustering (SURVEY.md M1) over sf0.001 documents."""
    from finddup_spark.operators.exact import exact_clusters

    docs = _docs(spark, SF0001)
    return exact_clusters(docs, id_col="doc_id").select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# queries — each callable (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def _q_exact_block_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 length blocking: lengths with >1 member (reference finddup.py:876)."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.length("text").cast("long").alias("text_len"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def _q_exact_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A7: sha256 grouping with min-doc_id cluster ids."""
    from finddup_spark.operators.exact import exact_clusters

    return exact_clusters(_docs(spark, sf_dir), id_col="doc_id").select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


def _q_exact_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 verification: min(text)=max(text) within each sha-256 group."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.sha2("text", 256).alias("content_sha"))
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            (F.min("text") == F.max("text")).alias("verified"),
        )
    )


def _q_prefix_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 progressive-prefix cheap key (reference 256-byte first pass)."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.substring("text", 1, 64).alias("prefix"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("doc_id").alias("min_doc"),
        )
    )


def _q_exact_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline exact dedup: keep-list (first doc per content)."""
    from finddup_spark.operators.dedup import exact_dedup

    out = exact_dedup(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("keep").cast("string").alias("keep"),
    )


def _q_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 one-level rollup analog on documents: per-source signature =
    sha256 of sorted member content-hash multiset + byte rollup."""
    d = _docs(spark, sf_dir).select(
        "source",
        F.sha2("text", 256).alias("h"),
        F.length("text").cast("long").alias("n"),
    )
    return d.groupBy("source").agg(
        F.sha2(F.concat_ws(",", F.sort_array(F.collect_list("h"))), 256).alias("source_sig"),
        F.sum("n").alias("n_chars_total"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _doc_offset(spark: SparkSession, sf_dir: str) -> int:
    """Collision-proof planted-id offset, DERIVED from the data (max
    doc_id + 1) rather than a baked-in corpus-size assumption — the SQL
    oracles mirror it with a scalar subquery so both engines agree at any
    sf."""
    return int(_docs(spark, sf_dir).agg(F.max("doc_id")).collect()[0][0]) + 1


_OFF_SQL = "(SELECT max(doc_id) + 1 FROM documents)"


def _planted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministic exact copies (doc_id%7==0 → doc_id+off,
    off = max(doc_id)+1): the sf corpora carry no byte-identical texts
    (dup_report was a 0-row/vacuous pass in round 1), so dup-group queries
    plant copies by doc_id arithmetic — mirrored verbatim in the oracle
    SQL via a scalar subquery, so planted ids never collide with real
    ones on any corpus size."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    off = _doc_offset(spark, sf_dir)
    copies = d.filter(F.pmod("doc_id", 7) == 0).select(
        (F.col("doc_id") + off).alias("doc_id"), "text"
    )
    return d.unionByName(copies)


_PLANTED_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_OFF_SQL} AS doc_id, text FROM documents WHERE doc_id % 7 = 0
"""


def _q_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/S6 report ordering: dup groups by size desc, members sorted
    (string-joined so both engines hash identically). Non-vacuous: exact
    copies planted by doc_id arithmetic (see _planted_docs)."""
    d = _planted_docs(spark, sf_dir).select(
        "doc_id", F.sha2("text", 256).alias("h"),
        F.length("text").cast("long").alias("n"))
    return (
        d.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("n").alias("n_chars"),
            F.concat_ws(",", F.sort_array(F.collect_list(F.col("doc_id").cast("string")))).alias("members"),
        )
        .filter(F.col("n_members") > 1)
    )


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis family: token counts, quality, lang id, fingerprint."""
    from finddup_spark.functions.textstats import text_stats

    return text_stats(_docs(spark, sf_dir))


def _q_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guessed-language histogram (lang-id aggregation shape)."""
    from finddup_spark.functions.textstats import lang_id

    return (
        _docs(spark, sf_dir)
        .select(lang_id("text").alias("lang_guess"), "lang")
        .groupBy("lang_guess", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 A1.1): duplicate
    word/line/5-gram fractions, duplicate-line character fraction, and
    the character share of the heaviest 2-/3-gram. Map-only — every
    metric is a per-row sorted-run array expression, zero shuffles; the
    DuckDB twin recomputes the same semantics via unnest + GROUP BY."""
    from finddup_spark.functions.repetition import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def _q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-doc 8-token-gram overlap against a
    deterministically derived benchmark suite (token slice [4..11] of
    every doc_id % 97 == 0 document — so the sources, and any doc
    sharing that window, are contaminated by construction). Production
    path: hashed grams (8-byte longs through the per-doc distinct and
    the final count shuffle), benchmark set broadcast; output columns
    carry no gram values, so the hashed run is directly oracle-able
    (hashed == string proven by test_contamination_hashed_matches_string)."""
    from finddup_spark.operators.contamination import contamination_check

    docs = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    bench = (
        docs.filter(F.col("text").isNotNull() & (F.col("doc_id") % 97 == 0))
        .select(F.array_join(F.slice(toks, 4, 8), " ").alias("text"))
    )
    return contamination_check(docs, bench, n=8, hashed=True)


def _q_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (token-set) Jaccard over a bounded blocked pair set."""
    from finddup_spark.operators.dedup import token_jaccard_pairs

    return token_jaccard_pairs(_docs(spark, sf_dir))


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for a bounded query set (vec_id < 16)."""
    from finddup_spark.operators.simsearch import brute_force_topk

    return brute_force_topk(
        _emb(spark, sf_dir), k=3, query_ids=list(range(16))
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "cos",
        F.col("rank").cast("long").alias("rank"),
    )


def _q_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup shape on the events stream table (keeper = min id)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("event_id").alias("keeper"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )


def _q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join inventory demo (J): orders ⋈ customer ⋈ nation with broadcast
    dims, grouped revenue."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def _q_ignored_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 ignore-name filter (finddup.py:170-174, 681-687) over synthesized
    urls: per-source kept/ignored counts via the engine's split_ignored."""
    from finddup_spark.operators.exact import split_ignored

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.when(F.pmod("doc_id", 7) == 0, F.concat("source", F.lit("/robots.txt")))
        .when(F.pmod("doc_id", 7) == 1, F.concat("source", F.lit("/.DS_Store")))
        .otherwise(
            F.concat("source", F.lit("/p"), F.col("doc_id").cast("string"), F.lit(".html"))
        )
        .alias("url"),
    )
    kept, ignored = split_ignored(d)
    both = kept.withColumn("is_kept", F.lit(1)).unionByName(
        ignored.withColumn("is_kept", F.lit(0))
    )
    return both.groupBy("source").agg(
        F.sum("is_kept").cast("long").alias("n_kept"),
        F.sum(1 - F.col("is_kept")).cast("long").alias("n_ignored"),
    )


def _q_group_size_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 group-size frequency histogram (get_frequencies,
    finddup.py:630-664) over content-hash groups."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.count(F.lit(1)).alias("group_size"))
        .groupBy("group_size")
        .agg(F.count(F.lit(1)).alias("n_groups"))
    )


def _q_uniques_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 uniques report (finddup.py:1199-1205): docs whose content
    appears exactly once, with byte size."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.sha2("text", 256).alias("h"), F.octet_length("text").cast("long").alias("n_bytes")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("h")
    return (
        d.withColumn("cnt", F.count(F.lit(1)).over(w))
        .filter(F.col("cnt") == 1)
        .select("doc_id", "n_bytes")
    )


def _q_human_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 num2eng analog (finddup.py:90-116): dup groups with k=1024
    human-formatted sizes, engine column expression vs SQL CASE.
    Non-vacuous via _planted_docs copies."""
    from finddup_spark.functions.report import human_bytes

    d = _planted_docs(spark, sf_dir).select(
        F.sha2("text", 256).alias("h"), F.octet_length("text").cast("long").alias("n_bytes")
    )
    return (
        d.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_members"), F.max("n_bytes").alias("nb"))
        .filter(F.col("n_members") > 1)
        .select("h", "n_members", human_bytes("nb").alias("human_size"))
    )


def _q_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 / §2.9 incremental dedup: merge a second batch (odd doc_ids)
    against state built from the first (even doc_ids) — first-seen-wins
    cluster assignment via streaming.incremental.merge_batch."""
    import tempfile

    from finddup_spark.streaming.incremental import merge_batch

    d = _docs(spark, sf_dir).select("doc_id", "text")
    out = tempfile.mkdtemp(prefix="entry_incr_")
    merge_batch(spark, d.filter(F.pmod("doc_id", 2) == 0), out)
    res = merge_batch(spark, d.filter(F.pmod("doc_id", 2) == 1), out)
    return res.select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("keep").cast("string").alias("keep"),
    )


# ---- rows-only (non-SQL-expressible: vectorized UDF signatures, CC
# iterations, LSH re-rank, multimodal plumbing) — covered by the mirror
# oracle and reference-CLI tests instead ----

def _q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup clusters. Fully oracled: the connected
    components are reproduced in SQL with a recursive-CTE transitive
    closure (tractable at sf scale; the engine's CC is the scale path).

    Non-vacuous: the sf embeddings have NO natural pair anywhere near the
    0.95 threshold (measured max natural cosine: 0.479 at sf0.001, 0.513
    at sf0.01, 0.601 at sf0.1 — threshold-boundary float risk is moot),
    so identical copies of the top-50 vec_ids are planted at +50 — gap
    exactly 50 (inside the candidate block window), ids derived from
    max(vec_id) so they never collide with real ones at any corpus size,
    cosine exactly 1.0 on both engines → 50 real edges through blocked
    verify + CC."""
    from pyspark.sql import functions as F

    from finddup_spark.operators.dedup import embedding_cosine_dedup

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    maxv = int(emb.agg(F.max("vec_id")).collect()[0][0])
    planted = emb.unionByName(
        emb.filter(F.col("vec_id") >= maxv - 49).select(
            (F.col("vec_id") + 50).alias("vec_id"), "embedding"
        )
    )
    out = embedding_cosine_dedup(planted)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("keep").cast("string").alias("keep"),
    )

def _q_embedding_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION embedding dedup (hyperplane-LSH blocked pairs →
    exact-cosine verify → CC) — the path that finds a copy at ANY id
    distance, unlike the id-gap demo. Fully oracled: identical copies of
    every 10th vec_id (excluding the top 100, so every planted gap is
    ≥ 202 ids — far outside the demo's 50-id window) are planted at the
    REVERSED id 2·max+2−v, and the oracle computes the exhaustive
    all-pairs cosine≥0.95 edge set + recursive-CTE CC. Soundness: an
    identical copy shares every LSH bucket with its original (equal
    projections ⇒ equal signs), so the engine finds every planted pair
    with probability 1; the sf corpora have no natural pair near the
    threshold (measured max natural cosine 0.479/0.513/0.601 at
    sf0.001/0.01/0.1 vs threshold 0.95), and the oracle_guard asserts no
    hot-bucket truncation — under those preconditions the LSH edge set
    IS the exhaustive one."""
    from finddup_spark.operators.dedup import embedding_lsh_dedup

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    maxv = int(emb.agg(F.max("vec_id")).collect()[0][0])
    dim = _emb_dim(spark, sf_dir)
    copies = emb.filter(
        (F.pmod("vec_id", 10) == 0) & (F.col("vec_id") <= maxv - 100)
    ).select((F.lit(2 * maxv + 2) - F.col("vec_id")).alias("vec_id"), "embedding")
    planted = emb.unionByName(copies)
    out = embedding_lsh_dedup(planted, dim=dim, threshold=0.95, oracle_guard=True)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("keep").cast("string").alias("keep"),
    )


def _q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH+CC near-dup dedup. Fully oracled: the sf corpora carry
    natural near-dup pairs (shingle Jaccard ≥ 0.85), and the oracle SQL
    recomputes the exact 5-token-shingle Jaccard from raw text (string
    shingles ≡ the engine's 64-bit hashed shingles up to collisions) and
    resolves clusters with a recursive-CTE transitive closure. The engine
    path is the real scale machinery (OPH signatures → salted LSH bucket
    join → exact-Jaccard verify → distributed CC). ``oracle_guard``
    asserts the oracle's empirical soundness preconditions (no hot-bucket
    truncation, no threshold-boundary pair) instead of letting a future
    corpus silently hash-diverge."""
    from finddup_spark.operators.dedup import minhash_dedup

    return minhash_dedup(_docs(spark, sf_dir), oracle_guard=True).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("keep").cast("string").alias("keep"),
    )


def _q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball dedup (rows-only: the bit-vote fingerprint
    needs wrapping uint64 multiplies — splitmix64 / polynomial token
    hashes — which ANSI SQL / DuckDB cannot express (integer ops raise on
    overflow), and the Hamming-≤r edge set is not Jaccard-monotone so no
    text-side threshold reproduces it. Covered by the mirror-oracle unit
    tests in tests/test_hashing.py and the skew test in
    tests/test_training_ops.py.)"""
    from finddup_spark.operators.dedup import simhash_dedup

    return simhash_dedup(_docs(spark, sf_dir))


def _q_simhash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup with a BY-CONSTRUCTION oracle: over the doc_id%7==0
    subset (verified min natural pairwise Hamming = 19 at both sf0.001
    and sf0.01 — far outside radius 3), exact copies are planted at
    +off (off = max(doc_id)+1, derived from the data so planted ids never
    collide with real ones), so the Hamming-≤3 edge set is exactly the
    planted pairs and the cluster partition is {id, id+off}. This
    hash-checks the full engine path (fingerprint → 16-bit chunk
    pigeonhole through the salted pair generator → Hamming verify → CC);
    the unrestricted simhash_dedup stays rows-only (fingerprints aren't
    SQL-computable)."""
    from finddup_spark.operators.dedup import simhash_dedup

    off = _doc_offset(spark, sf_dir)
    d = _docs(spark, sf_dir).filter(F.pmod("doc_id", 7) == 0).select("doc_id", "text")
    planted = d.unionByName(
        d.select((F.col("doc_id") + off).alias("doc_id"), "text")
    )
    return simhash_dedup(planted).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("keep").cast("string").alias("keep"),
    )


def _q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k with exact-cosine re-rank. Fully
    oracled: the seeded hyperplanes are embedded as literals in the oracle
    SQL (see _lsh_topk_sql), so DuckDB reproduces bucket assignment,
    candidate join, and re-rank exactly."""
    from finddup_spark.operators.simsearch import lsh_topk

    emb = _emb(spark, sf_dir)
    dim = _emb_dim(spark, sf_dir)
    if dim != _LSH_ORACLE_DIM:
        # the oracle's hyperplane literals are generated for this dim —
        # diverge LOUDLY instead of silently hashing different buckets
        raise ValueError(
            f"lsh_topk oracle pair is built for dim={_LSH_ORACLE_DIM}, "
            f"data has dim={dim}; regenerate _lsh_topk_sql for this dim"
        )
    return lsh_topk(emb, dim=dim, k=3).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "cos",
        F.col("rank").cast("long").alias("rank"),
    )


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-k (coarse-quantize → probe → exact
    re-rank). Fully oracled: the trainless coarse quantizer (lowest-id
    vectors as centroids) and the 6-decimal-rounded assignment scores
    make cell membership reproducible in SQL."""
    from finddup_spark.operators.simsearch import ivf_topk

    return ivf_topk(_emb(spark, sf_dir), k=3, n_cells=16, n_probe=4).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "cos",
        F.col("rank").cast("long").alias("rank"),
    )


def _q_anti_join_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 set-complement (reference invalidation anti-join,
    finddup.py:1000-1005): docs whose content has no duplicate."""
    d = _docs(spark, sf_dir)
    dups = (
        d.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("h")
    )
    return (
        d.withColumn("h", F.sha2("text", 256))
        .join(dups, "h", "left_anti")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )


def _q_pipeline_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full staged pipeline (exact tier → OPH signatures → salted LSH →
    exact-Jaccard verify → CC → composition) over pages derived from
    documents. Fully oracled: the oracle recomputes the 5-token-shingle
    Jaccard edge set in SQL and resolves components with a recursive CTE
    (same technique as minhash_dedup; the corpora carry natural near-dups
    so the fuzzy tier is exercised non-vacuously)."""
    import tempfile

    from finddup_spark.plans.pipeline import DedupPipeline
    from finddup_spark.sources.tables import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="entry_pipe_")
    run = DedupPipeline(spark, out, enable_substring=False, resume=False).run(pages)
    return run.table(spark, "clusters").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def _q_site_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5 dir rollup over url prefixes, fully oracled and non-vacuous:
    the query plants (a) a full mirror of host src1 under mirror.src1
    (exact copies, +10000 ids) → a dup dir pair, and (b) one
    extraction-error page under src3 → '-1' contamination / unknown
    status (finddup.py:617-620, 1093-1097). The multi-level rollup is
    additionally gated by the reference-CLI equality test in tests/."""
    from finddup_spark.operators.exact import exact_clusters
    from finddup_spark.operators.rollup import analyze_dirs, page_leaf_rows, rollup_dirs
    from finddup_spark.sources.tables import pages_from_documents

    off = _doc_offset(spark, sf_dir)
    pages = pages_from_documents(spark, sf_dir)
    src1 = pages.filter(F.col("url").startswith("https://src1/"))
    mirror = src1.select(
        (F.col("doc_id") + off).alias("doc_id"),
        F.regexp_replace("url", "^https://src1/", "https://mirror.src1/").alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    err = spark.range(1).select(
        F.lit(2 * off).cast(pages.schema["doc_id"].dataType).alias("doc_id"),
        F.lit("https://src3/err-planted.html").alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
    pages2 = pages.unionByName(mirror).unionByName(err)
    clusters = exact_clusters(pages2)
    dirs = rollup_dirs(spark, page_leaf_rows(pages2, clusters))
    return analyze_dirs(dirs).select(
        "path",
        F.col("depth").cast("long").alias("depth"),
        "dir_sig",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("n_children").cast("long").alias("n_children"),
        "status",
        "dir_cluster",
    )


def _q_site_rollup_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-LEVEL dir rollup (the reference's recursion,
    finddup.py:571-627, as the engine's depth-wise loop): pages nested
    two levels deep (srcN/sM/pX.html) plus a full mirror of src1 →
    the oracle recomputes BOTH levels' sorted-multiset signature chain
    (depth-2 dirs from leaf cluster ids, depth-1 dirs from depth-2
    signatures) and the dup statuses the mirror induces at both depths."""
    from finddup_spark.operators.exact import exact_clusters
    from finddup_spark.operators.rollup import analyze_dirs, page_leaf_rows, rollup_dirs

    off = _doc_offset(spark, sf_dir)
    base = _docs(spark, sf_dir).select(
        "doc_id", "source", "text",
        F.concat(F.lit("s"), F.pmod("doc_id", 3).cast("string")).alias("sub"),
    )
    mk = lambda host: F.concat(
        host, F.lit("/"), F.col("sub"), F.lit("/p"),
        F.col("doc_id").cast("string"), F.lit(".html"),
    )
    pages = base.select(
        "doc_id", mk(F.col("source")).alias("url"), "text"
    ).unionByName(
        base.filter(F.col("source") == "src1").select(
            (F.col("doc_id") + off).alias("doc_id"),
            mk(F.lit("mirror.src1")).alias("url"),
            "text",
        )
    )
    clusters = exact_clusters(pages)
    dirs = rollup_dirs(spark, page_leaf_rows(pages, clusters))
    return analyze_dirs(dirs).select(
        "path",
        F.col("depth").cast("long").alias("depth"),
        "dir_sig",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("n_children").cast("long").alias("n_children"),
        "status",
        "dir_cluster",
    )


def _q_unproc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/O3 categorized unprocessed report (finddup.py:1207-1270):
    ignored / redirect / fetch_error / changed / unreadable rows with
    per-category alphabetical seq. Categories planted deterministically
    from doc_id arithmetic (the documents table has no error rows)."""
    from finddup_spark.operators.report_ops import unproc_report

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.pmod("doc_id", 13) == 0,
            F.concat("source", F.lit("/r"), F.col("doc_id").cast("string"), F.lit("/robots.txt")),
        ).otherwise(
            F.concat("source", F.lit("/p"), F.col("doc_id").cast("string"), F.lit(".html"))
        ).alias("url"),
        F.when(F.pmod("doc_id", 19) == 0, F.lit("redirect"))
        .when(F.pmod("doc_id", 23) == 0, F.lit("fetch_error"))
        .otherwise(F.lit("page")).alias("kind"),
        F.when(F.pmod("doc_id", 11) == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text")).alias("text"),
    )
    changed = d.filter(F.pmod("doc_id", 17) == 0).select("doc_id")
    return unproc_report(d, changed_ids=changed).select(
        "category", "url", F.col("seq").cast("long").alias("seq")
    )


def _q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation composite — the query a real
    LLM-data pipeline runs: near-dup dedup keep-list (MinHash+LSH+CC) ∘
    quality gate (heuristic score >= 0.9) ∘ language agreement, reported
    per language with drop-reason accounting. Every stage is the real
    engine operator; the oracle recomputes the whole composition in SQL
    (shingle-Jaccard CC + the quality formula)."""
    from finddup_spark.functions.textstats import text_stats
    from finddup_spark.operators.dedup import minhash_dedup

    docs = _docs(spark, sf_dir)
    stats = text_stats(docs).select("doc_id", "n_tokens", "quality", "lang_guess")
    dedup = minhash_dedup(docs, oracle_guard=True).select("doc_id", "keep")
    j = (
        docs.select("doc_id", "lang")
        .join(stats, "doc_id")
        .join(dedup, "doc_id")
        .select(
            "lang",
            "n_tokens",
            F.col("keep").cast("boolean").alias("keep"),
            (F.col("quality") >= 0.9).alias("hq"),
            (F.col("lang_guess") == F.col("lang")).alias("lang_ok"),
        )
    )
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("long").alias("n_dup_dropped"),
        F.sum(F.when(F.col("keep") & ~F.col("hq"), 1).otherwise(0)).cast("long").alias("n_quality_dropped"),
        F.sum(F.when(F.col("keep") & F.col("hq") & ~F.col("lang_ok"), 1).otherwise(0)).cast("long").alias("n_lang_dropped"),
        F.sum(F.when(F.col("keep") & F.col("hq") & F.col("lang_ok"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(
            F.when(F.col("keep") & F.col("hq") & F.col("lang_ok"), F.col("n_tokens")).otherwise(0)
        ).cast("long").alias("tokens_kept"),
    )


def _q_kind_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2-F4 kind filter (symlink/FIFO/socket analogs, finddup.py:175-192)
    via operators.exact.split_kinds over a synthesized kind column."""
    from finddup_spark.operators.exact import split_kinds

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.pmod("doc_id", 19) == 0, F.lit("redirect"))
        .when(F.pmod("doc_id", 23) == 0, F.lit("fetch_error"))
        .otherwise(F.lit("page")).alias("kind"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    kept, skipped = split_kinds(d)
    both = kept.withColumn("is_kept", F.lit(1)).unionByName(
        skipped.withColumn("is_kept", F.lit(0))
    )
    return both.groupBy("kind").agg(
        F.max("is_kept").cast("long").alias("is_kept"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_bytes").cast("long").alias("n_bytes_total"),
    )


def _q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-tier fingerprint index (rows-only: winnowing selects the
    window-minimum of a polynomial rolling hash finalized with splitmix64
    — wrapping uint64 multiplies that DuckDB/ANSI SQL cannot express
    (integer ops raise on overflow), and the selected POSITIONS depend on
    those hash values, so no hash-free SQL reproduces the counts. Gated
    instead by tests/test_hashing.py::test_winnow_guarantee and
    tests/test_pipeline.py::test_substring_truth_clusters_united.)"""
    from finddup_spark.operators.substring import fingerprints
    from finddup_spark.sources.tables import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    return (
        fingerprints(pages)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fingerprints"))
    )


def _q_cross_modal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL dedup composite: text MinHash edges ∪ embedding cosine
    edges → one CC. Non-vacuous via two DISJOINT planted families over
    the docs⋈embeddings universe: ids %9==0 get a copy at +off with the
    SAME text but a NEGATED embedding (text edge only — cosine is exactly
    −1 to the original), ids %9==1 get a copy at +2·off with the SAME
    embedding but token-REVERSED text (embedding edge only — reversed
    zipf text shares ~no 5-token shingle with anything). The oracle
    recomputes the exhaustive union edge set (shingle Jaccard ≥ 0.8 over
    planted texts UNION all-pairs cosine ≥ 0.95 over planted vectors) and
    resolves the combined graph with one recursive-CTE CC — proving the
    engine unions EDGES, not per-tier cluster assignments."""
    from finddup_spark.operators.dedup import cross_modal_dedup

    off = _doc_offset(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    j = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "text", "embedding"
    )
    dim = _emb_dim(spark, sf_dir)
    a = j.filter(F.pmod("doc_id", 9) == 0).select(
        (F.col("doc_id") + off).alias("doc_id"),
        "text",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    b = j.filter(F.pmod("doc_id", 9) == 1).select(
        (F.col("doc_id") + 2 * off).alias("doc_id"),
        F.array_join(F.reverse(F.split("text", " ")), " ").alias("text"),
        "embedding",
    )
    pl = j.unionByName(a).unionByName(b)
    out = cross_modal_dedup(
        pl.select("doc_id", "text"),
        pl.select(F.col("doc_id").alias("vec_id"), "embedding"),
        dim=dim,
        oracle_guard=True,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("keep").cast("string").alias("keep"),
    )


def _q_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate n-gram detection: per-doc fraction of
    5-token shingles whose document frequency >= max(2, n_docs // 20).
    Fully oracled: the shingles are ``split(text, " ")`` 5-grams with
    empty tokens kept (the same sh CTE the minhash oracle uses), all JVM
    built-ins, and the df threshold is integer arithmetic on both
    engines. They equal signatures._batch_shingles' whitespace-run
    shingles only because the sf corpora are single-space separated."""
    from finddup_spark.operators.boilerplate import boilerplate_ratio

    docs = _docs(spark, sf_dir)
    n = docs.filter(F.col("text").isNotNull()).count()
    # hashed=False: the DuckDB twin recomputes shingle VALUES; the
    # production default hashes shingles pre-shuffle and is proven
    # output-identical by test_boilerplate_hashed_matches_string
    out = boilerplate_ratio(docs, k=5, min_df=max(2, n // 20), hashed=False)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        "n_boiler",
        "boiler_ratio",
    )


#: out-dirs of prior streaming_dedup invocations, removed lazily on the
#: NEXT call (the returned DataFrame is lazy — the driver collects it
#: after this function returns, so its backing parquet must outlive the
#: call; src/staging dirs are removed eagerly in the finally block).
_STREAM_TMPDIRS: list[str] = []


def _q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-managed-state streaming dedup (applyInPandasWithState,
    §2.9) across TWO micro-batches over the PLANTED corpus (the sf
    documents carry no natural byte-dups): upper-half doc_ids (doc_id >
    max/2) arrive as batch 1, lower half as batch 2, through the SAME
    checkpoint + state store. Every planted group is {i, i+off} with
    i <= mid < i+off, so it spans the split and keeps its batch-1 owner
    i+off even though batch 2 holds the strictly smaller doc_id i —
    cross-batch first-seen-wins, the whole point of the state store,
    exercised non-vacuously in the driver contract: a global-min oracle
    FAILS this query on all 72 planted groups at sf0.01. Staging is
    executor-side (``coalesce(1).write.parquet``, no driver
    ``toPandas`` round-trip). Oracle: owner = min upper-half doc_id per
    sha when the sha has an upper-half member, else min overall — plain
    SQL with the split point as a scalar subquery."""
    import glob
    import shutil
    import tempfile

    from finddup_spark.streaming.stateful import stateful_streaming_dedup

    while _STREAM_TMPDIRS:
        shutil.rmtree(_STREAM_TMPDIRS.pop(), ignore_errors=True)
    src = tempfile.mkdtemp(prefix="entry_stream_src_")
    out = tempfile.mkdtemp(prefix="entry_stream_out_")
    stage = tempfile.mkdtemp(prefix="entry_stream_stage_")
    try:
        docs = _planted_docs(spark, sf_dir)
        mid = int(docs.agg(F.max("doc_id")).collect()[0][0]) // 2
        seen = 0
        for i, pred in enumerate(
            (F.col("doc_id") > mid, F.col("doc_id") <= mid)
        ):
            batch_dir = os.path.join(stage, f"b{i}")
            docs.filter(pred).coalesce(1).write.mode(
                "overwrite"
            ).parquet(batch_dir)
            for p in glob.glob(os.path.join(batch_dir, "part-*.parquet")):
                os.rename(p, os.path.join(src, os.path.basename(p)))
            q = stateful_streaming_dedup(spark, src, out, schema=docs.schema)
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    f"streaming_dedup: availableNow pass {i} did not "
                    "finish in 300s"
                )
            n = spark.read.parquet(f"{out}/assignments").count()
            if n <= seen:
                raise RuntimeError(
                    f"streaming_dedup: pass {i} appended no assignments "
                    f"({n} <= {seen}) — expected one micro-batch per pass"
                )
            seen = n
        return spark.read.parquet(f"{out}/assignments").select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "keep",
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
        _STREAM_TMPDIRS.append(out)


def _q_winnow_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint index with a BY-CONSTRUCTION oracle (the
    simhash_planted technique): exact copies of the doc_id%7==0 subset are
    planted at +off; winnowing is a deterministic function of the text, so
    each planted pair MUST have identical fingerprint counts, and the
    SIGMOD'03 selection rule guarantees >=1 fingerprint iff the utf-8 text
    has at least one 64-byte gram (hashing.winnow: n<=window selects the
    global min) — both claims are SQL-expressible without computing any
    wrapping-u64 hash. This hash-checks the full engine path (rolling gram
    hashes → sliding-window min selection → per-doc aggregation); the
    unrestricted winnow_fingerprints stays rows-only."""
    from finddup_spark.operators.substring import fingerprints

    off = _doc_offset(spark, sf_dir)
    d = _docs(spark, sf_dir).filter(F.pmod("doc_id", 7) == 0).select("doc_id", "text")
    planted = d.unionByName(
        d.select((F.col("doc_id") + off).alias("doc_id"), "text")
    )
    counts = fingerprints(planted).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    base = (
        planted.select("doc_id")
        .join(counts, "doc_id", "left")
        .na.fill({"n": 0})
    )
    a = base.filter(F.col("doc_id") < off).select("doc_id", F.col("n").alias("n_src"))
    b = base.filter(F.col("doc_id") >= off).select(
        (F.col("doc_id") - off).alias("doc_id"), F.col("n").alias("n_dst")
    )
    return a.join(b, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id") + off).cast("long").alias("copy_id"),
        (F.col("n_src") == F.col("n_dst")).cast("string").alias("counts_equal"),
        (F.col("n_src") > 0).cast("string").alias("has_fp"),
    )


def _q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode, fully oracled: a deterministic PPM (Netpbm
    P6) corpus is synthesized per doc_id (width = 4+id%5, height = 3+id%4,
    pixel byte i = (id*7 + i*31) % 256), decoded by the engine's pure-numpy
    P6 parser (header tokens + raw RGB — no codec library needed), and the
    oracle recomputes width/height/mean from the closed form via
    generate_series — the binary round-trips through a real decoder while
    staying SQL-checkable. The codec-free blob plumbing (fake_decode_stats,
    frame_sample) stays gated by
    tests/test_training_ops.py::test_multimodal_fake_decode_and_frames."""
    from finddup_spark.operators.multimodal import decode_media, synthesize_ppm_media

    media = synthesize_ppm_media(_docs(spark, sf_dir).select("doc_id"))
    return decode_media(media).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "kind",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_pixels").cast("long").alias("n_pixels"),
        "mean_pixel",
    )


def _q_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED-codec decode, fully oracled: the same closed-form
    pixel corpus as media_stats but DEFLATE-compressed as 8-bit RGB PNG
    (stdlib-zlib encoder), decoded by the engine's stdlib-zlib + numpy
    PNG parser (chunk walk, CRC check, inflate, scanline unfiltering) —
    so a genuinely compressed format round-trips through a real decoder
    in this codec-library-free container, and the oracle recomputes
    width/height/mean from the closed form without touching the binary
    (compression is bit-exact-invisible to the stats)."""
    from finddup_spark.operators.multimodal import decode_media, synthesize_png_media

    media = synthesize_png_media(_docs(spark, sf_dir).select("doc_id"))
    return decode_media(media).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "kind",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_pixels").cast("long").alias("n_pixels"),
        "mean_pixel",
    )


def _q_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → RESIZE → re-encode → decode chain, fully oracled: the
    closed-form PNG corpus is nearest-neighbor-resampled to 8x6
    (integer mapping src_col = tx*sw//8, src_row = ty*sh//6), re-encoded
    as PPM, decoded again, and the oracle recomputes every resized
    pixel from the closed form — the image-normalization step of a
    multimodal training pipeline with both codecs exercised in one
    chain."""
    from finddup_spark.operators.multimodal import (
        decode_media,
        resize_media,
        synthesize_png_media,
    )

    media = synthesize_png_media(_docs(spark, sf_dir).select("doc_id"))
    resized = resize_media(media, out_w=8, out_h=6)
    return decode_media(resized).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "kind",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_pixels").cast("long").alias("n_pixels"),
        "mean_pixel",
    )


def _q_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, fully oracled — the THIRD modality: a
    deterministic mono PCM16 RIFF/WAVE corpus is synthesized per doc_id
    (rate = 8000*(1+id%3), n = 40+id%17, sample i = ((id*13 + i*37) %
    65536) - 32768), parsed by the engine's pure-struct RIFF chunk walk
    (fmt validation + data extraction — no codec library), and the
    oracle recomputes n_samples / rate / duration / mean|amplitude| from
    the closed form via generate_series without touching the binary."""
    from finddup_spark.operators.multimodal import decode_audio, synthesize_wav_media

    media = synthesize_wav_media(_docs(spark, sf_dir).select("doc_id"))
    return decode_audio(media).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "kind",
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("channels").cast("long").alias("channels"),
        "duration_ms",
        "mean_abs_amp",
    )


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup (functions/urlnorm.py) — the corpus-scale
    analog of the reference's searchpath normalization (realpath +
    set-dedup, finddup.py:693-736). The documents table carries no url
    column, so four messy raw spellings per canonical page are planted
    by doc_id arithmetic (scheme/host case + www., trailing slash,
    default :443 port + utm params, #fragment); the oracle rebuilds the
    same raw URLs and runs the byte-identical RE2 canonicalization
    chain, so every regex rule is value-checked end-to-end."""
    from finddup_spark.functions.urlnorm import canonical_url_dedup

    d = _docs(spark, sf_dir).select("doc_id")
    key = F.floor(F.col("doc_id") / 4).cast("long")
    host = F.concat(F.lit("site"), F.pmod(key, 50).cast("string"), F.lit(".example"))
    path = F.concat(F.lit("/p/"), key.cast("string"))
    v = F.pmod("doc_id", 4)
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), host, path))
        .when(v == 1, F.concat(F.lit("HTTPS://WWW."), host, path, F.lit("/")))
        .when(v == 2, F.concat(F.lit("https://"), host, F.lit(":443"), path,
                               F.lit("?utm_source=x&utm_medium=y")))
        .otherwise(F.concat(F.lit("https://"), host, path, F.lit("#frag")))
    )
    return canonical_url_dedup(d.select("doc_id", url.alias("url")))


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact (functions/pii.py): e-mail / IPv4 / E.164
    phone counts and the sha256 + length of the scrubbed text. PII is
    planted deterministically per doc_id (two thirds of docs get an
    e-mail, one third additionally an IP + phone) so the counts are
    non-vacuous on a corpus with no natural PII; the scrubbed-text
    sha256 proves the REPLACEMENT bytes, not just the counts, match the
    oracle's RE2 run exactly."""
    from finddup_spark.functions.pii import pii_counts, scrub_pii

    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    planted = F.concat(
        F.col("text"),
        F.when(
            F.pmod("doc_id", 3) < 2,
            F.concat(F.lit(" contact u"), F.col("doc_id").cast("string"),
                     F.lit("@ex"), F.pmod("doc_id", 7).cast("string"),
                     F.lit(".com")),
        ).otherwise(F.lit("")),
        F.when(
            F.pmod("doc_id", 3) == 0,
            F.concat(F.lit(" ip 10."), F.pmod("doc_id", 256).cast("string"),
                     F.lit(".0."), F.pmod(F.col("doc_id") * 3, 256).cast("string"),
                     F.lit(" tel +1415555"),
                     F.lpad(F.pmod("doc_id", 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )
    t = d.select("doc_id", planted.alias("text"))
    scrubbed = scrub_pii("text")
    return t.select(
        "doc_id",
        *pii_counts("text"),
        F.sha2(scrubbed, 256).alias("scrubbed_sha"),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_block_sizes": _q_exact_block_sizes,
        "exact_clusters": _q_exact_clusters,
        "exact_verify": _q_exact_verify,
        "prefix_block": _q_prefix_block,
        "exact_dedup_keep": _q_exact_dedup_keep,
        "source_rollup": _q_source_rollup,
        "dup_report": _q_dup_report,
        "token_stats": _q_token_stats,
        "lang_counts": _q_lang_counts,
        "token_jaccard": _q_token_jaccard,
        "ann_topk": _q_ann_topk,
        "events_dedup": _q_events_dedup,
        "nation_revenue": _q_nation_revenue,
        "ignored_split": _q_ignored_split,
        "unproc_report": _q_unproc_report,
        "kind_split": _q_kind_split,
        "training_corpus": _q_training_corpus,
        "group_size_freq": _q_group_size_freq,
        "uniques_report": _q_uniques_report,
        "human_sizes": _q_human_sizes,
        "incremental_merge": _q_incremental_merge,
        "embedding_dedup": _q_embedding_dedup,
        "embedding_lsh_dedup": _q_embedding_lsh_dedup,
        "minhash_dedup": _q_minhash_dedup,
        "simhash_dedup": _q_simhash_dedup,
        "simhash_planted": _q_simhash_planted,
        "lsh_topk": _q_lsh_topk,
        "ivf_topk": _q_ivf_topk,
        "media_stats": _q_media_stats,
        "png_stats": _q_png_stats,
        "resize_stats": _q_resize_stats,
        "wav_stats": _q_wav_stats,
        "anti_join_uniques": _q_anti_join_uniques,
        "pipeline_pages": _q_pipeline_pages,
        "site_rollup": _q_site_rollup,
        "site_rollup_deep": _q_site_rollup_deep,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "winnow_planted": _q_winnow_planted,
        "boilerplate_ratio": _q_boilerplate_ratio,
        "repetition_stats": _q_repetition_stats,
        "contamination_check": _q_contamination_check,
        "streaming_dedup": _q_streaming_dedup,
        "cross_modal_dedup": _q_cross_modal_dedup,
        "url_dedup": _q_url_dedup,
        "pii_scrub": _q_pii_scrub,
    }


_TOKEN_STATS_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         length(text) AS L,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) END AS n_tokens,
         length(regexp_replace(text, '[^\p{L}\p{N} \t\n\x0b\f\r]', '', 'g')) AS l_nopunct,
         length(regexp_replace(text, '[0-9]', '', 'g')) AS l_nodigit,
         length(regexp_replace(text, '[ \t\n\x0b\f\r]+', '', 'g')) AS l_nospace
  FROM documents
), ev AS (
  SELECT doc_id,
         greatest(length(string_split_regex(text, '\benw')) - 1, 0) AS ev_en,
         greatest(length(string_split_regex(text, '\bfrw')) - 1, 0) AS ev_fr,
         greatest(length(string_split_regex(text, '\besw')) - 1, 0) AS ev_es,
         greatest(length(string_split_regex(text, '\bdew')) - 1, 0) AS ev_de,
         greatest(length(string_split_regex(text, '\bzhw')) - 1, 0) AS ev_zh
  FROM documents
), stats AS (
  SELECT b.doc_id,
         CAST(b.n_tokens AS BIGINT) AS n_tokens,
         CAST(ceil(b.L / 4.0) AS BIGINT) AS n_subtokens,
         CAST(length(regexp_extract_all(b.text, '\p{L}+|\p{N}+|[^ \t\n\x0b\f\r\p{L}\p{N}]+'))
              AS BIGINT) AS n_bpe_tokens,
         round(CASE WHEN b.n_tokens > 0 THEN b.l_nospace * 1.0 / b.n_tokens ELSE 0.0 END, 6) AS mean_token_len,
         round(CASE WHEN b.L > 0 THEN (b.L - b.l_nopunct) * 1.0 / b.L ELSE 0.0 END, 6) AS punct_ratio,
         round(CASE WHEN b.L > 0 THEN (b.L - b.l_nodigit) * 1.0 / b.L ELSE 0.0 END, 6) AS digit_ratio,
         CASE WHEN b.n_tokens > 0 THEN b.l_nospace * 1.0 / b.n_tokens ELSE 0.0 END AS mt,
         CASE WHEN b.L > 0 THEN (b.L - b.l_nopunct) * 1.0 / b.L ELSE 0.0 END AS pr,
         CASE WHEN b.L > 0 THEN (b.L - b.l_nodigit) * 1.0 / b.L ELSE 0.0 END AS dr,
         sha256(trim(regexp_replace(lower(b.text), '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fingerprint
  FROM base b
)
SELECT s.doc_id,
       s.n_tokens, s.n_subtokens, s.n_bpe_tokens,
       s.mean_token_len, s.punct_ratio, s.digit_ratio,
       round(
         (CASE WHEN s.n_tokens BETWEEN 50 AND 5000 THEN 1.0
               WHEN s.n_tokens > 0 THEN 0.5 ELSE 0.0 END) * 0.4
         + (CASE WHEN s.mt BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) * 0.2
         + greatest(0.0, 1.0 - s.pr * 4) * 0.2
         + greatest(0.0, 1.0 - s.dr * 4) * 0.2, 6) AS quality,
       CASE
         WHEN e.ev_en >= greatest(e.ev_fr, e.ev_es, e.ev_de, e.ev_zh, 1) THEN 'en'
         WHEN e.ev_fr >= greatest(e.ev_es, e.ev_de, e.ev_zh, 1) AND e.ev_fr > e.ev_en THEN 'fr'
         WHEN e.ev_es >= greatest(e.ev_de, e.ev_zh, 1) AND e.ev_es > greatest(e.ev_en, e.ev_fr) THEN 'es'
         WHEN e.ev_de >= greatest(e.ev_zh, 1) AND e.ev_de > greatest(e.ev_en, e.ev_fr, e.ev_es) THEN 'de'
         WHEN e.ev_zh >= 1 AND e.ev_zh > greatest(e.ev_en, e.ev_fr, e.ev_es, e.ev_de) THEN 'zh'
         ELSE 'und'
       END AS lang_guess,
       s.fingerprint
FROM stats s JOIN ev e USING (doc_id)
"""


# Shared fragment: the engine's fuzzy edge set recomputed from raw text.
# The engine shingles 5-token windows (token = maximal non-whitespace run;
# the sf corpora are single-space separated — verified no \t\n\v\f\r or
# repeated spaces), hashes them to 64 bits, and accepts pairs whose EXACT
# distinct-shingle Jaccard >= 0.8 (config.verify_jaccard). String shingles
# are equality-equivalent to the hashed ones unless two distinct shingles
# collide: ~n²/2⁶⁴ on non-adversarial text such as the sf corpora, though
# constructed text can force collisions (see finddup_spark.hashing). The
# sf corpora have no pair within [0.7, 0.85] of the threshold, so the
# decision boundary is float-safe. Docs shorter than 5
# tokens take one whole-doc shingle (signatures._batch_shingles).
#
# SOUNDNESS of equating the engine's banded-LSH+star edge set with this
# exhaustive edge set is empirical, and the preconditions are ENFORCED at
# query time by minhash_dedup(oracle_guard=True): (a) no hot band bucket
# was star-truncated (pairs_truncated_upper_bound == 0), and (b) no
# verified pair falls within 0.05 of the threshold. Given (b), the band
# miss probability for any accepted pair is at most
# (1 - s^r)^b = (1 - 0.85^4)^32 ≈ 4e-9 (b=32 bands, r=4 rows) — and the
# guard turns a violated precondition into a loud failure instead of a
# silent hash mismatch.
def _jaccard_edges_over(table: str, extra_edges: str = "") -> str:
    """The exhaustive shingle-Jaccard edge fragment parameterized on its
    source relation, so planted/composite corpora (CTEs) reuse it;
    ``extra_edges`` unions additional edge SQL (e.g. embedding-cosine
    pairs for the cross-modal composite) into the same CC."""
    extra = f"UNION {extra_edges}" if extra_edges else ""
    return f"""
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM {table}
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(t) >= 5 THEN array_to_string(t[i:i+4], ' ')
                    ELSE array_to_string(t, ' ') END AS s
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 4, 1))) AS u(i)
    ),
    card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
    pair_inter AS (
        SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
        FROM pair_inter
        JOIN card ca ON ca.doc_id = src
        JOIN card cb ON cb.doc_id = dst
        WHERE i * 1.0 / (ca.c + cb.c - i) >= 0.8
        {extra}
    ),
    sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    reach(a, b) AS (
        SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT) FROM {table}
        UNION
        SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
    )
"""


_JACCARD_EDGES_SQL = _jaccard_edges_over("documents")


_LSH_ORACLE_DIM = 64  # _q_lsh_topk raises if the data disagrees


def _lsh_topk_sql() -> str:
    """Random-hyperplane LSH top-k oracle: the seeded hyperplane matrix is
    embedded as SQL literals, so DuckDB reproduces the engine's bucket
    assignment (sign of <v, h> per plane packed into an int key), the
    shared-bucket candidate join — INCLUDING the engine's default
    ``bucket_cap`` truncation of the neighbor side (first 1024 members per
    (table, bucket) by vec_id) — and the exact-cosine re-rank."""
    from finddup_spark.operators.simsearch import _hyperplanes

    n_planes, n_tables, seed, dim, k = 10, 6, 42, _LSH_ORACLE_DIM, 3
    bucket_cap = 1024  # lsh_topk's default — modeled, not assumed away
    planes = _hyperplanes(dim, n_planes, n_tables, seed)
    tbl_selects = []
    for t in range(n_tables):
        terms = []
        for p in range(n_planes):
            lit = ", ".join("%.17g" % x for x in planes[t][p])
            terms.append(
                f"(CASE WHEN list_dot_product(e, [{lit}]::DOUBLE[]) > 0 "
                f"THEN {1 << p} ELSE 0 END)"
            )
        tbl_selects.append(
            f"SELECT vec_id, {t} AS table_id, {' + '.join(terms)} AS bucket FROM v"
        )
    buckets = "\n UNION ALL ".join(tbl_selects)
    return f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        b AS ({buckets}),
        bcap AS (
            SELECT vec_id, table_id, bucket,
                   row_number() OVER (
                       PARTITION BY table_id, bucket ORDER BY vec_id
                   ) AS rn
            FROM b
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS query_id, b2.vec_id AS neighbor_id
            FROM b a JOIN bcap b2
              ON a.table_id = b2.table_id AND a.bucket = b2.bucket
             AND a.vec_id != b2.vec_id
            WHERE b2.rn <= {bucket_cap}
        ),
        scored AS (
            SELECT c.query_id, c.neighbor_id,
                   round(list_cosine_similarity(va.e, vb.e), 6) AS cos
            FROM cand c
            JOIN v va ON va.vec_id = c.query_id
            JOIN v vb ON vb.vec_id = c.neighbor_id
        )
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(neighbor_id AS BIGINT) AS neighbor_id,
               cos,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id
               ) AS BIGINT) AS rank
        FROM scored
        QUALIFY rank <= {k}
    """


def oracle_sql() -> dict[str, str]:
    return {
        "exact_block_sizes": """
            SELECT CAST(length(text) AS BIGINT) AS text_len,
                   count(*) AS cnt
            FROM documents
            GROUP BY 1
            HAVING count(*) > 1
        """,
        "exact_clusters": """
            WITH g AS (
                SELECT sha256(text) AS h,
                       CAST(min(doc_id) AS BIGINT) AS cluster_id,
                       count(*) AS cluster_size
                FROM documents
                GROUP BY 1
            )
            SELECT d.doc_id AS doc_id, g.cluster_id, g.cluster_size
            FROM documents d JOIN g ON sha256(d.text) = g.h
        """,
        "exact_verify": """
            SELECT sha256(text) AS content_sha,
                   count(*) AS cluster_size,
                   min(text) = max(text) AS verified
            FROM documents
            GROUP BY 1
        """,
        "prefix_block": """
            SELECT substring(text, 1, 64) AS prefix,
                   count(*) AS cnt,
                   min(doc_id) AS min_doc
            FROM documents
            GROUP BY 1
        """,
        "exact_dedup_keep": """
            WITH g AS (
                SELECT sha256(text) AS h, CAST(min(doc_id) AS BIGINT) AS cluster_id
                FROM documents GROUP BY 1
            )
            SELECT d.doc_id, g.cluster_id,
                   CAST(d.doc_id = g.cluster_id AS VARCHAR) AS keep
            FROM documents d JOIN g ON sha256(d.text) = g.h
        """,
        "source_rollup": """
            WITH h AS (
                SELECT source, sha256(text) AS h,
                       CAST(length(text) AS BIGINT) AS n
                FROM documents
            )
            SELECT source,
                   sha256(string_agg(h, ',' ORDER BY h)) AS source_sig,
                   CAST(sum(n) AS BIGINT) AS n_chars_total,
                   count(*) AS n_docs
            FROM h GROUP BY source
        """,
        "dup_report": f"""
            WITH planted AS ({_PLANTED_SQL})
            SELECT sha256(text) AS h,
                   count(*) AS n_members,
                   CAST(max(length(text)) AS BIGINT) AS n_chars,
                   string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS members
            FROM planted
            GROUP BY 1
            HAVING count(*) > 1
        """,
        "token_stats": _TOKEN_STATS_SQL,
        "lang_counts": r"""
            WITH ev AS (
              SELECT lang,
                     greatest(length(string_split_regex(text, '\benw')) - 1, 0) AS ev_en,
                     greatest(length(string_split_regex(text, '\bfrw')) - 1, 0) AS ev_fr,
                     greatest(length(string_split_regex(text, '\besw')) - 1, 0) AS ev_es,
                     greatest(length(string_split_regex(text, '\bdew')) - 1, 0) AS ev_de,
                     greatest(length(string_split_regex(text, '\bzhw')) - 1, 0) AS ev_zh
              FROM documents
            )
            SELECT CASE
                     WHEN ev_en >= greatest(ev_fr, ev_es, ev_de, ev_zh, 1) THEN 'en'
                     WHEN ev_fr >= greatest(ev_es, ev_de, ev_zh, 1) AND ev_fr > ev_en THEN 'fr'
                     WHEN ev_es >= greatest(ev_de, ev_zh, 1) AND ev_es > greatest(ev_en, ev_fr) THEN 'es'
                     WHEN ev_de >= greatest(ev_zh, 1) AND ev_de > greatest(ev_en, ev_fr, ev_es) THEN 'de'
                     WHEN ev_zh >= 1 AND ev_zh > greatest(ev_en, ev_fr, ev_es, ev_de) THEN 'zh'
                     ELSE 'und'
                   END AS lang_guess,
                   lang,
                   count(*) AS cnt
            FROM ev
            GROUP BY 1, 2
        """,
        "token_jaccard": r"""
            WITH toks AS (
              SELECT doc_id, lang,
                     list_distinct(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS t
              FROM documents
            )
            SELECT a.doc_id AS src, b.doc_id AS dst,
                   round(CASE
                     WHEN len(list_distinct(list_concat(a.t, b.t))) > 0
                     THEN len(list_intersect(a.t, b.t)) * 1.0
                          / len(list_distinct(list_concat(a.t, b.t)))
                     ELSE 1.0 END, 6) AS jaccard
            FROM toks a JOIN toks b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
             AND b.doc_id - a.doc_id <= 3
        """,
        "ann_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS vq FROM embeddings WHERE vec_id < 16
            ), scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     -- double-precision on both sides: the engine computes
                     -- the dot product in double; float32 here drifts past
                     -- the 1e-6 rounding and flips hashes
                     round(list_cosine_similarity(
                       CAST(q.vq AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS cos
              FROM q JOIN embeddings e ON e.vec_id != q.query_id
            )
            SELECT CAST(query_id AS BIGINT) AS query_id,
                   CAST(neighbor_id AS BIGINT) AS neighbor_id,
                   cos,
                   CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
            FROM scored
            QUALIFY rank <= 3
        """,
        "events_dedup": """
            SELECT user_id, event_type,
                   count(*) AS cnt,
                   min(event_id) AS keeper,
                   round(sum(value), 6) AS value_sum
            FROM events
            GROUP BY 1, 2
        """,
        "nation_revenue": """
            SELECT n.n_name AS nation,
                   round(sum(o.o_totalprice), 4) AS revenue,
                   count(*) AS n_orders
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1
        """,
        "anti_join_uniques": """
            WITH dups AS (
                SELECT sha256(text) AS h FROM documents
                GROUP BY 1 HAVING count(*) > 1
            )
            SELECT lang, count(*) AS n_unique
            FROM documents
            WHERE sha256(text) NOT IN (SELECT h FROM dups)
            GROUP BY 1
        """,
        "ignored_split": """
            SELECT source,
                   CAST(sum(CASE WHEN doc_id % 7 IN (0, 1) THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
                   CAST(sum(CASE WHEN doc_id % 7 IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_ignored
            FROM documents
            GROUP BY source
        """,
        "group_size_freq": """
            WITH g AS (
                SELECT sha256(text) AS h, count(*) AS group_size
                FROM documents GROUP BY 1
            )
            SELECT group_size, count(*) AS n_groups
            FROM g GROUP BY 1
        """,
        "uniques_report": """
            WITH g AS (
                SELECT sha256(text) AS h FROM documents
                GROUP BY 1 HAVING count(*) = 1
            )
            SELECT d.doc_id, CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes
            FROM documents d JOIN g ON sha256(d.text) = g.h
        """,
        "human_sizes": f"""
            WITH planted AS ({_PLANTED_SQL}),
            g AS (
                SELECT sha256(text) AS h,
                       count(*) AS n_members,
                       max(octet_length(encode(text))) AS nb
                FROM planted GROUP BY 1 HAVING count(*) > 1
            )
            SELECT h, n_members,
                   rtrim(CASE
                     WHEN nb < 1024 THEN CAST(round(nb / 1.0, 1) AS VARCHAR) || ' '
                     WHEN nb < 1048576 THEN CAST(round(nb / 1024.0, 1) AS VARCHAR) || ' k'
                     WHEN nb < 1073741824 THEN CAST(round(nb / 1048576.0, 1) AS VARCHAR) || ' M'
                     WHEN nb < 1099511627776 THEN CAST(round(nb / 1073741824.0, 1) AS VARCHAR) || ' G'
                     WHEN nb < 1125899906842624 THEN CAST(round(nb / 1099511627776.0, 1) AS VARCHAR) || ' T'
                     ELSE CAST(round(nb / 1125899906842624.0, 1) AS VARCHAR) || ' P'
                   END) AS human_size
            FROM g
        """,
        "embedding_dedup": """
            WITH RECURSIVE pv AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 50, embedding FROM embeddings
                WHERE vec_id >= (SELECT max(vec_id) FROM embeddings) - 49
            ),
            e AS (
                SELECT CAST(a.vec_id AS BIGINT) AS src,
                       CAST(b.vec_id AS BIGINT) AS dst
                FROM pv a JOIN pv b
                  ON a.vec_id < b.vec_id AND b.vec_id - a.vec_id <= 50
                WHERE list_cosine_similarity(
                        CAST(a.embedding AS DOUBLE[]),
                        CAST(b.embedding AS DOUBLE[])) >= 0.95
            ),
            sym AS (
                SELECT src, dst FROM e
                UNION SELECT dst, src FROM e
            ),
            reach(a, b) AS (
                SELECT CAST(vec_id AS BIGINT), CAST(vec_id AS BIGINT)
                FROM pv
                UNION
                SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
            )
            SELECT a AS vec_id, min(b) AS cluster_id,
                   CAST(a = min(b) AS VARCHAR) AS keep
            FROM reach GROUP BY a
        """,
        "embedding_lsh_dedup": """
            WITH RECURSIVE pv AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT 2 * (SELECT max(vec_id) FROM embeddings) + 2 - vec_id,
                       embedding
                FROM embeddings
                WHERE vec_id % 10 = 0
                  AND vec_id <= (SELECT max(vec_id) FROM embeddings) - 100
            ),
            e AS (
                SELECT CAST(a.vec_id AS BIGINT) AS src,
                       CAST(b.vec_id AS BIGINT) AS dst
                FROM pv a JOIN pv b ON a.vec_id < b.vec_id
                WHERE list_cosine_similarity(
                        CAST(a.embedding AS DOUBLE[]),
                        CAST(b.embedding AS DOUBLE[])) >= 0.95
            ),
            sym AS (
                SELECT src, dst FROM e
                UNION SELECT dst, src FROM e
            ),
            reach(a, b) AS (
                SELECT CAST(vec_id AS BIGINT), CAST(vec_id AS BIGINT)
                FROM pv
                UNION
                SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
            )
            SELECT a AS vec_id, min(b) AS cluster_id,
                   CAST(a = min(b) AS VARCHAR) AS keep
            FROM reach GROUP BY a
        """,
        "minhash_dedup": f"""
            WITH RECURSIVE {_JACCARD_EDGES_SQL}
            SELECT a AS doc_id, min(b) AS cluster_id,
                   CAST(a = min(b) AS VARCHAR) AS keep
            FROM reach GROUP BY a
        """,
        "pipeline_pages": f"""
            WITH RECURSIVE {_JACCARD_EDGES_SQL}
            SELECT a AS doc_id, min(b) AS cluster_id
            FROM reach GROUP BY a
        """,
        "lsh_topk": _lsh_topk_sql(),
        "simhash_planted": f"""
            WITH p AS (
                SELECT doc_id FROM documents WHERE doc_id % 7 = 0
                UNION ALL
                SELECT doc_id + {_OFF_SQL} FROM documents WHERE doc_id % 7 = 0
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(CASE WHEN doc_id >= {_OFF_SQL} THEN doc_id - {_OFF_SQL}
                             ELSE doc_id END AS BIGINT) AS cluster_id,
                   CAST(doc_id < {_OFF_SQL} AS VARCHAR) AS keep
            FROM p
        """,
        "ivf_topk": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            ),
            cents AS (
                SELECT vec_id AS cell, e AS ce FROM v ORDER BY vec_id LIMIT 16
            ),
            sc AS (
                SELECT v.vec_id, c.cell,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC,
                                    c.cell
                       ) AS r
                FROM v CROSS JOIN cents c
            ),
            assigned AS (SELECT vec_id, cell FROM sc WHERE r = 1),
            probes AS (SELECT vec_id AS query_id, cell FROM sc WHERE r <= 4),
            -- the engine's cell_cap (default 4096) on the neighbor side,
            -- modeled rather than assumed away
            acap AS (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
                FROM assigned
            ),
            cand AS (
                SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
                FROM probes p JOIN acap a USING (cell)
                WHERE p.query_id != a.vec_id AND a.rn <= 4096
            ),
            scored AS (
                SELECT c.query_id, c.neighbor_id,
                       round(list_cosine_similarity(va.e, vb.e), 6) AS cos
                FROM cand c
                JOIN v va ON va.vec_id = c.query_id
                JOIN v vb ON vb.vec_id = c.neighbor_id
            )
            SELECT CAST(query_id AS BIGINT) AS query_id,
                   CAST(neighbor_id AS BIGINT) AS neighbor_id,
                   cos,
                   CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                   ) AS BIGINT) AS rank
            FROM scored
            QUALIFY rank <= 3
        """,
        "site_rollup": f"""
            WITH pages AS (
                SELECT doc_id, source, text FROM documents
                UNION ALL
                SELECT doc_id + {_OFF_SQL}, 'mirror.src1', text
                FROM documents WHERE source = 'src1'
                UNION ALL
                SELECT 2 * {_OFF_SQL}, 'src3', NULL
            ),
            cl AS (
                SELECT doc_id, source,
                       CASE WHEN text IS NULL THEN 0
                            ELSE octet_length(encode(text)) END AS n_bytes,
                       CASE WHEN text IS NULL THEN '-1'
                            ELSE CAST(min(doc_id) OVER (PARTITION BY text)
                                      AS VARCHAR) END AS child_sig
                FROM pages
            ),
            dirs AS (
                SELECT source AS path, 1 AS depth,
                       CASE WHEN max(CASE WHEN child_sig = '-1' THEN 1 ELSE 0 END) = 1
                            THEN '-1'
                            ELSE sha256(string_agg(child_sig, ',' ORDER BY child_sig))
                       END AS dir_sig,
                       CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
                       count(*) AS n_children
                FROM cl GROUP BY source
            ),
            g AS (
                SELECT dir_sig, count(*) AS n_dirs, min(path) AS dir_cluster
                FROM dirs WHERE dir_sig != '-1' GROUP BY 1
            )
            SELECT d.path, CAST(d.depth AS BIGINT) AS depth, d.dir_sig,
                   d.n_bytes, d.n_children,
                   CASE WHEN d.dir_sig = '-1' THEN 'unknown'
                        WHEN g.n_dirs > 1 THEN 'dup' ELSE 'unique' END AS status,
                   CASE WHEN d.dir_sig = '-1' THEN d.path
                        ELSE g.dir_cluster END AS dir_cluster
            FROM dirs d LEFT JOIN g USING (dir_sig)
        """,
        "site_rollup_deep": f"""
            WITH p0 AS (
                SELECT doc_id, source AS host,
                       's' || CAST(doc_id % 3 AS VARCHAR) AS sub, text
                FROM documents
                UNION ALL
                SELECT doc_id + {_OFF_SQL}, 'mirror.src1',
                       's' || CAST(doc_id % 3 AS VARCHAR), text
                FROM documents WHERE source = 'src1'
            ),
            p AS (
                SELECT doc_id, host, sub,
                       octet_length(encode(text)) AS n_bytes,
                       CAST(min(doc_id) OVER (PARTITION BY text) AS VARCHAR) AS child_sig
                FROM p0
            ),
            d2 AS (
                SELECT host || '/' || sub AS path, 2 AS depth,
                       sha256(string_agg(child_sig, ',' ORDER BY child_sig)) AS dir_sig,
                       CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
                       count(*) AS n_children
                FROM p GROUP BY host, sub
            ),
            d1 AS (
                SELECT string_split(path, '/')[1] AS path, 1 AS depth,
                       sha256(string_agg(dir_sig, ',' ORDER BY dir_sig)) AS dir_sig,
                       CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
                       count(*) AS n_children
                FROM d2 GROUP BY 1
            ),
            dirs AS (SELECT * FROM d2 UNION ALL SELECT * FROM d1),
            g AS (
                SELECT dir_sig, count(*) AS n_dirs, min(path) AS dir_cluster
                FROM dirs GROUP BY 1
            )
            SELECT d.path, CAST(d.depth AS BIGINT) AS depth, d.dir_sig,
                   d.n_bytes, d.n_children,
                   CASE WHEN g.n_dirs > 1 THEN 'dup' ELSE 'unique' END AS status,
                   g.dir_cluster
            FROM dirs d JOIN g USING (dir_sig)
        """,
        "unproc_report": """
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 13 = 0
                            THEN source || '/r' || CAST(doc_id AS VARCHAR) || '/robots.txt'
                            ELSE source || '/p' || CAST(doc_id AS VARCHAR) || '.html'
                       END AS url,
                       CASE WHEN doc_id % 13 = 0 THEN 'ignored'
                            WHEN doc_id % 19 = 0 THEN 'redirect'
                            WHEN doc_id % 23 = 0 THEN 'fetch_error'
                            WHEN doc_id % 17 = 0 THEN 'changed'
                            WHEN doc_id % 11 = 0 THEN 'unreadable'
                       END AS category
                FROM documents
            )
            SELECT category, url,
                   CAST(row_number() OVER (
                       PARTITION BY category ORDER BY url
                   ) AS BIGINT) AS seq
            FROM d WHERE category IS NOT NULL
        """,
        "training_corpus": f"""
            WITH RECURSIVE {_JACCARD_EDGES_SQL},
            keepers AS (
                SELECT a AS doc_id, (a = min(b)) AS keep
                FROM reach GROUP BY a
            ),
            ts AS ({_TOKEN_STATS_SQL})
            SELECT d.lang,
                   count(*) AS n_total,
                   CAST(sum(CASE WHEN NOT k.keep THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_dup_dropped,
                   CAST(sum(CASE WHEN k.keep AND ts.quality < 0.9 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_quality_dropped,
                   CAST(sum(CASE WHEN k.keep AND ts.quality >= 0.9
                                  AND ts.lang_guess != d.lang THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_lang_dropped,
                   CAST(sum(CASE WHEN k.keep AND ts.quality >= 0.9
                                  AND ts.lang_guess = d.lang THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_kept,
                   CAST(sum(CASE WHEN k.keep AND ts.quality >= 0.9
                                  AND ts.lang_guess = d.lang
                            THEN ts.n_tokens ELSE 0 END) AS BIGINT)
                       AS tokens_kept
            FROM documents d
            JOIN ts ON ts.doc_id = d.doc_id
            JOIN keepers k ON k.doc_id = d.doc_id
            GROUP BY d.lang
        """,
        "kind_split": """
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 19 = 0 THEN 'redirect'
                            WHEN doc_id % 23 = 0 THEN 'fetch_error'
                            ELSE 'page' END AS kind,
                       octet_length(encode(text)) AS n_bytes
                FROM documents
            )
            SELECT kind,
                   CAST(CASE WHEN kind = 'page' THEN 1 ELSE 0 END AS BIGINT) AS is_kept,
                   count(*) AS n_rows,
                   CAST(sum(n_bytes) AS BIGINT) AS n_bytes_total
            FROM d GROUP BY kind
        """,
        "media_stats": """
            WITH dims AS (
                SELECT doc_id,
                       4 + doc_id % 5 AS w,
                       3 + doc_id % 4 AS h
                FROM documents
            ),
            px AS (
                SELECT d.doc_id,
                       sum((d.doc_id * 7 + u.i * 31) % 256) AS s,
                       count(*) AS nb
                FROM dims d,
                     UNNEST(generate_series(0, d.w * d.h * 3 - 1)) AS u(i)
                GROUP BY d.doc_id
            )
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                   'ppm' AS kind,
                   CAST(d.w AS BIGINT) AS width,
                   CAST(d.h AS BIGINT) AS height,
                   CAST(d.w * d.h AS BIGINT) AS n_pixels,
                   round(p.s * 1.0 / p.nb, 6) AS mean_pixel
            FROM dims d JOIN px p USING (doc_id)
        """,
        "png_stats": """
            -- same closed-form pixels as media_stats; the deflate
            -- round-trip is bit-exact, so the oracle is identical up to
            -- the kind label
            WITH dims AS (
                SELECT doc_id,
                       4 + doc_id % 5 AS w,
                       3 + doc_id % 4 AS h
                FROM documents
            ),
            px AS (
                SELECT d.doc_id,
                       sum((d.doc_id * 7 + u.i * 31) % 256) AS s,
                       count(*) AS nb
                FROM dims d,
                     UNNEST(generate_series(0, d.w * d.h * 3 - 1)) AS u(i)
                GROUP BY d.doc_id
            )
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                   'png' AS kind,
                   CAST(d.w AS BIGINT) AS width,
                   CAST(d.h AS BIGINT) AS height,
                   CAST(d.w * d.h AS BIGINT) AS n_pixels,
                   round(p.s * 1.0 / p.nb, 6) AS mean_pixel
            FROM dims d JOIN px p USING (doc_id)
        """,
        "resize_stats": """
            -- resized pixel (tx, ty, c) samples source byte
            -- i = ((ty*sh//6)*sw + (tx*sw//8))*3 + c of the closed-form
            -- image (value = (doc_id*7 + i*31) % 256); integer mapping
            -- mirrors resize_media exactly
            WITH dims AS (
                SELECT doc_id,
                       4 + doc_id % 5 AS sw,
                       3 + doc_id % 4 AS sh
                FROM documents
            ),
            px AS (
                SELECT d.doc_id,
                       sum((d.doc_id * 7 +
                            ((((ty.i * d.sh) // 6) * d.sw
                              + ((tx.i * d.sw) // 8)) * 3 + c.i) * 31
                           ) % 256) AS s
                FROM dims d,
                     UNNEST(generate_series(0, 5)) AS ty(i),
                     UNNEST(generate_series(0, 7)) AS tx(i),
                     UNNEST(generate_series(0, 2)) AS c(i)
                GROUP BY d.doc_id
            )
            SELECT CAST(p.doc_id AS BIGINT) AS doc_id,
                   'ppm' AS kind,
                   CAST(8 AS BIGINT) AS width,
                   CAST(6 AS BIGINT) AS height,
                   CAST(48 AS BIGINT) AS n_pixels,
                   round(p.s * 1.0 / 144, 6) AS mean_pixel
            FROM px p
        """,
        "wav_stats": """
            -- closed-form PCM16 corpus: rate = 8000*(1+id%3),
            -- n = 40+id%17, sample i = ((id*13 + i*37) % 65536) - 32768;
            -- the RIFF container round-trip is bit-exact so the oracle
            -- recomputes the stats without touching the binary
            WITH dims AS (
                SELECT doc_id,
                       8000 * (1 + doc_id % 3) AS rate,
                       40 + doc_id % 17 AS n
                FROM documents
            ),
            amp AS (
                SELECT d.doc_id,
                       avg(abs((d.doc_id * 13 + u.i * 37) % 65536 - 32768)) AS a
                FROM dims d,
                     UNNEST(generate_series(0, d.n - 1)) AS u(i)
                GROUP BY d.doc_id
            )
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                   'wav' AS kind,
                   CAST(d.n AS BIGINT) AS n_samples,
                   CAST(d.rate AS BIGINT) AS sample_rate,
                   CAST(1 AS BIGINT) AS channels,
                   round(d.n * 1000.0 / d.rate, 6) AS duration_ms,
                   round(a.a, 6) AS mean_abs_amp
            FROM dims d JOIN amp a USING (doc_id)
        """,
        "cross_modal_dedup": f"""
            WITH RECURSIVE pl AS (
                SELECT d.doc_id, d.text,
                       CAST(e.embedding AS DOUBLE[]) AS embedding
                FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
                UNION ALL
                SELECT d.doc_id + {_OFF_SQL}, d.text,
                       list_transform(CAST(e.embedding AS DOUBLE[]), x -> -x)
                FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
                WHERE d.doc_id % 9 = 0
                UNION ALL
                SELECT d.doc_id + 2 * {_OFF_SQL},
                       array_to_string(list_reverse(string_split(d.text, ' ')), ' '),
                       CAST(e.embedding AS DOUBLE[])
                FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
                WHERE d.doc_id % 9 = 1
            ),
            {_jaccard_edges_over("pl", extra_edges='''
                SELECT CAST(a.doc_id AS BIGINT), CAST(b.doc_id AS BIGINT)
                FROM pl a JOIN pl b ON a.doc_id < b.doc_id
                WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95
            ''').lstrip().lstrip(chr(10))}
            SELECT a AS doc_id, min(b) AS cluster_id,
                   CAST(a = min(b) AS VARCHAR) AS keep
            FROM reach GROUP BY a
        """,
        "boilerplate_ratio": """
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS t FROM documents
                WHERE text IS NOT NULL
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       CASE WHEN len(t) >= 5 THEN array_to_string(t[i:i+4], ' ')
                            ELSE array_to_string(t, ' ') END AS s
                FROM toks, UNNEST(generate_series(1, greatest(len(t) - 4, 1))) AS u(i)
            ),
            mdf AS (
                -- NON-NULL docs only, matching the engine's n_docs count
                SELECT greatest(2, count(*) // 20) AS v FROM documents
                WHERE text IS NOT NULL
            ),
            bp AS (
                SELECT s FROM sh GROUP BY s
                HAVING count(*) >= (SELECT v FROM mdf)
            )
            SELECT CAST(sh.doc_id AS BIGINT) AS doc_id,
                   count(*) AS n_shingles,
                   CAST(sum(CASE WHEN bp.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
                   round(sum(CASE WHEN bp.s IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                         / count(*), 6) AS boiler_ratio
            FROM sh LEFT JOIN bp ON sh.s = bp.s
            GROUP BY sh.doc_id
        """,
        "streaming_dedup": f"""
            -- two micro-batches through one state store over the
            -- PLANTED corpus: upper-half doc_ids first, lower half
            -- second — first-seen-wins means a sha with any upper-half
            -- member is owned by its min UPPER-half doc_id (larger
            -- than every lower-half member, so a global-min oracle
            -- would fail); a batch-2-only sha by its min overall
            WITH p AS ({_PLANTED_SQL}),
            m AS (SELECT max(doc_id) // 2 AS mid FROM p),
            h AS (
                SELECT doc_id, sha256(text) AS hsh FROM p
                WHERE text IS NOT NULL
            ),
            o AS (
                SELECT hsh,
                       CAST(coalesce(
                           min(CASE WHEN doc_id > (SELECT mid FROM m)
                                    THEN doc_id END),
                           min(doc_id)
                       ) AS BIGINT) AS cluster_id
                FROM h GROUP BY hsh
            )
            SELECT h.doc_id, o.cluster_id,
                   CAST(h.doc_id = o.cluster_id AS VARCHAR) AS keep
            FROM h JOIN o USING (hsh)
        """,
        "winnow_planted": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(doc_id + {_OFF_SQL} AS BIGINT) AS copy_id,
                   'true' AS counts_equal,
                   CAST(octet_length(encode(text)) >= 64 AS VARCHAR) AS has_fp
            FROM documents WHERE doc_id % 7 = 0
        """,
        "incremental_merge": """
            WITH h AS (
                SELECT doc_id, sha256(text) AS hsh FROM documents
                WHERE text IS NOT NULL
            ),
            s1 AS (
                SELECT hsh, min(doc_id) AS cluster_id FROM h
                WHERE doc_id % 2 = 0 GROUP BY 1
            ),
            b2 AS (SELECT doc_id, hsh FROM h WHERE doc_id % 2 = 1),
            fresh AS (
                SELECT hsh, min(doc_id) AS cluster_id FROM b2
                WHERE hsh NOT IN (SELECT hsh FROM s1) GROUP BY 1
            ),
            state AS (SELECT * FROM s1 UNION ALL SELECT * FROM fresh)
            SELECT b2.doc_id, state.cluster_id,
                   CAST(b2.doc_id = state.cluster_id AS VARCHAR) AS keep
            FROM b2 JOIN state USING (hsh)
        """,
        "repetition_stats": r"""
            WITH base AS (
              SELECT doc_id, text,
                     CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                          ELSE string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')
                     END AS toks,
                     string_split(text, chr(10)) AS lines
              FROM documents WHERE text IS NOT NULL
            ), arrs AS (
              SELECT doc_id, text, toks, lines,
                CASE WHEN len(toks) >= 5 THEN
                  list_transform(generate_series(1, len(toks)-4),
                    i -> array_to_string(toks[i:i+4], ' '))
                ELSE []::VARCHAR[] END AS g5,
                CASE WHEN len(toks) >= 2 THEN
                  list_transform(generate_series(1, len(toks)-1),
                    i -> array_to_string(toks[i:i+1], ' '))
                ELSE []::VARCHAR[] END AS g2,
                CASE WHEN len(toks) >= 3 THEN
                  list_transform(generate_series(1, len(toks)-2),
                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE []::VARCHAR[] END AS g3
              FROM base
            ), line_stats AS (
              -- chars in repeat occurrences of a line / chars in all lines
              SELECT a.doc_id,
                     sum((cnt - 1) * length(line)) * 1.0
                       / nullif(sum(cnt * length(line)), 0) AS dup_line_char_raw
              FROM (
                SELECT doc_id, line, count(*) AS cnt
                FROM (SELECT doc_id, unnest(lines) AS line FROM arrs)
                GROUP BY doc_id, line
              ) a GROUP BY a.doc_id
            ), top2 AS (
              -- heaviest gram by count*chars (no tie-break needed on a max)
              SELECT doc_id, max(cnt * length(g)) AS w2 FROM (
                SELECT doc_id, g, count(*) AS cnt
                FROM (SELECT doc_id, unnest(g2) AS g FROM arrs)
                GROUP BY doc_id, g
              ) GROUP BY doc_id
            ), top3 AS (
              SELECT doc_id, max(cnt * length(g)) AS w3 FROM (
                SELECT doc_id, g, count(*) AS cnt
                FROM (SELECT doc_id, unnest(g3) AS g FROM arrs)
                GROUP BY doc_id, g
              ) GROUP BY doc_id
            )
            SELECT a.doc_id,
              CAST(len(a.toks) AS BIGINT) AS n_tokens,
              CAST(len(a.lines) AS BIGINT) AS n_lines,
              round(CASE WHEN len(a.toks) > 0
                    THEN 1.0 - len(list_distinct(a.toks)) * 1.0 / len(a.toks)
                    ELSE 0.0 END, 6) AS dup_word_frac,
              round(CASE WHEN len(a.lines) > 0
                    THEN 1.0 - len(list_distinct(a.lines)) * 1.0 / len(a.lines)
                    ELSE 0.0 END, 6) AS dup_line_frac,
              round(coalesce(ls.dup_line_char_raw, 0.0), 6) AS dup_line_char_frac,
              round(CASE WHEN len(a.g5) > 0
                    THEN 1.0 - len(list_distinct(a.g5)) * 1.0 / len(a.g5)
                    ELSE 0.0 END, 6) AS dup_5gram_frac,
              round(CASE WHEN length(a.text) > 0
                    THEN coalesce(t2.w2, 0) * 1.0 / length(a.text)
                    ELSE 0.0 END, 6) AS top_2gram_char_frac,
              round(CASE WHEN length(a.text) > 0
                    THEN coalesce(t3.w3, 0) * 1.0 / length(a.text)
                    ELSE 0.0 END, 6) AS top_3gram_char_frac
            FROM arrs a
            LEFT JOIN line_stats ls USING (doc_id)
            LEFT JOIN top2 t2 USING (doc_id)
            LEFT JOIN top3 t3 USING (doc_id)
        """,
        "contamination_check": r"""
            -- benchmark = token slice [4..11] of every doc_id % 97 == 0
            -- doc; grams mirror boilerplate's doc_shingles semantics
            -- (single-space tokens, whole-text gram under 8 tokens)
            WITH bench_src AS (
              SELECT string_split(text, ' ') AS toks
              FROM documents WHERE text IS NOT NULL AND doc_id % 97 = 0
            ), bench AS (
              SELECT array_to_string(toks[4:11], ' ') AS btext FROM bench_src
            ), bench_grams AS (
              SELECT DISTINCT unnest(
                CASE WHEN len(string_split(btext, ' ')) >= 8 THEN
                  list_transform(
                    generate_series(1, len(string_split(btext, ' ')) - 7),
                    i -> array_to_string((string_split(btext, ' '))[i:i+7], ' '))
                ELSE [btext] END) AS gram
              FROM bench
            ), doc_grams AS (
              SELECT DISTINCT doc_id, unnest(
                CASE WHEN len(toks) >= 8 THEN
                  list_transform(generate_series(1, len(toks) - 7),
                    i -> array_to_string(toks[i:i+7], ' '))
                ELSE [array_to_string(toks, ' ')] END) AS gram
              FROM (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents WHERE text IS NOT NULL)
            )
            SELECT d.doc_id,
              count(*) AS n_grams,
              CAST(sum(CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END) AS BIGINT)
                AS n_contaminated,
              round(sum(CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END) * 1.0
                    / count(*), 6) AS contamination_ratio,
              sum(CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END) > 0
                AS is_contaminated
            FROM doc_grams d LEFT JOIN bench_grams b USING (gram)
            GROUP BY d.doc_id
        """,
        # same planted raw URLs, same 8-rule canonicalization chain as
        # finddup_spark/functions/urlnorm.py (RE2 subset — see the module
        # docstring; replacement backrefs are \1 here vs $1 in Java)
        "url_dedup": r"""
            WITH raw AS (
              SELECT doc_id,
                CASE doc_id % 4
                  WHEN 0 THEN 'https://' || h || p
                  WHEN 1 THEN 'HTTPS://WWW.' || h || p || '/'
                  WHEN 2 THEN 'https://' || h || ':443' || p
                              || '?utm_source=x&utm_medium=y'
                  ELSE 'https://' || h || p || '#frag'
                END AS url
              FROM (
                SELECT doc_id,
                       'site' || CAST((doc_id // 4) % 50 AS VARCHAR)
                              || '.example' AS h,
                       '/p/' || CAST(doc_id // 4 AS VARCHAR) AS p
                FROM documents)
            ),
            s1 AS (SELECT doc_id, url,
                     regexp_replace(trim(url), '#.*', '', 'g') AS u FROM raw),
            s2 AS (SELECT doc_id, url,
                     lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)', 1))
                     || substr(u, length(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)', 1)) + 1)
                     AS u FROM s1),
            s3 AS (SELECT doc_id, url,
                     regexp_replace(u, '^(https?://)www\.', '\1') AS u FROM s2),
            s4 AS (SELECT doc_id, url,
                     regexp_replace(regexp_replace(u,
                       '^(http://[^/?#:]+):80([/?#].*|$)', '\1\2'),
                       '^(https://[^/?#:]+):443([/?#].*|$)', '\1\2') AS u FROM s3),
            s5 AS (SELECT doc_id, url,
                     regexp_replace(regexp_replace(regexp_replace(u,
                       '&(utm_[^=&]*|fbclid|gclid|msclkid)=[^&]*', '', 'g'),
                       '\?(utm_[^=&]*|fbclid|gclid|msclkid)=[^&]*&', '?'),
                       '\?(utm_[^=&]*|fbclid|gclid|msclkid)=[^&]*$', '') AS u FROM s4),
            s6 AS (SELECT doc_id, url,
                     regexp_replace(regexp_replace(u, '[?&]+$', ''), '/+$', '')
                     AS u FROM s5)
            SELECT u AS canonical_url,
                   min(doc_id) AS keep_id,
                   count(*) AS n_variants,
                   CAST(count(DISTINCT url) AS BIGINT) AS n_raw_urls
            FROM s6 GROUP BY 1
        """,
        # patterns embedded from finddup_spark/functions/pii.py constants
        # (lockstep by construction); replacement order e-mail → phone →
        # IP matches scrub_pii
        "pii_scrub": f"""
            WITH planted AS (
              SELECT doc_id, text ||
                CASE WHEN doc_id % 3 < 2 THEN
                  ' contact u' || CAST(doc_id AS VARCHAR) || '@ex'
                  || CAST(doc_id % 7 AS VARCHAR) || '.com'
                ELSE '' END ||
                CASE WHEN doc_id % 3 = 0 THEN
                  ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                  || CAST((doc_id * 3) % 256 AS VARCHAR)
                  || ' tel +1415555'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END AS text
              FROM documents WHERE text IS NOT NULL
            )
            SELECT doc_id,
              CAST(len(regexp_extract_all(text, '{_PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
              CAST(len(regexp_extract_all(text, '{_PII_IPV4_RE}')) AS BIGINT) AS n_ipv4,
              CAST(len(regexp_extract_all(text, '{_PII_PHONE_RE}')) AS BIGINT) AS n_phones,
              sha256(regexp_replace(regexp_replace(regexp_replace(text,
                  '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
                  '{_PII_PHONE_RE}', '<PHONE>', 'g'),
                  '{_PII_IPV4_RE}', '<IP>', 'g')) AS scrubbed_sha,
              CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
                  '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
                  '{_PII_PHONE_RE}', '<PHONE>', 'g'),
                  '{_PII_IPV4_RE}', '<IP>', 'g')) AS BIGINT) AS scrubbed_len
            FROM planted
        """,
    }
