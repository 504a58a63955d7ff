"""LSH candidate generation + pair verification (SURVEY.md §7 M4).

The reference's implicit J1 "self-join within a size group"
(``finddup.py:199-236``) generalizes to the LSH band self-join; the
reference's cardinality-dependent strategy switch (P4,
``MAX_FILES_OPEN``, ``finddup.py:434-467``) and measured-statistics design
(P5, ``finddup.py:630-664``) generalize to explicit hot-bucket skew
handling:

- buckets with |members| <= ``cfg.hot_bucket_cap``: plain all-pairs
  equi self-join on (band_id, band_hash) — the exact candidate set;
- hot buckets (boilerplate pages, giant exact-dup groups): **salted** —
  the bucket key is extended with ``salt = xxhash64(doc_id) % s`` where
  s adapts to ceil(bucket_size / hot_bucket_cap) (floor
  ``cfg.salt_shards``, ceiling ``cfg.max_salt_shards``), keeping the
  expected shard width ~hot_bucket_cap. Within each shard members pair
  ALL-PAIRS (O(n·cap) per bucket — the round-3 within-shard star lost a
  near-dup pair whenever its shard rep was dissimilar); shard minima
  pair all-pairs across shards (rep clique, <= C(max_salt_shards, 2)
  per bucket). Two fallbacks degrade a shard to the min-id star: a
  shard wider than ``cfg.shard_allpairs_cap``, and a whole bucket
  bigger than ``cfg.allpairs_bucket_limit`` (a shared-boilerplate band
  flood, overwhelmingly sub-threshold content — a true near-dup pair
  there still co-locates in another band with probability ~1). The
  residual loss — star-covered shards plus cross-shard non-rep pairs —
  is counted in the returned stats, never silent.

Verification computes the EXACT shingle Jaccard by re-shingling the two
candidate texts per Arrow batch (vectorized numpy — see
:func:`verify_pairs`), so only text, never shingle arrays, travels
through the shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import DEFAULT_CONFIG, DedupConfig


def _local_row_df(spark, row, schema) -> DataFrame:
    """One collected Row → a DataFrame, via pandas/Arrow. The tuple-list
    ``createDataFrame`` path evaluates through a pickled python-RDD scan
    (a ~0.3-0.5 s python-worker job per downstream action even for ONE
    row); the Arrow path is driver-side and JVM-only (guide §6)."""
    import pandas as pd

    pdf = pd.DataFrame({f.name: [row[f.name]] for f in schema.fields},
                       dtype=object)
    return spark.createDataFrame(pdf, schema)


def bucket_histogram(bands: DataFrame) -> DataFrame:
    """Skew diagnostics (the engine's own P5 pre-pass): bucket-size
    frequency table, the analog of ``get_frequencies``
    (``finddup.py:630-664``)."""
    sizes = bands.groupBy("band_id", "band_hash").agg(F.count(F.lit(1)).alias("bucket_size"))
    return sizes.groupBy("bucket_size").agg(F.count(F.lit(1)).alias("n_buckets")).orderBy("bucket_size")


def candidate_pairs(
    bands: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    cache_handles: list | None = None,
    payload_col: str | None = None,
    pair_predicate=None,
    return_truncated: bool = False,
    eager_stats: bool = False,
):
    """(pairs, stats) — pairs(src, dst) with src < dst, distinct across
    bands; stats is a tiny DataFrame of hot-bucket truncation metrics for
    the lineage sink (no silent caps). With ``return_truncated=True``
    also returns the DISTINCT members of SALTED (hot) buckets
    (doc_id [, payload]) — the population a recall-recovery pass must
    re-key. Inside a hot bucket no pair is guaranteed a direct
    candidate: within-shard all-pairs covers same-shard members, but a
    cross-shard member↔member pair rides through shard reps (which a
    ``pair_predicate`` may legitimately reject as dissimilar), and a
    star-fallback shard covers only rep↔member. Any pair lost either way
    has BOTH members inside one hot bucket, so re-keying exactly the hot
    membership is sound and complete for the loss.

    ``payload_col`` names a SMALL per-doc column in ``bands`` (e.g. the
    8-byte SimHash fingerprint) to carry through every pair branch as
    ``p_src``/``p_dst``; ``pair_predicate(p_src, p_dst)`` is then a
    cheap JVM verification applied BEFORE the canonicalizing distinct —
    the exchange dedups verified survivors instead of the raw candidate
    stream (orders of magnitude smaller in hot corpora), and the caller
    needs no join-back to re-attach the payload. Only for byte-small
    payloads: text/vectors must keep the join-back verify path
    (:func:`verify_pairs`).

    The bucket-keyed band table is persisted (four downstream consumers);
    callers that own no session-wide clearCache (standalone operators)
    pass ``cache_handles`` and unpersist its entries once the pair stream
    has been materialized."""
    # ONE exchange for the whole pair generator: bucket size via a window
    # count instead of groupBy + join-back (which exchanged the full band
    # table twice more); the persisted window output keeps its
    # (band_id, band_hash) partitioning, so the small/hot self-joins
    # below reuse it instead of re-shuffling.
    w = Window.partitionBy("band_id", "band_hash")
    keyed = bands.withColumn("bucket_size", F.count(F.lit(1)).over(w)).persist()
    if cache_handles is not None:
        cache_handles.append(keyed)

    out_cols = ["src", "dst"] + (["p_src", "p_dst"] if payload_col else [])

    def _side(df: DataFrame, keys: list[str], role: str) -> DataFrame:
        cols = [F.col(k) for k in keys] + [F.col("doc_id").alias(role)]
        if payload_col:
            cols.append(F.col(payload_col).alias(f"p_{role}"))
        return df.select(*cols)

    dup_buckets = keyed.filter(F.col("bucket_size") >= 2)
    small = dup_buckets.filter(F.col("bucket_size") <= cfg.hot_bucket_cap)
    hot = dup_buckets.filter(F.col("bucket_size") > cfg.hot_bucket_cap)
    # ---- small buckets: exact all-pairs self-join (J1) ----
    bkeys = ["band_id", "band_hash"]
    pairs_small = (
        _side(small, bkeys, "src")
        .join(_side(small, bkeys, "dst"), bkeys)
        .filter(F.col("src") < F.col("dst"))
        .select(*out_cols)
    )

    # ---- hot buckets: adaptive salt + within-shard all-pairs + rep clique ----
    # shard count adapts per bucket so expected shard width stays
    # ~hot_bucket_cap: total within-shard pair work is O(n * cap) per
    # bucket (linear in n with a constant-width factor), and the rep
    # clique is bounded by C(max_salt_shards, 2). No new exchange: hot
    # rows keep keyed's (band_id, band_hash) partitioning, which
    # satisfies the (band_id, band_hash, salt) window's clustering.
    n_shards = F.least(
        F.lit(cfg.max_salt_shards),
        F.greatest(
            F.lit(cfg.salt_shards),
            F.ceil(F.col("bucket_size") / F.lit(cfg.hot_bucket_cap)),
        ),
    )
    wsh = Window.partitionBy("band_id", "band_hash", "salt")
    salted = hot.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), n_shards)
    ).withColumn("shard_size", F.count(F.lit(1)).over(wsh))

    # per-bucket rows for the skew stats. pairs_truncated_upper_bound
    # counts only pairs with NO direct candidate: per hot bucket, C(n,2)
    # minus within-shard coverage (all-pairs or star) minus the
    # cross-shard rep clique — with every shard under the all-pairs cap
    # this is exactly the cross-shard non-rep pairs (which can still
    # connect transitively through reps).
    sizes = keyed.select("band_id", "band_hash", "bucket_size").dropDuplicates(
        ["band_id", "band_hash"]
    )
    overall = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(
            F.sum(
                F.when(F.col("bucket_size") > cfg.hot_bucket_cap, 1).otherwise(0)
            ),
            F.lit(0),
        ).alias("hot_buckets"),
        F.max("bucket_size").alias("max_bucket"),
    )
    shard_sizes = salted.groupBy("band_id", "band_hash", "salt").agg(
        F.count(F.lit(1)).alias("w"),
        F.first("bucket_size").alias("bucket_size"),
    )
    w = F.col("w")
    allpairs_shard = (w <= cfg.shard_allpairs_cap) & (
        F.col("bucket_size") <= cfg.allpairs_bucket_limit
    )
    per_bucket = shard_sizes.groupBy("band_id", "band_hash").agg(
        F.sum(w).alias("n"),
        F.count(F.lit(1)).alias("s"),
        F.sum(
            F.when(allpairs_shard, w * (w - 1) / 2).otherwise(w - 1)
        ).alias("covered_within"),
    )
    trunc = per_bucket.agg(
        F.coalesce(
            F.sum(
                F.col("n") * (F.col("n") - 1) / 2
                - F.col("covered_within")
                - F.col("s") * (F.col("s") - 1) / 2
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("pairs_truncated_upper_bound")
    )
    stats = overall.crossJoin(trunc)

    # cardinality-dependent branch elision (the P4 strategy switch applied
    # to the generator itself): ONE cached-scan action decides whether the
    # three hot-bucket branches exist at all. A skew-free corpus (or a
    # collapsed one — exact_text_collapse removes the dominant floods)
    # otherwise pays three empty-but-scheduled join branches per call;
    # measured 14 AQE jobs / ~0.6 s of pure scheduling at 5k docs. The
    # action also warms the keyed cache for every later branch.
    #
    # ``eager_stats`` (callers that ALWAYS consume the stats row, e.g.
    # the SimHash tier's widen decision) merges the probe INTO the stats
    # aggregate: one collect yields both has_hot and the stats values,
    # and the returned stats DataFrame is the pre-collected row — the
    # caller's stats.collect() no longer launches a cluster job. Lazy
    # default keeps the short-circuit limit(1) probe for callers that
    # may never materialize stats (the probe stops at the first cached
    # partition with a hot row; the full aggregate would scan keyed).
    if eager_stats:
        srow = stats.collect()[0]
        has_hot = (srow["hot_buckets"] or 0) > 0
        stats = _local_row_df(keyed.sparkSession, srow, stats.schema)
    else:
        has_hot = hot.limit(1).count() > 0

    # within-shard ALL-PAIRS for shards of bounded width in buckets of
    # bounded size — this is what recovers the round-3 within-shard
    # near-dup recall gap (a non-rep pair in one shard now meets directly
    # instead of via a possibly dissimilar shard rep). Mega-buckets
    # (> allpairs_bucket_limit members: shared-boilerplate band floods)
    # keep the O(n) star — their content is overwhelmingly sub-threshold
    # and a true near-dup pair there still co-locates in another band.
    ap = salted.filter(
        (F.col("shard_size") <= cfg.shard_allpairs_cap)
        & (F.col("bucket_size") <= cfg.allpairs_bucket_limit)
    )
    skeys = ["band_id", "band_hash", "salt"]
    pairs_shard = (
        _side(ap, skeys, "src")
        .join(_side(ap, skeys, "dst"), skeys)
        .filter(F.col("src") < F.col("dst"))
        .select(*out_cols)
    )

    # star fallback for everything outside the all-pairs regime (an
    # over-wide shard or a mega-bucket); its loss is counted in stats
    rep_aggs = [F.min("doc_id").alias("rep")]
    if payload_col:
        rep_aggs.append(F.min_by(payload_col, "doc_id").alias("p_rep"))
    shard_min = salted.groupBy(*skeys).agg(*rep_aggs)
    star_over = (
        _side(
            salted.filter(
                (F.col("shard_size") > cfg.shard_allpairs_cap)
                | (F.col("bucket_size") > cfg.allpairs_bucket_limit)
            ),
            skeys,
            "dst",
        )
        .join(shard_min, skeys)
        .filter(F.col("dst") != F.col("rep"))
        # rep = shard min < every other member, so src < dst holds
        .select(
            F.col("rep").alias("src"),
            "dst",
            *([F.col("p_rep").alias("p_src"), "p_dst"] if payload_col else []),
        )
    )

    def _rep_side(role: str) -> DataFrame:
        cols = [F.col("band_id"), F.col("band_hash"), F.col("rep").alias(role)]
        if payload_col:
            cols.append(F.col("p_rep").alias(f"p_{role}"))
        return shard_min.select(*cols)

    rep_clique = (
        _rep_side("src")
        .join(_rep_side("dst"), bkeys)
        .filter(F.col("src") < F.col("dst"))
        .select(*out_cols)
    )

    # every branch already emits src < dst (self-joins filter it; the
    # star's src is the shard MINIMUM), so canonicalization is just the
    # cross-band dedup. The predicate runs BEFORE it: the exchange then
    # carries verified survivors, not the raw candidate stream.
    union = pairs_small
    if has_hot:
        union = (
            union.unionByName(pairs_shard)
            .unionByName(star_over)
            .unionByName(rep_clique)
        )
    if pair_predicate is not None:
        union = union.filter(pair_predicate(F.col("p_src"), F.col("p_dst")))
    pairs = union.dropDuplicates(["src", "dst"])
    if cache_handles is not None:
        # byte-small (two longs + optional small payload per row) and
        # consumed at least twice downstream (verify_pairs derives its
        # participant semi-join AND its pair join from it) — without the
        # persist the whole 4-branch union + dedup exchange runs once per
        # consumer (measured 43 extra AQE jobs / ~4 s per cross_modal call
        # at 5k docs, and a full re-union at any scale). Callers that pass
        # cache_handles own the unpersist; the write-to-table pipeline
        # path (cache_handles=None) materializes pairs exactly once and
        # needs no cache.
        pairs = pairs.persist()
        cache_handles.append(pairs)

    if return_truncated:
        truncated_members = (
            salted.select("doc_id", *([payload_col] if payload_col else []))
            .distinct()
        )
        return pairs, stats, truncated_members
    return pairs, stats


def verify_pairs(
    pairs: DataFrame,
    pages: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    method: str = "minhash",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """edges(src, dst, sim, method): exact shingle Jaccard >= threshold —
    the generalization of the reference's chunk-equality check
    (finddup.py:225) to set similarity.

    Joins candidate pairs back to TEXT and computes the exact Jaccard per
    Arrow batch: one vectorized batch-shingling of the src+dst texts, then
    a sorted-set numpy intersection per pair. (On the 60k-row synthetic
    corpus a doc averages ~2.4 KB of text and 254 distinct shingles,
    ~2.0 KB as uint64 hashes.)
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    texts = pages.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("long").alias(id_col), F.col(text_col).alias("__t")
    )
    # prune texts to pair participants BEFORE the pair join: candidate
    # pairs touch a fraction of the corpus, so the expensive two-text
    # join below only ever sees participant texts. The semi-join strategy
    # is left to AQE: it broadcasts the participant set while it is small
    # and switches to a shuffle join when it is not (at dup-heavy web
    # scale, participants are billions of ids — a forced broadcast would
    # OOM the driver; measured at 1M pairs the shuffle semi-join is also
    # ~10% faster than the forced broadcast at 4 and 16 cores alike).
    # no distinct: left_semi dedups its build side inherently, so the
    # explicit distinct only added a full exchange + aggregation of the
    # pair-id stream before the semi join (guide §2.4 — "a distinct on
    # data that is already unique [for the consumer]")
    participants = pairs.select(F.col("src").alias(id_col)).unionByName(
        pairs.select(F.col("dst").alias(id_col))
    )
    texts = texts.join(participants, id_col, "left_semi")
    # no pre-partitioning of texts: the pair side is byte-small, so the
    # planner broadcasts it and streams texts exchange-free — an explicit
    # repartition+persist of the text side measured ~2x on this stage
    withs = (
        pairs.join(texts.withColumnRenamed(id_col, "src").withColumnRenamed("__t", "t_src"), "src")
        .join(texts.withColumnRenamed(id_col, "dst").withColumnRenamed("__t", "t_dst"), "dst")
    )
    # no explicit repartition: the join output carries both texts, so it
    # is NOT byte-small — with the session's 8 MB AQE advisory it stays
    # at >= cores partitions, and an extra repartition would re-shuffle
    # ~2x corpus-subset text bytes for nothing
    thr = cfg.verify_jaccard
    out_schema = StructType(
        [
            StructField("src", LongType()),
            StructField("dst", LongType()),
            StructField("sim", DoubleType()),
        ]
    )

    SLICE = 256  # pairs per sub-slice → cache-resident shingling

    def fn(batches):
        import numpy as np

        from ..functions.signatures import _batch_shingles

        for whole in batches:
            for lo in range(0, len(whole), SLICE):
                pdf = whole.iloc[lo : lo + SLICE]
                n = len(pdf)
                if n == 0:
                    continue
                both = pd.concat([pdf["t_src"], pdf["t_dst"]], ignore_index=True)
                sh, _w = _batch_shingles(both, cfg)
                sims = np.empty(n, dtype=np.float64)
                for i in range(n):
                    a, b = sh[i], sh[n + i]
                    if len(a) == 0 and len(b) == 0:
                        sims[i] = 1.0
                        continue
                    inter = len(np.intersect1d(a, b, assume_unique=True))
                    sims[i] = inter / (len(a) + len(b) - inter)
                out = pd.DataFrame(
                    {"src": pdf["src"].values, "dst": pdf["dst"].values, "sim": sims}
                )
                yield out[out["sim"] >= thr]

    return (
        withs.select("src", "dst", "t_src", "t_dst")
        .mapInPandas(fn, out_schema)
        .select("src", "dst", "sim", F.lit(method).alias("method"))
    )


def simhash_block_keys(n_blocks: int, hamming_radius: int) -> list[tuple]:
    """The (combo, widths, offsets) table spec for Manku-style block
    keys: 64 bits split into ``n_blocks`` near-equal blocks; one table
    per (n_blocks - hamming_radius)-combination of block indices, keyed
    on the CONCATENATION of those blocks. A Hamming <= r pair differs in
    at most r blocks, so at least one combination is all-equal — the
    same pigeonhole as the chunk scheme but with ~(64/B)·(B-r)-bit keys
    instead of 16-bit ones (Manku/Jarvelin/Sarma, "Detecting
    Near-Duplicates for Web Crawling", WWW'07: wider keys shrink bucket
    occupancy exponentially, trading C(B, B-r) table rows per doc)."""
    import itertools

    base, rem = divmod(64, n_blocks)
    widths = [base + (1 if i < rem else 0) for i in range(n_blocks)]
    offsets = []
    off = 0
    for wd in widths:
        offsets.append(off)
        off += wd
    return [
        (combo, widths, offsets)
        for combo in itertools.combinations(range(n_blocks), n_blocks - hamming_radius)
    ]


def simhash_block_bands(
    fps: DataFrame, n_blocks: int, hamming_radius: int
) -> DataFrame:
    """Explode (doc_id, simhash) rows into Manku wide-key band rows
    (band_id, band_hash, doc_id, simhash) — one row per
    (n_blocks - r)-block-combination table (see
    :func:`simhash_block_keys`)."""
    structs = []
    for tid, (combo, widths, offsets) in enumerate(
        simhash_block_keys(n_blocks, hamming_radius)
    ):
        key = F.lit(0).cast("long")
        for idx in combo:
            block = F.shiftrightunsigned(
                F.col("simhash"), offsets[idx]
            ).bitwiseAND(F.lit((1 << widths[idx]) - 1))
            key = F.shiftleft(key, widths[idx]).bitwiseOR(block)
        structs.append(
            F.struct(F.lit(tid).alias("band_id"), key.alias("band_hash"))
        )
    return fps.select(
        "doc_id", "simhash", F.explode(F.array(*structs)).alias("c")
    ).select("doc_id", "simhash", F.col("c.band_id"), F.col("c.band_hash"))


def simhash_widen_edges(
    trunc_fp: DataFrame,
    hamming_radius: int = 3,
    n_blocks: int = 6,
    cfg: DedupConfig = DEFAULT_CONFIG,
    cache_handles: list | None = None,
    return_stats: bool = False,
):
    """Recall-recovery pass over the members of HOT (salted) chunk
    buckets: re-key ONLY those (doc_id, simhash) rows through the Manku
    wide-key block tables and emit their verified Hamming edges. Sound
    and complete for the salting loss — a pair without a direct
    candidate (cross-shard through dissimilar reps, or star-truncated)
    has both members inside one hot bucket, so both appear in
    ``trunc_fp`` and share at least one of the C(n_blocks, n_blocks - r)
    block keys (pigeonhole). Cost is subset-sized (hot buckets are a
    fraction of a corpus, and the ~32-bit keys disperse them), so the
    default chunk path keeps its wall while hot-bucket recall needs no
    flag."""
    bands = simhash_block_bands(trunc_fp, n_blocks, hamming_radius)
    pairs, stats = candidate_pairs(
        bands,
        cfg,
        cache_handles=cache_handles,
        payload_col="simhash",
        pair_predicate=lambda a, b: F.bit_count(a.bitwiseXOR(b))
        <= F.lit(hamming_radius),
    )
    edges = pairs.select(
        "src",
        "dst",
        F.bit_count(F.col("p_src").bitwiseXOR(F.col("p_dst"))).alias("hamming"),
    )
    return (edges, stats) if return_stats else edges


def simhash_candidate_pairs(
    signatures: DataFrame,
    hamming_radius: int = 3,
    cfg: DedupConfig = DEFAULT_CONFIG,
    cache_handles: list | None = None,
    return_stats: bool = False,
    return_truncated: bool = False,
):
    """SimHash near-dup candidates by pivoted exact-match on bit-chunks.

    Pigeonhole: two 64-bit fingerprints within Hamming distance r <= 3
    share at least one of 4 equal-width chunks of 16 bits — 65,536
    distinct values per chunk index (the previous 8×8-bit split gave 256
    values per chunk, i.e. ~N/256 docs per bucket and an O(N²/256)
    self-join at scale). Exact-match join per chunk index — the
    multi-index strategy from SURVEY.md §2.3, no theta join.

    Two stages, so identical fingerprints always share one representative:

    1. **Fingerprint collapse.** Docs with the SAME 64-bit fingerprint are
       Hamming-0 pairs by construction; each fingerprint group emits a
       star rooted at its min doc_id. This removes the dominant hot-bucket
       source (exact-dup floods, boilerplate, the all-zero fingerprint of
       empty docs) before any chunk bucket exists, and guarantees two
       same-fingerprint docs can never be split across salt shards — the
       round-2 gap where close non-rep members of a mixed hot bucket could
       be silently disconnected.
    2. **Chunk blocking over DISTINCT fingerprints only**, routed through
       :func:`candidate_pairs` (the same salted within-shard-all-pairs +
       rep-clique path the MinHash tier uses) and Hamming-verified here. Because each rep
       carries its whole group (edge of Hamming 0), a member-to-member
       near-pair across groups is found iff its rep-to-rep pair is — the
       Hamming distances are identical. The only residual recall loss is a
       hot bucket of >cfg.hot_bucket_cap DISTINCT fingerprints sharing a
       16-bit chunk; its skipped-pair upper bound is in the returned stats
       (``return_stats=True``), and ``return_truncated=True`` also returns
       the members of those buckets, which
       :func:`finddup_spark.operators.dedup.simhash_dedup` re-keys through
       :func:`simhash_widen_edges` to recover the loss.

    Returns edges(src, dst, hamming); with ``return_stats=True`` returns
    (edges, stats) where stats is the one-row skew/truncation DataFrame
    from :func:`candidate_pairs` (computed over distinct-fingerprint
    buckets); with ``return_truncated=True`` returns (edges, stats,
    truncated members).

    The all-pairs bucket limit is TIGHTENED to 8·hot_bucket_cap here
    (vs the text tier's cfg.allpairs_bucket_limit): correlated corpora
    (shared boilerplate halves) produce thousands-wide 16-bit-chunk
    buckets of DISTINCT, overwhelmingly Hamming-far fingerprints —
    measured 1,060 hot buckets up to 3,917 members at 1M pages — and
    paying n·cap/2 Hamming probes per such bucket tripled this query's
    wall. Buckets up to 512 keep full within-shard all-pairs (strictly
    MORE recall than the round-3 all-star policy at every size); larger
    ones take the O(n) star with the skipped count in stats.
    """
    from dataclasses import replace as _replace

    n_chunks = 4
    assert hamming_radius <= n_chunks - 1
    cfg = _replace(
        cfg,
        allpairs_bucket_limit=min(
            cfg.allpairs_bucket_limit, 8 * cfg.hot_bucket_cap
        ),
    )
    sims = signatures.select(F.col("doc_id").cast("long").alias("doc_id"), "simhash")
    # stage 1: one rep per fingerprint; groupBy (partial combine) is
    # scale-safe; the join back is a plain equi join on simhash where a
    # pathological identical-fingerprint flood is AQE-skew-join territory,
    # not a quadratic blowup (rows out = rows in).
    reps = sims.groupBy("simhash").agg(F.min("doc_id").alias("rep"))
    star0 = (
        sims.join(reps, "simhash")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(
            F.col("rep").alias("src"),
            F.col("doc_id").alias("dst"),
            F.lit(0).alias("hamming"),
        )
    )
    distinct_fp = reps.select(F.col("rep").alias("doc_id"), "simhash")

    width = 64 // n_chunks
    structs = [
        F.struct(
            F.lit(i).alias("band_id"),
            F.shiftrightunsigned(F.col("simhash"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("band_hash"),
        )
        for i in range(n_chunks)
    ]
    chunks = distinct_fp.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*structs)).alias("c"),
    ).select("doc_id", "simhash", F.col("c.band_id"), F.col("c.band_hash"))

    # the fingerprint IS the payload (8 bytes): the Hamming verification
    # runs INSIDE the pair generator, before the cross-band distinct —
    # no join-back to re-attach fingerprints, and the distinct dedups
    # ~|edges| survivors instead of the raw candidate stream (the latter
    # is ~100x bigger on boilerplate-correlated corpora)
    out = candidate_pairs(
        chunks,
        cfg,
        cache_handles=cache_handles,
        payload_col="simhash",
        pair_predicate=lambda a, b: F.bit_count(a.bitwiseXOR(b))
        <= F.lit(hamming_radius),
        return_truncated=return_truncated,
        # the SimHash tier ALWAYS consumes the stats row (the widen
        # decision in simhash_dedup) — eager_stats merges the hot-bucket
        # probe into that one aggregate, saving a full action per call
        eager_stats=True,
    )
    pairs, stats = out[0], out[1]
    rep_edges = pairs.select(
        "src",
        "dst",
        F.bit_count(F.col("p_src").bitwiseXOR(F.col("p_dst"))).alias("hamming"),
    )
    edges = star0.unionByName(rep_edges)
    if return_truncated:
        # trunc members are DISTINCT-fingerprint reps; widening over reps
        # is complete because same-fingerprint members reach their rep
        # through the Hamming-0 star (edge set closed under the collapse)
        return edges, stats, out[2]
    return (edges, stats) if return_stats else edges
