"""Training-pipeline dedup family over a generic documents table.

Every variant returns a cluster assignment (doc_id, cluster_id) and/or a
keep-list — the operations a large-scale training-data pipeline needs
(exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine), each a
thin composition over the engine's tiers so they inherit the blocking /
salting / verification machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import DEFAULT_CONFIG, DedupConfig
from ..functions.signatures import compute_signatures, explode_bands
from ..session import start_driver_threads
from .cc import connected_components
from .exact import exact_clusters
from .lsh import (
    candidate_pairs,
    simhash_candidate_pairs,
    simhash_widen_edges,
    verify_pairs,
)


def exact_text_collapse(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache_handles: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(star_edges(src, dst), rep_docs) — collapse byte-identical texts
    to one representative (min id per sha256 group) BEFORE any fuzzy
    bucketing: one window-min shuffle over ~50-byte hashed rows (text
    never shuffles), the same idiom as the vector collapse in
    :func:`embedding_lsh_edges` stage 0 and the pipeline's exact-first
    representative trick. Exact-dup floods — the dominant hot-bucket
    source, since identical texts share EVERY band — vanish from the
    candidate generator (probability-1 exact recall via the star), and
    member-to-member near pairs across groups are found iff their
    rep-to-rep pair is (identical texts ⇒ identical signatures and
    Jaccards). NULL texts are dropped (they contribute no edges).

    The hashed (id, sha256, rep) table — ~50 bytes/row — is persisted
    when ``cache_handles`` is passed: it is consumed by BOTH the star
    edges and the rep semi-join, and the rep semi-join itself feeds two
    downstream consumers (signatures AND the verify join-back), so
    without the cache the full-corpus sha256 pass and its window
    exchange run once per consumer."""
    wh = Window.partitionBy("__h")
    hashed = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).cast("long").alias(id_col),
            F.sha2(F.col(text_col), 256).alias("__h"),
        )
        .withColumn("rep", F.min(id_col).over(wh))
    )
    if cache_handles is not None:
        hashed = hashed.persist()
        cache_handles.append(hashed)
    star = hashed.filter(F.col(id_col) != F.col("rep")).select(
        F.col("rep").alias("src"), F.col(id_col).alias("dst")
    )
    rep_docs = docs.join(
        hashed.filter(F.col(id_col) == F.col("rep")).select(id_col),
        id_col,
        "left_semi",
    )
    return star, rep_docs


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row per byte-identical text (the min doc_id), marking the
    rest as drops: (doc_id, cluster_id, keep)."""
    cl = exact_clusters(docs, id_col=id_col, text_col=text_col)
    return cl.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("keep"),
    )


def minhash_dedup(
    docs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    text_col: str = "text",
    oracle_guard: bool = False,
) -> DataFrame:
    """Near-dup dedup at cfg.verify_jaccard: (doc_id, cluster_id, keep).

    ``oracle_guard=True`` makes the soundness preconditions of the exact
    all-pairs SQL oracle EXPLICIT (they are empirical, not structural):
    the engine's edge set equals the exhaustive shingle-Jaccard edge set
    only when (a) no hot band bucket was star-truncated and (b) no
    verified pair sits near the threshold where a band miss is even
    conceivable (at b=32, r=4 the miss probability for a pair AT
    s=verify_jaccard=0.8 is (1-0.8^4)^32 ≈ 5e-8 and falls doubly
    exponentially above it). Check (b) is a STATISTICAL CANARY, not a
    precondition proof: it scans the pairs banding DID surface, so a
    near-threshold pair that banding itself missed is invisible to it —
    but such a pair is both found AND trips the canary with probability
    ≈ 1 - 5e-8, so a corpus whose pair-similarity distribution drifts
    toward the threshold fails loudly long before a silent miss is
    likely. The guard fails the query instead of letting the hash
    comparison silently diverge.

    Exact-dup floods are COLLAPSED before signatures
    (:func:`exact_text_collapse`): identical texts share every band, so
    a flood of n copies is the worst hot bucket there is — as a min-id
    star it costs n-1 edges instead of flowing through the salted pair
    generator (where the round-4 within-shard all-pairs would pay
    ~n·cap/2 verify pairs for content that is equal by construction)."""
    caches: list = []
    star0, edges, stats = _minhash_text_edges(docs, cfg, id_col, text_col, caches)
    if oracle_guard:
        edges = edges.persist()
        caches.append(edges)
        srow = stats.collect()[0]
        if (srow["pairs_truncated_upper_bound"] or 0) > 0:
            raise RuntimeError(
                "minhash_dedup oracle guard: "
                f"{srow['hot_buckets']} hot bucket(s) star-truncated "
                f"(≤{srow['pairs_truncated_upper_bound']} pairs skipped) — "
                "the exhaustive-Jaccard SQL oracle is not sound for this corpus"
            )
        eps = 0.05
        boundary = (
            edges.filter(F.col("sim") < cfg.verify_jaccard + eps).limit(1).count()
        )
        if boundary:
            raise RuntimeError(
                "minhash_dedup oracle guard: a verified pair lies within "
                f"{eps} of verify_jaccard={cfg.verify_jaccard} — band-miss "
                "risk is no longer negligible; the exhaustive-Jaccard SQL "
                "oracle may diverge on this corpus"
            )
    return _resolve_clusters(
        star0.unionByName(edges.select("src", "dst")), docs, id_col, caches
    )


def _minhash_text_edges(
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str,
    text_col: str,
    caches: list,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(star0, edges, stats) — the MinHash text chain of
    :func:`minhash_dedup` and :func:`cross_modal_dedup`'s text tier:
    exact-text collapse → fused signatures → bands → candidate pairs →
    exact-Jaccard verify (the signature → filter → verify decomposition).
    ``star0`` links each exact-dup group to its representative, ``edges``
    are the verified rep-to-rep pairs, ``stats`` the hot-bucket
    truncation row. Every persisted intermediate is appended to
    ``caches`` for the caller to release."""
    star0, rep_docs = exact_text_collapse(
        docs, id_col=id_col, text_col=text_col, cache_handles=caches
    )
    # fused kernel (same as the pipeline's signature stage): band hashes
    # computed in the ONE mapInPandas pass, so explode_bands below is pure
    # JVM posexplode — no second Python boundary crossing to band-hash the
    # minhash binary, and the cache holds 256 B/row of bands instead of
    # the 1 KB/row minhash nobody reads (guide §4.1)
    sigs = compute_signatures(
        rep_docs, cfg, id_col=id_col, text_col=text_col,
        with_bands=True, with_minhash=False,
    ).persist()
    caches.append(sigs)
    pairs, stats = candidate_pairs(explode_bands(sigs, cfg), cfg, cache_handles=caches)
    edges = verify_pairs(pairs, rep_docs, cfg, id_col=id_col, text_col=text_col)
    return star0, edges, stats


def _resolve_clusters(
    edges: DataFrame, docs: DataFrame, id_col: str, caches: list
) -> DataFrame:
    """The shared tail of every dedup entry point: connected components
    over ``edges`` (src, dst) with every ``docs`` id as a vertex, then
    release ``caches``, then (id, cluster_id, keep). CC runs its actions
    eagerly, so the caches can be dropped before the result is consumed
    — standalone calls do not leak them until a session clearCache."""
    cl = connected_components(
        edges.select("src", "dst"),
        vertices=docs.select(F.col(id_col).cast("long").alias("doc_id")),
    )
    for h in caches:
        h.unpersist()
    return cl.select(
        F.col("doc_id").alias(id_col),
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


def simhash_dedup(
    docs: DataFrame,
    hamming_radius: int = 3,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash dedup: Hamming-ball clustering via bit-chunk pigeonhole
    (:func:`~finddup_spark.operators.lsh.simhash_candidate_pairs`).

    No silent caps, and no silent RECALL loss either: when the chunk
    path star-truncated any hot bucket, the members of exactly those
    buckets are re-keyed through the Manku wide-key block tables
    (:func:`~finddup_spark.operators.lsh.simhash_widen_edges`) and the
    recovered Hamming edges union into the cluster graph before CC —
    truncation loss is strictly within-bucket, so the subset pass is
    complete, and it costs subset work instead of the ~1.5x whole-corpus
    slowdown of running the block tables outright. A corpus with no
    truncation pays only the stats aggregate it was already running; if
    even the widen pass truncates (wide-key mega-bucket — not observed
    on any measured corpus), that residue is logged at WARNING.
    """
    import logging

    log = logging.getLogger(__name__)
    # SimHash needs only the 8-byte fingerprint: with_minhash=False skips
    # the 128-bin OPH minhash pass and its 1 KB/row binary entirely
    # (guide §1.2 — this tier never read either)
    sigs = compute_signatures(
        docs, cfg, id_col=id_col, text_col=text_col, with_minhash=False,
    ).persist()
    caches: list = [sigs]
    edges, stats, trunc_fp = simhash_candidate_pairs(
        sigs, hamming_radius=hamming_radius, cfg=cfg, cache_handles=caches,
        return_truncated=True,
    )
    # the widen decision needs the truncation stats BEFORE CC; they are
    # cheap HERE because the generator's hot-bucket probe has already
    # materialized the keyed bucket cache the stats aggregate over — no
    # extra materialization of the pair stream is needed
    srow = stats.collect()[0]
    if (srow["pairs_truncated_upper_bound"] or 0) > 0:
        log.warning(
            "simhash_dedup: %d hot chunk bucket(s) star-truncated "
            "(max bucket %d, skipped-pair upper bound %d) — widening "
            "those buckets through Manku n_blocks=6 wide-key tables",
            srow["hot_buckets"], srow["max_bucket"],
            srow["pairs_truncated_upper_bound"],
        )
        wide, wstats = simhash_widen_edges(
            trunc_fp, hamming_radius=hamming_radius, cfg=cfg,
            cache_handles=caches, return_stats=True,
        )
        edges = edges.unionByName(wide)
        wsrow = wstats.collect()[0]
        if (wsrow["pairs_truncated_upper_bound"] or 0) > 0:
            log.warning(
                "simhash_dedup: widen pass STILL truncated %d wide-key "
                "bucket(s) (skipped-pair upper bound %d) — residual "
                "star-limited recall",
                wsrow["hot_buckets"], wsrow["pairs_truncated_upper_bound"],
            )
    return _resolve_clusters(edges, docs, id_col, caches)


def token_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    max_id_gap: int = 3,
) -> DataFrame:
    """Exact token-set (1-gram) Jaccard for a bounded candidate set:
    same-``block_col`` pairs within ``max_id_gap`` of each other.

    JVM-only (split + array_intersect/array_union) — demonstrates the
    n-gram-Jaccard dedup shape with a DuckDB-oracle-able contract; the
    unbounded version is minhash_dedup (LSH replaces the id-gap blocking).
    """
    toks = docs.select(
        F.col(id_col),
        F.col(block_col).alias("block"),
        # explicit whitespace class (not \s): Java's \s includes \x0b,
        # RE2's (the DuckDB oracle's) does not — see textstats.WS_CLASS
        F.array_distinct(F.split(F.col(text_col), r"[ \t\n\x0b\f\r]+")).alias("toks"),
    )
    # the id-gap bound is part of the JOIN KEY, not a post-join filter:
    # bucket = floor(id / gap); a pair within the gap lands in the same or
    # adjacent buckets, so the dst side explodes to (bucket, bucket-1) and
    # the join is a plain equi hash join on (block, bucket) — each bucket
    # holds <= gap rows per block, so the pair stream is O(N·gap), not
    # O(N²/|blocks|) with a post-join gap predicate. Exactly one of the
    # two exploded buckets matches per qualifying pair → no dedup needed.
    a = toks.select(
        F.col(id_col).alias("src"), "block", F.col("toks").alias("t_src"),
        F.floor(F.col(id_col) / max_id_gap).alias("bucket"),
    )
    b = toks.select(
        F.col(id_col).alias("dst"), "block", F.col("toks").alias("t_dst"),
        F.explode(
            F.array(
                F.floor(F.col(id_col) / max_id_gap),
                F.floor(F.col(id_col) / max_id_gap) - 1,
            )
        ).alias("bucket"),
    )
    pairs = a.join(b, ["block", "bucket"]).filter(
        (F.col("src") < F.col("dst")) & (F.col("dst") - F.col("src") <= max_id_gap)
    )
    inter = F.size(F.array_intersect("t_src", "t_dst"))
    union = F.size(F.array_union("t_src", "t_dst"))
    return pairs.select(
        "src",
        "dst",
        F.round(F.when(union > 0, inter / union).otherwise(F.lit(1.0)), 6).alias("jaccard"),
    )


def embedding_lsh_dedup(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cfg: DedupConfig = DEFAULT_CONFIG,
    oracle_guard: bool = False,
    return_stats: bool = False,
):
    """PRODUCTION embedding near-dup dedup: hyperplane-LSH blocked
    candidate pairs → exact-cosine verify → connected components —
    (vec_id, cluster_id, keep). The default path for unbounded corpora;
    :func:`embedding_cosine_dedup` remains the id-gap-blocked demo.

    The generalization of the text tier's J1 self-join (lsh.py:44-132,
    reference ``finddup.py:199-236``) to vectors: sign-sketch buckets from
    :func:`~finddup_spark.operators.simsearch.hyperplane_buckets` are fed
    through the SAME salted pair generator the MinHash tier uses
    (``candidate_pairs``): hot buckets (a flood of identical or
    near-zero vectors) emit bounded within-shard all-pairs plus a rep
    clique — O(n·hot_bucket_cap) edges instead of O(n²) — with
    truncation stats logged — then candidates are verified with the exact
    JVM-side cosine and resolved by CC. No N×N anywhere: the only joins
    are equi joins on (table, bucket) and on vec_id.

    Recall contract: bitwise-identical vectors are COLLAPSED to one
    representative before any bucketing (see
    :func:`embedding_lsh_edges` stage 0), so exact-duplicate vectors are
    found with probability 1 regardless of id distance AND regardless of
    hot-bucket salting — unlike the id-gap demo, which cannot see past
    ``block_gap`` ids. Near-(not exact-)duplicate recall is the standard
    LSH bound, tunable via ``n_tables``/``n_planes``.

    ``oracle_guard=True`` asserts no hot bucket was star-truncated —
    the precondition under which the exhaustive all-pairs SQL oracle
    (every cosine≥threshold pair is an edge) is exact for a corpus whose
    above-threshold pairs are identical-vector pairs.

    ``return_stats=True`` also returns the one-row hot-bucket truncation
    stats DataFrame (production callers log it — no silent caps).
    """
    caches: list = []
    edges, stats = embedding_lsh_edges(
        embeddings, dim, threshold, n_planes, n_tables, seed,
        id_col, vec_col, cfg, cache_handles=caches,
    )
    # collected BEFORE CC releases the bucket cache — consumed after the
    # release it would recompute the whole index
    srow = stats.collect()[0] if (oracle_guard or return_stats) else None
    if oracle_guard and (srow["hot_buckets"] or 0) > 0:
        raise RuntimeError(
            "embedding_lsh_dedup oracle guard: "
            f"{srow['hot_buckets']} hot bucket(s) star-truncated — the "
            "exhaustive all-pairs SQL oracle is not sound for this corpus"
        )
    out = _resolve_clusters(edges, embeddings, id_col, caches)
    if return_stats:
        # Explicit schema: an empty input leaves NULL aggregate fields
        # that schema inference cannot type.
        from .lsh import _local_row_df

        return out, _local_row_df(embeddings.sparkSession, srow, stats.schema)
    return out


def embedding_lsh_edges(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cfg: DedupConfig = DEFAULT_CONFIG,
    cache_handles: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(edges(src, dst, cos), stats) — the candidate + verify stages of
    :func:`embedding_lsh_dedup`, exposed so plan tests and custom
    pipelines can consume the verified edge stream directly.

    Stage 0 COLLAPSES bitwise-identical vectors to one representative
    (min id per distinct vector) and emits a cos=1.0 star per group —
    the same fingerprint-collapse the simhash tier uses. This is what
    makes the probability-1 exact-duplicate guarantee true even in salted
    hot buckets: without it, an identical pair inside a >hot_bucket_cap
    mixed bucket could land in different salt shards in every table and
    reach each other only through dissimilar shard reps that fail the
    cosine verify. After the collapse, candidate generation runs over
    DISTINCT vectors only (also shrinking hot buckets by the exact-dup
    ratio), and a member-to-member near-pair across groups is found iff
    its rep-to-rep pair is — the cosines are identical."""
    from .simsearch import cosine_expr, hyperplane_buckets, with_norm

    # ONE shuffle keyed on the vector (a window min, not groupBy + join
    # back — that exchanged the full float vectors twice); a pathological
    # identical-vector flood lands in one partition's window but the work
    # there is a linear min, not a sort-to-pair blowup. NULL vectors are
    # dropped FIRST: window partitioning groups all NULLs together (unlike
    # the equi-join this replaced, where a NULL key matched nothing), and
    # rows without an embedding must contribute no edges. Bitwise-
    # identical vectors containing NaN still collapse — identical bytes
    # are a duplicate by this operator's contract.
    wv = Window.partitionBy(vec_col)
    ids = embeddings.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col).alias(vec_col)
    ).withColumn("rep", F.min(id_col).over(wv))
    star0 = ids.filter(F.col(id_col) != F.col("rep")).select(
        F.col("rep").alias("src"),
        F.col(id_col).alias("dst"),
        F.lit(1.0).alias("cos"),
    )
    distinct_vecs = ids.filter(F.col(id_col) == F.col("rep")).select(
        id_col, vec_col
    )

    bands = hyperplane_buckets(
        distinct_vecs, dim, n_planes, n_tables, seed, id_col, vec_col
    ).select(
        F.col("table_id").alias("band_id"),
        F.col("bucket").alias("band_hash"),
        F.col(id_col).cast("long").alias("doc_id"),
    )
    pairs, stats = candidate_pairs(bands, cfg, cache_handles=cache_handles)
    e = with_norm(distinct_vecs, id_col, vec_col)
    rep_edges = (
        pairs.join(
            e.select(
                F.col(id_col).cast("long").alias("src"),
                F.col("vec_d").alias("va"), F.col("norm").alias("na"),
            ),
            "src",
        )
        .join(
            e.select(
                F.col(id_col).cast("long").alias("dst"),
                F.col("vec_d").alias("vb"), F.col("norm").alias("nb"),
            ),
            "dst",
        )
        .select("src", "dst", cosine_expr("va", "vb", "na", "nb").alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
    return star0.unionByName(rep_edges), stats


def cross_modal_dedup(
    docs: DataFrame,
    embeddings: DataFrame,
    dim: int,
    cfg: DedupConfig = DEFAULT_CONFIG,
    cosine_threshold: float = 0.95,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    oracle_guard: bool = False,
) -> DataFrame:
    """CROSS-MODAL near-dup dedup: a document is a duplicate if its TEXT
    is a near-dup (MinHash+LSH, shingle Jaccard >= cfg.verify_jaccard) OR
    its EMBEDDING is (hyperplane-LSH, cosine >= cosine_threshold) — the
    union of both verified edge streams resolved by ONE connected-
    components pass, so a chain text-dup → embedding-dup collapses into
    a single cluster. This is the real multimodal-pipeline semantics:
    unioning the two tiers' CLUSTER assignments instead of their EDGES
    would miss exactly those chains.

    Both edge generators collapse identical content to one representative
    BEFORE bucketing (text: sha256 groups here, the DedupPipeline's
    exact-first representative trick; vectors: embedding_lsh_edges stage
    0), so byte-identical duplicates are found with probability 1 even
    inside salted hot buckets, and the fuzzy tiers shrink by the
    exact-dup ratio. The union is a cheap id-pair unionByName, and CC
    runs once over the combined graph. Returns (doc_id, cluster_id,
    keep). ``embeddings`` is joined by ``vec_id_col == id_col`` identity
    — rows missing a vector simply contribute no embedding edges.

    ``oracle_guard=True`` asserts NEITHER tier star-truncated a hot
    bucket — the precondition for the exhaustive union-edge SQL oracle.
    """
    # the TEXT tier (exact-text collapse → signatures → LSH bands →
    # verify) and the EMBEDDING tier (hyperplane buckets → cosine verify)
    # are data-independent, so each materializes its verified edge set on
    # its own driver thread — the same concurrent-job-group idiom the
    # DedupPipeline uses for its minhash/substring tiers. On a cluster the
    # two job groups share the executors work-conservingly; locally the
    # win is that one tier's driver-side scheduling/AQE-planning gaps
    # overlap the other tier's compute (measured ~1.5x on this operator's
    # wall at bench scale, where the per-tier job count, not data volume,
    # dominates).
    caches: list = []
    box: dict[str, DataFrame] = {}

    def _text_tier() -> None:
        star, te, box["tstats"] = _minhash_text_edges(
            docs, cfg, id_col, text_col, caches
        )
        te = te.select("src", "dst").persist()
        caches.append(te)
        te.count()
        box["text_edges"] = star.unionByName(te)

    def _vec_tier() -> None:
        ve, box["vstats"] = embedding_lsh_edges(
            embeddings, dim, cosine_threshold,
            id_col=vec_id_col, vec_col=vec_col, cache_handles=caches,
        )
        vep = ve.select("src", "dst").persist()
        caches.append(vep)
        vep.count()
        box["vec_edges"] = vep

    start_driver_threads(_text_tier, _vec_tier)()
    if oracle_guard:
        for tier, stats in (("text", box["tstats"]), ("embedding", box["vstats"])):
            srow = stats.collect()[0]
            if (srow["hot_buckets"] or 0) > 0:
                raise RuntimeError(
                    f"cross_modal_dedup oracle guard: {tier} tier "
                    f"star-truncated {srow['hot_buckets']} hot bucket(s) — "
                    "the exhaustive union-edge SQL oracle is not sound here"
                )
    edges = box["text_edges"].unionByName(box["vec_edges"])
    return _resolve_clusters(edges, docs, id_col, caches)


def embedding_cosine_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_gap: int = 50,
) -> DataFrame:
    """Embedding near-dup clusters: pairs with cosine >= threshold → CC.

    Candidate generation here is id-gap blocked — a BOUNDED-WINDOW demo
    of the verify + CC stages (it cannot find a near-dup more than
    ``block_gap`` ids away). The production path is
    :func:`embedding_lsh_dedup`, which swaps the id-gap blocking for
    hyperplane-LSH buckets through the salted pair generator. The gap
    bound is an equi JOIN key (bucket = floor(id/gap), dst exploded to
    bucket and bucket-1), not a non-equi predicate: the previous
    ``src < dst`` join condition planned as a BroadcastNestedLoopJoin —
    O(N²) compares before any filter.
    """
    from .simsearch import with_norm, cosine_expr

    e = with_norm(embeddings, id_col=id_col, vec_col=vec_col)
    a = e.select(
        F.col(id_col).alias("src"), F.col("vec_d").alias("va"), F.col("norm").alias("na"),
        F.floor(F.col(id_col) / block_gap).alias("bucket"),
    )
    b = e.select(
        F.col(id_col).alias("dst"), F.col("vec_d").alias("vb"), F.col("norm").alias("nb"),
        F.explode(
            F.array(
                F.floor(F.col(id_col) / block_gap),
                F.floor(F.col(id_col) / block_gap) - 1,
            )
        ).alias("bucket"),
    )
    pairs = a.join(b, "bucket").filter(
        (F.col("src") < F.col("dst")) & (F.col("dst") - F.col("src") <= block_gap)
    )
    sim = cosine_expr("va", "vb", "na", "nb")
    edges = pairs.select("src", "dst", sim.alias("cos")).filter(F.col("cos") >= threshold)
    return _resolve_clusters(edges, embeddings, id_col, [])
