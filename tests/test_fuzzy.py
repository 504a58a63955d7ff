"""Fuzzy tier (M3-M5) vs the mirror oracle: identical signatures,
candidates, edges, clusters; hot-bucket salting preserves connectivity;
SimHash chunk-index candidates."""

from collections import defaultdict
from dataclasses import replace

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from finddup_spark.config import DEFAULT_CONFIG
from finddup_spark.functions.signatures import compute_signatures, explode_bands
from finddup_spark.operators.cc import connected_components
from finddup_spark.operators.lsh import (
    bucket_histogram,
    candidate_pairs,
    simhash_candidate_pairs,
    verify_pairs,
)
from finddup_spark.oracle import run_oracle
from finddup_spark.sources.tables import load_pages


def _cluster_pairs(assign: dict[int, int]) -> set[tuple[int, int]]:
    g = defaultdict(list)
    for d, c in assign.items():
        g[c].append(d)
    out = set()
    for mem in g.values():
        mem.sort()
        out.update((mem[i], mem[j]) for i in range(len(mem)) for j in range(i + 1, len(mem)))
    return out


@pytest.fixture(scope="module")
def fuzzy(spark, tiny_corpus):
    pages = load_pages(spark, tiny_corpus[0])
    sigs = compute_signatures(pages, with_bands=True).cache()
    bands = explode_bands(sigs)
    pairs, stats = candidate_pairs(bands)
    edges = verify_pairs(pairs, pages).cache()
    clusters = connected_components(
        edges, vertices=pages.filter("text is not null").select("doc_id")
    ).toPandas()
    docs = pages.select("doc_id", "text").toPandas()
    oracle = run_oracle(docs)
    return sigs, pairs.toPandas(), edges.toPandas(), clusters, oracle


def test_signatures_match_oracle_exactly(fuzzy):
    sigs, _, _, _, oracle = fuzzy
    spdf = sigs.toPandas()
    assert len(spdf) == len(oracle.signatures)
    for _, row in spdf.iterrows():
        did = int(row.doc_id)
        mh = np.frombuffer(row.minhash, dtype=np.uint64)
        assert (mh == oracle.signatures[did]).all()
        assert int(np.int64(row.simhash).astype(np.uint64)) == oracle.simhash[did]


def test_candidates_and_edges_match_oracle(fuzzy):
    _, pairs, edges, _, oracle = fuzzy
    sp = set(map(tuple, pairs[["src", "dst"]].values.tolist()))
    assert sp == oracle.candidate_pairs
    se = set(map(tuple, edges[["src", "dst"]].values.tolist()))
    assert se == oracle.edges
    # verified similarity values agree with exact set Jaccard
    for _, r in edges.iterrows():
        assert abs(r.sim - oracle.jaccard[(r.src, r.dst)]) < 1e-9


def test_cluster_assignments_match_oracle(fuzzy):
    """North rule: dup-pair recall >= 0.99 — measured: identical (1.0)."""
    _, _, _, clusters, oracle = fuzzy
    assign = dict(zip(clusters.doc_id, clusters.cluster_id))
    assert assign == oracle.clusters
    op, sp = _cluster_pairs(oracle.clusters), _cluster_pairs(assign)
    recall = len(op & sp) / max(len(op), 1)
    assert recall >= 0.99


def test_cluster_id_is_min_member(fuzzy):
    _, _, _, clusters, _ = fuzzy
    m = clusters.groupby("cluster_id")["doc_id"].min()
    assert (m.index == m.values).all()


def test_hot_bucket_salting_preserves_connectivity(spark, tiny_corpus):
    """Force every dup bucket through the salted path (cap=2) AND force
    the within-shard star fallback (shard_allpairs_cap=1, the round-3
    policy) — true clusters must stay connected; truncation must be
    reported. The all-pairs default (which drives truncation to
    cross-shard-only) is covered by
    test_hot_bucket_within_shard_allpairs_recall."""
    cfg = replace(
        DEFAULT_CONFIG,
        hot_bucket_cap=2,
        salt_shards=4,
        max_salt_shards=4,
        shard_allpairs_cap=1,
    )
    pages = load_pages(spark, tiny_corpus[0])
    sigs = compute_signatures(pages, cfg, with_bands=True).cache()
    pairs, stats = candidate_pairs(explode_bands(sigs, cfg), cfg)
    edges = verify_pairs(pairs, pages, cfg)
    clusters = connected_components(
        edges, vertices=pages.filter("text is not null").select("doc_id")
    ).toPandas()
    st = stats.toPandas().iloc[0]
    assert st.hot_buckets > 0
    assert st.pairs_truncated_upper_bound > 0  # reported, not silent

    docs = pages.select("doc_id", "text").toPandas()
    oracle = run_oracle(docs, cfg)
    assign = dict(zip(clusters.doc_id, clusters.cluster_id))
    # exact-dup groups (J=1 between every pair) must remain fully
    # connected even though the candidate set is truncated
    texts = docs.dropna().groupby("text")["doc_id"].apply(list)
    for mem in texts[texts.str.len() > 1]:
        assert len({assign[d] for d in mem}) == 1
    # overall cluster-pair recall stays high (star edges verify at J=1
    # for exact groups; near-dup clusters are far below the cap)
    op, sp = _cluster_pairs(oracle.clusters), _cluster_pairs(assign)
    assert len(op & sp) / max(len(op), 1) >= 0.99


def test_bucket_histogram(spark, tiny_corpus):
    pages = load_pages(spark, tiny_corpus[0])
    sigs = compute_signatures(pages, with_bands=True)
    hist = bucket_histogram(explode_bands(sigs)).toPandas()
    assert (hist.bucket_size >= 1).all()
    assert hist.n_buckets.sum() > 0


def test_simhash_candidates_find_exact_dups(spark, tiny_corpus):
    pages = load_pages(spark, tiny_corpus[0])
    sigs = compute_signatures(pages).cache()
    cand = simhash_candidate_pairs(sigs, hamming_radius=3).toPandas()
    # every exact-dup group has one identical simhash → its members are a
    # hamming-0 star rooted at the group min (the fingerprint-collapse
    # stage), so the group is CONNECTED in the candidate edge set — the
    # operator contract is connectivity for CC, not exhaustive pairs
    texts = pages.select("doc_id", "text").toPandas().dropna()
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in cand[["src", "dst"]].values.tolist():
        parent[find(s)] = find(d)
    for _, grp in texts.groupby("text"):
        ids = sorted(grp.doc_id)
        assert len({find(i) for i in ids}) == 1, ids
    star = cand[cand.hamming == 0]
    assert (star.src < star.dst).all()
    assert (cand.hamming <= 3).all()


def test_cc_handles_empty_edges(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    verts = spark.range(5).withColumnRenamed("id", "doc_id")
    out = connected_components(edges, vertices=verts).toPandas()
    assert (out.doc_id == out.cluster_id).all() and len(out) == 5


def test_cc_chain_converges(spark):
    """Path graph 0-1-2-...-9 → single component labeled 0 — on BOTH the
    driver union-find path and the distributed large-star/small-star
    path (driver_threshold=0)."""
    rows = [(i, i + 1) for i in range(9)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    out = connected_components(edges).toPandas()  # driver path (small)
    assert set(out.cluster_id) == {0} and len(out) == 10
    out2 = connected_components(edges, driver_threshold=0).toPandas()
    assert set(out2.cluster_id) == {0} and len(out2) == 10


def test_star_cc_matches_union_find(spark):
    """Large-star/small-star CC (SoCC'14) must produce exactly the
    union-find clusters — including on a PATH graph, the worst case for
    plain min-label propagation (diameter = n)."""
    import random

    from finddup_spark.operators.cc import (
        _driver_cc,
        connected_components_star,
    )

    cases = []
    # path 0-1-2-...-19 (single component, max diameter)
    cases.append([(i, i + 1) for i in range(19)])
    # two cliques + an isolated edge
    cases.append(
        [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [(10 + a, 10 + b) for a in range(4) for b in range(a + 1, 4)]
        + [(100, 101)]
    )
    rng = random.Random(42)
    cases.append([(rng.randrange(50), rng.randrange(50)) for _ in range(60)])

    for pairs in cases:
        pairs = [(a, b) for a, b in pairs if a != b]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        got = (
            connected_components_star(edges)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        want = (
            _driver_cc(edges, None, "doc_id")
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        assert got.equals(want), (pairs[:5], len(pairs))


def test_star_cc_singleton_vertices(spark):
    from finddup_spark.operators.cc import connected_components_star

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,), (7,)], "doc_id long")
    out = connected_components_star(edges, vertices=verts).toPandas()
    got = dict(zip(out.doc_id, out.cluster_id))
    assert got == {1: 1, 2: 1, 7: 7}


def test_hot_bucket_within_shard_allpairs_recall(spark):
    """Round-3 recall gap, closed: a NEAR-(not exact-)dup pair inside a
    >hot_bucket_cap MIXED bucket (near-dups sharing a bucket with a
    dissimilar flood) must be recovered at the verify threshold —
    within-shard pairs directly by the new within-shard all-pairs,
    shard-minimum pairs by the rep clique — and the truncation upper
    bound must count ONLY cross-shard non-rep pairs. The old
    within-shard star (shard_allpairs_cap=1) provably loses the
    within-shard pair on the same input."""
    cfg = replace(
        DEFAULT_CONFIG, hot_bucket_cap=8, salt_shards=4, max_salt_shards=4
    )
    n_sh = 4  # bucket is hot and > 8*4 / cap clamps to max_salt_shards

    # deterministic salt of every candidate id under the engine's rule
    probe = spark.range(0, 2000).select(
        F.col("id").cast("long").alias("doc_id"),
        F.pmod(F.xxhash64(F.col("id").cast("long")), F.lit(n_sh)).alias("salt"),
    ).toPandas()
    salt = dict(zip(probe.doc_id, probe.salt))

    flood_ids = list(range(100, 140))  # 40 dissimilar docs, ids BELOW family A
    # every shard must contain a flood member (so family-A members are
    # never shard minima — the adversarial placement)
    assert {salt[i] for i in flood_ids} == set(range(n_sh))

    # family A: two near-dup variants in the SAME shard, ids above the
    # flood → neither is its shard's minimum (round-3 star lost this pair)
    a1 = next(i for i in range(1000, 2000) if True)
    a2 = next(i for i in range(a1 + 1, 2000) if salt[i] == salt[a1])
    # family B: two near-dup variants in DIFFERENT shards, ids below the
    # flood → each IS its shard's minimum, recovered by the rep clique
    b1 = 1
    b2 = next(i for i in range(2, 99) if salt[i] != salt[b1])

    def variant(base: str, v: int) -> str:
        toks = [f"{base}{j}" for j in range(200)]
        toks[v] = f"{base}x{v}"
        return " ".join(toks)

    rows = [(a1, variant("a", 0)), (a2, variant("a", 1)),
            (b1, variant("b", 0)), (b2, variant("b", 1))]
    rows += [(i, " ".join(f"f{i}_{j}" for j in range(30))) for i in flood_ids]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    all_ids = [r[0] for r in rows]
    bands = spark.createDataFrame(
        [(0, 0, i) for i in all_ids], "band_id int, band_hash long, doc_id long"
    )

    caches: list = []
    pairs, stats = candidate_pairs(bands, cfg, cache_handles=caches)
    got = {(r.src, r.dst) for r in pairs.collect()}
    assert (min(a1, a2), max(a1, a2)) in got  # within-shard all-pairs
    assert (min(b1, b2), max(b1, b2)) in got  # cross-shard rep clique

    # verified edges: exactly the two planted near-dup pairs → recall 1.0
    edges = {(r.src, r.dst) for r in verify_pairs(pairs, docs, cfg).collect()}
    truth = {(min(a1, a2), max(a1, a2)), (min(b1, b2), max(b1, b2))}
    assert edges == truth

    # truncation bound is exactly the cross-shard non-rep count
    from collections import Counter

    w = Counter(salt[i] for i in all_ids)
    n = len(all_ids)
    expected = (
        n * (n - 1) // 2
        - sum(c * (c - 1) // 2 for c in w.values())
        - len(w) * (len(w) - 1) // 2
    )
    st = stats.toPandas().iloc[0]
    assert int(st.hot_buckets) == 1
    assert int(st.pairs_truncated_upper_bound) == expected
    # strictly better than the round-3 star bound on the same bucket
    assert expected < n * (n - 1) // 2 - (n - 1)
    for h in caches:
        h.unpersist()

    # regression witness: the round-3 within-shard star policy loses the
    # within-shard pair (its shard rep is a dissimilar flood doc) while
    # the rep-clique pair survives
    caches2: list = []
    star_pairs, _ = candidate_pairs(
        bands, replace(cfg, shard_allpairs_cap=1), cache_handles=caches2
    )
    got_star = {(r.src, r.dst) for r in star_pairs.collect()}
    assert (min(a1, a2), max(a1, a2)) not in got_star
    assert (min(b1, b2), max(b1, b2)) in got_star
    for h in caches2:
        h.unpersist()


def test_candidate_pairs_payload_branches(spark):
    """Payload columns must survive every pair branch — small all-pairs,
    within-shard all-pairs, the star (whose rep payload comes from
    min_by), and the rep clique — and the pair predicate must filter the
    stream (it runs before the cross-band distinct)."""
    ids = list(range(10))
    bands = spark.createDataFrame(
        [(0, 0, i, i * 10) for i in ids],
        "band_id int, band_hash long, doc_id long, tag long",
    )

    # star regime: every shard wider than 1 degrades to min-id star
    cfg_star = replace(
        DEFAULT_CONFIG, hot_bucket_cap=4, salt_shards=2, max_salt_shards=2,
        shard_allpairs_cap=1,
    )
    pairs, _ = candidate_pairs(bands, cfg_star, payload_col="tag")
    rows = {(r.src, r.dst): (r.p_src, r.p_dst) for r in pairs.collect()}
    assert rows, "star regime produced no pairs"
    for (s, d), (ps, pd_) in rows.items():
        assert (ps, pd_) == (s * 10, d * 10), (s, d, ps, pd_)

    # all-pairs regime: full coverage with correct payloads
    cfg_ap = replace(DEFAULT_CONFIG, hot_bucket_cap=4, salt_shards=2,
                     max_salt_shards=2)
    pairs2, _ = candidate_pairs(bands, cfg_ap, payload_col="tag")
    rows2 = {(r.src, r.dst): (r.p_src, r.p_dst) for r in pairs2.collect()}
    for (s, d), (ps, pd_) in rows2.items():
        assert (ps, pd_) == (s * 10, d * 10)

    # predicate filters the stream (only near-tag pairs survive)
    pairs3, _ = candidate_pairs(
        bands, cfg_ap, payload_col="tag",
        pair_predicate=lambda a, b: (b - a) <= F.lit(10),
    )
    got3 = {(r.src, r.dst) for r in pairs3.collect()}
    assert got3 and all(d - s == 1 for s, d in got3)

    # no payload: legacy shape (src, dst) only
    pairs4, _ = candidate_pairs(bands, cfg_ap)
    assert pairs4.columns == ["src", "dst"]


def test_simhash_auto_widen_recovers_truncated_recall(spark):
    """VERDICT r4 ask #4: when the chunk path star-truncates hot buckets,
    the widen pass (Manku wide-key tables over ONLY the truncated
    members) must restore the brute-force Hamming clustering with no
    manual flag — chunk edges ∪ widen edges cluster identically to the
    ground-truth edge set, at subset cost."""
    import numpy as np

    from finddup_spark.operators.lsh import simhash_widen_edges

    rng = np.random.default_rng(11)
    n = 4000
    cohort = rng.integers(0, 4, size=n)
    shared = np.array([0x1234ABCD00000000, 0x1234ABCE00000000,
                       0x77770000AAAA0000, 0x00FF00FF00000000], dtype=np.uint64)
    lows = rng.integers(0, 1 << 32, size=n, dtype=np.uint64)
    f1 = (np.uint64(1) << rng.integers(32, 64, size=n, dtype=np.uint64))
    f2 = (np.uint64(1) << rng.integers(32, 64, size=n, dtype=np.uint64))
    fps = ((shared[cohort] | lows) ^ f1 ^ f2).astype(np.int64)
    rows = [(int(i), int(fps[i])) for i in range(n)]
    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")

    caches: list = []
    cand, stats, trunc = simhash_candidate_pairs(
        sigs, hamming_radius=3, cache_handles=caches, return_truncated=True
    )
    cand = cand.persist()
    cand.count()
    srow = stats.collect()[0]
    assert (srow.pairs_truncated_upper_bound or 0) > 0  # chunk path IS lossy here
    n_trunc = trunc.count()
    assert 0 < n_trunc < n  # the widen pass re-keys a strict subset

    wide = simhash_widen_edges(trunc, hamming_radius=3, cache_handles=caches)
    union_edges = [(r.src, r.dst) for r in
                   cand.select("src", "dst").unionByName(
                       wide.select("src", "dst")).collect()]
    for h in caches + [cand]:
        h.unpersist()

    # local union-find over each edge set → cluster maps must be EQUAL:
    # all union edges are Hamming-verified (no spurious merges) and every
    # truth pair is connected (directly, via star/rep-clique transitives,
    # or through the widen recovery)
    ids = np.arange(n)
    vals = fps.astype(np.uint64)
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    truth_edges = []
    for i in range(n):
        x = (vals[i] ^ vals).view(np.uint8).reshape(-1, 8)
        ham = lut[x].sum(axis=1)
        for j in np.nonzero(ham <= 3)[0]:
            if i < j:
                truth_edges.append((int(ids[i]), int(ids[j])))

    def clusters(edges):
        parent = {int(i): int(i) for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {i: find(int(i)) for i in ids}

    assert clusters(union_edges) == clusters(truth_edges)


def test_simhash_block_tables_vs_brute_force(spark):
    """Manku wide-key block tables (simhash_widen_edges: n_blocks=6,
    C(6,3)=20 tables of ~32-bit keys), run over the WHOLE fingerprint
    set of a correlated corpus — the shared-prefix pattern that floods
    16-bit chunk buckets: the wide keys dissolve the hot tail, and when
    no bucket is truncated the verified edge set equals the brute-force
    Hamming<=r ground truth EXACTLY (pigeonhole completeness + exact
    verification). The chunk scheme on the same corpus is a subset of
    truth (its floods are star-truncated, counted in stats), and both
    schemes find every planted near pair."""
    import numpy as np

    from finddup_spark.operators.lsh import simhash_widen_edges

    rng = np.random.default_rng(11)
    n = 4000
    # correlated corpus: upper 32 bits NEARLY shared by whole cohorts
    # (each doc flips 2 random upper bits — the realistic boilerplate
    # pattern: heavy bit-vote correlation, not byte-identical halves),
    # lower 32 random. A 16-bit chunk of the upper half survives both
    # flips with P=.25 → chunk buckets of ~250 same-value docs (hot);
    # any ~32-bit block-combo key overlapping the flips almost never
    # repeats → the wide keys stay cool.
    cohort = rng.integers(0, 4, size=n)
    shared = np.array([0x1234ABCD00000000, 0x1234ABCE00000000,
                       0x77770000AAAA0000, 0x00FF00FF00000000], dtype=np.uint64)
    lows = rng.integers(0, 1 << 32, size=n, dtype=np.uint64)
    f1 = (np.uint64(1) << rng.integers(32, 64, size=n, dtype=np.uint64))
    f2 = (np.uint64(1) << rng.integers(32, 64, size=n, dtype=np.uint64))
    fps = ((shared[cohort] | lows) ^ f1 ^ f2).astype(np.int64)
    # planted Hamming<=3 pairs at fresh ids
    base = rng.integers(0, 1 << 63, size=20, dtype=np.uint64).astype(np.int64)
    rows = [(int(i), int(fps[i])) for i in range(n)]
    pid = n
    planted = []
    for b in base:
        rows.append((pid, int(b)))
        flipped = int(b) ^ (1 << int(rng.integers(0, 64)))
        flipped ^= 1 << int(rng.integers(0, 64))
        rows.append((pid + 1, flipped))
        planted.append((pid, pid + 1))
        pid += 2
    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")

    chunk_edges, chunk_stats = simhash_candidate_pairs(
        sigs, hamming_radius=3, return_stats=True
    )
    block_edges, block_stats = simhash_widen_edges(
        sigs, hamming_radius=3, return_stats=True
    )
    ce = {(r.src, r.dst, r.hamming) for r in chunk_edges.collect()}
    be = {(r.src, r.dst, r.hamming) for r in block_edges.collect()}

    # brute-force Hamming<=3 ground truth (numpy popcount via 8-bit LUT)
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    vals = np.array([r[1] for r in rows], dtype=np.int64).astype(np.uint64)
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    truth = set()
    for i in range(len(ids)):
        x = (vals[i] ^ vals).view(np.uint8).reshape(-1, 8)
        ham = lut[x].sum(axis=1)
        for j in np.nonzero(ham <= 3)[0]:
            if ids[i] < ids[j]:
                truth.add((int(ids[i]), int(ids[j]), int(ham[j])))

    cs = chunk_stats.collect()[0]
    bs = block_stats.collect()[0]
    assert cs.hot_buckets > 0            # 16-bit chunks DO flood here
    assert bs.hot_buckets < cs.hot_buckets
    assert bs.max_bucket < cs.max_bucket
    # wide keys left nothing truncated → block edges ARE the ground truth
    assert (bs.pairs_truncated_upper_bound or 0) == 0
    assert be == truth
    # the chunk scheme never invents an edge; anything it lost is inside
    # its star-truncated floods, whose skipped count the stats report
    assert ce <= truth
    assert len(truth) - len(ce) <= cs.pairs_truncated_upper_bound
    # every planted pair is found by BOTH schemes
    got_c = {(s, d) for s, d, _ in ce}
    got_b = {(s, d) for s, d, _ in be}
    for s, d in planted:
        assert (s, d) in got_b and (s, d) in got_c, (s, d)
