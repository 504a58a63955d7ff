"""Connected-components cluster resolution (SURVEY.md §7 M5).

The reference assigns one shared id per dup group by insertion order
(``create_file_ids``, ``finddup.py:1007-1047``); with fuzzy edges the dup
relation is no longer transitive-by-construction, so clusters are the
connected components of the verified-edge graph. One method per size
regime: a graph of at most ``driver_threshold`` edges is collected and
solved with union-find on the driver; a larger one runs alternating
large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14 — public algorithm), O(log n) rounds
regardless of component diameter, with ``localCheckpoint`` every few
rounds to truncate plan lineage (SURVEY.md §4 custom-(b)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    id_col: str = "doc_id",
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """clusters(doc_id, cluster_id) — cluster_id = min doc_id in component.

    ``edges``: (src, dst). ``vertices``: optional (doc_id) universe; docs
    with no edges come out as singleton clusters (cluster_id = doc_id).

    Cardinality-dependent strategy switch (the reference's P4 principle,
    ``finddup.py:434-467``, generalized): a verified-edge graph below
    ``driver_threshold`` edges is collected and solved with union-find on
    the driver in milliseconds — near-dup edge sets are tiny relative to
    the corpus even at 100 TB (edges ≈ dup pairs, not pages). Above the
    threshold :func:`connected_components_star` runs.
    """
    edges = edges.persist()
    # limit-guarded collect: ONE action decides the strategy AND feeds
    # the driver path (the previous count-then-collect pair cost an extra
    # full action per dedup call). At most driver_threshold + 1 rows ever
    # reach the driver; overflow means the distributed path runs against
    # the (partially) persisted edges.
    probe = edges.select("src", "dst").limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        out = _driver_cc(edges, vertices, id_col, rows=probe)
    else:
        out = connected_components_star(edges, vertices, id_col=id_col)
    edges.unpersist()  # both paths have run their actions
    return out


def _with_singletons(
    result: DataFrame, vertices: DataFrame | None, id_col: str
) -> DataFrame:
    """Append every vertex without a label as its own cluster."""
    if vertices is None:
        return result
    singles = (
        vertices.select(F.col(id_col).cast("long").alias(id_col))
        .join(result, id_col, "left_anti")
        .withColumn("cluster_id", F.col(id_col))
    )
    return result.unionByName(singles)


def _driver_cc(
    edges: DataFrame,
    vertices: DataFrame | None,
    id_col: str,
    rows: list | None = None,
) -> DataFrame:
    """Small-graph path: collect edges (or take the caller's
    already-collected ``rows``), union-find with min-root unions,
    parallelize assignments back (non-edge vertices via left-anti join)."""
    spark = edges.sparkSession
    if rows is None:
        rows = edges.select("src", "dst").collect()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        p = parent.setdefault(x, x)
        while p != parent[p]:
            parent[p] = parent[parent[p]]
            p = parent[p]
        parent[x] = p
        return p

    for r in rows:
        ra, rb = find(int(r.src)), find(int(r.dst))
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    if parent:
        import numpy as np
        import pandas as pd

        ks = np.fromiter(parent.keys(), dtype=np.int64, count=len(parent))
        roots = np.array([find(int(x)) for x in ks], dtype=np.int64)
        # pandas → Arrow → JVM: the tuple-list path pickles rows through a
        # python-RDD scan job (~4 s per call at any size — guide §6 "Arrow
        # for driver transfers"); the Arrow path is a driver-side memcpy
        result = spark.createDataFrame(
            pd.DataFrame({id_col: ks, "cluster_id": roots}),
            f"{id_col} long, cluster_id long",
        )
    else:
        # no edges at all: every vertex is a singleton — identical to the
        # general path below (empty ∪ (vertices ⟕̸ empty)) minus the
        # anti-join/union plan nodes it would burn on a no-dup corpus
        if vertices is not None:
            return vertices.select(
                F.col(id_col).cast("long").alias(id_col),
                F.col(id_col).cast("long").alias("cluster_id"),
            )
        result = spark.createDataFrame([], f"{id_col} long, cluster_id long")
    return _with_singletons(result, vertices, id_col)


def connected_components_star(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 50,
    checkpoint_every: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm). Converges in O(log n) rounds even for
    path-shaped components where plain min-label propagation needs
    O(diameter) — the scale path for pathological web graphs (long
    redirect/mirror chains). Output contract matches
    :func:`connected_components`: (doc_id, cluster_id = component min).

    large-star: every node's strictly-LARGER neighbors re-attach to the
    minimum of its closed neighborhood; small-star: every node's
    smaller-or-equal neighbors (and itself) attach to that minimum.
    Both preserve connectivity; their fixpoint is a star per component.
    """
    spark = edges.sparkSession

    e = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).cast("long").alias("u"),
            F.greatest(F.col("src"), F.col("dst")).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )

    def _signature(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent set digest without ANSI overflow;
            # TWO independent 64-bit digests (different arg order seeds a
            # different hash) — a false fixpoint now needs a simultaneous
            # 128-bit collision between consecutive distinct edge sets
            F.expr("bit_xor(xxhash64(u, v))").alias("h1"),
            F.expr("bit_xor(xxhash64(v, u))").alias("h2"),
        ).collect()[0]
        return (row.n, row.h1, row.h2)

    prev_sig = _signature(e)
    converged = False
    for it in range(max_iters):
        # ---- large-star ----
        sym = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(
                F.least(F.col("v"), F.col("m")).alias("u"),
                F.greatest(F.col("v"), F.col("m")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star (on the large-star output) ----
        lsym = large.select(
            F.col("v").alias("u"), F.col("u").alias("v")
        )  # point each edge from its larger endpoint down
        smins = lsym.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            lsym.join(smins, "u")
            .select("u", "v", "m")
        )
        new_e = (
            small.select(
                F.least(F.col("v"), F.col("m")).alias("u"),
                F.greatest(F.col("v"), F.col("m")).alias("v"),
            )
            .unionByName(small.select(
                F.least(F.col("u"), F.col("m")).alias("u"),
                F.greatest(F.col("u"), F.col("m")).alias("v"),
            ))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        if (it + 1) % checkpoint_every == 0:
            new_e = new_e.localCheckpoint(eager=True)
        else:
            new_e = new_e.persist()
        sig = _signature(new_e)
        e.unpersist()
        e = new_e
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig

    if not converged:
        # label extraction below assumes the graph is a union of DISJOINT
        # stars rooted at each component's minimum, which only holds at
        # the fixpoint — exiting silently via max_iters would produce
        # wrong labels. Star-shape alone (no root appears as a member) is
        # NOT enough: a member hanging under two roots still passes it,
        # yet its two roots belong to one component and would get
        # different labels. Verify both properties and fail loudly; with
        # edges canonicalized u < v, disjoint stars are automatically
        # rooted at their component minimum.
        non_star = (
            e.select(F.col("u").alias("x"))
            .join(e.select(F.col("v").alias("x")), "x", "left_semi")
            .limit(1)
            .count()
        )
        multi_root = (
            e.groupBy("v").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .count()
        )
        if non_star or multi_root:
            raise RuntimeError(
                f"star CC did not converge in {max_iters} iterations "
                "(non-star or multi-root edges remain) — raise max_iters"
            )

    # converged: every edge is (root, member) with root = component min
    labels = e.select(
        F.col("v").alias(id_col), F.col("u").alias("cluster_id")
    )
    roots = e.select(F.col("u").alias(id_col)).distinct().withColumn(
        "cluster_id", F.col(id_col)
    )
    result = labels.unionByName(roots).groupBy(id_col).agg(
        F.min("cluster_id").alias("cluster_id")
    )
    return _with_singletons(result, vertices, id_col)
