"""Corpus-level boilerplate n-gram detection (training-pipeline operator).

Web corpora carry shared boilerplate (navigation, footers, cookie
banners) that inflates near-dup candidate buckets and pollutes training
data. The standard cure is corpus-level n-gram document frequency: a
k-token shingle appearing in more than ``min_df`` documents is
boilerplate; per-document the fraction of boilerplate shingles is a
quality signal (and the shingle list a removal mask).

The oracle-checked STRING path (``hashed=False``) is JVM-side built-ins
(split / transform / slice / array_join / explode + two hash
aggregations) — no UDF, so a DuckDB oracle reproduces the output
exactly. Shingles are k-token windows over ``split(text, " ")`` tokens
(single-space separator, empty tokens kept — DuckDB's ``string_split``);
docs shorter than k take one whole-doc shingle. This is NOT the
signature kernel's tokenizer (maximal whitespace runs): the two agree
only on single-space-separated text such as the sf corpora. The
PRODUCTION hashed path computes the same grams
through a vectorized numpy ``mapInPandas`` kernel
(:func:`_batch_space_shingles`) — the interpreted higher-order string
build measured ~500 s at 1.09M pages vs ~9 s for the kernel, and only
gram equality structure matters there (proven output-identical to the
string form by test_boilerplate_hashed_matches_string).

Scale shape: one explode (corpus tokens × ~1 row per token) feeding a
partial-aggregating groupBy on the shingle — the unavoidable shuffle of
a DF computation; the boilerplate set (rows with df >= min_df) is small
by construction (boilerplate is the HEAD of the df distribution) and
broadcasts back for the per-doc ratio join.

``hashed=True`` (the production DEFAULT) emits an 8-byte polynomial
hash per gram instead of the gram string — computed in the numpy
kernel, already per-doc distinct — so every exchanged row carries a
long instead of a ~30-60-byte k-token string: ~5-10x fewer shuffle
bytes with identical counts unless two distinct grams collide. For
non-adversarial text that happens at ~n²/2⁶⁴ over n distinct grams;
constructed text can merge distinct grams on purpose (the polynomial
hash is not collision-resistant — see :mod:`finddup_spark.hashing`).
The string form (``hashed=False``) is kept for the driver oracle query,
whose DuckDB twin recomputes shingle VALUES (the engine's polynomial
gram hash is not a DuckDB built-in), and doubles as the collision-free
reference in tests.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..hashing import distinct_per_doc, span_hash, splitmix64, window_hashes


def _batch_space_shingles(texts, k: int):
    """(flat per-doc-DISTINCT shingle hashes grouped by doc, counts/doc)
    for one Arrow batch — the vectorized twin of the JVM hashed-shingle
    expression chain (guide §4.2: batch numpy beats interpreted
    higher-order string building ~10x; measured 480 s → tens of seconds
    on the 1.09M-page corpus).

    Replicates ``split(text, " ")`` EXACTLY (single-space separator,
    empty tokens preserved — not the signature kernel's whitespace-run
    tokenizer); everything after the token spans is the shared kernel of
    :mod:`finddup_spark.hashing`: span hash, k-token windows with ONE
    whole-doc gram when a doc has fewer than k tokens, per-doc distinct.
    Hashes are polynomial rolling hashes instead of xxhash64(window
    string) — the hashed path's contract is equality structure only
    (both sides of the contamination join and the boilerplate df-count
    use the SAME function, and the oracle checks the string path); a
    window's joined string and its token sequence determine each other
    bijectively (k tokens ⇔ k-1 separator spaces), so string equality ==
    token-sequence equality, and hash equality == string equality up to
    the collision limit of :mod:`finddup_spark.hashing`.
    """
    n_docs = len(texts)
    enc = [t.encode("utf-8") if isinstance(t, str) else b"" for t in texts]
    lens = np.array([len(e) for e in enc], dtype=np.int64)
    doc_starts = np.zeros(n_docs, dtype=np.int64)
    if n_docs > 1:
        np.cumsum(lens[:-1], out=doc_starts[1:])
    doc_ends = doc_starts + lens
    b = np.frombuffer(b"".join(enc), dtype=np.uint8)

    # token spans of split(text, " "): one token per inter-space segment,
    # empties preserved; every doc has >= 1 token (split("") == [""])
    space_pos = np.flatnonzero(b == 32)
    sp_doc = np.searchsorted(doc_starts, space_pos, side="right") - 1
    cnt = np.bincount(sp_doc, minlength=n_docs).astype(np.int64) + 1
    tok_off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(cnt, out=tok_off[1:])
    total = int(tok_off[-1])
    tstart = np.empty(total, dtype=np.int64)
    tend = np.empty(total, dtype=np.int64)
    is_first = np.zeros(total, dtype=bool)
    is_first[tok_off[:-1]] = True
    tstart[is_first] = doc_starts
    tstart[~is_first] = space_pos + 1
    is_last = np.zeros(total, dtype=bool)
    is_last[tok_off[1:] - 1] = True
    tend[is_last] = doc_ends
    tend[~is_last] = space_pos

    # fold length so token b"\x00" != empty token
    tok_h = splitmix64(span_hash(b, tstart, tend) ^ (tend - tstart).astype(np.uint64))
    tok_doc = np.repeat(np.arange(n_docs, dtype=np.int64), cnt)
    return distinct_per_doc(*window_hashes(tok_h, tok_doc, n_docs, k))[:2]


def doc_shingles(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = False,
) -> DataFrame:
    """(doc_id, shingle) — DISTINCT k-token shingles per document
    (``split(text, " ")`` tokens with empty tokens kept, whole-doc
    shingle when shorter than k; the signature kernel's whitespace-run
    tokens agree only on single-space-separated text). ``hashed=True``
    replaces each shingle string with an 8-byte polynomial hash computed
    in the vectorized kernel (:func:`_batch_space_shingles`) — upstream
    of the explode and of every shuffle, so no exchange ever carries
    shingle text (and no JVM lambda ever builds a window string)."""
    # ensure_min_partitions: the shingle build is the compute-dense step —
    # a 1-2-split local input would otherwise run it on 1-2 cores (no-op
    # on corpus-scale inputs, which arrive in thousands of splits); both
    # consumers of this function share the one exchange (ReusedExchange).
    from ..session import ensure_min_partitions

    base = ensure_min_partitions(docs.filter(F.col(text_col).isNotNull()))

    if hashed:
        # PRODUCTION path: vectorized numpy kernel (guide §4.2). The JVM
        # expression chain built every window STRING through interpreted
        # higher-order lambdas (~O(tokens·k) allocations/doc) — measured
        # 480+ s for the hashed build at 1.09M pages; the kernel hashes
        # byte spans through one prefix-polynomial pass per batch. Output
        # rows are already per-doc distinct (dedup inside the kernel — no
        # distinct exchange, same as the array_distinct idiom).
        import pandas as pd
        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            [StructField(id_col, LongType()), StructField("shingle", LongType())]
        )
        SLICE = 512

        def fn(batches):
            for pdf in batches:
                for lo in range(0, len(pdf), SLICE):
                    sub = pdf.iloc[lo : lo + SLICE]
                    flat, counts = _batch_space_shingles(sub[text_col], k)
                    yield pd.DataFrame(
                        {
                            id_col: np.repeat(
                                sub[id_col].values.astype(np.int64), counts
                            ),
                            "shingle": flat.view(np.int64),
                        }
                    )

        proj = base.select(
            F.col(id_col).cast("long").alias(id_col), F.col(text_col)
        )
        return proj.mapInPandas(fn, schema)

    # string path (the SQL-oracle-checked form): JVM built-ins, per-doc
    # dedup INSIDE the array before the explode — array_distinct is
    # map-side, so the (doc_id, shingle) stream needs NO distinct
    # exchange at all (guide §2.4; output identical to the previous
    # explode-then-distinct)
    toks = F.split(F.col(text_col), " ")
    windows = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    shingles = F.when(F.size(toks) >= k, windows).otherwise(
        F.array(F.array_join(toks, " "))
    )
    return base.select(
        F.col(id_col), F.explode(F.array_distinct(shingles)).alias("shingle")
    )


def boilerplate_shingles(
    shingles: DataFrame, min_df: int
) -> DataFrame:
    """(shingle, df) — shingles whose document frequency >= min_df."""
    return (
        shingles.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )


def boilerplate_ratio(
    docs: DataFrame,
    k: int = 5,
    min_df: int | None = None,
    min_df_ratio: float = 0.05,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = True,
) -> DataFrame:
    """(doc_id, n_shingles, n_boiler, boiler_ratio) — per-document
    boilerplate contamination. ``min_df`` defaults to
    max(2, floor(n_docs * min_df_ratio)) computed from the input (one
    tiny count action, mirrored in the SQL oracle as a scalar subquery).

    ``hashed=True`` (default, the production path) shuffles 8-byte
    shingle hashes instead of shingle strings — identical output unless
    distinct shingles collide (rare on natural text, constructible on
    purpose; see :mod:`finddup_spark.hashing`); pass ``hashed=False``
    for the collision-free string form the SQL oracle can recompute.

    The boilerplate set is broadcast: by construction it is the head of
    the df distribution (|set| <= total_shingle_occurrences / min_df)."""
    sh = doc_shingles(docs, k, id_col, text_col, hashed=hashed)
    if min_df is None:
        n_docs = docs.filter(F.col(text_col).isNotNull()).count()
        min_df = max(2, int(n_docs * min_df_ratio))
    bp = boilerplate_shingles(sh, min_df).select("shingle")
    joined = sh.join(
        F.broadcast(bp).withColumn("__bp", F.lit(1)), "shingle", "left"
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce("__bp", F.lit(0))).cast("long").alias("n_boiler"),
        F.round(
            F.sum(F.coalesce("__bp", F.lit(0))) / F.count(F.lit(1)), 6
        ).alias("boiler_ratio"),
    )
