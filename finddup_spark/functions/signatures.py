"""Signature computation (SURVEY.md §7 M3): shingles → MinHash + SimHash.

The scalar layer the reference never had (SURVEY.md §2.8) — all
Arrow-batched ``mapInPandas`` with numpy inner math, no per-row Python in
the hot path:

- tokenization + token hashing: one byte-level pass over the batch's
  concatenated UTF-8 (:func:`~finddup_spark.hashing.token_hash_stream`:
  tokens are maximal non-whitespace byte runs, each hashed by its
  polynomial byte-span hash — no Python string per token);
- shingling: ONE global masked window op over the concatenated token-hash
  array of the whole batch (:func:`~finddup_spark.hashing.window_hashes`;
  windows crossing doc boundaries masked out);
- MinHash: one-permutation hashing, one hash pass + scatter-min into
  bins per batch (:func:`~finddup_spark.hashing.oph_signatures_segmented`);
- SimHash: segmented bit-vote matrix (``np.add.reduceat``).

uint64 values are stored reinterpreted as int64 (Spark LongType); the
mapping is bijective and applied identically in the mirror oracle, and
only equality of signatures ever matters.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from ..config import DEFAULT_CONFIG, DedupConfig
from ..hashing import (
    band_hashes,
    distinct_per_doc,
    oph_signatures_segmented,
    simhash_batch,
    token_hash_stream,
    window_hashes,
)

_I64 = np.int64


def _batch_windows(
    texts: pd.Series, cfg: DedupConfig
) -> tuple[np.ndarray, np.ndarray]:
    """(flat window hashes grouped by doc in batch order, windows per doc)
    — the RAW shingle multiset of one Arrow batch, no deduplication.

    Fully vectorized and string-free: the batch's texts are concatenated
    into ONE byte buffer, tokenized + hashed by
    :func:`~finddup_spark.hashing.token_hash_stream` (no Python string
    objects), then one global masked window op
    (:func:`~finddup_spark.hashing.window_hashes`). Docs shorter than k
    tokens get one whole-doc shingle.

    This is the signature-kernel fast path: MinHash (min over a multiset
    equals min over its distinct set) and SimHash (per-occurrence votes
    equal multiplicity-weighted distinct votes) never need the
    deduplicated form, so the batch-wide lexsort+unique lives only in
    :func:`_batch_shingles` (verification / callers that need set form).
    """
    n_docs = len(texts)
    enc = [
        t.encode("utf-8") if isinstance(t, str) else b""
        for t in texts
    ]
    doc_starts = np.zeros(n_docs, dtype=np.int64)
    if n_docs > 1:
        np.cumsum([len(e) + 1 for e in enc[:-1]], out=doc_starts[1:])
    tok_h, tok_off = token_hash_stream(b"\n".join(enc), cfg.seed)
    tok_doc = np.searchsorted(doc_starts, tok_off, side="right") - 1
    return window_hashes(tok_h, tok_doc, n_docs, cfg.shingle_k)


def _batch_shingles(
    texts: pd.Series, cfg: DedupConfig
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Per-doc (unique shingle hashes, multiplicities) for one Arrow batch
    — the SET form of :func:`_batch_windows`, deduplicated per doc by
    :func:`~finddup_spark.hashing.distinct_per_doc`. Used by verification
    (exact set-Jaccard needs distinct shingles)."""
    u, per_doc, mult = distinct_per_doc(*_batch_windows(texts, cfg))
    bounds = np.cumsum(per_doc)
    # n_docs + 1 pieces; the last, u[bounds[-1]:], is always empty
    return (
        np.split(u, bounds)[:-1],
        np.split(mult.astype(np.float64), bounds)[:-1],
    )


def compute_signatures(
    pages: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_bands: bool = False,
    with_minhash: bool = True,
) -> DataFrame:
    """signatures(doc_id[, minhash binary][, bands array<long>],
    simhash long, n_shingles) for every valid page.

    ``with_bands=True`` folds the LSH band hashing into the same kernel
    pass, so the pipeline can skip materializing the 1 KB/row minhash
    binary entirely (``with_minhash=False``): the 32 band hashes
    (256 B/row) are all LSH needs, and pair verification re-shingles from
    text. Cuts the signature stage's write+read bytes ~4x.

    minhash travels as BINARY (raw little-endian uint64 bytes): Arrow
    binary columns are a memcpy per row, while array<long> pays a
    per-element JVM conversion — measured 3x end-to-end on the signature
    stage. Shingle sets are not materialized: on the 60k-row synthetic
    corpus a doc averages 254 distinct shingles (~2.0 KB as uint64
    hashes) against ~2.4 KB of text, and verification re-shingles from
    text (operators/lsh.verify_pairs).
    """
    # Sub-slice each Arrow batch so every temporary stays cache-resident:
    # measured 10x single-thread and ~4x at 32-way concurrency vs
    # whole-batch processing (memory bandwidth, not FLOPs, is the budget).
    SLICE = 512
    fields = [StructField("doc_id", LongType())]
    if with_minhash:
        fields.append(StructField("minhash", BinaryType()))
    if with_bands:
        fields.append(StructField("bands", ArrayType(LongType())))
    fields += [
        StructField("simhash", LongType()),
        StructField("n_shingles", LongType()),
    ]
    schema = StructType(fields)
    n_bands, rows_per_band = cfg.bands, cfg.rows_per_band

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), SLICE):
                sub = pdf.iloc[lo : lo + SLICE]
                # RAW windows, no dedup: MinHash/SimHash are multiset-
                # invariant (min over multiset == min over set; occurrence
                # votes == multiplicity-weighted votes), so the kernel
                # skips _batch_shingles' batch-wide lexsort+unique AND the
                # per-doc split/re-concat — measured ~35% off this stage.
                allsh, lengths = _batch_windows(sub[text_col], cfg)
                allw = np.ones(len(allsh), dtype=np.float64)
                # minhash matrix only when a consumer exists: the SimHash
                # tier (with_minhash=False, with_bands=False) otherwise
                # pays the full 128-bin OPH pass + 1 KB/row binary for a
                # column it never reads (guide §1.2: don't compute what
                # you throw away)
                mh = (
                    oph_signatures_segmented(
                        allsh, lengths, cfg.minhash_perms, cfg.seed
                    )
                    if (with_minhash or with_bands)
                    else None
                )
                simh = simhash_batch(allsh, allw, lengths)
                cols = {"doc_id": sub[id_col].values}
                if with_minhash:
                    cols["minhash"] = [r.tobytes() for r in mh]
                if with_bands:
                    bh = band_hashes(mh, n_bands, rows_per_band)
                    cols["bands"] = [row.view(_I64) for row in bh]
                cols["simhash"] = simh.view(_I64)
                # lineage column: shingle WINDOW count (multiset size) —
                # no downstream consumer needs the distinct count, and
                # computing it would reintroduce the per-batch sort
                cols["n_shingles"] = lengths.astype(_I64)
                yield pd.DataFrame(cols)

    valid = pages.filter(F.col(text_col).isNotNull())
    proj = valid.select(F.col(id_col).cast("long").alias(id_col), text_col)
    # ensure the UDF actually parallelizes: small/local inputs often arrive
    # as 1-2 parquet splits — spread them across the executor cores. (A
    # 100 TB input already has thousands of splits; this is a no-op there.)
    sc = pages.sparkSession.sparkContext
    if proj.rdd.getNumPartitions() < sc.defaultParallelism:
        proj = proj.repartition(sc.defaultParallelism)
    return proj.mapInPandas(fn, schema)


def explode_bands(signatures: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """bands(band_id int, band_hash long, doc_id long) — the LSH index
    (SURVEY.md §1.3). ``posexplode`` plays the UDTF role (§2.10).

    The band hashes come precomputed from the signature kernel
    (``compute_signatures(..., with_bands=True)``, which takes the band
    layout from ``cfg``), so this is a pure JVM explode with no Python
    round-trip."""
    if "bands" not in signatures.columns:
        raise ValueError(
            "explode_bands needs the 'bands' column — compute the "
            "signatures with compute_signatures(..., with_bands=True)"
        )
    return signatures.select(
        "doc_id", F.posexplode("bands").alias("band_id", "band_hash")
    ).select("band_id", "band_hash", "doc_id")
