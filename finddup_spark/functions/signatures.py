"""Signature computation (SURVEY.md §7 M3): shingles → MinHash + SimHash.

The scalar layer the reference never had (SURVEY.md §2.8) — all
Arrow-batched ``mapInPandas`` with numpy inner math, no per-row Python in
the hot path:

- tokenization: pandas C-level ``.str.split()``;
- token hashing: FNV-1a over the *unique* vocabulary of the batch only
  (Zipf text ⇒ |vocab| ≪ |tokens|), then gather;
- shingling: ONE global masked window op over the concatenated token-hash
  array of the whole batch (windows crossing doc boundaries masked out);
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
    oph_signatures_segmented,
    shingle_hashes,
    simhash_batch,
    splitmix64,
    token_hash_stream,
)

_I64 = np.int64


def _batch_windows(
    texts: pd.Series, cfg: DedupConfig
) -> tuple[np.ndarray, np.ndarray]:
    """(flat window hashes grouped by doc in batch order, windows per doc)
    — the RAW shingle multiset of one Arrow batch, no deduplication.

    Fully vectorized and string-free: the batch's texts are concatenated
    into ONE byte buffer, tokenized + hashed with the prefix-product
    rolling hash (hashing.token_hash_stream — no Python string objects),
    then one global masked window op. Docs shorter than k tokens get one
    whole-doc shingle (spliced in at their segment position — rare).

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
    data = b"\n".join(enc)
    doc_starts = np.zeros(n_docs, dtype=np.int64)
    if n_docs > 1:
        np.cumsum([len(e) + 1 for e in enc[:-1]], out=doc_starts[1:])
    tok_h, tok_off = token_hash_stream(data, cfg.seed)
    if len(tok_h) == 0:
        return np.empty(0, np.uint64), np.zeros(n_docs, dtype=np.int64)
    doc_idx = np.searchsorted(doc_starts, tok_off, side="right") - 1
    lengths = np.bincount(doc_idx, minlength=n_docs)

    k = cfg.shingle_k
    offsets = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])

    N = len(tok_h)
    if N >= k:
        # global polynomial window (same math as hashing.shingle_hashes)
        from ..hashing import SHINGLE_MULT

        vals = np.full(k, SHINGLE_MULT, dtype=np.uint64)
        vals[0] = np.uint64(1)
        powers = np.multiply.accumulate(vals)[::-1].copy()
        n_win = N - k + 1
        acc = np.zeros(n_win, dtype=np.uint64)
        for j in range(k):
            acc += tok_h[j : j + n_win] * powers[j]
        win_h = splitmix64(acc)
        valid = doc_idx[:n_win] == doc_idx[k - 1 :]  # window inside one doc
        w_doc = doc_idx[:n_win][valid]
        flat = win_h[valid]  # doc-contiguous: doc_idx is nondecreasing
        counts = np.bincount(w_doc, minlength=n_docs)
    else:
        flat = np.empty(0, np.uint64)
        counts = np.zeros(n_docs, dtype=np.int64)

    # short docs (0 < n < k): one whole-doc shingle (rare — small loop),
    # spliced into the flat array at each doc's segment start
    short = np.nonzero((lengths > 0) & (lengths < k))[0]
    if len(short):
        seg_starts = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(counts, out=seg_starts[1:])
        ins_pos, ins_val = [], []
        for d in short:
            h = shingle_hashes(tok_h[offsets[d] : offsets[d] + lengths[d]], k)
            ins_pos.extend([int(seg_starts[int(d)])] * len(h))
            ins_val.extend(h.tolist())
        flat = np.insert(flat, ins_pos, np.array(ins_val, dtype=np.uint64))
        counts = counts.copy()
        for d in short:
            counts[int(d)] += 1
    return flat, counts.astype(np.int64)


def _batch_shingles(
    texts: pd.Series, cfg: DedupConfig
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Per-doc (unique shingle hashes, multiplicities) for one Arrow batch
    — the SET form of :func:`_batch_windows`, deduplicated per doc via one
    batch-wide lexsort over (doc, hash). Used by verification (exact
    set-Jaccard needs distinct shingles) and the mirror oracle."""
    n_docs = len(texts)
    flat, counts = _batch_windows(texts, cfg)
    out_sh: list[np.ndarray] = [np.empty(0, np.uint64)] * n_docs
    out_w: list[np.ndarray] = [np.empty(0, np.float64)] * n_docs
    if len(flat) == 0:
        return out_sh, out_w
    w_doc = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
    order = np.lexsort((flat, w_doc))
    sd, sh = w_doc[order], flat[order]
    new = np.ones(len(sd), dtype=bool)
    if len(sd) > 1:
        new[1:] = (sd[1:] != sd[:-1]) | (sh[1:] != sh[:-1])
    starts = np.nonzero(new)[0]
    cnts = np.diff(np.append(starts, len(sd)))
    u_doc, u_hash = sd[starts], sh[starts]
    doc_los = np.searchsorted(u_doc, np.arange(n_docs))
    doc_his = np.searchsorted(u_doc, np.arange(n_docs), side="right")
    for d in range(n_docs):
        lo, hi = doc_los[d], doc_his[d]
        if hi > lo:
            out_sh[d] = u_hash[lo:hi]
            out_w[d] = cnts[lo:hi].astype(np.float64)
    return out_sh, out_w


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
