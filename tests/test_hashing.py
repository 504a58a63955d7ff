"""Hashing primitives vs big-int ground truth (SURVEY.md §2.8)."""

import numpy as np
import pandas as pd
import pytest

from finddup_spark.config import DEFAULT_CONFIG, MERSENNE_P
from finddup_spark.hashing import (
    band_hashes,
    oph_signatures_segmented,
    rolling_gram_hashes,
    shingle_hashes,
    simhash_batch,
    splitmix64,
    token_hash_stream,
    winnow,
    SHINGLE_MULT,
)


def _oph(docs: list[np.ndarray]) -> np.ndarray:
    cfg = DEFAULT_CONFIG
    lengths = np.array([len(d) for d in docs])
    flat = np.concatenate(docs) if docs else np.empty(0, dtype=np.uint64)
    return oph_signatures_segmented(flat, lengths, cfg.minhash_perms, cfg.seed)


def test_segmented_minhash_equals_per_doc():
    """One OPH batch with empty and one-shingle docs equals the per-doc
    calls: no bin of one doc borrows from a neighbour's segment."""
    rng = np.random.default_rng(2)
    docs = [rng.integers(0, 2**64 - 1, n, dtype=np.uint64) for n in [5, 0, 120, 1, 33, 0]]
    seg = _oph(docs)
    assert seg.shape == (len(docs), DEFAULT_CONFIG.minhash_perms)
    for i, d in enumerate(docs):
        assert (seg[i] == _oph([d])[0]).all()


def test_oph_empty_docs_get_sentinel():
    rng = np.random.default_rng(6)
    docs = [np.empty(0, dtype=np.uint64), rng.integers(0, 2**64 - 1, 50, dtype=np.uint64),
            np.empty(0, dtype=np.uint64)]
    seg = _oph(docs)
    assert (seg[0] == MERSENNE_P).all() and (seg[2] == MERSENNE_P).all()
    assert (seg[1] != MERSENNE_P).all()
    # a batch of only empty docs takes the same sentinel
    assert (_oph(docs[:1]) == MERSENNE_P).all()


def test_minhash_jaccard_estimate():
    """OPH bin collision rate ≈ Jaccard (sanity of the densified
    one-permutation estimator)."""
    rng = np.random.default_rng(3)
    base = rng.integers(0, 2**64 - 1, 1000, dtype=np.uint64)
    other = base.copy()
    other[:200] = rng.integers(0, 2**64 - 1, 200, dtype=np.uint64)  # J ≈ 800/1200
    s1, s2 = _oph([np.unique(base), np.unique(other)])
    est = (s1 == s2).mean()
    true_j = len(set(base) & set(other)) / len(set(base) | set(other))
    assert abs(est - true_j) < 0.12


def test_shingles_window_and_short_doc():
    rng = np.random.default_rng(4)
    h = rng.integers(0, 2**64 - 1, 100, dtype=np.uint64)
    assert len(shingle_hashes(h, 5)) == 96
    assert len(shingle_hashes(h[:3], 5)) == 1
    assert len(shingle_hashes(h[:0], 5)) == 0
    # same window content at different positions hashes identically
    hh = np.concatenate([h[:10], h[:10]])
    sh = shingle_hashes(hh, 5)
    assert sh[0] == sh[10]


def test_band_hashes_shape_and_band_mixing():
    rng = np.random.default_rng(5)
    sig = rng.integers(0, MERSENNE_P, (7, 128), dtype=np.uint64)
    bh = band_hashes(sig, 32, 4)
    assert bh.shape == (7, 32)
    # identical signature rows in two different bands must differ
    sig2 = np.tile(sig[:, :4], (1, 32))
    bh2 = band_hashes(sig2, 32, 4)
    assert len(np.unique(bh2[0])) == 32


def test_rolling_gram_hash_matches_bruteforce():
    rng = np.random.default_rng(6)
    data = bytes(rng.integers(0, 256, 300, dtype=np.uint8).tolist())
    g = 16
    got = rolling_gram_hashes(data, g)
    C, M = int(SHINGLE_MULT), (1 << 64) - 1

    def brute(i):
        acc = 0
        for j in range(g):
            acc = (acc * C + data[i + j]) & M
        return splitmix64(np.array([acc], dtype=np.uint64))[0]

    for i in [0, 1, 57, len(data) - g]:
        assert got[i] == brute(i)


def test_winnow_guarantee():
    """Docs sharing a span >= gram+window-1 chars share a fingerprint."""
    rng = np.random.default_rng(7)
    span = bytes(rng.integers(32, 127, 600, dtype=np.uint8).tolist())
    d1 = bytes(rng.integers(32, 127, 200, dtype=np.uint8).tolist()) + span
    d2 = span + bytes(rng.integers(32, 127, 300, dtype=np.uint8).tolist())
    g, w = 64, 449
    f1 = set(winnow(rolling_gram_hashes(d1, g), w).tolist())
    f2 = set(winnow(rolling_gram_hashes(d2, g), w).tolist())
    assert f1 & f2


def test_simhash_batch_similarity():
    rng = np.random.default_rng(8)
    base = rng.integers(0, 2**64 - 1, 500, dtype=np.uint64)
    near = base.copy()
    near[:25] = rng.integers(0, 2**64 - 1, 25, dtype=np.uint64)
    far = rng.integers(0, 2**64 - 1, 500, dtype=np.uint64)
    w = np.ones(500)
    lengths = np.array([500, 500, 500])
    fps = simhash_batch(np.concatenate([base, near, far]), np.concatenate([w, w, w]), lengths)
    ham = lambda a, b: bin(int(a) ^ int(b)).count("1")
    assert ham(fps[0], fps[1]) < 10
    assert ham(fps[0], fps[2]) > 20


def test_span_hash_thue_morse_collision():
    """The polynomial span hash mod 2^64 is not collision-resistant: the
    1024-byte Thue-Morse string over {a, b} and its a<->b complement
    differ, yet their difference polynomial is a product of ten
    (1 - C^(2^i)) factors, each divisible by a rising power of two, so it
    vanishes mod 2^64 for any odd multiplier C. Tokens, space-split grams
    and byte grams built on the span hash all collide on this pair."""
    from finddup_spark.operators.boilerplate import _batch_space_shingles

    tm = bytes(b"ab"[bin(i).count("1") & 1] for i in range(1024))
    comp = tm.translate(bytes.maketrans(b"ab", b"ba"))
    assert tm != comp
    assert token_hash_stream(tm)[0] == token_hash_stream(comp)[0]
    ta, tb = tm.decode(), comp.decode()
    for k in (5, 8):
        ga, _ = _batch_space_shingles(pd.Series([ta]), k)
        gb, _ = _batch_space_shingles(pd.Series([tb]), k)
        assert np.array_equal(ga, gb)
    assert np.array_equal(rolling_gram_hashes(tm, 1024), rolling_gram_hashes(comp, 1024))
