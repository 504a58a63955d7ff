"""Deterministic 64-bit hashing primitives, shared engine <-> oracle.

Everything here is pure numpy on ``uint64`` (wraparound semantics) so the
exact same integer signatures are produced by the Spark pandas UDFs
(:mod:`finddup_spark.functions.signatures`) and the single-process mirror
oracle (:mod:`finddup_spark.oracle`) — that identity is what makes the
north-rule "dup-pair recall >= 0.99 at the same config" hold at 1.0.

The reference compares raw bytes (``finddup.py:225`` ``datachunks ==``);
this module is the generalization of that equality test to hashes: token
FNV-1a, polynomial shingle combine, splitmix64 finalization, and
one-permutation-hashing MinHash (FIXTURES.md §4).
"""

from __future__ import annotations

import numpy as np

from .config import MERSENNE_P

_U64 = np.uint64
_MASK64 = _U64(0xFFFFFFFFFFFFFFFF)

# FNV-1a 64-bit constants.
_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3

#: odd multiplier for polynomial shingle combination (64-bit wraparound).
SHINGLE_MULT = _U64(0x9E3779B97F4A7C15)  # 2^64 / golden ratio, odd


def fnv1a64(data: bytes, seed: int = 0) -> int:
    """Scalar FNV-1a 64 of ``data``, xor-seeded. Python ints (driver/oracle
    side and per-*unique*-token only — never per row)."""
    h = _FNV_OFFSET ^ (seed & 0xFFFFFFFFFFFFFFFF)
    for byte in data:
        h ^= byte
        h = (h * _FNV_PRIME) & 0xFFFFFFFFFFFFFFFF
    return h


def hash_utf8_array(tokens: np.ndarray, seed: int = 0) -> np.ndarray:
    """FNV-1a 64 over an array of (unique) strings -> uint64 array.

    Callers pass *unique* tokens only (vocabulary per Arrow batch), so the
    Python loop runs O(|vocab|), not O(|corpus|) — the batch-level
    vectorization contract of SURVEY.md §2.8.
    """
    out = np.empty(len(tokens), dtype=np.uint64)
    for i, tok in enumerate(tokens):
        out[i] = fnv1a64(tok.encode("utf-8"), seed)
    return out


#: ASCII whitespace byte values — the byte-level tokenizer splits on
#: maximal runs of these (equivalent to str.split() for ASCII-spaced text;
#: language-agnostic for unspaced scripts).
_WS_BYTES = np.array([9, 10, 11, 12, 13, 32], dtype=np.uint8)


#: byte-stream chunk for the tokenizer — sized so the ~5 per-chunk uint64
#: temporaries stay L2-resident (the whole-stream version allocates ~50n
#: bytes of DRAM temporaries; at 32 concurrent UDF workers the memory bus,
#: not FLOPs, is the budget).
_TOK_CHUNK = 1 << 15


def token_hash_stream(data: bytes, seed: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized tokenizer + hasher over raw UTF-8 bytes.

    Returns (token_hashes uint64, token_start_offsets int64). Tokens are
    maximal non-whitespace byte runs; each token's hash is a polynomial
    rolling hash of its bytes (prefix-product trick, O(total bytes), no
    per-token Python) xor-folded with its length and splitmix64-finalized.
    This is the batch hot path — it never materializes token strings, and
    it streams the byte buffer in cache-sized chunks cut at whitespace
    (prefix-sum carry across chunks) so temporaries never touch DRAM.
    """
    b = np.frombuffer(data, dtype=np.uint8)
    n = len(b)
    if n == 0:
        return np.empty(0, np.uint64), np.empty(0, np.int64)
    C = SHINGLE_MULT
    c_inv = _U64(pow(int(C), -1, 1 << 64))
    seed_mix = splitmix64(np.array([seed], dtype=np.uint64))[0]

    h_parts: list[np.ndarray] = []
    s_parts: list[np.ndarray] = []
    lo = 0
    while lo < n:
        hi = min(lo + _TOK_CHUNK, n)
        if hi < n:
            # cut at the last whitespace so no token spans a chunk boundary
            cut = _last_ws(b, lo, hi)
            while cut < 0:  # pathological: no whitespace in chunk — extend
                hi = min(hi + _TOK_CHUNK, n)
                if hi == n:
                    cut = n
                    break
                cut = _last_ws(b, lo, hi)
            hi = cut if cut > lo else hi
        cb = b[lo:hi]
        m = hi - lo
        is_ws = (
            (cb == 32) | (cb == 10) | (cb == 9) | (cb == 13) | (cb == 11) | (cb == 12)
        )
        nonws = ~is_ws
        prev_ws = np.empty(m, dtype=bool)
        # chunks start at 0 or right after a whitespace cut → boundary is ws
        prev_ws[0] = True if lo == 0 else bool(is_ws_byte(b[lo - 1]))
        prev_ws[1:] = is_ws[:-1]
        starts = np.nonzero(nonws & prev_ws)[0]
        if len(starts):
            next_ws = np.empty(m, dtype=bool)
            next_ws[-1] = True if hi == n else bool(is_ws_byte(b[hi]))
            next_ws[:-1] = is_ws[1:]
            ends = np.nonzero(nonws & next_ws)[0] + 1
            # w[j] = b[j] * C^{-(lo+j)} with GLOBAL exponents — tokens never
            # span chunks, so only within-chunk prefix differences matter
            invp = _pow_lookup(c_inv, np.arange(lo, hi, dtype=np.int64))
            P = np.zeros(m + 1, dtype=np.uint64)
            np.cumsum(cb * invp, out=P[1:])
            raw = (P[ends] - P[starts]) * _pow_lookup(C, ends + (lo - 1))
            lens = (ends - starts).astype(np.uint64)
            h_parts.append(splitmix64(raw ^ (lens << _U64(48)) ^ seed_mix))
            s_parts.append(starts.astype(np.int64) + lo)
        lo = hi
    if not h_parts:
        return np.empty(0, np.uint64), np.empty(0, np.int64)
    return np.concatenate(h_parts), np.concatenate(s_parts)


def is_ws_byte(x) -> bool:
    xi = int(x)
    return xi in (32, 10, 9, 13, 11, 12)


def _last_ws(b: np.ndarray, lo: int, hi: int) -> int:
    """Index just after the last whitespace byte in b[lo:hi), or -1."""
    cb = b[lo:hi]
    ws = (cb == 32) | (cb == 10) | (cb == 9) | (cb == 13) | (cb == 11) | (cb == 12)
    idx = np.nonzero(ws)[0]
    if len(idx) == 0:
        return -1
    return lo + int(idx[-1]) + 1


#: cached split power tables per base — the 512 KB lo table is built once
#: per process instead of twice per tokenizer call.
_POW_TABLES: dict[int, list[np.ndarray]] = {}


def _pow_tables(base: np.uint64, max_hi: int) -> tuple[np.ndarray, np.ndarray]:
    key = int(base)
    cached = _POW_TABLES.get(key)
    if cached is None:
        lo_n = 1 << 16
        lo = np.empty(lo_n, dtype=np.uint64)
        lo[0] = _U64(1)
        np.multiply.accumulate(np.full(lo_n - 1, base, dtype=np.uint64), out=lo[1:])
        hi = np.empty(1, dtype=np.uint64)
        hi[0] = _U64(1)
        cached = [lo, hi]
        _POW_TABLES[key] = cached
    lo, hi = cached
    if max_hi >= len(hi):
        base_hi = (int(lo[-1]) * int(base)) & 0xFFFFFFFFFFFFFFFF  # base^(2^16)
        new_hi = np.empty(max_hi + 1, dtype=np.uint64)
        new_hi[: len(hi)] = hi
        for i in range(len(hi), max_hi + 1):
            # python-int multiply + mask: uint64 wraparound without the
            # numpy scalar-overflow warning
            new_hi[i] = (int(new_hi[i - 1]) * base_hi) & 0xFFFFFFFFFFFFFFFF
        cached[1] = hi = new_hi
    return lo, hi


def _pow_lookup(base: np.uint64, exps: np.ndarray) -> np.ndarray:
    """base**exps (uint64 wraparound) via cached split tables:
    base^e = lo_table[e & 0xFFFF] * hi_table[e >> 16]."""
    max_hi = int(exps.max()) >> 16 if len(exps) else 0
    lo, hi = _pow_tables(base, max_hi)
    return lo[exps & 0xFFFF] * hi[exps >> 16]


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer — decorrelates structured inputs."""
    x = x.astype(np.uint64, copy=True)
    x += _U64(0x9E3779B97F4A7C15)
    z = x
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    return z ^ (z >> _U64(31))


def doc_shingle_set(text: str, k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(unique shingle hashes, multiplicities) for ONE doc — the
    single-doc twin of the batch path, shared by the mirror oracle and
    the corpus generator so truth Jaccard uses engine hashing."""
    h, _ = token_hash_stream(text.encode("utf-8"), seed)
    sh = shingle_hashes(h, k)
    u, counts = np.unique(sh, return_counts=True)
    return u, counts.astype(np.float64)


def shingle_hashes(token_hashes: np.ndarray, k: int) -> np.ndarray:
    """All k-token shingle hashes of one token-hash sequence (vectorized).

    Polynomial window: sh[i] = sum_j h[i+j] * C^(k-1-j) (uint64 wrap),
    then splitmix64. A sequence shorter than k yields ONE shingle over the
    whole sequence (so tiny docs still participate — the analog of the
    reference hashing even 1-byte files).
    """
    n = len(token_hashes)
    h = token_hashes.astype(np.uint64, copy=False)
    kk = min(k, n) if n > 0 else 0
    if kk == 0:
        return np.empty(0, dtype=np.uint64)
    vals = np.full(kk, SHINGLE_MULT, dtype=np.uint64)
    vals[0] = _U64(1)
    powers = np.multiply.accumulate(vals)[::-1].copy()  # [C^{k-1} … C, 1]
    n_windows = n - kk + 1
    acc = np.zeros(n_windows, dtype=np.uint64)
    for j in range(kk):
        acc += h[j : j + n_windows] * powers[j]
    return splitmix64(acc)


def oph_signatures_segmented(
    all_shingles: np.ndarray, lengths: np.ndarray, n_bins: int, seed: int
) -> np.ndarray:
    """One-Permutation-Hashing MinHash (Li/Owen/Zhang, NIPS'12 — public
    algorithm) with circular-rotation densification (Shrivastava/Li,
    ICML'14): ONE hash pass, hash space split into ``n_bins`` intervals by
    the top bits, min per interval, empty intervals borrow circularly from
    the nearest filled one to the left.

    O(N) total work vs O(perms × N) for a classic k-permutation family —
    the 128× reduction that matters at 10^12 docs. Slightly higher
    estimator variance for sets ≪ n_bins; the engine verifies candidates
    with exact Jaccard anyway, and the mirror oracle calls this exact
    function, so recall accounting is unaffected. A doc with no shingles
    gets the ``MERSENNE_P`` sentinel in every bin.
    """
    assert n_bins & (n_bins - 1) == 0, "n_bins must be a power of two"
    shift = _U64(64 - int(n_bins).bit_length() + 1)
    n_docs = len(lengths)
    SENT = np.uint64(0xFFFFFFFFFFFFFFFF)
    out = np.full((n_docs, n_bins), SENT, dtype=np.uint64)
    if len(all_shingles) == 0:
        return np.full((n_docs, n_bins), _U64(MERSENNE_P), dtype=np.uint64)
    K = splitmix64(np.array([seed], dtype=np.uint64))[0]
    v = splitmix64(all_shingles ^ K)
    bins = (v >> shift).astype(np.int64)
    doc_idx = np.repeat(np.arange(n_docs), lengths)
    np.minimum.at(out, (doc_idx, bins), v)
    # circular forward-fill densification (vectorized per batch)
    mm = np.concatenate([out, out], axis=1)              # (D, 2B)
    colpos = np.arange(2 * n_bins, dtype=np.int64)[None, :]
    pos = np.where(mm != SENT, colpos, np.int64(-1))
    last = np.maximum.accumulate(pos, axis=1)
    fill = np.take_along_axis(mm, np.clip(last, 0, None), axis=1)
    dens = fill[:, n_bins:]
    # all-empty docs (no shingles): sentinel signature that never collides
    empty = lengths == 0
    dens[empty] = _U64(MERSENNE_P)
    # docs whose every bin filled from nothing (can't happen unless empty)
    return dens


def band_hashes(sig: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """Hash each r-row band of a (docs × perms) signature matrix.

    Returns (docs × bands) uint64. Polynomial combine + splitmix64 — same
    scheme as shingles so band hashes are well-mixed bucket keys.
    """
    n_docs, perms = sig.shape
    assert bands * rows == perms
    grouped = sig.reshape(n_docs, bands, rows)
    acc = np.zeros((n_docs, bands), dtype=np.uint64)
    for j in range(rows):
        acc = acc * SHINGLE_MULT + grouped[:, :, j]
    # mix band index in so identical row-chunks in different bands differ
    acc += splitmix64(np.arange(bands, dtype=np.uint64))[None, :]
    return splitmix64(acc)


def simhash64(shingles: np.ndarray, weights: np.ndarray) -> int:
    """64-bit SimHash of one doc's (unique shingle hashes, weights).

    Bit votes: v[b] = Σ_i w_i * (2*bit_b(h_i) - 1); fingerprint bit b = 1
    iff v[b] > 0. Vectorized (n × 64) matrix.
    """
    if len(shingles) == 0:
        return 0
    bits = (shingles[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & _U64(1)
    votes = (weights[:, None] * (2.0 * bits.astype(np.float64) - 1.0)).sum(axis=0)
    fp = np.uint64(0)
    for bpos in np.nonzero(votes > 0)[0]:
        fp |= _U64(1) << _U64(int(bpos))
    return int(fp)


def simhash_batch(
    all_shingles: np.ndarray,
    all_weights: np.ndarray,
    lengths: np.ndarray,
) -> np.ndarray:
    """Batch SimHash via chunked segmented bit-vote sums.

    votes[d, b] = Σ_i w_i · (2·bit_b(h_i) − 1) over doc d's shingles;
    computed as 2·Σ w_i·bit_b − Σ w_i with the (chunk × 64) weighted-bit
    matrix built in bounded chunks (the full (N × 64) float matrix is
    hundreds of MB per Arrow batch — memory, not FLOPs, is the budget).
    """
    n_docs = len(lengths)
    out = np.zeros(n_docs, dtype=np.uint64)
    N = len(all_shingles)
    if N == 0:
        return out
    nonzero = lengths > 0
    offsets = np.zeros(n_docs, dtype=np.int64)
    if n_docs > 1:
        np.cumsum(lengths[:-1], out=offsets[1:])
    starts = offsets[nonzero]
    n_seg = len(starts)
    ends = np.append(starts[1:], N)

    # integer fast path: weights are shingle multiplicities (small ints) in
    # the engine; exact int64 votes match the float oracle bit-for-bit.
    # bits via unpackbits (uint8, little-endian bit order == bit position)
    # then ONE (chunk × 64) int32 multiply — ~13x less DRAM traffic than
    # the float64 bit matrix, and the chunk stays L2-resident.
    int_ok = bool(
        np.all(all_weights == np.floor(all_weights))
        and (N == 0 or all_weights.max() < (1 << 15))
    )
    acc_t = np.int64 if int_ok else np.float64
    w_cast = all_weights.astype(np.int32) if int_ok else all_weights
    bitsum = np.zeros((n_seg, 64), dtype=acc_t)  # Σ w·bit per doc/bit
    wsum = np.zeros(n_seg, dtype=acc_t)
    CHUNK = 1 << 11
    for lo in range(0, N, CHUNK):
        hi = min(lo + CHUNK, N)
        sh = all_shingles[lo:hi]
        w = w_cast[lo:hi]
        bits = np.unpackbits(
            sh.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )                                                       # (C, 64) uint8
        wb = bits * w[:, None]                                  # (C, 64) int32
        mask = (starts < hi) & (ends > lo)
        idx = np.nonzero(mask)[0]
        if len(idx):
            seg_starts = np.clip(starts[idx] - lo, 0, hi - lo - 1)
            bitsum[idx] += np.add.reduceat(wb, seg_starts, axis=0)
            wsum[idx] += np.add.reduceat(w, seg_starts)
    votes = 2 * bitsum - wsum[:, None]
    pos = votes > 0
    weights_pow2 = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
    fps = (pos.astype(np.uint64) * weights_pow2[None, :]).sum(axis=1, dtype=np.uint64)
    out[nonzero] = fps
    return out


# ---------------------------------------------------------------------------
# rolling character-gram hashes + winnowing (substring tier, SURVEY §7 M6)
# ---------------------------------------------------------------------------

def rolling_gram_hashes(data: bytes, gram: int) -> np.ndarray:
    """Hash every ``gram``-byte window of ``data`` (vectorized prefix trick).

    Polynomial hash H[i] = Σ_{j<g} b[i+j] * C^(g-1-j) (uint64 wrap) computed
    for ALL windows at once: H[i] = (P[i+g] - P[i]) * Cinv^i where
    P[i] = Σ_{j<i} b[j] * C^(g-1+i-j)… implemented with the standard
    inverse-power normalization (C odd ⇒ invertible mod 2^64).
    """
    b = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = len(b)
    if n < gram:
        return np.empty(0, dtype=np.uint64)
    C = SHINGLE_MULT
    c_inv = _U64(pow(int(C), -1, 1 << 64))
    # powers C^0..C^{n-1} and inverse powers
    pows = np.empty(n, dtype=np.uint64)
    pows[0] = _U64(1)
    np.multiply.accumulate(np.full(n - 1, C, dtype=np.uint64), out=pows[1:]) if n > 1 else None
    # weighted prefix sums: P[i] = Σ_{j<i} b[j] * C^{-j}  (times nothing)
    w = b * np.concatenate(([_U64(1)], np.multiply.accumulate(np.full(n - 1, c_inv, dtype=np.uint64))))
    P = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(w, out=P[1:])
    diff = P[gram:] - P[:-gram]            # Σ_{j=i..i+g-1} b[j] C^{-j}
    # multiply by C^{i+g-1} to normalize window i to Σ b[i+j] C^{g-1-j}
    norm = pows[gram - 1] * np.concatenate(([_U64(1)], np.multiply.accumulate(np.full(n - gram, C, dtype=np.uint64)))) if n - gram + 1 > 1 else pows[gram - 1 : gram]
    return splitmix64(diff * norm)


def winnow(hashes: np.ndarray, window: int) -> np.ndarray:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD'03
    — public algorithm): the min hash of every ``window``-length window of
    the gram-hash sequence; dedup consecutive picks. Guarantee: two docs
    sharing any substring of length >= gram + window - 1 share a selected
    fingerprint.
    """
    n = len(hashes)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if n <= window:
        return np.unique(hashes.min(keepdims=True))
    return np.unique(_sliding_min(hashes, window))


def _sliding_min(a: np.ndarray, w: int) -> np.ndarray:
    """O(n) sliding-window minimum (two-pass block prefix/suffix mins —
    the classic deque-free vectorization), vs O(n·w) for the naive
    stride view. The substring tier runs this over every doc."""
    n = len(a)
    nb = -(-n // w)
    pad = nb * w - n
    big = np.uint64(0xFFFFFFFFFFFFFFFF)
    ap = np.concatenate([a, np.full(pad, big, dtype=np.uint64)]) if pad else a
    blocks = ap.reshape(nb, w)
    prefix = np.minimum.accumulate(blocks, axis=1).ravel()
    suffix = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    i = np.arange(n - w + 1)
    return np.minimum(suffix[i], prefix[i + w - 1])
