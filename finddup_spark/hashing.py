"""Deterministic 64-bit hashing primitives, shared engine <-> oracle.

Everything here is pure numpy on ``uint64`` (wraparound semantics) so the
exact same integer signatures are produced by the Spark pandas UDFs
(:mod:`finddup_spark.functions.signatures`) and the single-process mirror
oracle (:mod:`finddup_spark.oracle`) — that identity is what makes the
north-rule "dup-pair recall >= 0.99 at the same config" hold at 1.0.

The reference compares raw bytes (``finddup.py:225`` ``datachunks ==``);
this module is the generalization of that equality test to hashes:
polynomial byte-span token hashes, polynomial k-token shingle windows,
splitmix64 finalization, and one-permutation-hashing MinHash
(FIXTURES.md §4).

Every shingle kernel is built from three shared steps: :func:`span_hash`
(the polynomial hash of byte spans), :func:`window_hashes` (masked
k-token windows over a doc-ordered token stream, with one whole-doc
shingle per doc shorter than k) and :func:`distinct_per_doc`. Two
tokenizers feed them, each pinned by its own oracle:
:func:`token_hash_stream` (maximal whitespace-free byte runs — the
MinHash/SimHash path) and ``split(text, " ")`` with empty tokens kept
(:func:`finddup_spark.operators.boilerplate._batch_space_shingles`, the
DuckDB ``string_split`` model of boilerplate and contamination).

Collisions: the span hash is a polynomial mod 2^64 with an odd
multiplier. Two distinct random inputs collide with probability ~2⁻⁶⁴
(~n²/2⁶⁴ among n), but constructed inputs collide outright: the
1024-byte Thue–Morse string over {a, b} and its a↔b complement hash
equal as a token, a space-split gram and a byte gram
(test_span_hash_thue_morse_collision). Hash equality is therefore
"equal w.h.p. on non-adversarial text", not proof of equal content.
"""

from __future__ import annotations

import numpy as np

from .config import MERSENNE_P

_U64 = np.uint64

# FNV-1a 64-bit constants.
_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3

#: odd multiplier for polynomial shingle combination (64-bit wraparound).
SHINGLE_MULT = _U64(0x9E3779B97F4A7C15)  # 2^64 / golden ratio, odd
_C_INV = _U64(pow(int(SHINGLE_MULT), -1, 1 << 64))


def fnv1a64(data: bytes, seed: int = 0) -> int:
    """Scalar FNV-1a 64 of ``data``, xor-seeded. Python ints (driver/oracle
    side and per-*unique*-token only — never per row)."""
    h = _FNV_OFFSET ^ (seed & 0xFFFFFFFFFFFFFFFF)
    for byte in data:
        h ^= byte
        h = (h * _FNV_PRIME) & 0xFFFFFFFFFFFFFFFF
    return h


#: byte-stream chunk for the tokenizer — sized so the ~5 per-chunk uint64
#: temporaries stay L2-resident (the whole-stream version allocates ~50n
#: bytes of DRAM temporaries; at 32 concurrent UDF workers the memory bus,
#: not FLOPs, is the budget).
_TOK_CHUNK = 1 << 15


def _is_ws(b: np.ndarray) -> np.ndarray:
    """ASCII whitespace mask of a uint8 array: space and \\t \\n \\v \\f \\r."""
    return (b == 32) | ((b >= 9) & (b <= 13))


def _last_ws(b: np.ndarray, lo: int, hi: int) -> int:
    """Index just after the last whitespace byte in b[lo:hi), or -1."""
    idx = np.flatnonzero(_is_ws(b[lo:hi]))
    return lo + int(idx[-1]) + 1 if len(idx) else -1


def span_hash(b: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Polynomial hash Σ_{j=s}^{e-1} b[j]·C^(e-1-j) (uint64 wrap) of each
    byte span ``b[s:e]`` of a uint8 array; an empty span hashes to 0.

    One O(len(b)) prefix sum P[i] = Σ_{j<i} b[j]·C^-(j+1) (C odd ⇒
    invertible mod 2^64), then every span is a gather: (P[e] - P[s])·C^e.
    No per-span Python, and the result depends only on the span's bytes,
    not on where the array starts."""
    P = np.zeros(len(b) + 1, dtype=np.uint64)
    np.cumsum(b * _pow_lookup(_C_INV, np.arange(1, len(b) + 1)), out=P[1:])
    return (P[ends] - P[starts]) * _pow_lookup(SHINGLE_MULT, ends)


def token_hash_stream(data: bytes, seed: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized tokenizer + hasher over raw UTF-8 bytes.

    Returns (token_hashes uint64, token_start_offsets int64). Tokens are
    maximal non-whitespace byte runs; each token's hash is its
    :func:`span_hash` xor-folded with its length and the seed, then
    splitmix64-finalized. This is the batch hot path — it never
    materializes token strings, and it streams the byte buffer in
    cache-sized chunks so temporaries never touch DRAM; chunks are cut
    just after whitespace, so no token spans two chunks.
    """
    b = np.frombuffer(data, dtype=np.uint8)
    n = len(b)
    seed_mix = splitmix64(np.array([seed], dtype=np.uint64))[0]
    h_parts = [np.empty(0, np.uint64)]
    s_parts = [np.empty(0, np.int64)]
    lo = 0
    while lo < n:
        hi = min(lo + _TOK_CHUNK, n)
        if hi < n:
            cut = _last_ws(b, lo, hi)
            while cut < 0 and hi < n:  # pathological: no whitespace — extend
                ext, hi = hi, min(hi + _TOK_CHUNK, n)
                cut = _last_ws(b, ext, hi)
            if cut >= 0:
                hi = cut
        # both chunk edges are token boundaries (buffer edge or just after
        # whitespace), so padding the chunk with whitespace on each side
        # leaves its tokens intact; mask flips alternate start, end, ...
        cb = b[lo:hi]
        ws = np.ones(hi - lo + 2, dtype=bool)
        ws[1:-1] = _is_ws(cb)
        flips = np.flatnonzero(ws[1:] != ws[:-1])
        starts, ends = flips[::2], flips[1::2]
        lens = (ends - starts).astype(np.uint64)
        raw = span_hash(cb, starts, ends)
        h_parts.append(splitmix64(raw ^ (lens << _U64(48)) ^ seed_mix))
        s_parts.append(starts + lo)
        lo = hi
    return np.concatenate(h_parts), np.concatenate(s_parts)


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


def window_hashes(
    tok_h: np.ndarray, tok_doc: np.ndarray, n_docs: int, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """(flat k-token window hashes grouped by doc, windows per doc) of a
    doc-ordered uint64 token-hash stream; ``tok_doc`` is each token's doc
    index in [0, n_docs), nondecreasing.

    Window i hashes splitmix64(Σ_j h[i+j]·C^(k-1-j)) (uint64 wrap), and
    windows that cross a doc boundary are dropped. A doc with 0 < n < k
    tokens gets ONE whole-doc shingle, splitmix64(Σ_j h[j]·C^(n-1-j)),
    spliced in at its segment position (so tiny docs still participate —
    the analog of the reference hashing even 1-byte files).
    """
    pw = _pow_tables(SHINGLE_MULT, 0)[0][:k]  # C^0 … C^(k-1)
    lengths = np.bincount(tok_doc, minlength=n_docs)
    n_win = max(len(tok_h) - k + 1, 0)
    acc = np.zeros(n_win, dtype=np.uint64)
    for j in range(k):
        acc += tok_h[j : j + n_win] * pw[k - 1 - j]
    valid = tok_doc[:n_win] == tok_doc[k - 1 :]  # window inside one doc
    flat = splitmix64(acc[valid])
    counts = np.bincount(tok_doc[:n_win][valid], minlength=n_docs)
    short = (lengths > 0) & (lengths < k)
    if short.any():
        pos = np.flatnonzero(short[tok_doc])  # tokens of short docs
        d = tok_doc[pos]
        last = np.cumsum(lengths)[d] - 1  # stream index of the doc's last token
        terms = tok_h[pos] * pw[last - pos]
        whole = np.add.reduceat(terms, np.flatnonzero(np.diff(d, prepend=-1)))
        seg_starts = np.cumsum(counts) - counts
        flat = np.insert(flat, seg_starts[short], splitmix64(whole))
        counts = counts + short
    return flat, counts


def distinct_per_doc(
    flat: np.ndarray, counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-doc distinct of doc-grouped hashes (``counts[d]`` hashes for
    doc d) via one batch-wide lexsort over (doc, hash). Returns (unique
    hashes, grouped by doc and ascending within each doc; distinct count
    per doc; multiplicity of each unique hash)."""
    n_docs = len(counts)
    doc = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
    order = np.lexsort((flat, doc))
    sd, sh = doc[order], flat[order]
    new = np.ones(len(sd), dtype=bool)
    new[1:] = (sd[1:] != sd[:-1]) | (sh[1:] != sh[:-1])
    starts = np.flatnonzero(new)
    per_doc = np.bincount(sd[starts], minlength=n_docs)
    return sh[starts], per_doc, np.diff(starts, append=len(sd))


def shingle_hashes(token_hashes: np.ndarray, k: int) -> np.ndarray:
    """All k-token shingle hashes of one token-hash sequence —
    :func:`window_hashes` on a one-doc stream: n - k + 1 windows, or ONE
    whole-sequence shingle when 0 < n < k."""
    h = token_hashes.astype(np.uint64, copy=False)
    return window_hashes(h, np.zeros(len(h), dtype=np.int64), 1, k)[0]


def doc_shingle_set(text: str, k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(unique shingle hashes, multiplicities) for ONE doc — the
    single-doc twin of the batch path, shared by the mirror oracle and
    the corpus generator so truth Jaccard uses engine hashing."""
    h, _ = token_hash_stream(text.encode("utf-8"), seed)
    u, counts = np.unique(shingle_hashes(h, k), return_counts=True)
    return u, counts.astype(np.float64)


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
    """splitmix64 of the :func:`span_hash` of every ``gram``-byte window
    of ``data``: H[i] = Σ_{j<g} b[i+j]·C^(g-1-j), all windows in one
    prefix pass."""
    b = np.frombuffer(data, dtype=np.uint8)
    if len(b) < gram:
        return np.empty(0, dtype=np.uint64)
    starts = np.arange(len(b) - gram + 1)
    return splitmix64(span_hash(b, starts, starts + gram))


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
