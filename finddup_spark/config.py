"""Canonical dedup configuration (FIXTURES.md §4).

One config object shared by the Spark engine, the pure-Python mirror
oracle, and the recall tests — the north rule requires the *same* shingle
size / permutation count / band-row config on both sides.

The reference's tunables (``/root/reference/src/finddup/finddup.py:40-47``:
``MEM_TO_USE`` = 1 GiB, ``MAX_FILES_OPEN`` = 200, first read 256 B) are
I/O-strategy constants that Spark subsumes; their *spirit* survives here as
``hot_bucket_cap`` (cardinality-dependent physical strategy switch, the
analog of MAX_FILES_OPEN — SURVEY.md §4 P4/P5) and ``prefix_key_len``
(progressive-prefix cheap key, the analog of the 256-byte first pass —
SURVEY.md §4 P2).
"""

from __future__ import annotations

from dataclasses import dataclass

#: 2^61 - 1 — the signature value of every bin of a doc with no shingles.
MERSENNE_P = (1 << 61) - 1

#: Names excluded from both file-level results and dir identity
#: (reference ``finddup.py:681-687``; excluded-from-dir-identity behavior at
#: ``finddup.py:862-871``). The web analog ignores crawl-infrastructure
#: leaf names when computing site-subtree signatures.
IGNORE_BASENAMES = frozenset(
    {".picasa.ini", ".DS_Store", "Thumbs.db", " Icon\r", "Icon\r",
     "robots.txt", "favicon.ico"}
)


@dataclass(frozen=True)
class DedupConfig:
    """FIXTURES.md §4 canonical values. threshold ≈ (1/b)^(1/r) ≈ 0.42."""

    shingle_k: int = 5            # tokens per shingle
    minhash_perms: int = 128      # OPH bin count (one-permutation hashing)
    bands: int = 32               # LSH bands
    rows_per_band: int = 4        # minhash rows per band (32*4 == 128)
    seed: int = 42                # master seed for token + MinHash hashing
    verify_jaccard: float = 0.8   # accept threshold on exact shingle Jaccard
    lcs_min_chars: int = 512      # substring tier: min verbatim span
    # winnowing parameters for the substring tier: any shared span of
    # >= gram + window - 1 = 64 + 449 - 1 = 512 chars shares a fingerprint.
    winnow_gram: int = 64
    winnow_window: int = 449
    # skew handling (SURVEY.md §4 P5): buckets above this cardinality use the
    # salted pairing path instead of the whole-bucket all-pairs self-join.
    hot_bucket_cap: int = 64
    # salt shard count floor; the effective count ADAPTS per bucket to
    # ceil(bucket_size / hot_bucket_cap) so expected shard width stays
    # ~hot_bucket_cap, capped at max_salt_shards to bound the rep clique.
    salt_shards: int = 16
    max_salt_shards: int = 1024
    # within a salt shard, members pair ALL-PAIRS while the shard is at most
    # this wide (bounded: expected width is ~hot_bucket_cap) — the round-3
    # within-shard star policy lost near-dup pairs whose shard rep was
    # dissimilar; beyond this width (a >cap*max_shards mega-bucket) the
    # shard falls back to the star and the loss is counted in the stats.
    shard_allpairs_cap: int = 256
    # ... and only while the whole BUCKET is at most this big: a mega-bucket
    # (shared boilerplate block, a pathological band collision) would pay
    # ~n*cap/2 verify pairs for content that is overwhelmingly sub-threshold
    # (measured 2x pipeline wall on the bench corpus's 76.8k-member
    # boilerplate buckets); above the limit shards emit min-id stars (the
    # O(n) round-3 policy), the skipped pairs are counted in the stats, and
    # a TRUE near-dup pair in such a bucket is still found through its
    # other bands (P[>=1 of 32 bands co-locates a J>=0.8 pair] ~ 1).
    allpairs_bucket_limit: int = 4096
    # progressive-prefix cheap key length (SURVEY.md §4 P2; reference 256 B
    # first-pass read, finddup.py:428).
    prefix_key_len: int = 256

    def __post_init__(self) -> None:
        assert self.bands * self.rows_per_band == self.minhash_perms


#: The one config used everywhere unless a test overrides it.
DEFAULT_CONFIG = DedupConfig()
