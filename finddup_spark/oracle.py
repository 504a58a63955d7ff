"""Single-process mirror oracle for the fuzzy tier (SURVEY.md §5.2-2).

An *independent pipeline* (plain dicts + union-find, no Spark) that
computes the same shingle/MinHash/SimHash signatures with the same seeds
and band/row config, generates candidates with plain all-pairs LSH buckets
(no caps, no salting), verifies with exact Jaccard, and resolves clusters
with union-find. The Spark pipeline's dup-pair recall is measured against
this oracle — the north rule's "reference at the same config". Because
both sides share :mod:`finddup_spark.hashing`, signature integers are
identical and recall is exactly measurable.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from .config import DEFAULT_CONFIG, DedupConfig
from .hashing import (
    band_hashes,
    doc_shingle_set,
    oph_signatures_segmented,
    rolling_gram_hashes,
    simhash64,
    winnow,
)


class _UnionFind:
    def __init__(self) -> None:
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        p = self.parent.setdefault(x, x)
        while p != self.parent[p]:
            self.parent[p] = self.parent[self.parent[p]]
            p = self.parent[p]
        self.parent[x] = p
        return p

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # min-root union ⇒ cluster id = min(doc_id), matching A7
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


@dataclass
class OracleResult:
    signatures: dict[int, np.ndarray]        # doc_id -> minhash (uint64)
    simhash: dict[int, int]                  # doc_id -> 64-bit fingerprint
    shingle_sets: dict[int, set[int]]        # doc_id -> unique shingle hashes
    candidate_pairs: set[tuple[int, int]]    # LSH bucket pairs (a < b)
    edges: set[tuple[int, int]]              # verified pairs, jaccard >= thr
    jaccard: dict[tuple[int, int], float]
    clusters: dict[int, int]                 # doc_id -> cluster_id


def doc_shingles(text: str, cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    """(unique shingle hashes, multiplicities) — shares the byte-level
    tokenizer + hash with the engine (hashing.doc_shingle_set), so the
    oracle's integers are the engine's integers by construction."""
    return doc_shingle_set(text, cfg.shingle_k, cfg.seed)


def run_oracle(
    docs: pd.DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> OracleResult:
    """Full mirror pipeline over an in-memory docs frame."""
    sigs: dict[int, np.ndarray] = {}
    simhashes: dict[int, int] = {}
    sets: dict[int, set[int]] = {}
    buckets: dict[tuple[int, int], list[int]] = {}

    for doc_id, text in zip(docs[id_col], docs[text_col]):
        if text is None or (isinstance(text, float) and np.isnan(text)):
            continue
        doc_id = int(doc_id)
        u, w = doc_shingles(text, cfg)
        sets[doc_id] = set(int(x) for x in u)
        sig = oph_signatures_segmented(
            u, np.array([len(u)]), cfg.minhash_perms, cfg.seed
        )[0]
        sigs[doc_id] = sig
        simhashes[doc_id] = simhash64(u, w)
        bh = band_hashes(sig[None, :], cfg.bands, cfg.rows_per_band)[0]
        for band_id, h in enumerate(bh):
            buckets.setdefault((band_id, int(h)), []).append(doc_id)

    candidate_pairs: set[tuple[int, int]] = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                candidate_pairs.add((ms[i], ms[j]))

    edges: set[tuple[int, int]] = set()
    jac: dict[tuple[int, int], float] = {}
    for pair in candidate_pairs:
        sa, sb = sets[pair[0]], sets[pair[1]]
        union = len(sa | sb)
        j = (len(sa & sb) / union) if union else 1.0
        jac[pair] = j
        if j >= cfg.verify_jaccard:
            edges.add(pair)

    uf = _UnionFind()
    for d in sets:
        uf.find(d)
    for x, y in edges:
        uf.union(x, y)
    clusters = {d: uf.find(d) for d in sets}
    return OracleResult(sigs, simhashes, sets, candidate_pairs, edges, jac, clusters)


def substring_edges_oracle(
    docs: pd.DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> set[tuple[int, int]]:
    """Mirror of the substring tier: winnowing fingerprint buckets →
    exact longest-common-substring >= lcs_min_chars (dynamic programming
    over the candidate pair; oracle-side only, small N)."""
    fps: dict[int, set[int]] = {}
    texts: dict[int, str] = {}
    for doc_id, text in zip(docs[id_col], docs[text_col]):
        if text is None:
            continue
        doc_id = int(doc_id)
        data = text.encode("utf-8")
        fp = winnow(rolling_gram_hashes(data, cfg.winnow_gram), cfg.winnow_window)
        fps[doc_id] = set(int(x) for x in fp)
        texts[doc_id] = text

    buckets: dict[int, list[int]] = {}
    for d, f in fps.items():
        for h in f:
            buckets.setdefault(h, []).append(d)
    cand: set[tuple[int, int]] = set()
    for members in buckets.values():
        ms = sorted(set(members))
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                cand.add((ms[i], ms[j]))

    out: set[tuple[int, int]] = set()
    for x, y in cand:
        if _lcs_at_least(texts[x], texts[y], cfg.lcs_min_chars):
            out.add((x, y))
    return out


def _lcs_at_least(a: str, b: str, n: int) -> bool:
    """True iff a and b share a common substring of length >= n.

    Rabin-Karp set intersection on length-n windows (exact check after
    hash hit) — O(len) expected, fine for oracle scale.
    """
    if len(a) < n or len(b) < n:
        return False
    ha = rolling_gram_hashes(a.encode("utf-8"), n)
    hb = rolling_gram_hashes(b.encode("utf-8"), n)
    common = np.intersect1d(ha, hb)
    if len(common) == 0:
        return False
    # verify one hit exactly (hash is 64-bit; collision ~impossible, but
    # mirror the engine's "verify, don't trust hashes" discipline)
    pos_a = {h: i for i, h in enumerate(ha)}
    for i_b, h in enumerate(hb):
        if h in pos_a:
            i_a = pos_a[h]
            if a.encode("utf-8")[i_a : i_a + n] == b.encode("utf-8")[i_b : i_b + n]:
                return True
    return False
