"""Property-based invariants (SURVEY.md §5.2-5, hypothesis).

Clustering is a partition; input-order invariance; single-member text
mutation splits exactly that member; dir signatures are rename-invariant
and multiset-sensitive; ignored rows never affect subtree signatures.
Driven through the pure-Python sides (oracle + hashing) for speed — the
Spark paths are proven equal to these in test_fuzzy/test_exact.
"""

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from finddup_spark.config import DEFAULT_CONFIG
from finddup_spark.hashing import doc_shingle_set, shingle_hashes, splitmix64
from finddup_spark.oracle import run_oracle

_token = st.text(alphabet="abcdef", min_size=1, max_size=4)
_doc = st.lists(_token, min_size=0, max_size=30).map(lambda t: " ".join(t))


@settings(max_examples=25, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=12))
def test_oracle_clustering_is_a_partition(texts):
    docs = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    res = run_oracle(docs)
    # total: every doc assigned exactly once
    assert set(res.clusters) == set(range(len(texts)))
    # cluster id is a member (min) of its own cluster
    for d, c in res.clusters.items():
        assert res.clusters[c] == c
        assert c <= d


@settings(max_examples=15, deadline=None)
@given(st.lists(_doc, min_size=2, max_size=10), st.randoms())
def test_oracle_input_order_invariance(texts, rnd):
    docs = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    perm = list(range(len(texts)))
    rnd.shuffle(perm)
    shuffled = docs.iloc[perm].reset_index(drop=True)
    a = run_oracle(docs).clusters
    b = run_oracle(shuffled).clusters
    assert a == b


@settings(max_examples=15, deadline=None)
@given(st.lists(st.integers(0, 2**63), min_size=0, max_size=200))
def test_shingle_hash_deterministic_and_position_free(vals):
    h = np.array(vals, dtype=np.uint64)
    s1 = shingle_hashes(h, 5)
    s2 = shingle_hashes(h.copy(), 5)
    assert (s1 == s2).all()
    # shifting the sequence start never changes interior window hashes
    if len(h) >= 7:
        s_shift = shingle_hashes(h[1:], 5)
        assert set(s_shift.tolist()) <= set(s1.tolist()) | {s_shift[-1] if len(s_shift) else 0}


def test_exact_mutation_splits_exactly_one_member():
    texts = ["same doc text here"] * 4 + ["other content entirely"]
    docs = pd.DataFrame({"doc_id": range(5), "text": texts})
    base = run_oracle(docs).clusters
    assert len({base[i] for i in range(4)}) == 1
    mutated = texts.copy()
    mutated[2] = "completely different now and split off"
    docs2 = pd.DataFrame({"doc_id": range(5), "text": mutated})
    after = run_oracle(docs2).clusters
    assert len({after[0], after[1], after[3]}) == 1
    assert after[2] not in {after[0], after[4]}


def test_splitmix_bijective_on_sample():
    x = np.arange(10000, dtype=np.uint64)
    assert len(np.unique(splitmix64(x))) == 10000


@settings(max_examples=10, deadline=None)
@given(
    st.integers(1, 200),
    st.integers(1, 200),
    st.binary(min_size=0, max_size=64),
)
def test_ppm_synthesis_parse_roundtrip(w, h, noise):
    """Any header-valid P6 blob round-trips through the pure-numpy parser;
    appending trailing garbage never changes the decoded stats (the spec
    reads exactly w*h*3 bytes)."""
    from finddup_spark.operators.multimodal import _parse_ppm

    data = bytes((i * 31) % 256 for i in range(w * h * 3))
    payload = b"P6\n%d %d\n255\n" % (w, h) + data + noise
    pw, ph, maxval, arr = _parse_ppm(payload)
    assert (pw, ph, maxval) == (w, h, 255)
    assert arr.tobytes() == data


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.sampled_from("abc"), st.text("xyzw", min_size=1, max_size=6)),
                min_size=1, max_size=300))
def test_global_seq_equals_pandas_rank(spark, rows):
    """Two-phase prefix-offset numbering == pandas groupby alphabetical
    rank on arbitrary (category, url) multisets."""
    from finddup_spark.operators.report_ops import _global_seq

    pdf = pd.DataFrame(rows, columns=["category", "url"])
    df = spark.createDataFrame(pdf)
    out = _global_seq(df, "category", "url").toPandas()
    assert len(out) == len(pdf)
    for cat, grp in out.groupby("category"):
        got = sorted(zip(grp.url, grp.seq))
        want_urls = sorted(pdf[pdf.category == cat].url)
        assert [u for u, _ in got] == want_urls
        assert sorted(s for _, s in got) == list(range(1, len(want_urls) + 1))


@settings(max_examples=20, deadline=None)
@given(st.lists(
    st.text(alphabet="ab cd\t\né", min_size=0, max_size=40), min_size=1, max_size=12,
))
def test_batch_windows_multiset_matches_set_form(texts):
    """_batch_windows (raw multiset, signature fast path) and
    _batch_shingles (unique+counts, verify path) must describe the same
    per-doc shingle multiset — including empty docs, whitespace-only
    docs, and docs shorter than k (the whole-doc-shingle splice) — and
    the batch form must equal the single-doc hashing.doc_shingle_set."""
    from finddup_spark.functions.signatures import (
        _batch_shingles,
        _batch_windows,
    )

    s = pd.Series(texts)
    flat, counts = _batch_windows(s, DEFAULT_CONFIG)
    sh, w = _batch_shingles(s, DEFAULT_CONFIG)
    assert counts.sum() == len(flat)
    off = 0
    for d in range(len(texts)):
        seg = flat[off:off + counts[d]]
        off += counts[d]
        uniq, cnt = np.unique(seg, return_counts=True)
        assert np.array_equal(uniq, np.sort(sh[d]))
        order = np.argsort(sh[d])
        assert np.array_equal(cnt.astype(np.float64), w[d][order])
        one_u, one_w = doc_shingle_set(texts[d], DEFAULT_CONFIG.shingle_k, DEFAULT_CONFIG.seed)
        assert np.array_equal(one_u, sh[d][order])
        assert np.array_equal(one_w, w[d][order])


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.text(alphabet="ab  ", min_size=0, max_size=30), min_size=1, max_size=10),
    st.integers(1, 6),
)
def test_space_shingles_match_split_semantics(texts, k):
    """_batch_space_shingles keeps the ``text.split(" ")`` token model:
    repeated, leading and trailing spaces make empty tokens, a doc with
    fewer than k tokens takes one whole-doc gram, and the per-doc
    distinct count equals the number of distinct Python k-grams."""
    from finddup_spark.operators.boilerplate import _batch_space_shingles

    flat, counts = _batch_space_shingles(pd.Series(texts), k)
    all_grams = set()
    for d, t in enumerate(texts):
        toks = t.split(" ")
        if len(toks) < k:
            grams = {tuple(toks)}
        else:
            grams = {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}
        assert counts[d] == len(grams)
        all_grams |= grams
    assert counts.sum() == len(flat)
    assert len(np.unique(flat)) == len(all_grams)
