"""End-to-end staged pipeline (M6/M7): three-tier cluster equality vs the
combined oracle, substring truth, checkpoint/resume, lineage."""

import os

import pandas as pd
import pytest

from finddup_spark.oracle import (
    _UnionFind,
    run_oracle,
    substring_edges_oracle,
)
from finddup_spark.operators.substring import lcs_length
from finddup_spark.plans.pipeline import DedupPipeline
from finddup_spark.sources.tables import load_pages


@pytest.fixture(scope="module")
def piperun(spark, tiny_corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    pages = load_pages(spark, tiny_corpus[0])
    run = DedupPipeline(spark, out).run(pages)
    clusters = run.table(spark, "clusters").toPandas()
    return out, pages, run, clusters


def test_three_tier_assignments_match_combined_oracle(piperun):
    out, pages, run, clusters = piperun
    got = dict(zip(clusters.doc_id, clusters.cluster_id))
    ignored = set(
        pages.filter(
            "url like '%robots.txt' or url like '%favicon.ico'"
        ).select("doc_id").toPandas().doc_id
    )
    docs = pages.select("doc_id", "text").toPandas()
    docs = docs[~docs.doc_id.isin(ignored)]
    orc = run_oracle(docs)
    sub = substring_edges_oracle(docs.dropna())
    uf = _UnionFind()
    for d in orc.clusters:
        uf.find(d)
    for e in orc.edges:
        uf.union(*e)
    for e in sub:
        uf.union(*e)
    want = {d: uf.find(d) for d in orc.clusters}
    assert got == want


def test_substring_truth_clusters_united(piperun, tiny_corpus):
    _, _, _, clusters = piperun
    got = dict(zip(clusters.doc_id, clusters.cluster_id))
    truth = pd.read_parquet(tiny_corpus[1])
    sub_t = truth[truth.kind == "substring"]
    checked = 0
    for _, g in sub_t.groupby("cluster_id"):
        ids = [i for i in g.doc_id if i in got]
        if len(ids) > 1:
            checked += 1
            assert len({got[i] for i in ids}) == 1
    assert checked > 0


def test_resume_skips_completed_stages(spark, tiny_corpus, piperun):
    out, pages, _, first = piperun
    run2 = DedupPipeline(spark, out).run(pages)
    assert all(s.skipped for s in run2.stages)
    again = run2.table(spark, "clusters").toPandas()
    a = first.sort_values("doc_id").reset_index(drop=True)
    b = again.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_resume_recomputes_missing_stage(spark, tiny_corpus, piperun):
    out, pages, _, first = piperun
    # kill stage 'clusters' (delete success marker) → only downstream reruns
    os.remove(os.path.join(out, "clusters", "_SUCCESS"))
    run3 = DedupPipeline(spark, out).run(pages)
    states = {s.name: s.skipped for s in run3.stages}
    assert states["exact_clusters"] and states["signatures"] and states["bands"] and states["edges"]
    assert not states["clusters"]
    again = run3.table(spark, "clusters").toPandas()
    a = first.sort_values("doc_id").reset_index(drop=True)
    b = again.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_lineage_has_all_stages_and_errors(spark, piperun):
    out, pages, _, _ = piperun
    lin = spark.read.parquet(os.path.join(out, "lineage")).toPandas()
    stages = set(lin.stage)
    for s in ["exact_clusters", "signatures", "bands", "edges", "clusters", "dirs", "errors"]:
        assert s in stages, s
    n_err_pages = pages.filter("text is null").count()
    # per-page error rows carry an "error:<url>" status; the errors stage
    # ALSO has its own per-partition "ok" metrics rows like any stage
    assert lin.status.str.startswith("error:").sum() == n_err_pages
    ok = lin[~lin.status.str.startswith("error:") & (lin.stage != "edges")]
    assert (ok.status == "ok").all()


def test_lcs_length_exact():
    assert lcs_length(b"abcdefgh", b"xxcdefyy") == 4
    assert lcs_length(b"abc", b"xyz") == 0
    assert lcs_length(b"", b"abc") == 0
    assert lcs_length(b"same", b"same") == 4
    span = b"S" * 600
    assert lcs_length(b"aa" + span + b"bb", b"cc" + span) == 600


def test_substring_lcs_len_column(spark):
    """with_lcs_len=True emits the exact LCS length per edge, checked
    against an independent O(n·m) dynamic-programming oracle."""
    import random

    import numpy as np
    from finddup_spark.operators.substring import (
        fingerprints,
        substring_candidates,
        verify_substring_pairs,
    )

    rng = random.Random(7)
    alpha = "abcdefghij"
    span = "".join(rng.choice(alpha) for _ in range(700))
    docs = [
        (0, "X" * 300 + span + "Y" * 200),
        (1, "Z" * 150 + span + "W" * 400),
        (2, "".join(rng.choice(alpha) for _ in range(900))),
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    pairs, _ = substring_candidates(fingerprints(sdf))
    edges = verify_substring_pairs(pairs, sdf, with_lcs_len=True).toPandas()
    assert set(zip(edges.src, edges.dst)) == {(0, 1)}

    def dp_lcs(a: str, b: str) -> int:
        prev = np.zeros(len(b) + 1, dtype=np.int32)
        best = 0
        for i in range(1, len(a) + 1):
            cur = np.zeros(len(b) + 1, dtype=np.int32)
            eq = np.frombuffer(b.encode(), dtype=np.uint8) == ord(a[i - 1])
            cur[1:][eq] = prev[:-1][eq] + 1
            best = max(best, int(cur.max()))
            prev = cur
        return best

    expect = dp_lcs(docs[0][1], docs[1][1])
    assert expect >= 700
    assert int(edges.lcs_len.iloc[0]) == expect


def test_driver_threads_reraise_every_failure():
    """The tier runner waits for every tier and surfaces EVERY failure:
    the first raised, the others chained through __context__; a tier
    that succeeds still completes."""
    import threading

    from finddup_spark.session import start_driver_threads

    ok = threading.Event()
    first_failed = threading.Event()

    def _fails_first():
        first_failed.set()
        raise ValueError("first")

    def _fails_second():
        first_failed.wait(timeout=10)
        raise KeyError("second")

    join = start_driver_threads(_fails_first, ok.set, _fails_second)
    with pytest.raises(ValueError) as info:
        join()
    assert isinstance(info.value.__context__, KeyError)
    assert ok.is_set()
    start_driver_threads(ok.clear)()  # no failure: join returns normally
    assert not ok.is_set()
