"""Deterministic synthetic `pages` corpus generator (FIXTURES.md §1, M0).

Schema (BASELINE.json ``input_hint``):
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Injected structure, all seeded (default seed 42), mirroring the reference's
measured corpus shape (``/root/reference/archive/filesize_stats.txt``: 99%
of dup groups < 46 members):

- exact-dup clusters (~5% of rows) — identical ``text`` under different urls;
- near-dup clusters (~10%) — seeded token edits at controlled rates; the
  truth sidecar records the EXACT shingle Jaccard realized (computed with
  the same hashing as the engine, so recall accounting is exact);
- boilerplate cohort (~hot-bucket skew) — many pages sharing a large
  common token block with small unique middles (LSH bucket skew driver,
  SURVEY.md §4 P5); pairwise Jaccard is kept BELOW the 0.8 verify
  threshold so these stress candidate generation, not truth;
- long-verbatim pairs (~2%) — unrelated pages sharing one >=512-char span
  (substring tier ground truth; invisible to whole-doc MinHash);
- site mirrors — hostB/** clones hostA/** with renamed leaf paths (must
  match: reference dir-dup semantics are name-insensitive,
  finddup.py:621-623); a near-mirror differing by one page (must NOT
  match); a mirror differing only by an ignored-name page (MUST match —
  F1 semantics, finddup.py:862-871);
- error rows (~1%) — ``text`` null → lineage rows; any host subtree
  containing one is "unknown" (contamination, finddup.py:617-620);
- re-crawl rows (~0.5%) — same url at two ``warc_ts`` (snapshot test).

Truth sidecar: truth_clusters(doc_id, cluster_id, kind, jaccard) where
kind ∈ {exact, near, boilerplate, substring, mirror, error, unique}.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

from .config import DEFAULT_CONFIG, DedupConfig
from .extract import render_html
from .hashing import doc_shingle_set

LANGS = ["en", "fr", "es", "de", "zh"]
_EPOCH = datetime(2024, 1, 1, 0, 0, 0)


@dataclass
class _Page:
    url: str
    tokens: list[str]
    lang: str
    kind: str
    cluster: int  # truth cluster key (generator-local; -1 = singleton)
    jaccard: float
    ts_offset: int = 0
    error: bool = False
    extra: dict = field(default_factory=dict)


def _vocab(lang: str, size: int = 4000) -> np.ndarray:
    return np.array([f"{lang}w{i:05d}" for i in range(size)])


def _zipf_tokens(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[str]:
    # Zipf-ish via exponential rank sampling (bounded, deterministic)
    ranks = np.minimum(
        (rng.exponential(scale=len(vocab) / 8.0, size=n)).astype(np.int64),
        len(vocab) - 1,
    )
    return list(vocab[ranks])


def _text_of(tokens: list[str], para: int = 60) -> str:
    paras = [" ".join(tokens[i : i + para]) for i in range(0, len(tokens), para)]
    return "\n\n".join(paras)


def token_jaccard_shingles(a: list[str], b: list[str], cfg: DedupConfig) -> float:
    """Exact shingle-set Jaccard using the engine's own hashing."""
    def sh(toks: list[str]) -> set[int]:
        u, _w = doc_shingle_set(" ".join(toks), cfg.shingle_k, cfg.seed)
        return set(u.tolist())

    sa, sb = sh(a), sh(b)
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


def generate_pages(
    n_rows: int = 500,
    seed: int = 42,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Build (pages_df, truth_df). Deterministic in (n_rows, seed)."""
    rng = np.random.default_rng(seed)
    vocabs = {lang: _vocab(lang) for lang in LANGS}
    pages: list[_Page] = []
    next_cluster = [0]

    def new_cluster() -> int:
        next_cluster[0] += 1
        return next_cluster[0]

    n_hosts = max(4, n_rows // 40)
    hosts = [f"site{h:04d}.example" for h in range(n_hosts)]

    def mk_url(host: str, depth_rng: np.random.Generator, leaf: str) -> str:
        d = int(depth_rng.integers(0, 3))
        segs = [f"s{int(depth_rng.integers(0, 5))}" for _ in range(d)]
        return f"https://{host}/" + "/".join(segs + [leaf])

    def base_page(i: int, host: str | None = None, n_tok: int | None = None) -> _Page:
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        if n_tok is None:
            n_tok = int(np.clip(rng.lognormal(5.2, 0.9), 50, 5000))
        toks = _zipf_tokens(rng, vocabs[lang], n_tok)
        host = host or hosts[int(rng.integers(0, len(hosts)))]
        url = mk_url(host, rng, f"page{i:06d}.html")
        return _Page(url, toks, lang, "unique", -1, 1.0)

    # ------- budget split -------
    n_exact = max(2, int(n_rows * 0.05))
    n_near = max(2, int(n_rows * 0.10))
    n_boiler = max(8, int(n_rows * 0.08))
    n_substr = max(2, int(n_rows * 0.02) // 2 * 2)
    n_err = max(1, int(n_rows * 0.01))
    n_recrawl = max(1, int(n_rows * 0.005))
    n_mirror_hosts = max(1, n_rows // 400)
    n_base = max(
        10,
        n_rows - n_exact - n_near - n_boiler - n_substr - n_err,
    )

    pid = 0
    for _ in range(n_base):
        pages.append(base_page(pid)); pid += 1

    # ------- exact-dup clusters (cluster sizes mimic reference stats) -----
    placed = 0
    while placed < n_exact:
        size = int(rng.choice([2, 2, 2, 3, 3, 4, 5, 8], p=[.35, .2, .15, .1, .08, .06, .04, .02]))
        if n_rows >= 5000 and placed == 0:
            size = 220  # one group past finddup's MAX_FILES_OPEN=200 analog
        size = min(size, n_exact - placed + 1)
        if size < 2:
            break
        proto = base_page(pid); pid += 1
        c = new_cluster()
        proto.kind, proto.cluster = "exact", c
        pages.append(proto)
        for j in range(size - 1):
            host = hosts[int(rng.integers(0, len(hosts)))]
            dup = _Page(
                mk_url(host, rng, f"copy{pid:06d}.html"),
                list(proto.tokens), proto.lang, "exact", c, 1.0,
            )
            pages.append(dup); pid += 1
            placed += 1

    # ------- near-dup clusters at controlled edit rates -------
    rates = [0.01, 0.02, 0.04, 0.06, 0.15]
    placed = 0
    while placed < n_near:
        rate = float(rng.choice(rates))
        proto = base_page(pid); pid += 1
        c = new_cluster()
        proto.kind, proto.cluster = "near", c
        pages.append(proto)
        size = int(rng.integers(1, 4))  # 1-3 variants
        for _ in range(size):
            toks = list(proto.tokens)
            n_edit = max(1, int(len(toks) * rate))
            idx = rng.choice(len(toks), size=n_edit, replace=False)
            vocab = vocabs[proto.lang]
            for t in idx:
                toks[t] = str(vocab[int(rng.integers(0, len(vocab)))])
            jac = token_jaccard_shingles(proto.tokens, toks, cfg)
            host = hosts[int(rng.integers(0, len(hosts)))]
            var = _Page(
                mk_url(host, rng, f"near{pid:06d}.html"),
                toks, proto.lang, "near", c, jac,
            )
            pages.append(var); pid += 1
            placed += 1

    # ------- boilerplate cohort → hot LSH buckets, sub-threshold Jaccard ---
    boiler_lang = "en"
    boiler = _zipf_tokens(rng, vocabs[boiler_lang], 80)
    for _ in range(n_boiler):
        mid = _zipf_tokens(rng, vocabs[boiler_lang], 40)
        toks = boiler[:40] + mid + boiler[40:]
        host = hosts[int(rng.integers(0, len(hosts)))]
        pages.append(_Page(
            mk_url(host, rng, f"boiler{pid:06d}.html"),
            toks, boiler_lang, "boilerplate", 0, 0.0,
        )); pid += 1

    # ------- long-verbatim pairs (substring tier truth) -------
    # the span must be byte-contiguous in the final text, so it is emitted
    # as its own paragraph (paragraph re-chunking would otherwise move the
    # "\n\n" breaks to different offsets in the two docs)
    for _ in range(n_substr // 2):
        span_para = " ".join(_zipf_tokens(rng, vocabs["en"], 120))  # ≥ 512 chars
        c = new_cluster()
        for side in range(2):
            filler = _zipf_tokens(rng, vocabs["en"], int(rng.integers(200, 400)))
            cut = (int(rng.integers(1, len(filler) // 60)) * 60) if len(filler) >= 120 else 60
            toks = filler[:cut] + span_para.split() + filler[cut:]
            host = hosts[int(rng.integers(0, len(hosts)))]
            p = _Page(
                mk_url(host, rng, f"sub{pid:06d}.html"),
                toks, "en", "substring", c, 0.0,
            )
            p.extra["text_override"] = (
                _text_of(filler[:cut]) + "\n\n" + span_para + "\n\n" + _text_of(filler[cut:])
            )
            pages.append(p); pid += 1

    # ------- site mirrors (dir-dup analog) -------
    for m in range(n_mirror_hosts):
        host_a = f"mirror-a{m:03d}.example"
        host_b = f"mirror-b{m:03d}.example"   # full mirror, renamed leaves → MUST match
        host_c = f"mirror-c{m:03d}.example"   # + ignored-name page only → MUST match
        host_d = f"mirror-d{m:03d}.example"   # one page differs → must NOT match
        n_pages = int(rng.integers(3, 7))
        protos = []
        for j in range(n_pages):
            p = base_page(pid, host=host_a); pid += 1
            p.url = f"https://{host_a}/docs/p{j}.html"
            protos.append(p); pages.append(p)
        for j, p in enumerate(protos):
            c = p.cluster if p.cluster != -1 else new_cluster()
            p.cluster = c
            p.kind = "mirror"
            pages.append(_Page(f"https://{host_b}/docs/renamed{j}.html",
                               list(p.tokens), p.lang, "mirror", c, 1.0))
            pages.append(_Page(f"https://{host_c}/docs/p{j}.html",
                               list(p.tokens), p.lang, "mirror", c, 1.0))
            pid += 2
        # ignored-name page only under host_c (excluded from subtree sigs)
        pages.append(_Page(f"https://{host_c}/docs/robots.txt",
                           ["user-agent:", "*"], "en", "ignored", -1, 1.0))
        pid += 1
        # host_d: same but one page replaced
        for j, p in enumerate(protos):
            if j == 0:
                q = base_page(pid, host=host_d); pid += 1
                q.url = f"https://{host_d}/docs/p{j}.html"
                pages.append(q)
            else:
                pages.append(_Page(f"https://{host_d}/docs/p{j}.html",
                                   list(p.tokens), p.lang, "mirror", p.cluster, 1.0))
                pid += 1

    # ------- error rows -------
    for _ in range(n_err):
        p = base_page(pid); pid += 1
        p.error = True
        p.kind = "error"
        pages.append(p)

    # ------- re-crawl rows (same url, later warc_ts) -------
    recrawl_sources = [p for p in pages if not p.error][:n_recrawl]
    for p in recrawl_sources:
        clone = _Page(p.url, list(p.tokens) + ["recrawl", "delta"], p.lang,
                      "recrawl", -1, 1.0, ts_offset=86400 * 30)
        pages.append(clone)

    # ------- materialize -------
    order = rng.permutation(len(pages))
    rows = []
    truth = []
    for doc_id, k in enumerate(order):
        p = pages[int(k)]
        text = p.extra.get("text_override") or _text_of(p.tokens)
        title = " ".join(p.tokens[:4])
        html = render_html(text, title)
        if p.error:
            # malformed html (undecodable) → extractor yields null text
            html = b"\xff\xfe" + html[:40]
            text_out = None
        else:
            text_out = text
        ts = _EPOCH + timedelta(
            seconds=int(rng.integers(0, 86400 * 200)) + p.ts_offset
        )
        rows.append(
            {"doc_id": doc_id, "url": p.url, "warc_ts": ts, "html": html,
             "text": text_out, "lang": p.lang}
        )
        truth.append(
            {"doc_id": doc_id, "cluster_key": p.cluster, "kind": p.kind,
             "jaccard": p.jaccard}
        )
    pages_df = pd.DataFrame(rows)
    truth_df = pd.DataFrame(truth)
    # truth cluster_id = min doc_id over generator cluster key (matches the
    # engine's deterministic min-doc_id convention, SURVEY §2.4 A7)
    keyed = truth_df[truth_df.cluster_key > 0]
    m = keyed.groupby("cluster_key")["doc_id"].min().rename("cluster_id")
    truth_df = truth_df.merge(m, on="cluster_key", how="left")
    truth_df["cluster_id"] = truth_df["cluster_id"].fillna(truth_df["doc_id"]).astype(np.int64)
    return pages_df, truth_df


def write_pages_parquet(path: str, n_rows: int = 500, seed: int = 42) -> tuple[str, str]:
    """Write pages + truth parquet under ``path``; returns the two paths."""
    import os

    os.makedirs(path, exist_ok=True)
    pages_df, truth_df = generate_pages(n_rows, seed)
    # Spark can't read TIMESTAMP(NANOS) parquet — write microseconds.
    pages_df["warc_ts"] = pages_df["warc_ts"].astype("datetime64[us]")
    pages_path = os.path.join(path, "pages.parquet")
    truth_path = os.path.join(path, "truth_clusters.parquet")
    # small row groups: a single-file corpus with ONE row group is
    # unsplittable — every Spark scan collapses to one task regardless of
    # cores (measured: the whole signature stage ran single-task). ~2k rows
    # ≈ 5 MB per group keeps byte-range splits real.
    pages_df.to_parquet(pages_path, index=False, row_group_size=2048)
    truth_df.to_parquet(truth_path, index=False, row_group_size=65536)
    return pages_path, truth_path
