"""The benchmark's inputs. Each builds its input from (size, seed) inside
its own directory, runs one operation through the engine's public
functions, and checks the operation's output against an independent
reference.

- ``CrawlSnapshot`` (workload crawl_snapshot): one ``DedupPipeline.run``
  over a synthetic crawl.
- ``RecrawlIncrements`` (workload recrawl_increments): one crawl segment
  merged into growing exact-dedup state by
  ``streaming.incremental.merge_batch``.
- ``ShardEdges``: accumulated shard edges for one
  ``operators.cc.connected_components``; used only by the traced run, to
  measure the CC layer on a graph far larger than a crawl's.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd

import bench
from finddup_spark.config import DEFAULT_CONFIG, IGNORE_BASENAMES
from finddup_spark.corpus import write_pages_parquet
from finddup_spark.operators.cc import connected_components
from finddup_spark.plans.pipeline import DedupPipeline
from finddup_spark.sources.tables import load_pages
from finddup_spark.streaming.incremental import (
    COMPACT_THRESHOLD, FileManifestCatalog, merge_batch,
)

# input sizes (rows are corpus.generate_pages rows; re-crawls add ~11% pages)
CRAWL_ROWS = 8000
SEGMENT_NEW = 500
SEGMENT_RECRAWL = 500
RECRAWL_BASE = 2000
RECRAWL_WARM_SEGMENTS = 8
EDGES = 300_000


def parquet_rows(path: str) -> int:
    """Row count of a parquet file or directory from footers (no Spark job)."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows() if os.path.exists(path) else 0


def tree_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def file_digest(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def pair_recall(ref: pd.Series, got: pd.Series) -> float:
    """Share of same-reference-cluster id pairs that share an output cluster.
    ``ref`` and ``got`` map id -> cluster id; ids absent from ``got`` count
    as singletons. Group-wise C(n,2) counting, no pair materialization."""
    m = pd.DataFrame({"ref": ref}).join(got.rename("got"), how="left")
    missing = m["got"].isna()
    m.loc[missing, "got"] = -1 - np.arange(int(missing.sum()))

    def pairs(sizes: pd.Series) -> int:
        return int((sizes * (sizes - 1) // 2).sum())

    total = pairs(m.groupby("ref").size())
    return pairs(m.groupby(["ref", "got"]).size()) / total if total else 1.0


def mismatches(ref: pd.Series, got: pd.Series) -> pd.Index:
    """Ids whose output cluster differs from the reference, or that appear
    on one side only."""
    j = pd.DataFrame({"ref": ref}).join(got.rename("got"), how="outer")
    return j.index[j["ref"] != j["got"]]


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


# -- crawl_snapshot ------------------------------------------------------------


class CrawlSnapshot:
    name = "crawl_snapshot"

    def __init__(self, root: str, seed: int, rows: int = CRAWL_ROWS):
        self.root, self.seed, self.rows = root, seed, rows
        self.corpus_dir = os.path.join(root, "corpus")

    def generate(self) -> str:
        self.pages_path, self.truth_path = write_pages_parquet(
            self.corpus_dir, n_rows=self.rows, seed=self.seed
        )
        return file_digest(self.pages_path, self.truth_path)

    def prepare_reference(self) -> None:
        """Exact-tier reference: the pipeline's page snapshot (latest
        warc_ts per url, text present, url basename not ignored) grouped
        by sha256(text), cluster = min doc_id."""
        df = pd.read_parquet(self.pages_path, columns=["doc_id", "url", "warc_ts", "text"])
        snap = df[df.warc_ts == df.groupby("url").warc_ts.transform("max")]
        snap = snap[snap.text.notna()]
        snap = snap[~snap.url.str.rsplit("/", n=1).str[-1].isin(IGNORE_BASENAMES)]
        sha = snap.text.map(_sha)
        self.exact_ref = snap.groupby(sha).doc_id.transform("min").set_axis(snap.doc_id)
        self.n_pages = len(df)
        self.snapshot_pages = len(snap)
        self.input_bytes = os.path.getsize(self.pages_path)
        self.sample_texts = snap.sort_values("doc_id").text.head(256).tolist()

    def inputs(self) -> dict:
        return {"rows": self.rows, "seed": self.seed, "pages": self.n_pages,
                "snapshot_pages": self.snapshot_pages, "input_bytes": self.input_bytes}

    def warm_up(self, spark) -> None:
        """One untimed pipeline run on the same corpus: a fresh JVM runs
        the first pass ~1.5x slower (JIT and codegen warm-up), and a
        smaller warm-up corpus still left the next run ~15% slow."""
        self.op(spark, -1)

    def run_op(self, spark, out: str):
        """One pipeline run into ``out``; returns (wall_s, the PipelineRun)."""
        t0 = time.monotonic()
        run = DedupPipeline(spark, out, resume=False).run(load_pages(spark, self.pages_path))
        return time.monotonic() - t0, run

    def op(self, spark, i: int) -> tuple[float, int, dict]:
        """(wall_s, pages, check) of one pipeline run; output removed after."""
        out = os.path.join(self.root, f"out{i}")
        wall, _run = self.run_op(spark, out)
        chk = self.check(out)
        shutil.rmtree(out)
        return wall, self.n_pages, chk

    def window_done(self, n_ops: int, elapsed: float, seconds: float) -> bool:
        return elapsed >= seconds

    def check(self, out: str) -> dict:
        clusters = pd.read_parquet(os.path.join(out, "clusters"))
        exact = pd.read_parquet(os.path.join(out, "exact_clusters"), columns=["doc_id", "cluster_id"])
        bad = mismatches(self.exact_ref, exact.set_index("doc_id").cluster_id)
        recall = bench.dup_pair_recall(clusters, self.truth_path,
                                       threshold=DEFAULT_CONFIG.verify_jaccard)
        return {"dup_pair_recall": recall, "cluster_mismatches": len(bad)}

    def layered(self, spark, tracer, out: str) -> dict:
        """The pipeline's layers called one at a time, in pipeline order,
        each on the previous layer's materialized output and each forced
        by a write under ``out`` — so layer spans are additive."""
        from pyspark.sql import functions as F

        from finddup_spark.functions.signatures import compute_signatures, explode_bands
        from finddup_spark.operators.exact import exact_clusters, split_ignored, valid_pages
        from finddup_spark.operators.lsh import candidate_pairs, verify_pairs
        from finddup_spark.operators.rollup import analyze_dirs, leaf_rows_from_tables, rollup_dirs
        from finddup_spark.operators.substring import (
            fingerprints, substring_candidates, verify_substring_pairs,
        )

        cfg = DEFAULT_CONFIG

        def write(df, name):
            path = os.path.join(out, name)
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)

        kept, _ignored = split_ignored(load_pages(spark, self.pages_path))
        with tracer.span("crawl.layered"):
            with tracer.span("crawl.errors"):
                errors = write(kept.filter(F.col("text").isNull()).select("doc_id", "url"), "errors")
            with tracer.span("exact"):
                exact = write(exact_clusters(kept, cfg), "exact_clusters")
            reps = exact.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
            texts = valid_pages(kept).join(reps, "doc_id", "left_semi").select("doc_id", "text").persist()
            with tracer.span("signatures"):
                sigs = write(compute_signatures(texts, cfg, with_bands=True, with_minhash=False), "signatures")
                bands = write(explode_bands(sigs, cfg), "bands")
            with tracer.span("lsh.candidate_pairs"):
                pairs, stats = candidate_pairs(bands, cfg)
                pairs = write(pairs, "mh_pairs")
                st = stats.collect()[0]
            with tracer.span("lsh.verify_pairs"):
                mh = write(verify_pairs(pairs, texts, cfg, method="minhash"), "mh_edges")
            with tracer.span("substring.candidates"):
                sub_pairs, _ = substring_candidates(fingerprints(texts, cfg), cfg)
                sub_pairs = write(sub_pairs, "sub_pairs")
            with tracer.span("substring.verify"):
                sub = write(verify_substring_pairs(
                    sub_pairs.join(mh.select("src", "dst"), ["src", "dst"], "left_anti"), texts, cfg,
                ), "sub_edges")
            with tracer.span("crawl.cc"):
                rep_clusters = write(connected_components(
                    mh.select("src", "dst").unionByName(sub.select("src", "dst"))
                ), "rep_clusters")
            with tracer.span("crawl.compose"):
                clusters = write(
                    exact.select("doc_id", F.col("cluster_id").alias("rep"))
                    .join(F.broadcast(rep_clusters.withColumnRenamed("doc_id", "rep")
                                      .withColumnRenamed("cluster_id", "fuzzy")), "rep", "left")
                    .select("doc_id", F.coalesce("fuzzy", "rep").alias("cluster_id")),
                    "clusters",
                )
            with tracer.span("rollup"):
                leaf = leaf_rows_from_tables(exact, clusters, errors)
                write(analyze_dirs(rollup_dirs(spark, leaf, checkpoint=True)), "dirs")
            spark.catalog.clearCache()
        exact_pdf = pd.read_parquet(os.path.join(out, "exact_clusters"), columns=["doc_id", "cluster_id"])
        p = lambda name: parquet_rows(os.path.join(out, name))  # noqa: E731
        return {
            "reps_out": int((exact_pdf.doc_id == exact_pdf.cluster_id).sum()),
            "band_rows": p("bands"),
            "mh_pairs": p("mh_pairs"), "mh_edges": p("mh_edges"),
            "hot_buckets": int(st.hot_buckets or 0), "max_bucket": int(st.max_bucket or 0),
            "truncated_upper_bound": int(st.pairs_truncated_upper_bound or 0),
            "sub_pairs": p("sub_pairs"), "sub_edges": p("sub_edges"),
            "cc_edges_in": p("mh_edges") + p("sub_edges"), "dirs_out": p("dirs"),
            "check": self.check(out),
        }


def hashing_kernels(texts: list[str], reps: int = 3) -> dict:
    """L0: microseconds per document of the signature and winnowing
    kernels on a fixed driver-side text sample, no Spark involved."""
    from finddup_spark.hashing import (
        band_hashes, doc_shingle_set, oph_signatures_segmented, rolling_gram_hashes, winnow,
    )

    cfg = DEFAULT_CONFIG
    blobs = [t.encode("utf-8") for t in texts]
    shingles = [doc_shingle_set(t, cfg.shingle_k, cfg.seed)[0] for t in texts]
    flat, lengths = np.concatenate(shingles), np.array([len(s) for s in shingles])
    sig = oph_signatures_segmented(flat, lengths, cfg.minhash_perms, cfg.seed)
    kernels = {
        "shingle": lambda: [doc_shingle_set(t, cfg.shingle_k, cfg.seed) for t in texts],
        "oph": lambda: oph_signatures_segmented(flat, lengths, cfg.minhash_perms, cfg.seed),
        "bands": lambda: band_hashes(sig, cfg.bands, cfg.rows_per_band),
        "winnow": lambda: [winnow(rolling_gram_hashes(b, cfg.winnow_gram), cfg.winnow_window)
                           for b in blobs],
    }
    out = {}
    for name, fn in kernels.items():
        walls = []
        for _ in range(reps):
            t0 = time.monotonic()
            fn()
            walls.append(time.monotonic() - t0)
        out[name] = float(np.median(walls)) * 1e6 / len(texts)
    return out


# -- recrawl_increments --------------------------------------------------------

_VOCAB = np.array([f"w{i:04d}" for i in range(4000)])
_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
BATCH_SCHEMA = "doc_id long, url string, warc_ts timestamp, text string"


class RecrawlIncrements:
    name = "recrawl_increments"

    def __init__(self, root: str, seed: int):
        self.root, self.seed = root, seed
        self.state_dir = os.path.join(root, "state")
        self.assign_dir = os.path.join(self.state_dir, "assignments")
        self.segments: list[pd.DataFrame] = []
        self.ref: dict[int, int] = {}       # doc_id -> expected cluster
        self._sha_state: dict[str, int] = {}
        self._originals = pd.DataFrame(columns=["url", "text"])
        self.window_compactions = 0

    def _texts(self, rng: np.random.Generator, n: int) -> list[str]:
        lens = np.clip(rng.lognormal(5.4, 0.5, n), 60, 1500).astype(np.int64)
        toks = _VOCAB[rng.integers(0, len(_VOCAB), int(lens.sum()))]
        bounds = np.concatenate(([0], np.cumsum(lens)))
        return [" ".join(toks[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]

    def make_segment(self, new: int = SEGMENT_NEW, recrawl: int = SEGMENT_RECRAWL) -> pd.DataFrame:
        """Segment i: ``new`` fresh pages plus ``recrawl`` byte-identical
        re-crawls of earlier pages under new doc_ids and a later warc_ts.
        Deterministic in (seed, i); also advances the first-seen replay."""
        i = len(self.segments)
        rng = np.random.default_rng([self.seed, i])
        first = sum(len(s) for s in self.segments)
        ids = np.arange(first, first + new)
        fresh = pd.DataFrame({
            "url": [f"https://site{int(h):03d}.example/p{d}" for h, d in zip(rng.integers(0, 200, new), ids)],
            "text": self._texts(rng, new),
        })
        again = self._originals.iloc[
            rng.choice(len(self._originals), min(recrawl, len(self._originals)), replace=False)
        ] if len(self._originals) else self._originals
        seg = pd.concat([fresh, again], ignore_index=True)
        seg.insert(0, "doc_id", np.arange(first, first + len(seg), dtype=np.int64))
        seg.insert(2, "warc_ts", _EPOCH + np.timedelta64(i, "h"))
        self._originals = pd.concat([self._originals, fresh], ignore_index=True)
        # first-seen replay: a new hash takes the batch's min doc_id
        shas = seg.text.map(_sha)
        batch_min = seg.groupby(shas).doc_id.min()
        for sha, lo in batch_min.items():
            self._sha_state.setdefault(sha, int(lo))
        for d, sha in zip(seg.doc_id, shas):
            self.ref[int(d)] = self._sha_state[sha]
        self.segments.append(seg)
        return seg

    def generate(self) -> str:
        self.make_segment(new=RECRAWL_BASE, recrawl=0)
        for _ in range(RECRAWL_WARM_SEGMENTS):
            self.make_segment()
        h = hashlib.sha256()
        for seg in self.segments:
            h.update(pd.util.hash_pandas_object(seg, index=False).values.tobytes())
        return h.hexdigest()

    def inputs(self) -> dict:
        return {"seed": self.seed, "base_pages": RECRAWL_BASE,
                "segment_pages": SEGMENT_NEW + SEGMENT_RECRAWL,
                "segments": len(self.segments), "pages": sum(len(s) for s in self.segments),
                "input_bytes": int(sum(s.text.str.len().sum() for s in self.segments))}

    def merge(self, spark, seg: pd.DataFrame, tracer=None) -> dict:
        """One segment: merge_batch, then append the assignments as
        streaming_exact_dedup's sink does. Returns walls in seconds."""
        batch = spark.createDataFrame(seg, BATCH_SCHEMA)
        t0 = time.monotonic()
        if tracer is None:
            merge_batch(spark, batch, self.state_dir).write.mode("append").parquet(self.assign_dir)
            return {"wall_s": time.monotonic() - t0}
        with tracer.span("incremental.merge_batch") as s1:
            out = merge_batch(spark, batch, self.state_dir)
        with tracer.span("incremental.assign_write") as s2:
            out.write.mode("append").parquet(self.assign_dir)
        return {"wall_s": time.monotonic() - t0, "merge_span": s1, "write_span": s2}

    def warm_up(self, spark) -> None:
        for seg in self.segments:
            self.merge(spark, seg)

    def op(self, spark, i: int) -> tuple[float, int, None]:
        """(wall_s, pages, None) of one segment; checked at the end."""
        seg = self.make_segment()
        wall = self.merge(spark, seg)["wall_s"]
        self.window_compactions += self.compacted()
        return wall, len(seg), None

    def window_done(self, n_ops: int, elapsed: float, seconds: float) -> bool:
        """The timed window is whole compaction cycles. The live delta
        count repeats with a period of COMPACT_THRESHOLD commits (the
        commit that would list one more compacts them into one), so any
        COMPACT_THRESHOLD consecutive segments hold exactly one compaction
        and every delta count in between, in the same proportion."""
        return elapsed >= seconds and n_ops % COMPACT_THRESHOLD == 0

    def deltas(self) -> list[str]:
        """The live deltas the state manifest lists."""
        return FileManifestCatalog(self.state_dir).load(FileManifestCatalog.DEFAULT_TABLE)[1]

    def compacted(self) -> bool:
        """True when the last commit compacted the state into one delta."""
        live = self.deltas()
        return len(live) == 1 and live[0].startswith("compact_")

    def state(self) -> tuple[int, int]:
        """(state rows, bytes of the newest delta)."""
        deltas = self.deltas()
        root = os.path.join(self.state_dir, "exact_state_deltas")
        rows = sum(parquet_rows(os.path.join(root, d)) for d in deltas)
        return rows, tree_bytes(os.path.join(root, deltas[-1])) if deltas else 0

    def check(self) -> dict:
        got = pd.read_parquet(self.assign_dir, columns=["doc_id", "cluster_id"])
        ref = pd.Series(self.ref)
        bad = mismatches(ref, got.set_index("doc_id").cluster_id)
        seg_of = pd.Series(np.concatenate([np.full(len(s), i) for i, s in enumerate(self.segments)]),
                           index=np.concatenate([s.doc_id.values for s in self.segments]))
        dups = got.doc_id[got.doc_id.duplicated()]
        return {"dup_pair_recall": pair_recall(ref, got.drop_duplicates("doc_id").set_index("doc_id").cluster_id),
                "cluster_mismatches": len(bad) + len(dups),
                "bad_segments": sorted({int(seg_of.get(d, -1)) for d in bad.union(dups)})}


# -- shard edges (traced run only) ---------------------------------------------


def make_edges(n_edges: int, seed: int) -> tuple[pd.DataFrame, pd.Series]:
    """Accumulated shard edges: components with Zipf(1.6) sizes (>= 2,
    capped at 5000), each a random spanning tree plus ~25% extra
    intra-component edges, src < dst, random 40-bit vertex ids, shuffled.
    Returns (edges, vertex -> min id of its component)."""
    rng = np.random.default_rng(seed)
    sizes = np.minimum(rng.zipf(1.6, n_edges) + 1, 5000)
    per_comp = (sizes - 1) + np.rint(0.25 * (sizes - 1)).astype(np.int64)
    sizes = sizes[: int(np.searchsorted(np.cumsum(per_comp), n_edges)) + 1]
    n_v = int(sizes.sum())
    ids = np.unique(rng.integers(1, 1 << 40, int(n_v * 1.05) + 16))
    ids = rng.permutation(ids)[:n_v]
    comp = np.repeat(np.arange(len(sizes)), sizes)
    start = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    pos = np.arange(n_v) - start[comp]
    child = np.flatnonzero(pos > 0)
    parent = start[comp[child]] + (rng.random(len(child)) * pos[child]).astype(np.int64)
    n_extra = np.rint(0.25 * (sizes - 1)).astype(np.int64)
    ecomp = np.repeat(np.arange(len(sizes)), n_extra)
    u = start[ecomp] + (rng.random(len(ecomp)) * sizes[ecomp]).astype(np.int64)
    v = start[ecomp] + (rng.random(len(ecomp)) * sizes[ecomp]).astype(np.int64)
    keep = u != v
    a = np.concatenate((ids[child], ids[u[keep]]))
    b = np.concatenate((ids[parent], ids[v[keep]]))
    order = rng.permutation(len(a))
    edges = pd.DataFrame({"src": np.minimum(a, b)[order], "dst": np.maximum(a, b)[order]})
    labels = np.minimum.reduceat(ids, start)[comp]
    return edges, pd.Series(labels, index=ids)


class ShardEdges:
    """The CC layer's input in the traced run: ``EDGES`` accumulated shard
    edges, parquet, with the generator's component minima as reference."""

    name = "cc_graph"

    def __init__(self, root: str, seed: int, n_edges: int = EDGES):
        self.root, self.seed, self.n_edges = root, seed, n_edges
        self.edges_path = os.path.join(root, "edges.parquet")

    def generate(self) -> str:
        edges, self.ref = make_edges(self.n_edges, self.seed)
        edges.to_parquet(self.edges_path, index=False, row_group_size=32768)
        self.n_edges_out = len(edges)
        return file_digest(self.edges_path)

    def inputs(self) -> dict:
        return {"seed": self.seed, "edges": self.n_edges_out, "vertices": len(self.ref),
                "input_bytes": os.path.getsize(self.edges_path)}

    def run_op(self, spark, out: str) -> None:
        connected_components(spark.read.parquet(self.edges_path)).write.mode("overwrite").parquet(out)

    def check(self, out: str) -> dict:
        got = pd.read_parquet(out).set_index("doc_id").cluster_id
        return {"dup_pair_recall": pair_recall(self.ref, got),
                "cluster_mismatches": len(mismatches(self.ref, got))}
