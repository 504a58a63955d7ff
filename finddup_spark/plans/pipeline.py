"""Staged end-to-end dedup pipeline with checkpoint/resume + lineage (M7).

The reference's ``analyze()`` (``finddup.py:772-808``) runs five phases
in one process with stderr progress (``finddup.py:50-87, 880-884``) and a
post-hoc change check. Here every phase writes a parquet (Iceberg in
production) stage table with a success marker; a re-run **skips any stage
whose output already exists** (resume-without-recompute, north rule) and
every stage appends per-partition metrics rows to the ``lineage`` table —
the generalization of ``unproc_files`` + the progress channel.

Scale design decisions (explicit, per SURVEY.md §4):

- **Exact-first representative dedup**: fuzzy signatures are computed
  only for exact-cluster representatives — byte-identical docs have
  identical signatures, so fuzzy work shrinks by the exact-dup ratio
  with zero recall loss (the reference's P1 "cheapest key first" at
  pipeline granularity).
- Edges from all tiers (exact / minhash / substring) union into one
  graph; CC resolves final clusters; per-doc assignment composes
  doc → exact rep → fuzzy cluster with two broadcast-friendly joins.
- Only DISK layout survives a parquet write/read boundary, so the one
  pre-write shuffle kept is the band-prefix partitionBy (hash
  partitioning "for the next stage" would be lost at the boundary; on
  Iceberg the same role is played by bucket(...) partition transforms).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, DedupConfig
from ..functions.signatures import compute_signatures, explode_bands
from ..operators.cc import connected_components
from ..operators.exact import exact_clusters, split_ignored, valid_pages
from ..operators.lsh import candidate_pairs, verify_pairs
from ..operators.rollup import analyze_dirs, leaf_rows_from_tables, rollup_dirs
from ..operators.substring import (
    fingerprints,
    substring_candidates,
    verify_substring_pairs,
)
from ..session import start_driver_threads

LINEAGE_SCHEMA = (
    "stage string, partition_id int, rows long, wall_ms long, status string"
)


#: canonical stage order — used by invalidate() to cascade downstream
STAGE_ORDER = [
    "exact_clusters", "errors", "errors_lineage", "signatures", "bands",
    "edges_work/mh_pairs", "edges_work/mh_pairs_stats",
    "edges_work/mh_edges", "edges_work/sub_pairs", "edges_work/sub_edges",
    "edges", "clusters", "dirs",
]


def invalidate(out_dir: str, stage: str) -> list[str]:
    """Remove the success marker of ``stage`` AND every downstream stage,
    so a re-run recomputes them (use after a config change; plain crash
    recovery needs nothing — stages are deterministic)."""
    removed = []
    for s in STAGE_ORDER[STAGE_ORDER.index(stage):]:
        marker = os.path.join(out_dir, s, "_SUCCESS")
        if os.path.exists(marker):
            os.remove(marker)
            removed.append(s)
    return removed


@dataclass
class StageResult:
    name: str
    rows: int
    wall_ms: int
    skipped: bool


@dataclass
class PipelineRun:
    out_dir: str
    stages: list[StageResult] = field(default_factory=list)
    finalize_ms: int = 0

    def table(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self.out_dir, name))


class DedupPipeline:
    """Orchestrates: signatures → bands → edges → clusters → dirs → report."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        cfg: DedupConfig = DEFAULT_CONFIG,
        enable_substring: bool = True,
        resume: bool = True,
    ) -> None:
        self.spark = spark
        self.out_dir = out_dir
        self.cfg = cfg
        self.enable_substring = enable_substring
        self.resume = resume
        self._lineage_rows: list[tuple] = []
        os.makedirs(out_dir, exist_ok=True)

    def _flush_lineage(self) -> None:
        if not self._lineage_rows:
            return
        import pandas as pd

        # pandas → Arrow → JVM: the tuple-list createDataFrame path runs a
        # pickled python-RDD job per write (measured 4-5 s of the pipeline's
        # finalize at ANY corpus size — pure driver overhead; guide §6
        # "Arrow for driver transfers"); the Arrow path writes in ~0.2 s
        pdf = pd.DataFrame(
            self._lineage_rows,
            columns=["stage", "partition_id", "rows", "wall_ms", "status"],
        )
        df = self.spark.createDataFrame(pdf, LINEAGE_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(os.path.join(self.out_dir, "lineage"))
        self._lineage_rows = []

    # -- stage plumbing ------------------------------------------------

    def _path(self, stage: str) -> str:
        return os.path.join(self.out_dir, stage)

    def _done(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._path(stage), "_SUCCESS"))

    def _write_stage(
        self,
        run: PipelineRun,
        stage: str,
        df_fn,
        repartition_on: str | None = None,
        partition_cols: list[str] | None = None,
    ) -> DataFrame:
        """Compute-or-skip one stage; append lineage metrics.

        ``partition_cols`` produces hive-style directory partitioning on
        disk (the Iceberg ``partitionedBy(bucket(...))`` analog) so the
        next stage and external readers can partition-prune."""
        t0 = time.monotonic()
        if self.resume and self._done(stage):
            out = self.spark.read.parquet(self._path(stage))
            run.stages.append(StageResult(stage, -1, 0, skipped=True))
            return out
        df = df_fn()
        if repartition_on is not None:
            df = df.repartition(F.col(repartition_on))
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(self._path(stage))
        out = self.spark.read.parquet(self._path(stage))
        wall_ms = int((time.monotonic() - t0) * 1000)
        # per-partition metrics (the lineage generalization of the
        # reference's progress lines, finddup.py:880-884): one output file
        # == one write partition, and parquet footers carry exact row
        # counts — read driver-side in milliseconds, NO extra Spark job
        # per stage (the previous groupBy(spark_partition_id) job re-read
        # the whole stage output)
        import glob
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        files = sorted(
            glob.glob(os.path.join(self._path(stage), "**", "*.parquet"), recursive=True)
        )

        def _rows(fpath: str) -> int:
            return pq.ParquetFile(fpath).metadata.num_rows

        # footer reads are independent, tiny, I/O-bound — a serial loop
        # over a many-file stage (e.g. the band table) is pure driver
        # wall; a small pool reads them concurrently
        if len(files) > 8:
            with ThreadPoolExecutor(max_workers=16) as pool:
                counts = list(pool.map(_rows, files))
        else:
            counts = [_rows(f) for f in files]
        n = 0
        for pid, rows in enumerate(counts):
            n += rows
            self._lineage_rows.append((stage, pid, int(rows), wall_ms, "ok"))
        run.stages.append(StageResult(stage, n, wall_ms, skipped=False))
        return out

    # -- the pipeline ----------------------------------------------------

    def run(self, pages: DataFrame) -> PipelineRun:
        run = PipelineRun(self.out_dir)
        cfg = self.cfg
        kept, ignored = split_ignored(pages) if "url" in pages.columns else (pages, None)
        if "kind" in pages.columns:
            from ..operators.exact import split_kinds

            kept, _skipped_kinds = split_kinds(kept)

        # errors stage — the queryable unproc_files analog (doc_id, url).
        # A direct null-text filter (one column-pruned scan, NO join, no
        # dependency on the exact table — the round-1 anti-join was both a
        # shuffle and a serialization point), so it runs CONCURRENTLY with
        # the exact→signatures chain on a driver thread: its scan overlaps
        # the exact tier's compute instead of extending the serial floor.
        id_cols = [c for c in ("doc_id", "url") if c in kept.columns]
        err_box: dict[str, DataFrame] = {}

        def _errors_tier() -> None:
            err_box["df"] = self._write_stage(
                run,
                "errors",
                lambda: kept.filter(F.col("text").isNull()).select(*id_cols),
            )
            errors_df = err_box["df"]
            if not (self.resume and self._done("errors_lineage")):
                errs = errors_df.select(
                    F.lit("errors").alias("stage"),
                    F.lit(-1).alias("partition_id"),
                    F.lit(1).cast("long").alias("rows"),
                    F.lit(0).cast("long").alias("wall_ms"),
                    F.concat(F.lit("error:"), F.col("url") if "url" in errors_df.columns else F.col("doc_id").cast("string")).alias("status"),
                )
                errs.write.mode("append").parquet(os.path.join(self.out_dir, "lineage"))
                os.makedirs(self._path("errors_lineage"), exist_ok=True)
                open(os.path.join(self._path("errors_lineage"), "_SUCCESS"), "w").close()

        join_errors_tier = start_driver_threads(_errors_tier)

        # stage: exact clusters (every valid page)
        exact = self._write_stage(
            run, "exact_clusters", lambda: exact_clusters(kept, cfg)
        )

        # representatives: one doc per exact cluster (scale: fuzzy work
        # shrinks by the exact-dup ratio, recall unchanged)
        reps = exact.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
        rep_pages = valid_pages(kept).join(reps, "doc_id", "left_semi")

        # ONE corpus text scan for the whole fuzzy tier: the signature
        # kernel populates this cache, and the minhash verify / winnowing
        # / substring verify all reuse it
        texts = rep_pages.select("doc_id", "text").persist()

        # fused kernel: band hashes computed in the same pass; the 1 KB/row
        # minhash binary is never materialized (bands are all LSH needs,
        # and verification re-shingles from text) — the 256 B/row of band
        # hashes is a quarter of the minhash binary's stage bytes.
        # No repartition before write: no downstream consumer joins on
        # doc_id distribution (bands re-shuffles by band key).
        sigs = self._write_stage(
            run,
            "signatures",
            # rebalance before write (guide §6 "coalesce on write"): the
            # kernel runs at cores-many partitions for compute parallelism,
            # but the ~300 B/row signature table written from them is tiny
            # per task — AQE sizes the write to advisory-sized files (one
            # file at bench scale instead of 32; a handful of right-sized
            # files at corpus scale), and the next stage's scan stops
            # paying per-file open cost. The exchange this adds moves only
            # the narrow signature rows, never text.
            lambda: compute_signatures(
                texts, cfg, with_bands=True, with_minhash=False
            ).hint("rebalance"),
        )
        bands = self._write_stage(
            run,
            "bands",
            # band-prefix disk partitioning (north rule: stage tables
            # "partitioned by signature-band prefix") — readers of a band
            # range prune directories
            lambda: explode_bands(sigs, cfg).withColumn(
                "band_prefix", F.pmod("band_hash", F.lit(16))
            ),
            # no pre-write repartition: hashing to 16 band_prefix
            # partitions capped the write at 16 tasks and added a full
            # shuffle of the band table — writing 16-way dynamic
            # partitions straight from the explode's scan tasks keeps
            # the write at full parallelism (more, smaller files; at
            # real scale the Iceberg writer handles fanout natively)
            partition_cols=["band_prefix"],
        )

        # ---- edges tier, as materialized SUB-stages -------------------
        # One monolithic edges DAG (persist-lazy union of minhash verify +
        # winnowing + substring verify) measured ~2x slower than running
        # the same sub-steps as separate materialized jobs: concurrent
        # stages of the one job race to populate the shared caches and
        # recompute partitions. Sub-stage tables also give finer-grained
        # resume (a crash mid-substring keeps the verified minhash edges)
        # — the north rule's "any stage resumes without recompute".
        #
        # The MINHASH chain (mh_pairs → mh_edges) and the SUBSTRING chain
        # (winnowing fps → sub_pairs) are data-independent, so they run on
        # two driver THREADS: each stage's scheduling/commit gaps overlap
        # the other tier's compute (a cluster driver does the same with
        # concurrent job groups). Work-conserving: at low core counts the
        # scheduler interleaves them with no extra total work. The shared
        # rep-text cache was already materialized by the signature stage
        # (or is rebuilt lazily on resume) so the threads cannot race to
        # populate an empty cache with both reading it from scratch.
        if self.resume and all(
            self._done(s) for s in ("edges_work/mh_edges", "edges_work/sub_pairs")
        ):
            pass  # both tiers will skip — no need to touch the cache
        else:
            texts.count()

        mh_box: dict[str, DataFrame] = {}
        sub_box: dict[str, DataFrame] = {}

        def _mh_tier() -> None:
            pairs, stats = candidate_pairs(bands, cfg)
            pairs = self._write_stage(run, "edges_work/mh_pairs", lambda: pairs)
            if not (self.resume and self._done("edges_work/mh_pairs_stats")):
                st = stats.collect()[0]
                self._lineage_rows.append((
                    "edges", -1, int(st.pairs_truncated_upper_bound or 0), 0,
                    f"hot_buckets={st.hot_buckets} max_bucket={st.max_bucket}",
                ))
                os.makedirs(self._path("edges_work/mh_pairs_stats"), exist_ok=True)
                open(os.path.join(self._path("edges_work/mh_pairs_stats"), "_SUCCESS"), "w").close()
            mh_box["edges"] = self._write_stage(
                run, "edges_work/mh_edges",
                lambda: verify_pairs(pairs, texts, cfg, method="minhash"),
            )

        def _sub_tier() -> None:
            fps = fingerprints(texts, cfg)
            sub_pairs_df, _sub_stats = substring_candidates(fps, cfg)
            sub_box["pairs"] = self._write_stage(
                run, "edges_work/sub_pairs", lambda: sub_pairs_df
            )

        tiers = [_mh_tier] + ([_sub_tier] if self.enable_substring else [])
        start_driver_threads(*tiers)()

        mh_edges = mh_box["edges"]
        sub_edges = None
        if self.enable_substring:
            sub_edges = self._write_stage(
                run, "edges_work/sub_edges",
                # skip pairs minhash already found (left_anti — J2 analog)
                lambda: verify_substring_pairs(
                    sub_box["pairs"].join(
                        mh_edges.select("src", "dst"), ["src", "dst"], "left_anti"
                    ),
                    texts,
                    cfg,
                ),
            )

        def _edges() -> DataFrame:
            exact_edges = (
                exact.filter(
                    (F.col("cluster_size") > 1) & (F.col("doc_id") != F.col("cluster_id"))
                )
                .select(
                    F.col("cluster_id").alias("src"),
                    F.col("doc_id").alias("dst"),
                    F.lit(1.0).alias("sim"),
                    F.lit("exact").alias("method"),
                )
            )
            all_edges = mh_edges.unionByName(exact_edges)
            if sub_edges is not None:
                all_edges = all_edges.unionByName(sub_edges)
            return all_edges

        # no repartition_on for exact/clusters/edges: hash partitioning
        # does NOT survive a parquet write/read boundary (only bucketing
        # would), so a pre-write shuffle "for the next stage" was a pure
        # cost — the band_prefix DISK layout is the one that matters
        edges = self._write_stage(run, "edges", _edges)
        # the edges stage is the last consumer of every cached intermediate
        # (rep texts, pairs, mh_edges, salted band tables)
        self.spark.catalog.clearCache()

        def _clusters() -> DataFrame:
            # vertices=None: only edge-touched reps need labels — the
            # coalesce below maps untouched reps to themselves, so the
            # label table stays edge-sized (broadcastable at any scale)
            rep_clusters = connected_components(edges.filter(F.col("method") != "exact"))
            # compose doc → exact rep → fuzzy cluster
            # broadcast: rep_clusters rows ~= docs touched by a fuzzy edge
            # (tiny vs the corpus even at 10^12 docs) — avoids shuffling
            # the full per-doc exact table
            return (
                exact.select("doc_id", F.col("cluster_id").alias("rep"))
                .join(
                    F.broadcast(
                        rep_clusters.withColumnRenamed("doc_id", "rep")
                        .withColumnRenamed("cluster_id", "fuzzy_cluster")
                    ),
                    "rep",
                    "left",
                )
                .select(
                    "doc_id",
                    F.coalesce("fuzzy_cluster", "rep").alias("cluster_id"),
                )
            )

        clusters = self._write_stage(run, "clusters", _clusters)

        # the errors tier ran concurrently since the top of run(); its
        # output is only needed from here on (dirs leaf rows)
        join_errors_tier()
        errors_df = err_box["df"]

        if "url" in pages.columns:
            def _dirs() -> DataFrame:
                # leaf rows from the stage TABLES (no pages re-scan)
                leaf = leaf_rows_from_tables(exact, clusters, errors_df)
                # checkpoint=True: leaves are cached, so each level's
                # eager job is tiny — and the write-time plan stays flat
                # instead of a depth-deep nested union (measured: the
                # lazy variant was both slower and high-variance).
                # rebalance: the dirs table is dir-count-sized (tiny vs
                # the corpus at every scale) — without it the write
                # inherits ~parallelism-many near-empty partitions
                dirs = rollup_dirs(self.spark, leaf, checkpoint=True)
                return analyze_dirs(dirs).hint("rebalance")

            self._write_stage(run, "dirs", _dirs)
        t_fin = time.monotonic()
        self._flush_lineage()
        self.spark.catalog.clearCache()  # drop per-level rollup caches
        run.finalize_ms = int((time.monotonic() - t_fin) * 1000)
        return run

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.out_dir, "lineage"))
