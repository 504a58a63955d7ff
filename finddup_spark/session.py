"""SparkSession factory with scale-appropriate defaults.

Settings chosen for the 100 TB target, not just the sandbox:
- AQE on (runtime coalescing + skew-join splitting — SURVEY.md §4 P5's
  free tier; explicit salting in operators/lsh.py covers what AQE can't);
- Arrow enabled for every pandas UDF boundary;
- UTC session timezone (duckdb-oracle comparability; guide pitfall);
- shuffle partitions default to cores locally; on a real cluster this is
  overridden by --conf (and AQE coalesces anyway).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """Half of physical RAM, capped at 24g, floored at 2g — the JVM heap
    must leave room for python UDF workers and the OS page cache."""
    try:
        pages = os.sysconf("SC_PHYS_PAGES")
        page_size = os.sysconf("SC_PAGE_SIZE")
        total_gb = pages * page_size / (1 << 30)
    except (ValueError, OSError):
        return "8g"
    return f"{max(2, min(24, int(total_gb // 2)))}g"


def ensure_min_partitions(df):
    """Round-robin the input up to ``defaultParallelism`` partitions IFF
    it arrives narrower (tiny/local inputs land in 1-2 parquet splits —
    single-row-group files cannot split further, so a compute-dense
    expression or UDF downstream runs near single-threaded). A corpus-
    scale input already has thousands of splits, making this a no-op
    there — the same guard compute_signatures has always used."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def start_driver_threads(*tiers: Callable[[], None]) -> Callable[[], None]:
    """Start each independent tier on its own driver thread and return
    ``join``: it waits for every tier, then re-raises every failure — the
    first as the raised exception, the others chained through
    ``__context__`` so all of them show in the traceback.

    Spark jobs submitted from driver threads run concurrently (PySpark
    pins each Python thread to a JVM thread), so one tier's scheduling
    and commit gaps overlap another tier's compute. Calling ``join``
    later than the start lets a tier overlap the caller's own work."""
    errs: list[BaseException] = []

    def guarded(fn: Callable[[], None]) -> Callable[[], None]:
        def run() -> None:
            try:
                fn()
            except BaseException as e:  # re-raised by join()
                errs.append(e)
        return run

    threads = [
        threading.Thread(target=guarded(fn), name=fn.__name__.strip("_"))
        for fn in tiers
    ]
    for t in threads:
        t.start()

    def join() -> None:
        for t in threads:
            t.join()
        if errs:
            primary = ctx = errs[0]
            for other in errs[1:]:
                while ctx.__context__ is not None:
                    ctx = ctx.__context__
                ctx.__context__ = other
                ctx = other
            raise primary

    return join


def get_spark(
    app_name: str = "finddup-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # 4 waves of tasks per shuffle: with partitions == cores, one skewed
    # task stalls the whole stage (bucket sizes ARE skewed); 4x lets the
    # scheduler rebalance. Cluster analog: 2-4x total executor cores.
    shuffle_partitions = shuffle_partitions or max(4 * cores, 16)
    # Python workers import finddup_spark by name (cloudpickled pandas
    # UDFs); make the package importable regardless of driver cwd. On a
    # real cluster this is `spark-submit --py-files dist/finddup_spark.zip`.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    # glibc: serve numpy's multi-MB temporaries from the reusable heap
    # instead of per-call mmap/munmap — at 32 concurrent UDF workers the
    # page-fault storm contends on kernel zone locks (measured 2x on the
    # signature kernel). Inherited by executor JVM → python workers.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # dedup stages are compute-dense per byte (hashing/shingling is
        # ~ms/KB, 10-100x denser than typical SQL): the 64MB default
        # advisory coalesces a 300MB band shuffle to ~5 partitions and
        # idles most cores. 8MB keeps post-AQE parallelism ~= cores.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # let AQE re-size exchanges INSIDE persisted plans (off by default):
        # the pair generator / signature caches otherwise pin the raw
        # shuffle-partition fan-out for every downstream stage — a cached
        # window at 64 partitions forces 64-task stages (and 64-file stage
        # writes) no matter how small the data, and at scale it pins
        # whatever the static setting was instead of the data-sized AQE
        # choice. Coalescing preserves hash clustering, so the cached
        # (band_id, band_hash) partitioning downstream operators reuse is
        # still exchange-free.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # text-dedup stages are compute-dense per byte: smaller scan splits
        # keep all cores busy on medium inputs; at 100 TB the input has
        # thousands of splits either way and AQE coalesces the excess.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.session.timeZone", "UTC")
        # 24g cap: the rep-text cache plus execution memory must fit
        # without GC thrash — an 8g heap measured fine to ~500k pages but
        # disproportionately slowed the HIGH-parallelism leg at ~1M
        # (allocation rate scales with concurrent tasks). Cluster analog:
        # size executor memory to the cached working set. Derived from
        # physical RAM (half, capped) so small hosts don't overcommit.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_heap()))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        # commit algorithm v2: task outputs rename straight into the
        # destination instead of a second serial job-commit rename pass —
        # the stage-commit gap between pipeline stages is pure driver
        # serial time that a cluster pays too (public Hadoop committer
        # semantics; the tradeoff — visible partial output on job failure
        # — is irrelevant for stage dirs gated by _SUCCESS markers).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
