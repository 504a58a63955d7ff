#!/usr/bin/env python3
"""Benchmark for the finddup_spark engine.

    python3 perfbench/run.py --workload crawl_snapshot --seed 1 --seconds 10 --trace 0

Run from the repository root. One closed-loop client (this process) drives
Spark local[4]; the next operation starts when the previous one returns.
Workloads (see workloads.py): crawl_snapshot and recrawl_increments.

--trace 0 times the named workload: session start, input generation (run
GEN_REPS times; every repeat must reproduce the same bytes) and warm-up,
then operations until --seconds have passed and at least MIN_OPS ran
(recrawl_increments also ends its window on a compaction; see
RecrawlIncrements.window_done). Every operation's output is checked
against an independent reference; a wrong answer fails the run (exit 1)
and reports no throughput.

--trace 1 is the separate traced run. Whatever --workload names, it runs
the layers of both workloads plus CC on a large shard-edge graph, so every
per-layer metric is measured in every traced run: spans (name, start, end,
parent, run id) are kept in memory around each call into a layer and
written at the end with the Spark cost of each span, parsed from an event
log in the run directory. It also reports each workload's
traced-vs-untraced wall (tracing overhead).

The last stdout line is the result JSON (correct, attempted, failed,
metrics); the line before it is the run record (inputs, settings, host
control, per-operation walls and the checks). Scratch data lives under
perfbench/_runs/<run>/ and is removed at exit; the record and the trace
stay as perfbench/_runs/<run>.json.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, "_runs")

#: pinned engine and harness settings, echoed into every run record
SETTINGS = {
    "master": "local[4]",
    "cores": 4,
    "spark.sql.shuffle.partitions": 16,
    "SPARK_DRIVER_MEM": "3g",
    # a fixed-size heap and young generation: without them the JVM's
    # adaptive sizing made both peak RSS and the CC walls vary run to run
    "jvm_options": "-Xms3g -Xmn1g -XX:-UsePerfData",
    "SPARK_LOCAL_DIRS": "<run dir>/local, removed after each run",
    "gen_reps": 3,
    "min_ops": 1,
    "client": "closed loop, 1 client",
}
GEN_REPS = SETTINGS["gen_reps"]
MIN_OPS = SETTINGS["min_ops"]
#: recrawl segments timed untraced, and at least as many traced, in --trace 1
TRACE_SEGMENTS = 8
#: a run never starts an operation this late, so it ends well within 180 s
HARD_STOP_S = 120.0

END_TO_END = {
    "pages_per_s": "1/s",
    "dup_pair_recall": "ratio",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

#: spans whose Spark cost is reported, and what each should move
SPARK_SPANS = {
    "exact": "crawl_snapshot/pages_per_s",
    "signatures": "crawl_snapshot/pages_per_s",
    "lsh.candidate_pairs": "crawl_snapshot/pages_per_s",
    "lsh.verify_pairs": "crawl_snapshot/pages_per_s",
    "substring.candidates": "crawl_snapshot/pages_per_s",
    "substring.verify": "crawl_snapshot/pages_per_s",
    "cc": "crawl_snapshot/pages_per_s (its clusters stage)",
    "rollup": "crawl_snapshot/pages_per_s",
    "incremental.merge_batch": "recrawl_increments/pages_per_s",
    "incremental.assign_write": "recrawl_increments/pages_per_s",
}
SPAN_COSTS = {"spark_jobs": ("count", "lower"), "task_s": ("s", "lower"),
              "shuffle_mb": ("MB", "lower"), "spill_mb": ("MB", "lower"),
              "task_skew": ("ratio", "lower")}
PIPELINE_STAGES = [
    "errors", "exact_clusters", "signatures", "bands", "edges_work/mh_pairs",
    "edges_work/sub_pairs", "edges_work/mh_edges", "edges_work/sub_edges",
    "edges", "clusters", "dirs",
]
_CRAWL, _RECRAWL = "crawl_snapshot/pages_per_s", "recrawl_increments/pages_per_s"
_CC = SPARK_SPANS["cc"]
_ALL = "setup_s, peak_rss_mb on every workload"


def per_layer_specs() -> list[tuple[str, str, str, str]]:
    """(name, unit, better, end-to-end metric it should move)."""
    specs = [
        ("hashing.shingle_us_per_doc", "us", "lower", _CRAWL),
        ("hashing.oph_us_per_doc", "us", "lower", _CRAWL),
        ("hashing.bands_us_per_doc", "us", "lower", _CRAWL),
        ("hashing.winnow_us_per_doc", "us", "lower", _CRAWL),
        ("exact.wall_ms", "ms", "lower", _CRAWL),
        ("exact.reps_out", "count", "lower", _CRAWL),
        ("signatures.wall_ms", "ms", "lower", _CRAWL),
        ("signatures.band_rows", "count", "lower", _CRAWL),
        ("lsh.candidate_pairs.wall_ms", "ms", "lower", _CRAWL),
        ("lsh.candidate_pairs.pairs_out", "count", "lower", _CRAWL),
        ("lsh.candidate_pairs.hot_buckets", "count", "lower", _CRAWL),
        ("lsh.candidate_pairs.max_bucket", "count", "lower", _CRAWL),
        ("lsh.candidate_pairs.truncated_upper_bound", "count", "lower", _CRAWL),
        ("lsh.verify_pairs.wall_ms", "ms", "lower", _CRAWL),
        ("lsh.verify_pairs.us_per_pair", "us", "lower", _CRAWL),
        ("lsh.verify_pairs.edges_out", "count", "higher", _CRAWL),
        ("lsh.verify_pairs.useful_ratio", "ratio", "higher", _CRAWL),
        ("substring.candidates.wall_ms", "ms", "lower", _CRAWL),
        ("substring.candidates.pairs_out", "count", "lower", _CRAWL),
        ("substring.verify.wall_ms", "ms", "lower", _CRAWL),
        ("substring.verify.edges_out", "count", "higher", _CRAWL),
        ("substring.verify.useful_ratio", "ratio", "higher", _CRAWL),
        ("cc.wall_ms", "ms", "lower", _CC),
        ("cc.edges_in", "count", "lower", _CC),
        ("cc.vertices_out", "count", "lower", _CC),
        ("rollup.wall_ms", "ms", "lower", _CRAWL),
        ("rollup.dirs_out", "count", "lower", _CRAWL),
    ]
    specs += [(f"pipeline.{s.replace('/', '.')}.wall_ms", "ms", "lower", _CRAWL)
              for s in PIPELINE_STAGES]
    specs += [
        ("pipeline.finalize_ms", "ms", "lower", _CRAWL),
        ("pipeline.bytes_written_mb", "MB", "lower", _CRAWL),
        ("incremental.merge_batch.wall_ms_p50", "ms", "lower", _RECRAWL),
        ("incremental.merge_batch.wall_ms_p90", "ms", "lower", _RECRAWL),
        ("incremental.assign_write.wall_ms", "ms", "lower", _RECRAWL),
        ("incremental.compactions", "count", "lower", _RECRAWL),
        ("incremental.compaction_ms", "ms", "lower", _RECRAWL),
        ("incremental.delta_kb_per_segment", "KB", "lower", _RECRAWL),
        ("incremental.state_rows", "count", "lower", _RECRAWL),
        ("session.get_spark_s", "s", "lower", "setup_s on every workload"),
        ("session.warmup_s", "s", "lower", "setup_s on every workload"),
        ("spark.jvm_cpu_s", "s", "lower", _ALL),
        ("spark.python_cpu_s", "s", "lower", _ALL),
        ("spark.jvm_hwm_mb", "MB", "lower", "peak_rss_mb on every workload"),
        ("spark.python_hwm_mb", "MB", "lower", "peak_rss_mb on every workload"),
        ("trace_overhead.crawl_snapshot", "ratio", "lower", "none (tracing cost)"),
        ("trace_overhead.recrawl_increments", "ratio", "lower", "none (tracing cost)"),
    ]
    for span, moves in SPARK_SPANS.items():
        specs += [(f"{span}.{k}", u, b, moves) for k, (u, b) in SPAN_COSTS.items()]
    return specs


# -- Spark lifetime ---------------------------------------------------------------


def start_spark(run_dir: str, trace: bool):
    from finddup_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"{SETTINGS['jvm_options']} -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(run_dir, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark("perfbench", cores=SETTINGS["cores"],
                      shuffle_partitions=SETTINGS["spark.sql.shuffle.partitions"],
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until it and its Python workers
    have exited."""
    from pyspark import SparkContext

    from spans import descendants

    gw = SparkContext._gateway
    proc = gw.proc
    kids = descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if _alive(p)]
        time.sleep(0.05)
    for p in kids:
        os.kill(p, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- runs -----------------------------------------------------------------------------


def _pct(xs, q: float) -> float:
    """Nearest-rank percentile."""
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


class Run:
    def __init__(self, args, run_dir: str):
        self.args, self.run_dir = args, run_dir
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace,
                             "settings": SETTINGS}
        self.attempted = self.failed = 0
        self.checks: list[dict] = []
        self.t_begin = time.monotonic()

    def _check(self, what: str, chk: dict | None) -> bool:
        self.attempted += 1
        if chk is None:
            return True
        chk = {"op": what, **chk}
        self.checks.append(chk)
        ok = chk["cluster_mismatches"] == 0 and chk["dup_pair_recall"] == 1.0
        if not ok:
            self.failed += 1
            print(f"perfbench: WRONG OUTPUT in {what}: {chk}", file=sys.stderr)
        return ok

    def _check_segments(self, rec) -> None:
        chk = rec.check()
        if chk["cluster_mismatches"] or chk["dup_pair_recall"] != 1.0 or chk["bad_segments"]:
            self.failed += max(1, len(chk["bad_segments"]))
            print(f"perfbench: WRONG OUTPUT in segments {chk['bad_segments']}: {chk}",
                  file=sys.stderr)
        self.checks.append({"op": "recrawl.all_segments", **chk})

    def _generate(self, make) -> tuple[object, list[float]]:
        """Generate the inputs GEN_REPS times from scratch; each repeat must
        give identical bytes. Returns the last workload and the walls."""
        walls, digests = [], set()
        for _ in range(GEN_REPS):
            wl = make()
            shutil.rmtree(wl.root, ignore_errors=True)
            os.makedirs(wl.root)
            t0 = time.monotonic()
            digests.add(wl.generate())
            walls.append(time.monotonic() - t0)
        if len(digests) != 1:
            raise RuntimeError("input generation is not deterministic in the seed")
        return wl, walls

    def untraced(self) -> dict:
        import bench
        import workloads as W
        from spans import ProcSampler, cpu_ticks

        cls = {"crawl_snapshot": W.CrawlSnapshot,
               "recrawl_increments": W.RecrawlIncrements}[self.args.workload]
        t0 = time.monotonic()
        spark = start_spark(self.run_dir, trace=False)
        session_s = time.monotonic() - t0
        try:
            from pyspark import SparkContext

            sampler = ProcSampler(SparkContext._gateway.proc.pid)
            root = os.path.join(self.run_dir, "data")
            wl, gen_walls = self._generate(lambda: cls(root, self.args.seed))
            if hasattr(wl, "prepare_reference"):
                wl.prepare_reference()
            t0 = time.monotonic()
            wl.warm_up(spark)
            warmup_s = time.monotonic() - t0
            sampler.sample()
            walls, units = [], []
            ticks0 = cpu_ticks()
            t_start = time.monotonic()
            while time.monotonic() - self.t_begin < HARD_STOP_S:
                wall, n, chk = wl.op(spark, len(walls))
                sampler.sample()
                if not self._check(f"op{len(walls)}", chk):
                    break
                walls.append(wall)
                units.append(n)
                if len(walls) >= MIN_OPS and wl.window_done(
                        len(walls), time.monotonic() - t_start, self.args.seconds):
                    break
            measured_s = time.monotonic() - t_start
            steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
            if self.args.workload == "recrawl_increments":
                # segments are checked together at the end, warm-up ones too
                self.attempted += len(wl.segments) - len(walls)
                self._check_segments(wl)
            jvm_cpu, py_cpu = sampler.cpu()
        finally:
            stop_spark(spark)
        self.record["checks"] = self.checks
        if self.failed:
            return {}
        recall = min(c["dup_pair_recall"] for c in self.checks)
        setup_s = session_s + statistics.median(gen_walls) + warmup_s
        p50 = statistics.median(walls)
        self.record.update({
            "inputs": wl.inputs(),
            "setup": {"session_s": session_s, "gen_s": gen_walls, "warmup_s": warmup_s},
            "ops": len(walls), "measured_s": measured_s, "op_walls_ms": [w * 1000 for w in walls],
            "op_p50_ms": p50 * 1000, "op_p90_ms": _pct(walls, 0.9) * 1000,
            "cluster_mismatches": sum(c["cluster_mismatches"] for c in self.checks),
            "error_rate": self.failed / max(1, self.attempted),
            "cpu_s": {"jvm": jvm_cpu, "python_workers": py_cpu},
            "hwm_mb": {"jvm": sampler.jvm_hwm_mb(), "python_workers": sampler.python_hwm_mb(),
                       "python_pids": len(sampler.python_pids)},
            "host_control": bench.host_control(SETTINGS["cores"]),
            "host_steal_share": steal / max(1, total),
        })
        if self.args.workload == "recrawl_increments":
            # whole compaction cycles: total pages over total wall, so the
            # compaction segment weighs in like every other
            self.record["window_compactions"] = wl.window_compactions
            self.record["segment_p50_ms"] = self.record["op_p50_ms"]
            self.record["segment_p90_ms"] = self.record["op_p90_ms"]
            pages_per_s = sum(units) / sum(walls)
        else:
            pages_per_s = statistics.median(units) / p50
        return {
            "pages_per_s": pages_per_s,
            "dup_pair_recall": recall,
            "peak_rss_mb": sampler.peak_rss_mb(),
            "setup_s": setup_s,
        }

    def traced(self) -> dict:
        import bench
        import workloads as W
        from spans import ProcSampler, Tracer, event_log_costs

        seed = self.args.seed
        t0 = time.monotonic()
        spark = start_spark(self.run_dir, trace=True)
        session_s = time.monotonic() - t0
        m: dict = {}
        try:
            from pyspark import SparkContext

            sampler = ProcSampler(SparkContext._gateway.proc.pid)
            d = lambda name: os.path.join(self.run_dir, name)  # noqa: E731
            wls = [W.CrawlSnapshot(d("crawl"), seed), W.RecrawlIncrements(d("recrawl"), seed),
                   W.ShardEdges(d("edges"), seed)]
            for wl in wls:
                os.makedirs(wl.root)
                wl.generate()
            crawl, rec, edges = wls
            crawl.prepare_reference()
            t0 = time.monotonic()
            crawl.warm_up(spark)
            rec.warm_up(spark)
            edges.run_op(spark, d("cc_warm"))
            warmup_s = time.monotonic() - t0
            sampler.sample()
            ham = W.hashing_kernels(crawl.sample_texts)
            tracer = Tracer(spark, os.path.basename(self.run_dir))

            # crawl_snapshot: the untraced pipeline, then the traced layers
            wall_u, prun = crawl.run_op(spark, d("pipeline_out"))
            self._check("crawl_snapshot.pipeline", crawl.check(d("pipeline_out")))
            bytes_mb = W.tree_bytes(d("pipeline_out")) / 2**20
            lay = crawl.layered(spark, tracer, d("layered_out"))
            self._check("crawl_snapshot.layered", lay["check"])
            sampler.sample()

            # recrawl_increments: untraced segments, then traced ones until
            # a commit compacts the state
            wall_rec_u = []
            for _ in range(TRACE_SEGMENTS):
                wall_rec_u.append(rec.op(spark, 0)[0])
                self._check("recrawl.segment", None)
            wall_rec_t, merge_ms, write_ms, compact_ms, delta_kb = [], [], [], [], []
            while len(wall_rec_t) < TRACE_SEGMENTS or not compact_ms:
                if len(wall_rec_t) >= W.COMPACT_THRESHOLD:
                    break  # a whole cycle without a compaction: reported as 0
                r = rec.merge(spark, rec.make_segment(), tracer)
                self._check("recrawl.segment", None)
                wall_rec_t.append(r["wall_s"])
                merge_ms.append(r["merge_span"]["wall_ms"])
                write_ms.append(r["write_span"]["wall_ms"])
                if rec.compacted():
                    compact_ms.append(r["merge_span"]["wall_ms"])
                else:
                    delta_kb.append(rec.state()[1] / 1024)
            self._check_segments(rec)
            state_rows = rec.state()[0]
            sampler.sample()

            # CC on the shard-edge graph, after the untimed warm-up run
            self._check("cc_graph.warm_up", edges.check(d("cc_warm")))
            with tracer.span("cc"):
                edges.run_op(spark, d("cc"))
            self._check("cc_graph", edges.check(d("cc")))
            cc_vertices = W.parquet_rows(d("cc"))
            sampler.sample()
            jvm_cpu, py_cpu = sampler.cpu()
        finally:
            stop_spark(spark)
        costs = event_log_costs(d("eventlog"))

        def span_ms(name):
            return tracer.by_name(name)[0]["wall_ms"]

        for k, v in ham.items():
            m[f"hashing.{k}_us_per_doc"] = v
        m["exact.wall_ms"] = span_ms("exact")
        m["exact.reps_out"] = lay["reps_out"]
        m["signatures.wall_ms"] = span_ms("signatures")
        m["signatures.band_rows"] = lay["band_rows"]
        m["lsh.candidate_pairs.wall_ms"] = span_ms("lsh.candidate_pairs")
        m["lsh.candidate_pairs.pairs_out"] = lay["mh_pairs"]
        m["lsh.candidate_pairs.hot_buckets"] = lay["hot_buckets"]
        m["lsh.candidate_pairs.max_bucket"] = lay["max_bucket"]
        m["lsh.candidate_pairs.truncated_upper_bound"] = lay["truncated_upper_bound"]
        m["lsh.verify_pairs.wall_ms"] = span_ms("lsh.verify_pairs")
        m["lsh.verify_pairs.us_per_pair"] = span_ms("lsh.verify_pairs") * 1000 / max(1, lay["mh_pairs"])
        m["lsh.verify_pairs.edges_out"] = lay["mh_edges"]
        m["lsh.verify_pairs.useful_ratio"] = lay["mh_edges"] / max(1, lay["mh_pairs"])
        m["substring.candidates.wall_ms"] = span_ms("substring.candidates")
        m["substring.candidates.pairs_out"] = lay["sub_pairs"]
        m["substring.verify.wall_ms"] = span_ms("substring.verify")
        m["substring.verify.edges_out"] = lay["sub_edges"]
        m["substring.verify.useful_ratio"] = lay["sub_edges"] / max(1, lay["sub_pairs"])
        m["cc.wall_ms"] = span_ms("cc")
        m["cc.edges_in"] = edges.n_edges_out
        m["cc.vertices_out"] = cc_vertices
        m["rollup.wall_ms"] = span_ms("rollup")
        m["rollup.dirs_out"] = lay["dirs_out"]
        stage_ms = {s.name: s.wall_ms for s in prun.stages}
        for s in PIPELINE_STAGES:
            m[f"pipeline.{s.replace('/', '.')}.wall_ms"] = stage_ms[s]
        m["pipeline.finalize_ms"] = prun.finalize_ms
        m["pipeline.bytes_written_mb"] = bytes_mb
        m["incremental.merge_batch.wall_ms_p50"] = statistics.median(merge_ms)
        m["incremental.merge_batch.wall_ms_p90"] = _pct(merge_ms, 0.9)
        m["incremental.assign_write.wall_ms"] = statistics.median(write_ms)
        m["incremental.compactions"] = len(compact_ms)
        m["incremental.compaction_ms"] = statistics.median(compact_ms) if compact_ms else 0.0
        m["incremental.delta_kb_per_segment"] = statistics.median(delta_kb)
        m["incremental.state_rows"] = state_rows
        m["session.get_spark_s"] = session_s
        m["session.warmup_s"] = warmup_s
        m["spark.jvm_cpu_s"] = jvm_cpu
        m["spark.python_cpu_s"] = py_cpu
        m["spark.jvm_hwm_mb"] = sampler.jvm_hwm_mb()
        m["spark.python_hwm_mb"] = sampler.python_hwm_mb()
        m["trace_overhead.crawl_snapshot"] = span_ms("crawl.layered") / (wall_u * 1000)
        m["trace_overhead.recrawl_increments"] = statistics.median(wall_rec_t) / statistics.median(wall_rec_u)
        for span in SPARK_SPANS:
            recs = tracer.by_name(span)
            for k in SPAN_COSTS:
                if k == "spark_jobs":
                    vals = [r["spark_jobs"] for r in recs]
                else:
                    vals = [costs.get(r["id"], {}).get(k, 0.0) for r in recs]
                m[f"{span}.{k}"] = sum(vals) / len(vals)
        for s in tracer.spans:
            s.update(costs.get(s["id"], {}))
            s["self_ms"] = tracer.self_ms(s)
        self.record.update({
            "inputs": {wl.name: wl.inputs() for wl in wls},
            "host_control": bench.host_control(SETTINGS["cores"]),
            "spans": tracer.spans,
            "checks": self.checks,
            "untraced_walls_ms": {"crawl_snapshot": wall_u * 1000,
                                  "recrawl_increments": [w * 1000 for w in wall_rec_u]},
        })
        return m


def _clear_stale() -> None:
    """Remove run directories left by runs that were killed."""
    for name in os.listdir(RUNS):
        path = os.path.join(RUNS, name)
        pid = name.rsplit("-", 1)[-1]
        if os.path.isdir(path) and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(path, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_snapshot", "recrawl_increments"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "finddup_spark")):
        print(f"perfbench: no finddup_spark package under {ROOT}", file=sys.stderr)
        return 2

    os.makedirs(RUNS, exist_ok=True)
    _clear_stale()
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(RUNS, name)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # pinned before the JVM starts; Spark and Python scratch stay inside
    # the run dir
    os.environ["SPARK_DRIVER_MEM"] = SETTINGS["SPARK_DRIVER_MEM"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    # on SIGTERM, unwind through the finally blocks that stop the JVM and
    # remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args, run_dir)
    try:
        values = run.traced() if args.trace else run.untraced()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    correct = run.failed == 0
    units = END_TO_END if not args.trace else {n: u for n, u, _b, _m in per_layer_specs()}
    result = {
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()} if correct else {},
    }
    run.record["result"] = result
    run.record["per_layer_moves"] = {n: mv for n, _u, _b, mv in per_layer_specs()}
    with open(run_dir + ".json", "w") as f:
        json.dump(run.record, f, indent=1, default=str)
    summary = {k: v for k, v in run.record.items() if k not in ("spans", "checks", "per_layer_moves")}
    print(json.dumps(summary, default=str))
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
