#!/usr/bin/env python3
"""The repository benchmark: the CDC tick end to end, split by layer.

    python3 perfbench/run.py --workload {initial_load,delta_ticks} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One process runs Spark on
``local[<cores>]`` through the engine's own ``session.get_spark``
(the benchmark sets no Spark conf) with one caller thread in a closed
loop: the next operation starts when the previous one returned.
Inputs are generated from ``--seed`` under ``.perfbench/`` (see
gen.py); the engine only sees the generated parquet files.

Workloads (METRICS.md has the full metric and layer map):

- ``initial_load``: set-up loads the input once into a throwaway
  store; then one tick over ``events``, ``orders`` and ``lineitem``
  at sf0.02 (170,000 rows, seed-permuted) into an empty store, then
  exact top-10 searches. The per-row layers (serialize, chunk, embed)
  do most of their work here.
- ``delta_ticks``: set-up preloads ``events`` and ``orders`` at sf0.01,
  builds the IVF index and runs two untimed steady ticks; then at least
  three steady ticks, each over a new snapshot with 2,000 changed rows
  per table (a fifth updates of existing keys), each followed by one
  probe searched in ``exact`` and ``ivf`` mode. Per-tick fixed costs
  and the read path dominate here.

Every tick is checked: the stored chunk ids must equal the set
recomputed from the generated keys, ``stats()["count"]`` its size,
and each stored watermark the input's max change value. Every search
must return its probe first at cosine 1.0. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. A record of
the run (host, versions, effective SQL confs, sample counts, errors)
is printed before it and written with the spans to
``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("initial_load", "delta_ticks")
#: scale factors of the generated inputs: initial_load's tables, and
#: delta_ticks' preloaded base (sf 1.0 = 1M events, 1.5M orders, 6M
#: line items)
LOAD_SCALE = 0.02
DELTA_SCALE = 0.01
#: stop starting operations this long after process start, so a run
#: ends well inside its 180 s limit even on a slow host
DEADLINE_S = 120.0
#: untimed steady ticks after delta_ticks' preload, while the JVM is
#: still compiling: after one, the first timed tick still ran up to
#: 21% slower than the next two; after two, the timed ticks were level
WARM_TICKS = 2

E2E_UNITS = {
    "setup_s": "s",
    "tick_s_p50": "s",
    "ingest_rows_per_s": "rows/s",
    "query_s_p50": "s",
}

#: per-layer metric -> (span name, span attribute or None for self time,
#: unit)
SPAN_METRICS = {
    "session.start_s": ("session.start", None, "s"),
    "session.warmup_s": ("session.warmup", "@wall", "s"),
    "tables.scan_s": ("tables.scan", None, "s"),
    "tables.rows_read": ("tables.scan", "rows_read", "count"),
    "cdc.delta_rows": ("tables.scan", "delta_rows", "count"),
    "cdc.serialize_s": ("cdc.serialize", None, "s"),
    "cdc.serialize_bytes": ("cdc.serialize", "bytes", "bytes"),
    "cdc.chunk_s": ("cdc.chunk", None, "s"),
    "cdc.chunks": ("cdc.chunk", "chunks", "count"),
    "cdc.watermark_s": ("cdc.watermark", None, "s"),
    "pipeline.embed_s": ("pipeline.embed", None, "s"),
    "pipeline.embed_docs": ("pipeline.embed", "docs", "count"),
    "vector_store.upsert_s": ("vector_store.upsert", None, "s"),
    "vector_store.buckets_rewritten": ("vector_store.upsert", "buckets", "count"),
    "vector_store.vectors_written": ("vector_store.upsert", "vectors", "count"),
    "vector_store.build_ivf_s": ("vector_store.build_ivf", None, "s"),
    "vector_store.fetch_s": ("vector_store.fetch", None, "s"),
    "vector_store.query_exact_s": ("vector_store.query_exact", None, "s"),
    "vector_store.query_ivf_s": ("vector_store.query_ivf", None, "s"),
    "sinks.wm_read_s": ("sinks.wm_read", None, "s"),
    "sinks.wm_commit_s": ("sinks.wm_commit", None, "s"),
}
#: layer modules whose failures are counted as ``<layer>.failed``
LAYERS = ("session", "tables", "cdc", "pipeline", "vector_store", "sinks")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """State of one benchmark run: session, tracer, samples, checks."""

    def __init__(self, args, work: str):
        import numpy as np

        from spans import Tracer

        self.args = args
        self.work = work
        self.tracer = Tracer(bool(args.trace))
        self.rng = np.random.default_rng([args.seed, 3])
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.check_failures: dict[str, int] = {}
        self.errors: list[str] = []
        self.ticks: list[tuple[float, int]] = []  # (seconds, source rows)
        self.queries: list[float] = []
        self.recalls: list[float] = []
        self.store_bytes: list[int] = []
        self.timed_ops: set[str] = set()
        self.timed_start: float | None = None
        self.setup_s: float | None = None
        self.untraced_tick_s: float | None = None
        self.jvm_timed: dict[str, float] = {}

    # -- bookkeeping ---------------------------------------------------

    def op(self, name: str) -> None:
        self.tracer.op = name
        if self.timed_start is not None:
            self.timed_ops.add(name)

    def fail(self, layer: str, what: str) -> None:
        self.failed += 1
        self.check_failures[layer] = self.check_failures.get(layer, 0) + 1
        self.errors.append(what[:300])

    def time_left(self) -> bool:
        now = time.perf_counter()
        return now - self.timed_start < self.args.seconds and now - T_START < DEADLINE_S

    # -- phases ----------------------------------------------------------

    def start_session(self) -> None:
        from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.session import get_spark

        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench", cores=cores())

    def start_timing(self, setup_start: float) -> None:
        """End set-up and start the measured window."""
        self.setup_s = time.perf_counter() - setup_start
        self.jvm_timed = self.jvm_times()
        self.timed_start = time.perf_counter()

    def stop_timing(self) -> None:
        """End the measured window; the Spark JVM's GC and JIT time
        within it go to the run record."""
        self.timed_start = None
        now = self.jvm_times()
        self.jvm_timed = {k: now[k] - self.jvm_timed[k] for k in now}

    def jvm_times(self) -> dict[str, float]:
        """Seconds the Spark JVM has spent in garbage collection and
        in JIT compilation since it started."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return {
            "gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3,
            "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        }

    def tick(self, pipeline, sf_dir: str, tables, expected_ids: set, expected_wm: dict) -> None:
        """One checked tick; timed samples only inside the timed region."""
        from tick import dir_bytes

        self.attempted += 1
        start = time.perf_counter()
        try:
            rows = pipeline.tick(sf_dir, tables)
        except Exception as exc:  # a failed tick is counted, the run goes on
            self.fail("tick", f"tick {self.tracer.op}: {type(exc).__name__}: {exc}")
            return
        seconds = time.perf_counter() - start
        if self.timed_start is not None:
            self.ticks.append((seconds, rows))
            if self.tracer.enabled:
                self.store_bytes.append(dir_bytes(pipeline.vec_path))
        self.check_store(pipeline, expected_ids, expected_wm)

    def check_store(self, pipeline, expected_ids: set, expected_wm: dict) -> None:
        ids = pipeline.stored_ids()
        count = pipeline.store.stats()["count"]
        if ids != expected_ids or count != len(expected_ids):
            self.fail(
                "vector_store",
                f"{self.tracer.op}: {len(ids)} ids stored, count {count}, "
                f"{len(expected_ids)} expected, {len(ids ^ expected_ids)} differ",
            )
        stored = pipeline.stored_watermarks()
        for table, want in expected_wm.items():
            if stored.get(table) != want:
                self.fail("sinks", f"{self.tracer.op}: watermark {table} {stored.get(table)} != {want}")

    def searches(self, pipeline, ids: set, n_probes: int, tag: str, modes=("exact", "ivf")) -> None:
        from tick import pick_probes

        for j, probe in enumerate(pick_probes(self.rng, ids, n_probes)):
            self.op(f"search:{tag}:{j}")
            self.attempted += len(modes)
            try:
                res = pipeline.search(probe, modes)
            except Exception as exc:
                self.fail("vector_store", f"search {probe}: {type(exc).__name__}: {exc}")
                self.failed += len(modes) - 1
                continue
            for mode in modes:
                if not res[f"{mode}_ok"]:
                    self.fail("vector_store", f"{mode} query for {probe} -> {res[mode + '_ids'][:3]}")
            if self.timed_start is not None:
                self.queries += [res[mode] for mode in modes]
            if "recall" in res:
                self.recalls.append(res["recall"])

    # -- workloads ---------------------------------------------------------

    def initial_load(self) -> None:
        import gen
        from tick import Pipeline

        tables = tuple(gen.TRACKED)
        base = gen.base_tables(self.args.seed, LOAD_SCALE)
        src = gen.write_tables(base, os.path.join(self.work, "input"))
        expected_ids = set().union(
            *(gen.expected_chunk_ids(t, base[t][gen.TRACKED[t][1]].to_numpy()) for t in tables)
        )
        expected_wm = {t: gen.max_change(base[t], t) for t in tables}

        # warm-up: one untimed load of the same input into a throwaway
        # store, then one search of it (after a warm-up at a tenth of
        # the size, the timed load ran slower and spread wider)
        setup_start = time.perf_counter()
        self.start_session()
        self.op("setup:warmup")
        with self.tracer.span("session.warmup"):
            p = Pipeline(self.spark, os.path.join(self.work, "warm-store"), self.tracer)
            self.tick(p, src, tables, expected_ids, expected_wm)
            self.searches(p, expected_ids, 1, "warmup", modes=("exact",))
        # a full JVM collection, so every run's one timed load starts
        # from the same heap state (in interleaved trials it narrowed
        # the load's spread over seeds; before delta_ticks' first timed
        # tick it made that tick up to 25% slower than the next)
        self.spark.sparkContext._jvm.System.gc()
        self.start_timing(setup_start)

        # one load into an empty store, then exact searches against it
        # for the rest of the measured window; at least four, so the
        # first (cold) query after the load stays off the median
        p = Pipeline(self.spark, os.path.join(self.work, "store"), self.tracer)
        self.op("tick:0")
        self.tick(p, src, tables, expected_ids, expected_wm)
        k = 0
        while k < 4 or self.time_left():
            self.searches(p, expected_ids, 1, str(k), modes=("exact",))
            k += 1
        self.stop_timing()
        if self.tracer.enabled:
            self.untraced(lambda: Pipeline(
                self.spark, os.path.join(self.work, "store-untraced"), self.tracer
            ).tick(src, tables))

    def delta_ticks(self) -> None:
        import gen
        from tick import Pipeline

        tables = ("events", "orders")
        base = gen.base_tables(self.args.seed, DELTA_SCALE, tables)
        stream = gen.DeltaStream(self.args.seed, base)
        snapshots = [gen.write_tables(base, os.path.join(self.work, "t0000"))]
        expected_ids = set().union(
            *(gen.expected_chunk_ids(t, base[t][gen.TRACKED[t][1]].to_numpy()) for t in tables)
        )

        def next_snapshot():
            tbls, changed = stream.next()
            snapshots.append(
                gen.write_tables(tbls, os.path.join(self.work, f"t{len(snapshots):04d}"))
            )
            for t in tables:
                expected_ids.update(gen.expected_chunk_ids(t, changed[t]))
            return snapshots[-1], {t: gen.max_change(tbls[t], t) for t in tables}

        base_wm = {t: gen.max_change(base[t], t) for t in tables}

        setup_start = time.perf_counter()
        self.start_session()
        p = Pipeline(self.spark, os.path.join(self.work, "store"), self.tracer)
        self.op("setup:preload")
        # preload both tables, build the index, then steady ticks
        # through the index-maintaining upsert, each with one search:
        # every path a timed tick takes has run, and the first steady
        # ticks, slowest while the JVM is still compiling, are not timed
        with self.tracer.span("session.warmup"):
            self.tick(p, snapshots[0], tables, expected_ids, base_wm)
            with self.tracer.span("vector_store.build_ivf"):
                p.store.build_ivf()
            for w in range(WARM_TICKS):
                self.op(f"setup:tick:{w}")
                src, wm = next_snapshot()
                self.tick(p, src, tables, expected_ids, wm)
                self.searches(p, expected_ids, 1, f"setup:{w}")
        self.start_timing(setup_start)

        # at least three steady ticks, so the median passes over one
        # tick slowed by the host; one probe after each, so every query
        # is the first read of the store a tick just rewrote
        k = 0
        while k < 3 or self.time_left():
            src, wm = next_snapshot()
            self.op(f"tick:{k}")
            self.tick(p, src, tables, expected_ids, wm)
            self.searches(p, expected_ids, 1, str(k))
            k += 1
        self.stop_timing()
        if self.tracer.enabled:
            def one_tick():
                src, wm = next_snapshot()
                p.tick(src, tables)
                self.check_store(p, expected_ids, wm)
            self.untraced(one_tick)

    def untraced(self, fn) -> None:
        """Time one more tick of the workload with tracing off, for
        ``trace.overhead_s``."""
        self.tracer.enabled = False
        try:
            start = time.perf_counter()
            fn()
            self.untraced_tick_s = time.perf_counter() - start
        finally:
            self.tracer.enabled = True

    # -- results -------------------------------------------------------------

    def e2e_metrics(self) -> dict:
        return {
            "setup_s": self.setup_s,
            "tick_s_p50": statistics.median(s for s, _r in self.ticks),
            "ingest_rows_per_s": statistics.median(r / s for s, r in self.ticks),
            "query_s_p50": statistics.median(self.queries),
        }

    def layer_metrics(self, peak_mb: float) -> dict:
        tr, ops = self.tracer, self.timed_ops
        out = {m: tr.per_op_median(span, ops, key) for m, (span, key, _u) in SPAN_METRICS.items()}
        buckets = out["vector_store.buckets_rewritten"]
        out["vector_store.vectors_per_bucket"] = (
            out["vector_store.vectors_written"] / buckets if buckets else 0.0
        )
        out["vector_store.store_bytes"] = (
            statistics.median(self.store_bytes) if self.store_bytes else 0
        )
        out["vector_store.ivf_recall_at_10"] = statistics.mean(self.recalls) if self.recalls else 0.0
        out["trace.overhead_s"] = (
            statistics.median(s for s, _r in self.ticks) - self.untraced_tick_s
            if self.untraced_tick_s is not None and self.ticks
            else 0.0
        )
        for layer in LAYERS:
            out[f"{layer}.failed"] = tr.failures(layer) + self.check_failures.get(layer, 0)
        out["process.peak_rss_mb"] = peak_mb
        return out


LAYER_UNITS = {
    **{m: u for m, (_s, _k, u) in SPAN_METRICS.items()},
    "vector_store.vectors_per_bucket": "ratio",
    "vector_store.store_bytes": "bytes",
    "vector_store.ivf_recall_at_10": "ratio",
    "trace.overhead_s": "s",
    **{f"{layer}.failed": "count" for layer in LAYERS},
    "process.peak_rss_mb": "MB",
}


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and every other
    process this run started (Python workers) have exited."""
    from spans import children_map

    def descendants() -> set[int]:
        kids, out, todo = children_map(), set(), [os.getpid()]
        while todo:
            for c in kids.get(todo.pop(), ()):
                out.add(c)
                todo.append(c)
        return out

    started = descendants()
    spark.stop()
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while True:
        alive = {p for p in started if _running(p)}
        if not alive or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from spans import RssSampler

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(WORK, f"{tag}-{os.getpid()}")
    records = os.path.join(WORK, "records")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(records, exist_ok=True)
    # everything the run writes stays inside the checkout (Spark's
    # shuffle/spill dirs, the JVM's and Python's temp files; no JVM
    # perf-data file), and the Python workers import the engine from it
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        filter(None, (os.environ.get("SPARK_SUBMIT_OPTS"),
                      f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData"))
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    load_start = os.getloadavg()[0]
    # memory is a per-layer metric: only traced runs pay for polling
    # /proc, so it adds no load to the untraced runs' timings
    sampler = RssSampler().start() if args.trace else None
    run = Run(args, work)
    try:
        getattr(run, args.workload)()
        record = run_record(run, args, load_start)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        peak_mb = sampler.stop() if sampler is not None else None
    if args.trace:
        run.tracer.dump(os.path.join(records, f"{tag}.spans.jsonl"))
        metrics = run.layer_metrics(peak_mb)
        units = LAYER_UNITS
    else:
        metrics = run.e2e_metrics()
        units = E2E_UNITS
    record["metrics"] = metrics
    with open(os.path.join(records, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(record, default=str))
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def run_record(run: Run, args, load_start: float) -> dict:
    spark = run.spark
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores(),
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": os.getloadavg()[0],
        "python": platform.python_version(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "sql_conf": {r[0]: r[1] for r in spark.sql("SET").collect()},
        "samples": {"ticks": len(run.ticks), "queries": len(run.queries)},
        "tick_seconds": [s for s, _r in run.ticks],
        "query_seconds": run.queries,
        "jvm_timed_window": run.jvm_timed,
        "errors": run.errors[:20],
    }


if __name__ == "__main__":
    sys.exit(main())
