"""The CDC workloads, driven only through the package's public API.

Every workload runs the same shape:

1. generate its seeded input files (outside every timed region);
2. set up from cold -- ``get_session`` starts the JVM, then the workload's
   state is built -- and report the time as ``setup_s``;
3. warm up, then measure for ``--seconds`` of wall time;
4. check every replica against the DuckDB reference (``oracle``); a
   batch that raises or a replica that differs counts as failed;
5. with ``--trace 1``, turn the outside-in tracer (``trace``) on for every
   second unit of the measured loop, derive the per-layer metrics from
   those units and the tracer's overhead from the difference to the
   others.

End-to-end metrics carry the same names on every workload: one unit of
work is a backfill pass or a released stream file, and
``commit_latency_p50_s`` runs from the moment that unit's input is
available (the pass start; the file's scheduled release) to the end of
the merge that commits it.  A run holds 8 to 10 such units, too few for a
tail percentile, so only the median is reported.  Per-layer metrics of a
layer a workload never reaches read 0: the generator's lateness on the
closed loop, the multi-table router (``router``) and the local[1]
backfill pass (``scaling``), both measured in the cdc_backfill traced
run, and the registry query surface (``suite``, measured in the
cdc_stream_merge traced run).
"""

from __future__ import annotations

import dataclasses
import glob
import itertools
import json
import os
import shutil
import statistics
import subprocess
import time
from collections.abc import Callable

import duckdb
from pyspark.sql import types as T

from mysql_postgres_debezium_cdc_spark.session import get_session
from mysql_postgres_debezium_cdc_spark.sources.debezium import CdcConfig, decode_envelope
from mysql_postgres_debezium_cdc_spark.streaming.cdc import (
    CdcPipeline,
    MultiTableCdcRouter,
    ParquetStateSink,
    compact,
    with_change_columns,
)
from perfbench import gen, oracle, suite
from perfbench import trace as tr

READ_WARMUP = 12
READS = 16
RAW_SCHEMA = "topic STRING, `partition` INT, `offset` BIGINT, key STRING, value STRING"

BACKFILL_EVENTS = 100_000
BACKFILL_WARMUP_PASSES = 2
STREAM_STATE_KEYS = 100_000
STREAM_FILE_EVENTS = 2_000
STREAM_INTERVAL_S = 2.5
STREAM_WARMUP_FILES = 4
ROUTER_BATCH_EVENTS = 15_000
ROUTER_BATCHES = 2

END_TO_END_UNITS = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "commit_latency_p50_s": "s",
    "replica_read_s_p50": "s",
    "peak_rss_mb": "MB",
}
PROGRESS_PHASES = ("triggerExecution", "addBatch", "queryPlanning", "getBatch", "latestOffset", "walCommit", "commitOffsets")
PER_LAYER_UNITS = {
    "session.get_session_s": "s",
    "debezium.decode_build_s": "s",
    "debezium.decode_py4j_calls": "count",
    "debezium.decode_exec_s": "s",
    "debezium.from_json_sites": "count",
    "debezium.rows_in": "count",
    "debezium.dead_letters": "count",
    "debezium.tombstones": "count",
    "cdc.compact_exec_s": "s",
    "cdc.compact_ratio": "ratio",
    "cdc.compact_exchanges": "count",
    "cdc.compact_shuffle_bytes": "bytes",
    "cdc.merge_s_p50": "s",
    "cdc.merge_s_p90": "s",
    "cdc.merge_jobs": "count",
    "cdc.snapshot_files": "count",
    "cdc.snapshot_bytes": "bytes",
    "cdc.state_rows": "count",
    "cdc.read_s": "s",
    "pipeline.batch_s_p50": "s",
    "pipeline.batch_py4j_calls": "count",
    "pipeline.jobs_per_batch": "count",
    **{f"progress.{p}_ms": "ms" for p in PROGRESS_PHASES},
    "progress.input_rows_p50": "count",
    "progress.batches": "count",
    "gen.late_s_max": "s",
    "gen.backlog_files_max": "count",
    "router.batch_s_p50": "s",
    "router.py4j_calls": "count",
    "router.jobs_per_batch": "count",
    "router.from_json_sites": "count",
    "router.read_state_s": "s",
    "router.dead_letters": "count",
    "scaling.backfill_local1_events_per_s": "events/s",
    "trace.overhead_s": "s",
    **suite.METRIC_UNITS,
}
NO_SUITE = dict.fromkeys(suite.METRIC_UNITS, 0)
NO_ROUTER = {k: 0 for k in PER_LAYER_UNITS if k.startswith("router.")}
STREAM_SPEC = dataclasses.replace(gen.CUSTOMERS, n_keys=STREAM_STATE_KEYS)


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


_SPARK_TYPE = {"bigint": T.LongType(), "int": T.IntegerType(), "double": T.DoubleType(), "string": T.StringType(), "boolean": T.BooleanType()}


def row_schema(spec: gen.TableSpec) -> T.StructType:
    return T.StructType([T.StructField(c, _SPARK_TYPE[t]) for c, t in spec.columns])


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def fingerprint(df) -> tuple:
    """Order-independent digest of a replica (one Spark job)."""
    return tuple(df.selectExpr("count(*)", "bit_xor(xxhash64(*))", "sum(CAST(hash(*) AS BIGINT))").first())


def point_filter(spec: gen.TableSpec, row: dict) -> str:
    return " AND ".join(f"{c} = {row[c]}" for c in spec.pk)


def timed_read(read: Callable, spec: gen.TableSpec, key_row: dict) -> float:
    """A replica read as a user makes it: a full count plus a point lookup."""
    t0 = time.perf_counter()
    df = read()
    df.count()
    df.where(point_filter(spec, key_row)).collect()
    return time.perf_counter() - t0


def timed_reads(read: Callable, spec: gen.TableSpec, key_row: dict, n: int) -> list[float]:
    """``n`` replica reads.  Reads keep getting faster for the first few
    dozen while the JIT warms up, so every workload spreads ``READ_WARMUP``
    untimed ones over its warm-up before the ``READS`` timed ones."""
    return [timed_read(read, spec, key_row) for _ in range(n)]


def source_log_batches(checkpoint: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it, from the file
    source's own metadata log (``<checkpoint>/sources/0``)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                name = os.path.basename(entry["path"])
                out[name] = min(entry["batchId"], out.get(name, entry["batchId"]))
    return out


def file_commit_times(batch_of: dict[str, int], merge_ends: list[float]) -> dict[str, float]:
    """File name -> end of the merge that committed it.  A query's batch
    ids start at 0 and each batch merges once, so batch ``b`` committed at
    ``merge_ends[b]``; a file whose batch has not merged is left out."""
    return {name: merge_ends[b] for name, b in batch_of.items() if b < len(merge_ends)}


class Run:
    """State shared by one benchmark run: session, counters, tracer."""

    def __init__(self, name: str, seed: int, seconds: int, trace: bool, work: str, nproc: int):
        self.name = name
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.nproc = nproc
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.tracer: tr.Tracer | None = None
        self.duck = duckdb.connect(config={"temp_directory": os.path.join(work, "duckdb")})
        self._dirs = 0

    @property
    def min_units(self) -> int:
        """Units of work one measured loop runs at least (a traced run
        needs two traced and two untraced ones)."""
        return 4 if self.trace else 3

    def new_dir(self, prefix: str) -> str:
        self._dirs += 1
        d = os.path.join(self.work, f"{prefix}-{self._dirs}")
        os.makedirs(d)
        return d

    def session(self, cpus: int | None = None):
        if self.spark is not None:
            self.spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus or self.nproc)
        self.spark = get_session(f"perfbench-{self.name}")
        return self.spark

    def setup(self, arg: str) -> tuple[object, float, float]:
        """The cold set-up a user pays, once per run: ``get_session`` starts
        the JVM, then the workload's state (``SETUPS``) is built.  Returns
        the state and the times of the whole set-up and of ``get_session``
        alone.  (One cold set-up costs 8-30 s on 4 cores; more per run do
        not fit the benchmark's time budget, so the median is taken over
        runs.)"""
        t0 = time.perf_counter()
        spark = self.session()
        t1 = time.perf_counter()
        out = SETUPS[self.name](self, spark, arg)
        return out, time.perf_counter() - t0, t1 - t0

    def attempt(self, fn: Callable):
        """Run one unit of work; a raise counts it as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # the benchmark keeps going and reports it
            self.failed += 1
            self.problems.append(f"{type(exc).__name__}: {str(exc)[:300]}")
            return None

    def verify(self, problems: list[str], units: int) -> bool:
        """Record a reference check covering ``units`` units of work."""
        if problems:
            self.failed += units
            self.problems.extend(problems)
        return not problems

    def expected(self, files: list[str], specs) -> dict:
        return oracle.expected(self.duck, files, list(specs))

    def check_replica(self, df, want, spec: gen.TableSpec) -> list[str]:
        return oracle.diff(self.duck, df.toArrow(), want, spec)

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)

    def close(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM to
        exit (also when a signal cut ``get_session`` short)."""
        from pyspark import SparkContext

        self.duck.close()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def overhead(plain: list[float], traced: list[float]) -> float:
    """Tracing overhead: the median difference between each traced unit
    and the untraced one run just before it."""
    return statistics.median(t - p for p, t in zip(plain, traced))


def end_to_end(setup_s: float, units: float, unit_times: list[float], latencies: list[float], reads: list[float], rss: float, events_per_s: float | None = None) -> dict:
    return {
        "setup_s": setup_s,
        "events_per_s": events_per_s if events_per_s is not None else units / statistics.median(unit_times),
        "commit_latency_p50_s": statistics.median(latencies),
        "replica_read_s_p50": statistics.median(reads),
        "peak_rss_mb": rss,
    }


# --------------------------------------------------------------------------
# per-layer probes shared by the workloads


def decode_probe(run: Run, raw, tables: list[tuple[gen.TableSpec, str | None]]) -> dict:
    """Prefix cuts of one batch's input, using the package functions:
    decode (+ change columns) to a noop sink, then decode + compact to a
    noop sink, plus the decode counts.  ``tables`` pairs each table spec
    with the ``src_table`` it is routed by (None for a one-table stream)."""
    spark = run.spark
    m = {k: 0 for k in ("debezium.decode_exec_s", "cdc.compact_exec_s", "cdc.compact_exchanges", "cdc.compact_shuffle_bytes")}
    events_in = keys_out = 0
    for spec, route in tables:
        events = with_change_columns(decode_envelope(raw, row_schema(spec), topic_col="topic"))
        if route is not None:
            events = events.where(f"src_table = '{route}'")
        t0 = time.perf_counter()
        events.write.format("noop").mode("overwrite").save()
        m["debezium.decode_exec_s"] += time.perf_counter() - t0
        compacted = compact(events, list(spec.pk))
        j0 = tr.last_job_id(spark)
        t0 = time.perf_counter()
        compacted.write.format("noop").mode("overwrite").save()
        m["cdc.compact_exec_s"] += time.perf_counter() - t0
        m["cdc.compact_shuffle_bytes"] += tr.shuffle_write_bytes(spark, range(j0 + 1, tr.last_job_id(spark) + 1))
        m["cdc.compact_exchanges"] += tr.exchanges(compacted)
        events_in += events.count()
        keys_out += compacted.count()
    m["cdc.compact_ratio"] = events_in / max(keys_out, 1)
    decoded = decode_envelope(raw, row_schema(tables[0][0]), topic_col="topic")
    counts = decoded.selectExpr("count(*)", "count_if(_error IS NOT NULL)", "count_if(_tombstone)").first()
    m["debezium.rows_in"], m["debezium.dead_letters"], m["debezium.tombstones"] = counts
    return m


def batch_layers(tracer: tr.Tracer, batch_span: str) -> dict:
    """Per-batch medians from the spans recorded under ``batch_span``."""
    batches = tracer.named(batch_span)
    spans = [s for s in tracer.spans if "end" in s]

    def inside(b, name):
        return [s for s in spans if s["name"] == name and s["start"] >= b["start"] and s["end"] <= b["end"]]

    merges = tracer.named("cdc.sink.merge")
    return {
        "debezium.decode_build_s": statistics.median(sum(s["end"] - s["start"] for s in inside(b, "debezium.decode_envelope")) for b in batches),
        "debezium.decode_py4j_calls": statistics.median(sum(s["py4j_calls"] for s in inside(b, "debezium.decode_envelope")) for b in batches),
        "cdc.merge_s_p50": statistics.median(s["end"] - s["start"] for s in merges),
        "cdc.merge_s_p90": p90([s["end"] - s["start"] for s in merges]),
        "cdc.merge_jobs": statistics.median(len(s["jobs"]) for s in merges),
        "pipeline.batch_s_p50": statistics.median(b["end"] - b["start"] for b in batches),
        "pipeline.batch_py4j_calls": statistics.median(b["py4j_calls"] for b in batches),
        "pipeline.jobs_per_batch": statistics.median(len(b["jobs"]) for b in batches),
    }


def batch_plan_sites(tracer: tr.Tracer, per_batch: int) -> int:
    """``from_json`` sites summed over the change-column frames the last
    traced batch built (``per_batch``: one per table the batch decodes)."""
    frames = list(tracer.built.get("cdc.with_change_columns", ()))[-per_batch:]
    return sum(tr.from_json_sites(df) for df in frames)


def progress_layers(progress: list[dict]) -> dict:
    runs = [p for p in progress if "addBatch" in p.get("durationMs", {})]
    m = {f"progress.{k}_ms": statistics.median(p["durationMs"].get(k, 0) for p in runs) if runs else 0 for k in PROGRESS_PHASES}
    m["progress.input_rows_p50"] = statistics.median(p["numInputRows"] for p in runs) if runs else 0
    m["progress.batches"] = len(runs)
    return m


def snapshot_layers(sinks: list) -> dict:
    files = size = 0
    for sink in sinks:
        for path in glob.glob(os.path.join(sink.current_version_dir(), "*.parquet")):
            files += 1
            size += os.path.getsize(path)
    return {"cdc.snapshot_files": files, "cdc.snapshot_bytes": size}


def traced_suite(run: Run, tracer: tr.Tracer) -> dict:
    """The registry query surface (``suite``), with its oracle mismatches
    counted as failed queries."""
    tracer.install()
    try:
        metrics, problems = suite.run_suite(run.spark, run.seed, run.new_dir("suite-sf"), tracer)
    finally:
        tracer.uninstall()
    run.attempted += len(suite.QUERY_KEYS)
    run.verify(problems, len({p.split(":", 1)[0] for p in problems}))
    return metrics


# --------------------------------------------------------------------------
# cdc_backfill


def backfill_state(run: Run, spark, _arg: str = "", tracer: tr.Tracer | None = None) -> CdcPipeline:
    """A pipeline over a fresh, empty sink."""
    spec = gen.CUSTOMERS
    root = run.new_dir("backfill-state")
    sink = tr.TracedSink(ParquetStateSink(spark, root, spec.pk, spec.row_cols), tracer)
    return CdcPipeline(spark, row_schema(spec), spec.pk, spec.row_cols, root, sink=sink)


def backfill(run: Run) -> dict:
    spec = gen.CUSTOMERS
    in_dir = run.new_dir("backfill-in")
    path = gen.write(gen.changelog(run.seed, spec, BACKFILL_EVENTS), os.path.join(in_dir, "changelog.parquet"))
    want = run.expected([path], [spec])[spec.name]
    key_row = want.slice(0, 1).to_pylist()[0]
    _, setup_s, session_s = run.setup("-")
    tracer = run.tracer = tr.Tracer(run.spark, run.name) if run.trace else None
    reference = None

    def one_pass(traced: bool = False) -> tuple[float, CdcPipeline]:
        pipe = backfill_state(run, run.spark, tracer=tracer if traced else None)
        t0 = time.perf_counter()
        if not traced:
            pipe.process_batch(run.spark.read.parquet(path))
            return time.perf_counter() - t0, pipe
        tracer.install()
        try:
            with tracer.span("pipeline.process_batch"):
                pipe.process_batch(run.spark.read.parquet(path))
        finally:
            tracer.uninstall()
            pipe.sink.tracer = None
        return time.perf_counter() - t0, pipe

    def loop() -> tuple[dict[bool, list[float]], CdcPipeline | None]:
        """Passes for ``run.seconds``, every second one traced in a traced
        run; keeps the last pass's sink."""
        nonlocal reference
        times: dict[bool, list[float]] = {False: [], True: []}
        last = None
        start = time.perf_counter()
        for n in itertools.count():
            if n >= run.min_units and time.perf_counter() - start >= run.seconds:
                break
            traced = run.trace and n % 2 == 1
            got = run.attempt(lambda: one_pass(traced))
            if got is None:
                continue
            dt, pipe = got
            times[traced].append(dt)
            digest = fingerprint(pipe.sink.read())
            if reference is None:
                if run.verify(run.check_replica(pipe.sink.read(), want, spec), 1):
                    reference = digest
            elif digest != reference:
                run.verify([f"pass {n}: replica digest differs from the checked pass"], 1)
            if last is not None:
                shutil.rmtree(last.sink.root, ignore_errors=True)
            last = pipe
        return times, last

    for _ in range(BACKFILL_WARMUP_PASSES):  # pass times keep falling while the JIT warms up
        warm = run.attempt(one_pass)
        if warm is not None:
            timed_reads(warm[1].sink.read, spec, key_row, READ_WARMUP // BACKFILL_WARMUP_PASSES)
    times, pipe = loop()
    reads = timed_reads(pipe.sink.read, spec, key_row, READS)
    if not run.trace:
        return end_to_end(setup_s, BACKFILL_EVENTS, times[False], times[False], reads, run.peak_rss_mb())
    layers = batch_layers(tracer, "pipeline.process_batch")
    layers["debezium.from_json_sites"] = batch_plan_sites(tracer, 1)
    layers["trace.overhead_s"] = overhead(times[False], times[True])
    layers.update(NO_SUITE)
    layers.update(router_layers(run, tracer))
    layers.update(snapshot_layers([pipe.sink]))
    layers["cdc.state_rows"] = pipe.sink.read().count()
    layers["cdc.read_s"] = statistics.median(reads)
    layers.update(decode_probe(run, run.spark.read.parquet(path), [(spec, None)]))
    layers.update(progress_layers(stream_probe(run, backfill_state(run, run.spark), in_dir)))
    layers.update({"gen.late_s_max": 0.0, "gen.backlog_files_max": 0})
    layers["session.get_session_s"] = session_s
    run.session(cpus=1)
    one_pass()  # warm-up at local[1]
    dt, _ = one_pass()
    layers["scaling.backfill_local1_events_per_s"] = BACKFILL_EVENTS / dt
    return layers


def stream_probe(run: Run, target, in_dir: str) -> list[dict]:
    """One ``run_stream(trigger_once=True)`` over ``in_dir``; returns the
    query's ``recentProgress``."""
    stream = run.spark.readStream.schema(RAW_SCHEMA).parquet(in_dir)
    q = target.run_stream(stream, run.new_dir("probe-checkpoint"), trigger_once=True)
    q.awaitTermination()
    return q.recentProgress


# --------------------------------------------------------------------------
# cdc_stream_merge


class Release:
    """Open-loop generator: moves pre-rendered files into the watched
    directory on a fixed schedule, by one atomic rename each."""

    def __init__(self, watch: str):
        self.watch = watch
        self.due: dict[str, float] = {}
        self.released: dict[str, float] = {}

    def run(self, files: list[str], start: float, interval: float) -> None:
        for i, src in enumerate(files):
            due = start + i * interval
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            name = os.path.basename(src)
            os.rename(src, os.path.join(self.watch, name))
            self.due[name] = due
            self.released[name] = time.perf_counter()


def stream_state(run: Run, spark, snapshot: str) -> CdcPipeline:
    """A pipeline over a sink seeded with every key of ``snapshot``."""
    spec = STREAM_SPEC
    root = run.new_dir("stream-state")
    sink = tr.TracedSink(ParquetStateSink(spark, root, spec.pk, spec.row_cols))
    pipe = CdcPipeline(spark, row_schema(spec), spec.pk, spec.row_cols, root, sink=sink)
    pipe.process_batch(spark.read.parquet(snapshot))
    return pipe


def stream_merge(run: Run) -> dict:
    spec = STREAM_SPEC
    in_dir = run.new_dir("stream-in")
    pending = run.new_dir("stream-pending")
    watch = run.new_dir("stream-watch")
    snapshot = gen.write(gen.changelog(run.seed, spec, 0, snapshot=True), os.path.join(in_dir, "snapshot.parquet"))
    n_files = STREAM_WARMUP_FILES + int(-(-run.seconds // STREAM_INTERVAL_S))
    files = []
    for i in range(n_files):
        table = gen.changelog(run.seed, spec, STREAM_FILE_EVENTS, offset0=spec.n_keys + i * STREAM_FILE_EVENTS)
        files.append(gen.write(table, os.path.join(pending, f"f-{i:05d}.parquet")))

    pipe, setup_s, session_s = run.setup(snapshot)
    pipe.sink.merge_ends.clear()  # batch ids count from the stream's first batch
    tracer = run.tracer = tr.Tracer(run.spark, run.name) if run.trace else None
    # A traced run traces every second measured batch; ``measured`` is the
    # id of the first measured batch once the warm-up has committed.
    measured: int | None = None
    traced_batches: set[int] = set()
    if run.trace:
        plain = pipe.process_batch

        def alternating(raw) -> None:
            b = len(pipe.sink.merge_ends)  # this batch's id: each batch merges once
            if measured is None or (b - measured) % 2 == 0:
                plain(raw)
                return
            traced_batches.add(b)
            pipe.sink.tracer = tracer
            tracer.install()
            try:
                with tracer.span("pipeline.process_batch"):
                    plain(raw)
            finally:
                tracer.uninstall()
                pipe.sink.tracer = None

        pipe.process_batch = alternating
    checkpoint = run.new_dir("stream-checkpoint")
    query = pipe.run_stream(run.spark.readStream.schema(RAW_SCHEMA).parquet(watch), checkpoint, trigger_once=False)
    releaser = Release(watch)

    def wait_committed(names: list[str], timeout: float) -> tuple[dict[str, int], dict[str, float]]:
        deadline = time.perf_counter() + timeout
        while True:
            batch_of = source_log_batches(checkpoint)
            done = file_commit_times(batch_of, pipe.sink.merge_ends)
            if all(n in done for n in names) or time.perf_counter() > deadline or not query.isActive:
                return batch_of, done
            time.sleep(0.05)

    key_row = {"id": 1}
    try:
        for f in files[:STREAM_WARMUP_FILES]:  # one batch each, to warm the JIT
            releaser.run([f], time.perf_counter(), 0.0)
            wait_committed([os.path.basename(f)], timeout=120)
            timed_reads(pipe.sink.read, spec, key_row, READ_WARMUP // STREAM_WARMUP_FILES)
        measured = len(pipe.sink.merge_ends)
        start = time.perf_counter() + 0.1
        releaser.run(files[STREAM_WARMUP_FILES:], start, STREAM_INTERVAL_S)
        names = [os.path.basename(f) for f in files[STREAM_WARMUP_FILES:]]
        batch_of, done = wait_committed(names, timeout=120)
        if run.trace:
            layers = batch_layers(tracer, "pipeline.process_batch")
            layers["debezium.from_json_sites"] = batch_plan_sites(tracer, 1)
            progress = [p for p in query.recentProgress if p["batchId"] >= measured and p["batchId"] not in traced_batches]
    finally:
        query.stop()
        if run.trace:
            del pipe.process_batch
    if query.exception() is not None:
        run.failed += 1
        run.problems.append(f"stream query failed: {query.exception()}")
    lat = {}
    for n in names:
        run.attempted += 1
        if n in done:
            lat[n] = done[n] - releaser.due[n]
        else:
            run.failed += 1
    if len(lat) < len(names):
        run.problems.append(f"{len(names) - len(lat)} released files never committed")
    if not lat:
        raise RuntimeError("stream committed none of the released files")
    rate = STREAM_FILE_EVENTS * len(lat) / (max(done[n] for n in lat) - releaser.due[names[0]])
    gen_layers = {
        "gen.late_s_max": max(releaser.released[n] - releaser.due[n] for n in names),
        "gen.backlog_files_max": max(
            sum(1 for m in names if releaser.released[m] <= releaser.released[n] and done.get(m, float("inf")) > releaser.released[n]) for n in names
        ),
    }
    reads = timed_reads(pipe.sink.read, spec, key_row, READS)
    want = run.expected([snapshot, *[os.path.join(watch, os.path.basename(f)) for f in files]], [spec])[spec.name]
    run.verify(run.check_replica(pipe.sink.read(), want, spec), len(names))
    if not run.trace:
        return end_to_end(setup_s, STREAM_FILE_EVENTS, [], list(lat.values()), reads, run.peak_rss_mb(), events_per_s=rate)
    traced_lat = [t for n, t in lat.items() if batch_of[n] in traced_batches]
    plain_lat = [t for n, t in lat.items() if batch_of[n] not in traced_batches]
    if not traced_lat or not plain_lat:
        raise RuntimeError("the measured files did not split into traced and untraced batches")
    layers["trace.overhead_s"] = overhead(plain_lat, traced_lat)
    layers.update(gen_layers)
    layers.update(NO_ROUTER)
    layers["scaling.backfill_local1_events_per_s"] = 0
    layers.update(traced_suite(run, tracer))
    layers.update(progress_layers(progress))
    layers.update(snapshot_layers([pipe.sink]))
    layers["cdc.state_rows"] = pipe.sink.read().count()
    layers["cdc.read_s"] = statistics.median(reads)
    layers.update(decode_probe(run, run.spark.read.parquet(os.path.join(watch, names[-1])), [(spec, None)]))
    layers["session.get_session_s"] = session_s
    return layers


# --------------------------------------------------------------------------
# router layer (measured inside the cdc_backfill traced run)


def router_layers(run: Run, tracer: tr.Tracer) -> dict:
    """``router.*``: one ``MultiTableCdcRouter`` over ``ROUTER_BATCHES``
    mixed six-table batches (one composite key, one ``map.*`` rename),
    every replica read (count + point lookup) after each batch, the final
    replicas checked against the reference."""
    specs = gen.ROUTER_TABLES
    in_dir = run.new_dir("router-in")
    paths = []
    for b in range(ROUTER_BATCHES):
        table = gen.mixed_changelog(run.seed, specs, ROUTER_BATCH_EVENTS, b * ROUTER_BATCH_EVENTS)
        paths.append(gen.write(table, os.path.join(in_dir, f"batch-{b}.parquet")))
    wants = run.expected(paths, specs)
    config = CdcConfig.from_properties(gen.ROUTER_PROPERTIES)
    r = MultiTableCdcRouter(run.spark, config, {s.name: (row_schema(s), s.row_cols) for s in specs}, run.new_dir("router-state"))
    sinks = []
    for pipe in r.pipelines.values():
        pipe.sink = tr.TracedSink(pipe.sink, tracer)
        sinks.append(pipe.sink)
    key_rows = {s.name: wants[s.name].slice(0, 1).to_pylist()[0] for s in specs}
    reads = []
    tracer.install()
    try:
        for path in paths:
            with tracer.span("router.process_batch"):
                run.attempt(lambda: r.process_batch(run.spark.read.parquet(path)))
            reads += [timed_read(lambda: r.read_state(s.name), s, key_rows[s.name]) for s in specs]
        sites = batch_plan_sites(tracer, len(specs))
    finally:
        tracer.uninstall()
    problems = [p for s in specs for p in run.check_replica(r.read_state(s.name), wants[s.name], s)]
    run.verify(problems, len(paths))
    batches = tracer.named("router.process_batch")
    return {
        "router.batch_s_p50": statistics.median(b["end"] - b["start"] for b in batches),
        "router.py4j_calls": statistics.median(b["py4j_calls"] for b in batches),
        "router.jobs_per_batch": statistics.median(len(b["jobs"]) for b in batches),
        "router.from_json_sites": sites,
        "router.read_state_s": statistics.median(reads),
        "router.dead_letters": r.dead_letters(run.spark.read.parquet(paths[0])).count(),
    }


WORKLOADS: dict[str, Callable[[Run], dict]] = {
    "cdc_backfill": backfill,
    "cdc_stream_merge": stream_merge,
}
SETUPS: dict[str, Callable[..., CdcPipeline]] = {
    "cdc_backfill": backfill_state,
    "cdc_stream_merge": stream_state,
}
