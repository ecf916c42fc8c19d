"""The three workloads. Each is one closed run from this process, driving
the engine only through its public functions, and each pass returns its
end-to-end samples, its correctness counts and what the traced run needs
for the per-layer numbers.

* ``sma_paced``: the 1 s SMA service fed open loop, one tick file per
  wall-clock second. Per-batch fixed cost dominates.
* ``sma_catchup``: the same pipeline draining an outage backlog in large
  ``availableNow`` batches. Per-record cost dominates.
* ``query_suite``: a frozen registry subset on seeded sf0.1 tables.
"""

from __future__ import annotations

import json
import math
import multiprocessing
import os
import random
import subprocess
import sys
import threading
import time
from collections import Counter
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from kafka_stream_faust_deprecated_spark import get_spark
from kafka_stream_faust_deprecated_spark.io import TABLES, decode_ticks, file_tick_source, load_table
from kafka_stream_faust_deprecated_spark.plans import exchange_census
from kafka_stream_faust_deprecated_spark.registry import get_query
from kafka_stream_faust_deprecated_spark.streaming.sinks import (
    BATCH_ID_COL,
    idempotent_parquet_sink,
    read_sink,
)
from kafka_stream_faust_deprecated_spark.streaming.sma import sma_aggregate
from scripts.driver_sim import _multiset

import data
import stats
from spans import BatchListener, Tracer, parse_ts, watermark_s

HERE = os.path.dirname(os.path.abspath(__file__))

#: ``sma_aggregate``'s default watermark delay and the trigger interval,
#: in seconds.
WATERMARK_S = 5
TRIGGER_S = 1.0

#: Paced service: symbols per tick file; seconds already in place at
#: set-up (enough that every window closed in the timed phase is full);
#: untimed live seconds after set-up; and live seconds fed after the timed
#: ones so the windows they close are emitted by ordinary batches.
PACED_SYMBOLS = 100
PACED_PRIMED = 8
PACED_WARMUP = 3
PACED_TAIL = 2
#: A rename this late is counted as a failed tick: the offered load was
#: not what the run claims.
LATE_MS = 250.0

#: Catch-up drain: symbols per tick file, files per micro-batch, and
#: batches in the untimed warm-up drain. The timed drain is ``--seconds``
#: batches.
CATCHUP_SYMBOLS = 800
CATCHUP_FILES = 15
CATCHUP_WARM_BATCHES = 4

#: Query suite; set-up writes the first. TPC-H: scan/join/shuffle work in
#: the JVM, with q15's global window through ``SinglePartition``. LLM: two
#: Python/Arrow-bound queries with eager build-time jobs, and two JVM-only
#: text operators.
SUITE = (
    ("dedup_exact_documents", "llm"),
    ("tpch_q3_shipping_priority", "tpch"),
    ("tpch_q15_top_supplier", "tpch"),
    ("doc_quality_score", "llm"),
    ("kmeans_lloyd_step", "llm"),
    ("ann_cosine_lsh", "llm"),
)
#: Timed runs per query. The quick queries, whose run times spread more,
#: run more often; each pass runs, in a seeded order, the queries that
#: still have runs to do.
SUITE_RUNS = {q: 7 for q, _ in SUITE} | {"kmeans_lloyd_step": 5, "ann_cosine_lsh": 5}
#: The tables the suite reads, loaded once per session during set-up.
SUITE_TABLES = ("customer", "supplier", "orders", "lineitem", "documents", "embeddings")

#: Symbols whose streamed windows are compared with the batch twin.
CHECK_SYMBOLS = 16

#: Warm set-ups per run; ``setup_s`` is their median. A cold set-up, which
#: launches the JVM, comes first and is only reported in ``detail``.
SETUPS = 3
#: A timed sample (a set-up, a query run, the windows a batch emitted)
#: taken while the host stole more than this share of CPU time is not
#: folded into a median. A set-up or query run it rules out is redone, up
#: to ``SETUPS`` extra set-ups and one extra pass of the suite.
STEAL_MAX = 0.05


class StealClock(threading.Thread):
    """Reads the host CPU steal from ``/proc/stat`` every 0.1 s, so each
    timed sample can be judged by the steal over its own interval."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.readings: list[tuple[float, int, int]] = [self.read()]
        self._halt = threading.Event()

    @staticmethod
    def read() -> tuple[float, int, int]:
        with open("/proc/stat") as fh:
            jiffies = [int(x) for x in fh.readline().split()[1:9]]
        return time.time(), jiffies[7], sum(jiffies)

    def run(self) -> None:
        while not self._halt.wait(0.1):
            self.readings.append(self.read())

    def share(self, t0: float, t1: float) -> float:
        """Share of CPU time stolen over [t0, t1]; ``t1`` is in the past."""
        return stats.steal_share(self.readings + [self.read()], t0, t1)

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.readings.append(self.read())


@dataclass
class Bench:
    """One benchmark process: where it writes, what it was asked for, and
    the instruments shared by its passes."""

    run_dir: str
    seed: int
    seconds: int
    conf: dict
    tracer: Tracer
    steal: StealClock
    listener: BatchListener = field(default_factory=BatchListener)
    spark: object = None
    marks: dict = field(default_factory=dict)

    def mark(self, name: str) -> None:
        """Note when a phase of the run ended, for the ``detail`` line."""
        self.marks[name] = time.time()

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def session(self):
        with self.tracer.span("get_spark", "session"):
            self.spark = get_spark(app_name="e2ebench", extra_conf=self.conf)
        if self.tracer.enabled:
            self.tracer.sc = self.spark.sparkContext
        self.spark.streams.addListener(self.listener)
        return self.spark

    def stop(self) -> None:
        self.tracer.sc = None
        self.spark.stop()
        self.spark = None


@dataclass
class Pass:
    """What one pass measured."""

    setup_s: list[float]
    setup_cold_s: float
    latency_ms: float
    throughput_per_s: float
    #: Every timed sample as ``[ms, steal %, kept]``; a sample taken under
    #: steal is not kept. For ``sma_paced`` one per emitted window end.
    samples: list = field(default_factory=list)
    #: Warm set-ups as ``[s, steal %, kept]``.
    setups: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    #: Per-layer metrics the workload measured itself.
    layers: dict = field(default_factory=dict)
    #: The ``timed`` span, and for streams the query name and every
    #: progress of it, from which the traced run builds the batch spans.
    timed: dict | None = None
    query: str = ""
    progress: list = field(default_factory=list)
    census: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# Correctness
# ---------------------------------------------------------------------------

def multiset(rows, cols) -> Counter:
    """Rows normalised and in column order as ``scripts/driver_sim.py``
    compares them."""
    return Counter(_multiset(rows, [c.lower() for c in cols]))


def differs(want: tuple[list[str], int, Counter], df) -> bool:
    """A query's result against its oracle's ``(columns, row count,
    multiset)``, with ``scripts/driver_sim.py``'s column-name, row-count
    and value checks."""
    cols, n, rows = want
    got = [tuple(r) for r in df.collect()]
    return (sorted(c.lower() for c in df.columns) != cols or len(got) != n
            or multiset(got, df.columns) != rows)


def mismatches(a: Counter, b: Counter) -> int:
    return sum(((a - b) + (b - a)).values())


def _sec(iso: str) -> int:
    return round(parse_ts(iso) - data.T0.timestamp())


def check_sma(spark, in_dir: str, out_dir: str, wm_sec: float, seed: int) -> tuple[int, int]:
    """Streamed rows against the batch twin (``sma_aggregate`` over the same
    tick files) on a seeded sample of symbols, for every window the last
    watermark finalised. Returns (windows checked, windows wrong)."""
    sample = random.Random(seed).sample(data.symbols(_symbol_count(in_dir)), CHECK_SYMBOLS)

    def rows(df):
        df = df.where(F.col("symbol").isin(sample))
        kept = [r for r in df.collect() if _sec(r["window_end"]) <= wm_sec]
        return multiset(kept, df.columns)

    twin = sma_aggregate(decode_ticks(spark.read.text(in_dir).select(F.col("value").alias("json"))))
    want, got = rows(twin), rows(read_sink(spark, out_dir))
    return sum(want.values()), mismatches(want, got)


def _symbol_count(in_dir: str) -> int:
    first = sorted(os.listdir(in_dir))[0]
    with open(os.path.join(in_dir, first)) as fh:
        return sum(1 for _ in fh)


# ---------------------------------------------------------------------------
# SMA pipeline
# ---------------------------------------------------------------------------

def start_sma(b: Bench, name: str, in_dir: str, out_dir: str, paced: bool, max_files: int,
              sink_log: dict):
    """file source -> ``sma_aggregate`` -> ``idempotent_parquet_sink`` in
    append mode with RocksDB state. The runner times its call into the
    sink function for every batch."""
    sink = idempotent_parquet_sink(out_dir)
    tracer = b.tracer

    def write(df, batch_id):
        t0 = time.time()
        sink(df, batch_id)
        sink_log[batch_id] = (t0, time.time())
        if tracer.enabled:
            tracer.add("write", "sinks", t0, sink_log[batch_id][1], query=name, batch_id=batch_id)

    ticks = file_tick_source(b.spark, in_dir, max_files_per_trigger=max_files)
    writer = (
        sma_aggregate(ticks).writeStream.queryName(name).foreachBatch(write)
        .outputMode("append").option("checkpointLocation", out_dir + ".ckpt")
    )
    if paced:
        writer = writer.trigger(processingTime=f"{TRIGGER_S:g} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _wait(pred, query, timeout: float = 120.0) -> None:
    deadline = time.time() + timeout
    while not pred():
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError("stream did not make progress")
        time.sleep(0.01)


def _flagged(values: list[float], steals: list[float], kept: list[int]) -> list:
    return [[v, 100.0 * s, i in kept] for i, (v, s) in enumerate(zip(values, steals))]


def run_setups(b: Bench, setup, teardown) -> tuple[float, list[float], list]:
    """One cold set-up, which launches the JVM, then ``SETUPS`` warm ones,
    each after tearing down the one before. A set-up runs from its
    ``get_spark`` call to the wall time ``setup(i)`` returns, and leaves
    its session up. A warm set-up taken under steal is redone, at most
    ``SETUPS`` times. Returns (cold seconds, kept warm seconds, every warm
    set-up as ``[s, steal %, kept]``)."""
    t0 = time.time()
    cold = setup(0) - t0
    times, steals = [], []
    for i in range(1, 1 + 2 * SETUPS):
        if sum(s <= STEAL_MAX for s in steals) == SETUPS:
            break
        teardown()
        t0 = time.time()
        t1 = setup(i)
        times.append(t1 - t0)
        steals.append(b.steal.share(t0, t1))
    kept = stats.steal_free(steals, STEAL_MAX, SETUPS)
    return cold, [times[i] for i in kept], _flagged(times, steals, kept)


def _stream_setups(b: Bench, tag: str, in_dir: str, paced: bool, max_files: int):
    """Set-ups of a stream, each to the return of the sink's first batch.
    Returns the set-up times and the last set-up's running query, with
    its name, sink log and output directory."""
    last: dict = {}

    def setup(i: int) -> float:
        b.session()
        last.update(name=f"{tag}_setup{i}", sink_log={}, out=b.path(tag, f"out{i}"))
        last["query"] = start_sma(b, last["name"], in_dir, last["out"], paced, max_files,
                                  last["sink_log"])
        _wait(lambda: 0 in last["sink_log"], last["query"])
        return last["sink_log"][0][1]

    def teardown() -> None:
        last["query"].stop()
        b.stop()

    cold, warm, setups = run_setups(b, setup, teardown)
    return cold, warm, setups, last


def _state_rows(p: dict, key: str) -> float:
    return sum(op.get(key, 0) for op in p.get("stateOperators") or [])


def _state_custom(p: dict, key: str) -> float:
    return sum((op.get("customMetrics") or {}).get(key, 0) for op in p.get("stateOperators") or [])


def stream_layers(progress: list[dict], sink_log: dict, rows_out: int, latencies_ms: list[float]) -> dict:
    """Per-layer numbers of a stream's timed batches: per-batch medians
    for times and sizes, totals for counts."""
    def med(f):
        return stats.median([f(p) for p in progress])

    dur = lambda k: lambda p: (p.get("durationMs") or {}).get(k, 0)  # noqa: E731
    trig = [dur("triggerExecution")(p) for p in progress]
    last = progress[-1]
    sinks = [sink_log[p["batchId"]] for p in progress if p["batchId"] in sink_log]
    out = {f"streaming.{k}_ms": med(dur(k)) for k in
           ("latestOffset", "getBatch", "walCommit", "commitOffsets", "queryPlanning", "addBatch",
            "triggerExecution")}
    out.update({
        "streaming.triggerExecution_ms_p90": stats.percentile(trig, 90),
        "streaming.latency_ms_p90": stats.percentile(latencies_ms, 90),
        "streaming.latency_samples": len(latencies_ms),
        "streaming.batches": len(progress),
        "streaming.batches_over_deadline": sum(t > TRIGGER_S * 1000 for t in trig),
        "streaming.rows_in": sum(p.get("numInputRows", 0) for p in progress),
        "streaming.rows_out": rows_out,
        "state.partitions": max(op.get("numShufflePartitions", 0)
                                for op in last.get("stateOperators") or [{}]),
        "state.rows_total": _state_rows(last, "numRowsTotal"),
        "state.rows_updated": sum(_state_rows(p, "numRowsUpdated") for p in progress),
        "state.rows_removed": sum(_state_rows(p, "numRowsRemoved") for p in progress),
        "state.memory_bytes": _state_rows(last, "memoryUsedBytes"),
        "state.commit_ms": med(lambda p: _state_rows(p, "commitTimeMs")),
        "state.rocksdb_file_sync_ms": med(lambda p: _state_custom(p, "rocksdbCommitFileSyncLatencyMs")),
        "state.rocksdb_put_ms": med(lambda p: _state_custom(p, "rocksdbPutLatency")),
        "state.rocksdb_get_ms": med(lambda p: _state_custom(p, "rocksdbGetLatency")),
        "state.rocksdb_bytes_written": med(lambda p: _state_custom(p, "rocksdbTotalBytesWritten")),
        "sinks.write_ms": stats.median([1000.0 * (e - s) for s, e in sinks]) if sinks else 0.0,
        "sinks.batches": len(sinks),
    })
    return out


def _sink_batches(spark, out_dir: str):
    """(window end second, batch id, rows) of everything the sink wrote."""
    df = spark.read.parquet(out_dir).groupBy("window_end", BATCH_ID_COL).count()
    return [(_sec(r[0]), r[1], r[2]) for r in df.collect()]


def _sink_windows(spark, out_dir: str) -> dict[int, tuple[int, int]]:
    """Window end second -> (rows, distinct symbols) the sink wrote for it,
    over all batches."""
    df = spark.read.parquet(out_dir).groupBy("window_end").agg(
        F.count("*").alias("rows"), F.countDistinct("symbol").alias("symbols"))
    return {_sec(r[0]): (r[1], r[2]) for r in df.collect()}


# ---------------------------------------------------------------------------
# sma_paced
# ---------------------------------------------------------------------------

def sma_paced(b: Bench, tag: str) -> Pass:
    live = b.seconds
    n_fed = PACED_WARMUP + live + PACED_TAIL
    in_dir, staging = b.path(tag, "in"), b.path(tag, "staging")
    data.write_tick_files(b.seed, in_dir, PACED_SYMBOLS, 0, PACED_PRIMED)
    names = data.write_tick_files(b.seed, staging, PACED_SYMBOLS, PACED_PRIMED, n_fed)
    first_timed = PACED_PRIMED + PACED_WARMUP
    last_timed = first_timed + live - 1

    cold, setup_s, setups, last = _stream_setups(b, tag, in_dir, True, 1000)
    q, name, sink_log, out_dir = last["query"], last["name"], last["sink_log"], last["out"]
    b.mark("setups")
    t0_sec = data.T0.timestamp()
    with b.tracer.span("timed", "bench") as timed:
        # Due times sit half-way between trigger instants, which Spark
        # aligns to whole multiples of the interval since the epoch.
        start = math.floor(time.time()) + 1 + TRIGGER_S / 2
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "pacer.py"), staging, in_dir, repr(start), *names],
            stdout=subprocess.PIPE, text=True,
        )
        try:
            out, _ = gen.communicate(timeout=n_fed + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        if gen.returncode != 0:
            raise RuntimeError(f"tick generator exited with {gen.returncode}")
        progress = b.listener.wait_for(name, lambda bs: any(
            watermark_s(p) - t0_sec >= last_timed - WATERMARK_S and p["batchId"] in sink_log
            for p in bs), timeout=60)
    q.stop()
    progress = b.listener.batches(name)
    lags = json.loads(out.strip().splitlines()[-1])["lag_ms"]

    due = {PACED_PRIMED + i: start + i for i in range(n_fed)}
    timed_lags = lags[PACED_WARMUP:PACED_WARMUP + live]
    batches = [{"batch_id": p["batchId"], "watermark": watermark_s(p) - t0_sec,
                "sink_return": sink_log[p["batchId"]][1]}
               for p in progress if p["batchId"] in sink_log]
    emitted = _sink_batches(b.spark, out_dir)
    attributed = {a["window_end"]: a for a in stats.attribute_windows(
        sorted({e for e, _, _ in emitted}), batches, due, WATERMARK_S)}
    # One latency sample per emitted timed window and symbol; the steal is
    # that over the window's own interval, closing tick due -> sink return.
    lat_ms, steals, rows_of, misattributed = [], [], [], 0
    for e, batch_id, n in sorted(emitted):
        a = attributed.get(e)
        if a is None or not first_timed <= a["closing_tick"] <= last_timed:
            continue
        misattributed += n * (a["batch_id"] != batch_id)
        t0 = due[a["closing_tick"]]
        lat_ms.append(1000.0 * a["latency_s"])
        steals.append(b.steal.share(t0, t0 + a["latency_s"]))
        rows_of.append(n)
    kept = stats.steal_free(steals, STEAL_MAX, (len(steals) + 1) // 2)
    latencies = [lat_ms[i] for i in kept for _ in range(rows_of[i])]
    # Every window a timed tick closed is written once per symbol: count
    # missing and duplicate rows apart, so one cannot hide the other.
    windows = _sink_windows(b.spark, out_dir)
    missing = duplicate = 0
    for tick in range(first_timed, last_timed + 1):
        rows, syms = windows.get(tick - WATERMARK_S, (0, 0))
        missing += PACED_SYMBOLS - syms
        duplicate += rows - syms
    late = sum(lag > LATE_MS for lag in timed_lags)

    # Throughput: ticks of the timed seconds over the time from the first
    # one's due time to the commit of the batch holding the last one.
    rows, end = 0, None
    for p in progress:
        rows += p.get("numInputRows", 0)
        if rows >= (1 + last_timed) * PACED_SYMBOLS:
            end = parse_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
            break
    if end is None:
        raise RuntimeError("the service never read the last timed tick")
    throughput = live * PACED_SYMBOLS / (end - due[first_timed])

    wm_final = max(bt["watermark"] for bt in batches)
    b.mark("timed")
    checked, wrong = check_sma(b.spark, in_dir, out_dir, wm_final, b.seed)
    b.mark("checked")
    timed_span = (due[first_timed] - TRIGGER_S, end)
    timed_batches = [p for p in progress if timed_span[0] <= parse_ts(p["timestamp"]) <= timed_span[1]]
    rows_out = sum(n for e, bid, n in emitted if bid in {p["batchId"] for p in timed_batches})
    layers = stream_layers(timed_batches, sink_log, rows_out, latencies)
    layers["generator.lag_ms_max"] = max(timed_lags)
    layers["generator.lag_ms_p50"] = stats.median(timed_lags)
    return Pass(
        setup_s=setup_s, setup_cold_s=cold,
        latency_ms=stats.median(latencies),
        samples=_flagged(lat_ms, steals, kept), setups=setups,
        throughput_per_s=throughput,
        attempted=checked + live + live * PACED_SYMBOLS,
        failed=wrong + late + misattributed + missing + duplicate,
        layers=layers, timed=timed, query=name, progress=progress,
    )


# ---------------------------------------------------------------------------
# sma_catchup
# ---------------------------------------------------------------------------

def sma_catchup(b: Bench, tag: str) -> Pass:
    prime, warm_dir, backlog = b.path(tag, "prime"), b.path(tag, "warm"), b.path(tag, "backlog")
    data.write_tick_files(b.seed, prime, CATCHUP_SYMBOLS, 200_000, 1)
    data.write_tick_files(b.seed, warm_dir, CATCHUP_SYMBOLS, 100_000,
                          CATCHUP_WARM_BATCHES * CATCHUP_FILES)
    n_files = b.seconds * CATCHUP_FILES
    data.write_tick_files(b.seed, backlog, CATCHUP_SYMBOLS, 0, n_files)

    cold, setup_s, setups, last = _stream_setups(b, tag, prime, False, CATCHUP_FILES)
    last["query"].awaitTermination()
    b.mark("setups")
    q = start_sma(b, f"{tag}_warmup", warm_dir, b.path(tag, "warmup"), False, CATCHUP_FILES, {})
    q.awaitTermination()  # untimed
    b.mark("warmup")
    name, sink_log, out_dir = f"{tag}_drain", {}, b.path(tag, "drain")
    with b.tracer.span("timed", "bench") as timed:
        t0 = time.time()
        q = start_sma(b, name, backlog, out_dir, False, CATCHUP_FILES, sink_log)
        q.awaitTermination()
        wall = time.time() - t0
    last_id = q.lastProgress["batchId"]
    progress = b.listener.wait_for(name, lambda bs: bs and bs[-1]["batchId"] >= last_id)
    drained = [p for p in progress if p.get("numInputRows", 0) > 0]
    trig = [p["durationMs"]["triggerExecution"] for p in drained]

    t0_sec = data.T0.timestamp()
    wm_final = max(watermark_s(p) for p in progress) - t0_sec
    b.mark("timed")
    checked, wrong = check_sma(b.spark, backlog, out_dir, wm_final, b.seed)
    b.mark("checked")
    ticks = sum(p["numInputRows"] for p in drained)
    rows_out = sum(n for _, _, n in _sink_batches(b.spark, out_dir))
    return Pass(
        setup_s=setup_s, setup_cold_s=cold,
        latency_ms=stats.median(trig),
        samples=[[t, None, True] for t in trig], setups=setups,
        throughput_per_s=n_files * CATCHUP_SYMBOLS / wall,
        attempted=checked + n_files * CATCHUP_SYMBOLS,
        failed=wrong + abs(n_files * CATCHUP_SYMBOLS - ticks),
        layers=stream_layers(drained, sink_log, rows_out, trig),
        timed=timed, query=name, progress=progress,
    )


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------

def _suite_inputs(seed: int, tables: str) -> dict:
    """Write the seeded tables and return each query's oracle result as
    ``(columns, row count, multiset)``."""
    import duckdb

    data.write_tables(seed, tables)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    oracles = {}
    for q, _ in SUITE:
        rel = con.execute(get_query(q).oracle)
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
        oracles[q] = (sorted(c.lower() for c in cols), len(rows), multiset(rows, cols))
    con.close()
    return oracles


def prepare_suite(b: Bench) -> dict:
    """Seeded sf0.1 tables and each query's DuckDB oracle result, made
    before any clock starts. They are made in a child process forked
    before the JVM starts, so their memory is not in the runner's peak."""
    tables = b.path("tables")
    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("fork")) as pool:
        oracles = pool.submit(_suite_inputs, b.seed, tables).result()
    return {"tables": tables, "oracles": oracles}


def _run_query(b: Bench, q: str, family: str, tables: str, phase: str) -> tuple[float, float, list]:
    """Build and force one query. Returns its start and end wall time and
    its two spans (none when untraced)."""
    t0 = time.time()
    with b.tracer.span(f"{q}.build", "queries", query=q, family=family, phase=phase) as build:
        df = get_query(q).fn(b.spark, tables)
    with b.tracer.span(f"{q}.exec", "queries", query=q, family=family, phase=phase) as run:
        df.write.format("noop").mode("overwrite").save()
    return t0, time.time(), [s for s in (build, run) if s is not None]


def query_suite(b: Bench, tag: str, prep: dict) -> Pass:
    tables, oracles = prep["tables"], prep["oracles"]

    def setup(i: int) -> float:
        b.session()
        for t in SUITE_TABLES:
            with b.tracer.span(f"load_table {t}", "io"):
                load_table(b.spark, tables, t)
        return _run_query(b, *SUITE[0], tables, "setup")[1]

    cold, setup_s, setups = run_setups(b, setup, b.stop)
    b.mark("setups")
    failed, census = 0, {}
    for q, family in SUITE:  # untimed: warms every query and checks it
        df = get_query(q).fn(b.spark, tables)
        failed += differs(oracles[q], df)
        if b.tracer.enabled:
            with b.tracer.span(f"{q}.census", "plans", family=family):
                census[q] = exchange_census(df)

    b.mark("checked")
    # Per query, (seconds, steal, spans) of each timed run. A run taken
    # under steal is redone, at most one extra pass in all.
    runs: dict[str, list] = {q: [] for q, _ in SUITE}
    rng = random.Random(b.seed)

    def run(q: str, family: str) -> None:
        t0, t1, spans_ = _run_query(b, q, family, tables, "timed")
        runs[q].append((t1 - t0, b.steal.share(t0, t1), spans_))

    with b.tracer.span("timed", "bench") as timed:
        for i in range(max(SUITE_RUNS.values())):
            order = [(q, family) for q, family in SUITE if SUITE_RUNS[q] > i]
            rng.shuffle(order)
            for q, family in order:
                run(q, family)
        redo = [(q, family) for q, family in SUITE
                for _ in range(SUITE_RUNS[q] - sum(s <= STEAL_MAX for _, s, _ in runs[q]))]
        for q, family in redo[:len(SUITE)]:
            run(q, family)
    b.mark("timed")
    times, samples = {}, []
    for q, rs in runs.items():
        kept = stats.steal_free([s for _, s, _ in rs], STEAL_MAX, SUITE_RUNS[q])
        for i, (_, _, spans_) in enumerate(rs):
            for span in spans_:
                span["phase"] = "timed" if i in kept else "stolen"
        times[q] = [rs[i][0] for i in kept]
        samples += _flagged([1000.0 * t for t, _, _ in rs], [s for _, s, _ in rs], kept)
    total = sum(sum(v) for v in times.values())
    return Pass(
        setup_s=setup_s, setup_cold_s=cold,
        latency_ms=1000.0 * stats.geomean([stats.median(v) for v in times.values()]),
        samples=samples, setups=setups,
        throughput_per_s=sum(SUITE_RUNS.values()) / total,
        attempted=len(SUITE),
        failed=failed,
        timed=timed, census=census,
    )
