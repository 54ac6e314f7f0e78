"""Structured Streaming execution of the same operator surface.

Reference: the engine is a per-event push loop (engine/mod.rs:2309
Engine::process) fed by connector tasks over bounded channels
(varpulis-cli/src/main.rs:954,1005-1040). Spark's analog is micro-batch
Structured Streaming; the operator compiler is shared — a `Stream` whose
DataFrame `isStreaming` simply keeps composing the same expressions.

Mapping (SURVEY §2.1/§2.9):
- `timer(5s)` source            → rate source (`rate-micro-batch` in tests)
- `EventType.from(Kafka, ...)`  → `readStream.format("kafka")`
- file/S3 replay                → `readStream.parquet/json` on a directory
- `.watermark(out_of_order:)`   → `withWatermark` (Spark's global min-
  across-sources watermark == the reference's PerSourceWatermarkTracker
  min rule, runtime/src/watermark.rs:108-140)
- `.to(Conn, ...)` sinks        → `writeStream` console/file/memory/
  foreachBatch (connector fan-out, MultiSink ≈ multiple queries or
  foreachBatch fan-out)
- checkpoint/restore            → `option("checkpointLocation", ...)`
- SASE patterns                 → `applyInPandasWithState` (sase_streaming)

Windows: tumbling/sliding/session lower to the identical F.window /
F.session_window expressions as batch; Spark maintains them incrementally
(the reference's IncrementalSlidingWindow, window.rs:1225-1345, for free).
Count windows and `.limit` need per-key counters — custom stateful ops
(applyInPandasWithState drivers below).

Stream-stream windowed join (join.rs:18-71): `Stream.join` on streaming
frames lowers to `withWatermark` on every streaming side + equi-key +
timestamp±interval band (operators/joins.py:windowed_join). Spark derives
the state-eviction watermark from the band — the JoinBuffer expiry
(join.rs:104-121) for free. N-way chains work too: after each step only
the first side's event-time tag keeps flowing (Spark allows one per join
input), with the remaining bands as exact residual predicates. Parity-
tested micro-batch vs batch on the replay corpus (2-way + 3-way,
tests/test_streaming.py::test_streaming_*_join_*), with a state-eviction
guard pinning the bounded-state plan shape.
"""

from __future__ import annotations

import os
import threading
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from varpulis_spark.functions import duration_interval_str
from varpulis_spark.stream import Stream

# Per-query SQL confs the transformWithStateInPandas operators need at
# .start() time (multi-column-family state ⇒ RocksDB provider). Attached to
# the op's Stream/DataFrame and applied query-scoped by start_query() —
# never set on the session, so co-resident queries and HDFS-checkpoint
# restarts keep their own provider (ADVICE r10).
_TWS_CONFS = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}

# start_query's set→start→restore on the shared session conf is a critical
# section: PipelineServer starts/hot-reloads queries from HTTP handler
# threads, and two interleaved starts could capture each other's confs
# (ADVICE r11). One lock per process is enough — a SparkSession is
# process-wide here and the window is a few ms around .start().
_START_LOCK = threading.Lock()


def _plan_uses_tws(df) -> bool:
    """True when the analyzed plan contains a transformWithStateInPandas
    node. Safety net for _TWS_CONFS propagation: the conf rides on
    Stream.session_confs / df._varpulis_session_confs, but any DataFrame
    transformation or bare Stream(...) re-wrap between the op and the sink
    drops the stamp (ADVICE r11 medium) — the plan itself cannot lie."""
    try:
        return "transformwithstate" in (
            df._jdf.queryExecution().analyzed().toString().lower()
        )
    except Exception:  # noqa: BLE001 — plan introspection is best-effort
        return False


# ---------------------------------------------------------------------------
# sources
# ---------------------------------------------------------------------------


def timer_source(
    spark: SparkSession, every, rows_per_batch: int | None = None
) -> Stream:
    """`timer(5s)` analog (TimerConfig engine/types.rs:157-164): periodic
    synthetic events with `ts` and a monotonically increasing `tick`."""
    import re

    from varpulis_spark.functions import duration_ns

    per_sec = max(1, int(1e9 / duration_ns(every)))
    reader = spark.readStream.format("rate").option("rowsPerSecond", per_sec)
    df = reader.load().select(
        F.col("timestamp").alias("ts"),
        F.col("value").alias("tick"),
        F.lit("Timer").alias("event_type"),
    )
    return Stream(df, ts_col="ts", order_col="tick")


def file_source(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    ts_col: str = "ts",
    max_files_per_trigger: int | None = None,
    ns_timestamp_cols: list[str] | None = None,
    order_col: str | None = None,
) -> Stream:
    """Directory replay source (S3/file connector analog, connector/s3.rs).

    `ns_timestamp_cols`: columns physically stored as TIMESTAMP(NANOS)
    (INT64) parquet — e.g. the raw testdata tables. They are read as long and
    truncated to µs TimestampType, mirroring engine.read_parquet (Spark has
    no ns timestamp; streaming readers cannot probe footers per file, so the
    caller must name them)."""
    from pyspark.sql.types import LongType, StructField, StructType

    ns_cols = set(ns_timestamp_cols or [])
    if ns_cols:
        schema = StructType(
            [
                StructField(f.name, LongType() if f.name in ns_cols else f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # naive-µs parquet columns arrive as TIMESTAMP_NTZ, which watermarks
    # reject; relabel to TIMESTAMP (session tz pinned to UTC — same micros)
    from pyspark.sql.types import TimestampNTZType

    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return Stream(df, ts_col=ts_col, order_col=order_col)


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topic: str,
    value_schema=None,
    starting_offsets: str = "latest",
) -> Stream:
    """Kafka connector source (connector/kafka.rs → built-in format).

    Thin delegate to `sources.kafka.kafka_source`, which carries the full
    reference-parity payload rules (size limit, event_type precedence,
    nested `data` unpacking) and config/option lowering."""
    from varpulis_spark.sources.kafka import KafkaConfig
    from varpulis_spark.sources.kafka import kafka_source as _ks

    return _ks(
        spark,
        KafkaConfig(brokers=brokers, topic=topic),
        value_schema=value_schema,
        starting_offsets=starting_offsets,
    )


# ---------------------------------------------------------------------------
# sinks (`.to(...)` surface, engine/sink_factory.rs)
# ---------------------------------------------------------------------------


def start_query(writer, stream: Stream | None = None, df=None):
    """Start a streaming query with its query-scoped SQL confs: the state
    partition count plus any confs the pipeline requires
    (Stream.session_confs / df._varpulis_session_confs — e.g. the RocksDB
    state-store provider for transformWithStateInPandas ops).

    Spark reads these confs from a clone of the session conf taken
    SYNCHRONOUSLY inside .start(), so set→start→restore scopes them to
    this one query: concurrent queries and the batch suite are untouched
    (ADVICE r10, verified empirically — a writeStream .option() is NOT
    honored for these confs). A restart from a checkpoint keeps the
    partition count recorded in it: Spark overrides the session value
    with the checkpoint's offset-log conf."""
    confs: dict[str, str] = {}
    if stream is not None:
        # duck-typed streams (tests wrap bare DataFrames) may lack the attr
        confs.update(getattr(stream, "session_confs", None) or {})
        df = df if df is not None else stream.df
    if df is not None:
        confs.update(getattr(df, "_varpulis_session_confs", None) or {})
        if (
            "spark.sql.streaming.stateStore.providerClass" not in confs
            and _plan_uses_tws(df)
        ):
            # the stamp was lost somewhere between the TWS op and here
            # (re-wrap / transformation) — the plan is the ground truth
            confs.update(_TWS_CONFS)
    spark = df.sparkSession if df is not None else SparkSession.active()
    # one wave of state tasks: every stateful micro-batch pays a fixed cost
    # per state task (store load + commit, ~250 ms each on a 2-slot host),
    # so tasks beyond the slots only add waves; past 8 the per-task floor
    # outweighs the parallelism even on 32 slots (PERF_NOTES "Streaming
    # state partitions")
    confs["spark.sql.shuffle.partitions"] = str(
        min(spark.sparkContext.defaultParallelism, 8)
    )
    with _START_LOCK:
        saved = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            return writer.start()
        finally:
            for k, prev in saved.items():
                if prev is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, prev)


def to_memory(stream: Stream, name: str, output_mode: str = "append", trigger_once: bool = True):
    """Memory sink — the test/debug sink (ConsoleSink analog for asserts)."""
    w = stream.df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if trigger_once:
        w = w.trigger(availableNow=True)
    return start_query(w, stream)


def run_to_memory(stream: Stream, name: str, output_mode: str = "append"):
    """Start a memory-sink query, drain ALL available input honoring read
    limits (maxFilesPerTrigger → one micro-batch per file, deterministic
    replay), then stop. `availableNow` may coalesce files into one batch;
    this helper is the timed-replay harness (.evt analog)."""
    q = start_query(
        stream.df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode),
        stream,
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    return q


def to_console(stream: Stream, output_mode: str = "append"):
    return start_query(
        stream.df.writeStream.format("console").outputMode(output_mode), stream
    )


def to_parquet(stream: Stream, path: str, checkpoint: str, output_mode: str = "append"):
    return start_query(
        stream.df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode),
        stream,
    )


def foreach_batch(stream: Stream, fn: Callable[[DataFrame, int], None], checkpoint: str | None = None):
    """HTTP/JDBC/Redis/ES sink analog (HttpSinkWithRetry sink.rs:315-487):
    per-micro-batch callback; retries/DLQ are the callback's concern."""
    w = stream.df.writeStream.foreachBatch(fn)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return start_query(w, stream)


class LateRouter:
    """Streaming late-event side output (`.allowed_lateness(30s)` + side
    stream; ast.rs:319-320, drop/route logic engine/mod.rs:2330-2376).

    Spark's stateful operators DROP late rows silently; the reference
    instead routes events older than (watermark − allowed_lateness) to a
    named side-output stream. This router reproduces that contract in
    foreachBatch: it tracks the reference's watermark definition
    (max event ts seen − out_of_order, PerSourceWatermarkTracker
    watermark.rs:13-140) across micro-batches and splits every batch into
    (on_time, late) BEFORE downstream processing — the same
    check-before-process order as process_inner (engine/mod.rs:2330).

    The watermark lives on the driver in this object (exactly where the
    reference keeps it). It is rebuilt from zero on restart — after a
    restart the first batches are judged against a colder watermark,
    which can only mis-route LATE→ON-TIME (safe direction: nothing is
    wrongly dropped); checkpointed exactness would need the watermark in
    state-store state, out of scope for a side-output valve.
    """

    def __init__(self, out_of_order: str = "10s",
                 allowed_lateness: str = "0s", ts_col: str = "ts"):
        from varpulis_spark.functions import duration_ns

        self.ooo_us = duration_ns(out_of_order) // 1000
        self.late_us = duration_ns(allowed_lateness) // 1000
        self.ts_col = ts_col
        self.wm_us: int | None = None
        self.n_late = 0
        self.n_on_time = 0

    def split(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Split one micro-batch against the CURRENT watermark, then
        advance it by the batch's max event time."""
        ts_us = F.unix_micros(F.col(self.ts_col))
        if self.wm_us is None:
            on_time, late = df, df.filter(F.lit(False))
        else:
            cutoff = self.wm_us - self.late_us
            on_time = df.filter(ts_us >= F.lit(cutoff))
            late = df.filter(ts_us < F.lit(cutoff))
        row = df.agg(F.max(ts_us).alias("m")).collect()[0]
        if row.m is not None:
            new_wm = int(row.m) - self.ooo_us
            self.wm_us = new_wm if self.wm_us is None else max(self.wm_us, new_wm)
        return on_time, late

    def sink(self, on_time: Callable[[DataFrame, int], None],
             late: Callable[[DataFrame, int], None]) -> Callable:
        """foreachBatch function routing each micro-batch's two halves."""

        def route(df: DataFrame, epoch: int) -> None:
            df.persist()
            try:
                ok, lt = self.split(df)
                n_late = lt.count()
                self.n_late += n_late
                self.n_on_time += df.count() - n_late
                on_time(ok, epoch)
                if n_late:
                    late(lt, epoch)
            finally:
                df.unpersist()

        return route


def late_side_output(
    stream: Stream,
    on_time: Callable[[DataFrame, int], None],
    late: Callable[[DataFrame, int], None],
    out_of_order: str = "10s",
    allowed_lateness: str = "0s",
    checkpoint: str | None = None,
):
    """Start a streaming query that routes late events to `late` and
    everything else to `on_time` (the `.allowed_lateness` side-output
    surface). Returns (query, router) — router.n_late / n_on_time are the
    reference's late-event metrics."""
    router = LateRouter(out_of_order, allowed_lateness, stream.ts_col)
    q = foreach_batch(stream, router.sink(on_time, late), checkpoint)
    return q, router


def multi_sink(stream: Stream, *fns: Callable[[DataFrame, int], None], checkpoint: str | None = None):
    """MultiSink fan-out (sink.rs:489-620): one stream, several consumers,
    single write ensures consistent micro-batch across sinks."""

    def fan_out(df: DataFrame, epoch: int) -> None:
        df.persist()
        try:
            for fn in fns:
                fn(df, epoch)
        finally:
            df.unpersist()

    return foreach_batch(stream, fan_out, checkpoint)


class CircuitBreaker:
    """Sink circuit breaker (circuit_breaker.rs:1-130):

    - Closed → Open after `failure_threshold` CONSECUTIVE failures
    - Open rejects immediately (no downstream call)
    - Open → HalfOpen once `reset_timeout_s` elapses: ONE probe allowed
    - HalfOpen → Closed on probe success; → Open (timer restarts) on failure

    Driver-side in-memory state, like the reference's (a restart resets the
    breaker to Closed; durable delivery state is the checkpoint's job).
    `clock` is injectable for deterministic tests."""

    def __init__(
        self,
        failure_threshold: int = 5,
        reset_timeout_s: float = 30.0,
        clock: Callable[[], float] = None,
    ):
        import time

        self.failure_threshold = failure_threshold
        self.reset_timeout_s = reset_timeout_s
        self._clock = clock or time.monotonic
        self.state = "closed"
        self._consecutive_failures = 0
        self._opened_at: float | None = None

    def allow(self) -> bool:
        if self.state == "open":
            if self._clock() - self._opened_at >= self.reset_timeout_s:
                self.state = "half_open"
                return True  # the probe
            return False
        return True  # closed or half_open (probe in flight)

    def record(self, ok: bool) -> None:
        if ok:
            self.state = "closed"
            self._consecutive_failures = 0
            self._opened_at = None
            return
        if self.state == "half_open":
            self.state = "open"  # failed probe reopens, timer restarts
            self._opened_at = self._clock()
            return
        self._consecutive_failures += 1
        if self._consecutive_failures >= self.failure_threshold:
            self.state = "open"
            self._opened_at = self._clock()


def _write_dlq(df: DataFrame, epoch: int, connector: str, error: str, path: str) -> None:
    """Append the failed micro-batch to the DLQ table (dead_letter.rs:31-94:
    connector + error + serialized events; parquet instead of JSONL so the
    DLQ is itself a queryable, replayable table)."""
    (
        df.select(
            F.lit(connector).alias("connector"),
            F.lit(error).alias("error"),
            F.lit(epoch).cast("long").alias("epoch"),
            F.current_timestamp().alias("dlq_ts"),
            F.to_json(F.struct(*df.columns)).alias("payload"),
        )
        .write.mode("append")
        .parquet(path)
    )


def resilient_sink_fn(
    fn: Callable[[DataFrame, int], None],
    dlq_path: str,
    connector: str = "sink",
    failure_threshold: int = 5,
    reset_timeout: str = "30s",
    breaker: CircuitBreaker | None = None,
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch callback with circuit breaker + dead letter
    queue (ResilientSink, sink.rs:538-620): a failing batch lands in the
    DLQ (never dropped) and counts toward opening the circuit; while open,
    batches are DLQ'd without touching the sink; after the reset timeout a
    single probe batch tests recovery. Composable with `multi_sink` (wrap
    each consumer independently)."""
    from varpulis_spark.functions import duration_seconds

    cb = breaker or CircuitBreaker(failure_threshold, duration_seconds(reset_timeout))

    def wrapped(df: DataFrame, epoch: int) -> None:
        if not cb.allow():
            _write_dlq(df, epoch, connector, "circuit open", dlq_path)
            return
        try:
            fn(df, epoch)
        except Exception as e:  # noqa: BLE001 - any sink failure goes to DLQ
            cb.record(False)
            _write_dlq(df, epoch, connector, repr(e), dlq_path)
        else:
            cb.record(True)

    wrapped.breaker = cb
    return wrapped


def resilient_sink(
    stream: Stream,
    fn: Callable[[DataFrame, int], None],
    dlq_path: str,
    connector: str = "sink",
    failure_threshold: int = 5,
    reset_timeout: str = "30s",
    checkpoint: str | None = None,
    breaker: CircuitBreaker | None = None,
):
    """`.to(sink, resilient: true)` analog — see resilient_sink_fn."""
    return foreach_batch(
        stream,
        resilient_sink_fn(
            fn, dlq_path, connector, failure_threshold, reset_timeout, breaker
        ),
        checkpoint,
    )


def read_dlq(spark, dlq_path: str) -> DataFrame:
    """Load the DLQ as a DataFrame (connector, error, epoch, dlq_ts,
    payload-JSON) for inspection or replay."""
    return spark.read.parquet(dlq_path)


# ---------------------------------------------------------------------------
# stateful count windows / limit (no Spark built-in; CountWindow
# window.rs:274-359, LimitState engine/types.rs:298-301)
# ---------------------------------------------------------------------------

_COUNT_AGG_FNS = {
    "count": lambda s: len(s),
    "sum": lambda s: float(s.sum()),
    "avg": lambda s: float(s.mean()),
    "min": lambda s: float(s.min()),
    "max": lambda s: float(s.max()),
    "first": lambda s: s.iloc[0],
    "last": lambda s: s.iloc[-1],
}


def count_window_streaming(
    stream: Stream, size: int, aggs: dict[str, tuple[str, str | None]],
    slide: int | None = None, engine: str = "auto",
) -> Stream:
    """Streaming count window: emit one aggregate row per completed window
    per key, in arrival order (CountWindow window.rs:274-444 — the trailing
    partial buffer never fires). `aggs`: alias → (fn, field) with fn in
    count/sum/avg/min/max/first/last.

    `slide` (default = size → tumbling): window w covers arrival positions
    [w·slide, w·slide + size); it fires when its last row arrives, matching
    the batch `.window(size, sliding=slide)` ids exactly.

    State per key = (next window id, absolute position of the buffer head,
    leftover rows) — the buffer never holds more than `size + slide` rows:
    rows before the next window's start are dropped as windows complete.

    `engine` selects the stateful backend: "pandas" = applyInPandasWithState
    (default, works on every state store); "tws" = transformWithStateInPandas
    (arbitrary-state v2 — native per-variable column families, requires the
    RocksDB provider and a protobuf runtime, see pbvendor); "auto" = tws only
    when VARPULIS_TWS_COUNT_WINDOW=1 and the runtime is available.
    """
    import os as _os
    import pickle

    if engine == "auto":
        engine = (
            "tws"
            if _os.environ.get("VARPULIS_TWS_COUNT_WINDOW") == "1"
            else "pandas"
        )
    if engine == "tws":
        return _count_window_streaming_tws(stream, size, aggs, slide)

    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    slide = slide or size
    df = stream.df
    keys = stream.keys
    if not keys:
        raise ValueError("streaming count windows require partition_by")
    sort_cols = [stream.ts_col] + ([stream.order_col] if stream.order_col else [])
    key_fields = ", ".join(f"{k} {t}" for k, t in df.dtypes if k in keys)
    out_fields = []
    for alias, (fn, _field) in aggs.items():
        out_fields.append(f"{alias} double" if fn != "count" else f"{alias} long")
    out_schema = f"{key_fields}, window_id long, " + ", ".join(out_fields)
    state_schema = "win long, base long, buf binary"

    def run(key, pdfs, state):
        win, base, leftover = 0, 0, None
        if state.exists:
            win, base, buf = state.get
            leftover = pickle.loads(buf)
        # applyInPandasWithState gives no cross-chunk ordering guarantee:
        # concat ALL Arrow chunks of the group first, then sort once.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        new = (
            pd.concat(chunks).sort_values(sort_cols, kind="mergesort")
            if chunks
            else None
        )
        batches = [b for b in (leftover, new) if b is not None and not b.empty]
        all_rows = pd.concat(batches) if batches else pd.DataFrame()
        rows = []
        # window `win` fires once row (win·slide + size − 1) has arrived
        while base + len(all_rows) >= win * slide + size:
            start = win * slide - base
            chunk = all_rows.iloc[start : start + size]
            row = list(key) + [win]
            for alias, (fn, field) in aggs.items():
                series = chunk[field] if field else chunk.iloc[:, 0]
                row.append(_COUNT_AGG_FNS[fn](series))
            rows.append(row)
            win += 1
            drop = win * slide - base
            if drop > 0:
                all_rows = all_rows.iloc[drop:]
                base += drop
        state.update((win, base, pickle.dumps(all_rows)))
        cols = list(keys) + ["window_id"] + list(aggs.keys())
        yield pd.DataFrame(rows, columns=cols)

    out = df.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
        run, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return Stream(out, ts_col=stream.ts_col, keys=keys)


def _count_window_streaming_tws(
    stream: Stream, size: int, aggs: dict[str, tuple[str, str | None]],
    slide: int | None = None,
) -> Stream:
    """transformWithStateInPandas twin of count_window_streaming (same
    CountWindow semantics, window.rs:274-444).

    Arbitrary-state v2 upgrades over the applyInPandasWithState path:
    the leftover row buffer lives in a native ListState column family
    (row-typed, RocksDB-resident — no whole-buffer pickle through every
    micro-batch) and the (next-window, base-position) cursor in its own
    ValueState. Count windows are count-triggered, so no timers are
    needed; timer-driven ops (panes, negation confirmation) are the next
    migration candidates now that the API runs (see SCALE.md).

    Requires the RocksDB state-store provider (multiple column families)
    — attached as a query-scoped conf applied at .start() by
    streaming.start_query, never set on the session — and a protobuf
    runtime (pbvendor).
    """
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from varpulis_spark import pbvendor

    if not pbvendor.tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs a google.protobuf runtime; "
            "none importable and no bundled runtime found (see pbvendor)"
        )

    slide = slide or size
    df = stream.df
    keys = stream.keys
    if not keys:
        raise ValueError("streaming count windows require partition_by")
    sort_cols = [stream.ts_col] + ([stream.order_col] if stream.order_col else [])
    key_fields = ", ".join(f"{k} {t}" for k, t in df.dtypes if k in keys)
    out_fields = []
    for alias, (fn, _field) in aggs.items():
        out_fields.append(f"{alias} double" if fn != "count" else f"{alias} long")
    out_schema = f"{key_fields}, window_id long, " + ", ".join(out_fields)
    buf_schema = ", ".join(f"{c} {t}" for c, t in df.dtypes)
    buf_cols = [c for c, _ in df.dtypes]
    # ListState round-trips rows as tuples; pd.DataFrame(tuples) comes back
    # all-object (timestamps as scalar objects), so aggregates over leftover
    # rows would run on object-dtype series. Restore the Arrow-path dtypes
    # after reconstruction (ADVICE r10).
    _pd_dtypes = {
        "tinyint": "int8", "smallint": "int16", "int": "int32",
        "bigint": "int64", "float": "float32", "double": "float64",
        "boolean": "bool", "timestamp": "datetime64[us]",
        "timestamp_ntz": "datetime64[us]",
    }
    buf_dtypes = {c: _pd_dtypes[t] for c, t in df.dtypes if t in _pd_dtypes}

    def _typed(leftover: list) -> "pd.DataFrame":
        pdf = pd.DataFrame(leftover, columns=buf_cols)
        for c, dt in buf_dtypes.items():
            try:
                pdf[c] = pdf[c].astype(dt)
            except (TypeError, ValueError):
                pass  # nullable ints etc. — keep object rather than crash
        return pdf
    n_keys = len(keys)
    aggs_items = list(aggs.items())
    out_cols = list(keys) + ["window_id"] + [a for a, _ in aggs_items]

    class _CountWindowProcessor(StatefulProcessor):
        def init(self, handle):
            self.meta = handle.getValueState("meta", "win long, base long")
            self.buf = handle.getListState("buf", buf_schema)

        def handleInputRows(self, key, rows, timer_values):
            seen = self.meta.exists()
            win, base = self.meta.get() if seen else (0, 0)
            leftover = list(self.buf.get()) if seen else []
            chunks = [pdf for pdf in rows if len(pdf)]
            new = (
                pd.concat(chunks).sort_values(sort_cols, kind="mergesort")
                if chunks
                else None
            )
            batches = []
            if leftover:
                batches.append(_typed(leftover))
            if new is not None and not new.empty:
                batches.append(new)
            all_rows = pd.concat(batches) if batches else pd.DataFrame()
            out = []
            while base + len(all_rows) >= win * slide + size:
                start = win * slide - base
                chunk = all_rows.iloc[start : start + size]
                row = list(key[:n_keys]) + [win]
                for alias, (fn, field) in aggs_items:
                    series = chunk[field] if field else chunk.iloc[:, 0]
                    row.append(_COUNT_AGG_FNS[fn](series))
                out.append(row)
                win += 1
                drop = win * slide - base
                if drop > 0:
                    all_rows = all_rows.iloc[drop:]
                    base += drop
            self.meta.update((win, base))
            self.buf.clear()
            if len(all_rows):
                self.buf.appendList(
                    list(all_rows[buf_cols].itertuples(index=False, name=None))
                )
            yield pd.DataFrame(out, columns=out_cols)

        def close(self):
            pass

    out = df.groupBy(*[F.col(k) for k in keys]).transformWithStateInPandas(
        statefulProcessor=_CountWindowProcessor(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="None",
    )
    # TWS needs multi-column-family state: require RocksDB at START time,
    # query-scoped (never mutate the session conf — ADVICE r10).
    out._varpulis_session_confs = dict(_TWS_CONFS)
    s = Stream(out, ts_col=stream.ts_col, keys=keys)
    s.session_confs.update(_TWS_CONFS)
    return s


def forecast_streaming(
    stream: Stream,
    pattern_types: list[str],
    horizon=None,
    max_depth: int | None = None,
    warmup: int | None = None,
    confidence: float = 0.0,
    within=None,
    hawkes: bool = True,
    conformal: bool = True,
    mode: str | None = None,
    coverage: float = 0.9,
    first_cols: list[str] | None = None,
) -> Stream:
    """Streaming `.forecast(...)` — the reference's native mode (the PST
    trains as events arrive). The per-key `ForecastEngine` (PST + Hawkes +
    conformal + active runs) is pickled into the state store between
    micro-batches, so restarts resume the model from the checkpoint.
    Output schema matches the batch operator (operators/forecast.py),
    including its `first_cols` __first_* pruning knob (run-start captures
    must be CARRIED here — prior-batch rows are gone by fire time — so
    pruning also shrinks the pickled run state, not just the output)."""
    import pickle

    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    from varpulis_spark.operators.forecast import ForecastEngine, _resolve_params

    max_depth, warmup, max_steps, span_ns = _resolve_params(
        mode, max_depth, warmup, horizon, within
    )
    df = stream.df
    keys = stream.keys
    if not keys:
        raise ValueError("forecast requires partition_by (per-key model)")
    ts_col = stream.ts_col
    order_col = stream.order_col
    sort_cols = [ts_col] + ([order_col] if order_col else [])
    id_field = order_col or ts_col
    id_type = dict(df.dtypes)[id_field]
    all_cols = [c for c, _t in df.dtypes]
    if first_cols is None:
        in_cols = all_cols
    else:
        missing = [c for c in first_cols if c not in all_cols]
        if missing:
            raise ValueError(f"first_cols not in input: {missing}")
        in_cols = list(first_cols)
    carry_ts = order_col is not None and ts_col != id_field
    ts_part = f"{ts_col} timestamp, " if carry_ts else ""
    key_fields = ", ".join(f"{k} {t}" for k, t in df.dtypes if k in keys)
    dtmap = dict(df.dtypes)
    first_fields = ", ".join(f"__first_{c} {dtmap[c]}" for c in in_cols)
    out_schema = (
        f"{key_fields}, {id_field} {id_type}, {ts_part}next_step int, "
        "active_runs int, completion_prob double, prob_lo double, "
        "prob_hi double, forecast_confidence double, expected_time_us long"
        + (", " + first_fields if first_fields else "")
    )
    out_cols = (
        list(keys)
        + [id_field]
        + ([ts_col] if carry_ts else [])
        + ["next_step", "active_runs", "completion_prob", "prob_lo", "prob_hi",
           "forecast_confidence", "expected_time_us"]
        + [f"__first_{c}" for c in in_cols]
    )

    def run(key, pdfs, state):
        eng = (
            pickle.loads(state.get[0])
            if state.exists
            else ForecastEngine(
                pattern_types, max_depth, warmup, confidence,
                hawkes, conformal, coverage, max_steps, span_ns,
            )
        )
        rows = []
        # concat ALL Arrow chunks first, then sort once — per-chunk sorting
        # would feed the online PST/NFA out of event-time order whenever a
        # key's micro-batch spans multiple chunks
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(sort_cols, kind="mergesort")
            ts_ns = pdf[ts_col].astype("int64").to_numpy()
            ts_vals = pdf[ts_col].to_numpy()
            ets = pdf["event_type"].to_numpy()
            ids = pdf[id_field].to_numpy()
            row_vals = list(pdf[in_cols].itertuples(index=False, name=None))
            for i in range(len(ets)):
                fired = eng.process(ets[i], int(ts_ns[i]), row_vals[i])
                if fired is None:
                    continue
                step, nruns, prob, lo, hi, fconf, exp_us, first_row = fired
                rows.append(
                    list(key)
                    + [ids[i]]
                    + ([ts_vals[i]] if carry_ts else [])
                    + [step, nruns, prob, lo, hi, fconf, exp_us]
                    + list(first_row)
                )
        state.update((pickle.dumps(eng),))
        yield pd.DataFrame(rows, columns=out_cols)

    out = df.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
        run, out_schema, "eng binary", "append", GroupStateTimeout.NoTimeout
    )
    return Stream(out, ts_col=ts_col, keys=keys)


def trend_aggregate_streaming(
    stream: Stream,
    event_type: str | None = None,
    adjacent=None,
    value_field: str | None = None,
    within=None,
    adjacent_vec=None,
    timeout_on_window_end: bool = False,
    engine: str = "auto",
) -> Stream:
    """Streaming `.trend_aggregate` — GRETA in the push loop (the
    reference runs trend aggregation per arriving event,
    engine/pattern_analyzer.rs:1-80; GRETA VLDB'17).

    Emits the RUNNING per-key aggregate once per micro-batch (an update
    stream): `n_events` (monotonic — the latest row per key is the one
    with the max), `trend_count`, `event_count`, and `value_sum` when
    `value_field` is given. Draining the stream and taking each key's
    max-`n_events` row equals the batch `trend_aggregate` result.

    Incremental DP: a new event's trends only EXTEND earlier events, so
    append-only arrival lets each event be processed exactly once. Per-key
    state carries (a) the within-horizon tail of events with their
    propagated cnt/len/val DP rows and (b) the running totals; with
    `within` the tail is bounded by the horizon, without it (and with a
    predicate) state grows with key history — a warning says so. The
    predicate-free unbounded case needs only (n, Σvalue) — O(1) state via
    the closed form.

    Events arriving out of event-time order ACROSS micro-batches (ts
    before the key's max seen ts) cannot be retro-inserted into a
    propagated DP and are dropped; replay order within a micro-batch is
    handled by the global chunk sort.

    `timeout_on_window_end` (the pane-composed windowed form, where
    `window_end` is one of the grouping keys): arm an event-time timeout
    at each pane's `window_end` so (key, pane) state is REMOVED once the
    watermark passes the pane — total state is bounded by the number of
    OPEN panes, not pane history. Requires a watermarked input.

    `engine`: "pandas" = applyInPandasWithState (default); "tws" =
    transformWithStateInPandas (DP tail in an APPEND-ONLY native
    ListState, pane teardown on a native event-time timer); "auto" = tws
    only when VARPULIS_TWS_TREND=1 and the runtime is available.

    The default was briefly flipped to tws mid-r12 on a large-buffer A/B
    (tws p50 1531 vs pandas 2868 ms) — then REVERTED the same round: on
    an idle host the pandas arm wins the same ~5k-rows/key scenario
    consistently (p50 971-1082 vs 1361-1556 ms, eps 3786-3861 vs
    3087-3465 across 3 runs; the flip-justifying leg was a loaded-host
    artifact) and the small per-(key, pane) regime is a tie. The
    structural reason: ListState GETS still round-trip the whole tail
    through Arrow every batch — append-only only saves the write half,
    while the pickle arm's read+write are both O(tail) but with a lower
    constant. bench tws_ab's trend_bigbuf scenario keeps both arms
    measured every round."""
    import os as _os

    if engine == "auto":
        engine = (
            "tws" if _os.environ.get("VARPULIS_TWS_TREND") == "1"
            else "pandas"
        )
    # unbounded-state heads-up BEFORE engine dispatch so both arms emit it
    # (ADVICE r12: the tws arm silently grew its ListState tail with full
    # key history when a predicate had no `within`)
    if within is None and (adjacent is not None or adjacent_vec is not None):
        import warnings

        warnings.warn(
            "streaming trend_aggregate with a predicate but no `within`: "
            "per-key state grows with the full key history — set `within` "
            "to bound the adjacency horizon."
        )
    if engine == "tws":
        return _trend_aggregate_streaming_tws(
            stream, event_type, adjacent, value_field, within,
            adjacent_vec, timeout_on_window_end,
        )
    import pickle

    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    from varpulis_spark.functions import duration_ns
    from varpulis_spark.operators.greta import _greta_dp_extend

    df = stream.df
    keys = stream.keys
    if not keys:
        raise ValueError("streaming trend_aggregate requires partition_by")
    we_idx = keys.index("window_end") if timeout_on_window_end else None
    if event_type is not None:
        df = df.filter(F.col("event_type") == event_type)
    within_ns = duration_ns(within) if within is not None else None
    ts_col = stream.ts_col
    sort_cols = [ts_col] + ([stream.order_col] if stream.order_col else [])
    closed_form = adjacent is None and adjacent_vec is None and within_ns is None
    has_value = value_field is not None

    key_fields = ", ".join(f"{k} {t}" for k, t in df.dtypes if k in keys)
    out_schema = f"{key_fields}, n_events long, trend_count double, event_count double"
    if has_value:
        out_schema += ", value_sum double"
    out_cols = list(keys) + ["n_events", "trend_count", "event_count"] + (
        ["value_sum"] if has_value else []
    )

    def run(key, pdfs, state):
        if timeout_on_window_end and state.hasTimedOut:
            state.remove()  # watermark passed this pane's window_end
            return

        def _arm():
            # re-arm every batch: setTimeoutTimestamp must exceed the
            # current watermark, so clamp for panes already behind it
            if timeout_on_window_end:
                end_ms = int(pd.Timestamp(key[we_idx]).value // 1_000_000)
                state.setTimeoutTimestamp(
                    max(end_ms, state.getCurrentWatermarkMs() + 1)
                )

        st = pickle.loads(state.get[0]) if state.exists else None
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            if st is not None:
                state.update((pickle.dumps(st),))
                _arm()
            return
        pdf = pd.concat(chunks).sort_values(sort_cols, kind="mergesort")
        if closed_form:
            n0, sv0 = st if st is not None else (0, 0.0)
            n = n0 + len(pdf)
            sv = sv0 + (float(pdf[value_field].sum()) if has_value else 0.0)
            state.update((pickle.dumps((n, sv)),))
            _arm()
            p = float(2.0 ** (n - 1))
            row = list(key) + [n, 2.0 * p - 1.0, n * p]
            if has_value:
                row.append(sv * p)
            yield pd.DataFrame([row], columns=out_cols)
            return

        if st is None:
            st = {
                "tail": None, "cnt": np.zeros(0), "len": np.zeros(0),
                "val": np.zeros((0, 1)) if has_value else None,
                "tc": 0.0, "ec": 0.0, "vs": 0.0, "n": 0, "max_ts": None,
            }
        ts_new = pdf[ts_col].astype("int64")
        if st["max_ts"] is not None:
            live = ts_new >= st["max_ts"]  # drop cross-batch late arrivals
            pdf, ts_new = pdf[live], ts_new[live]
        if not len(pdf):
            state.update((pickle.dumps(st),))
            _arm()
            return
        tail: pd.DataFrame | None = st["tail"]
        start = 0 if tail is None else len(tail)
        full = pdf if tail is None else pd.concat([tail, pdf])
        ts = full[ts_col].astype("int64").to_numpy()
        vals = (
            full[value_field].to_numpy(dtype=np.float64).reshape(-1, 1)
            if has_value
            else None
        )
        cols = {c: full[c].to_numpy() for c in full.columns}
        n = len(full)
        cnt = np.concatenate([st["cnt"], np.zeros(n - start)])
        len_sum = np.concatenate([st["len"], np.zeros(n - start)])
        val_sum = (
            np.concatenate([st["val"], np.zeros((n - start, 1))])
            if has_value
            else None
        )
        _greta_dp_extend(
            ts, vals, cols, adjacent, adjacent_vec, within_ns,
            cnt, len_sum, val_sum, start=start,
        )
        st["tc"] += float(cnt[start:].sum())
        st["ec"] += float(len_sum[start:].sum())
        if has_value:
            st["vs"] += float(val_sum[start:].sum())
        st["n"] += n - start
        st["max_ts"] = int(ts[-1])
        # evict beyond the adjacency horizon: future events have
        # ts >= max_ts, so only ts >= max_ts - within can still be extended
        keep = (
            ts >= st["max_ts"] - within_ns
            if within_ns is not None
            else np.ones(n, dtype=bool)
        )
        st["tail"] = full[keep]
        st["cnt"], st["len"] = cnt[keep], len_sum[keep]
        st["val"] = val_sum[keep] if has_value else None
        state.update((pickle.dumps(st),))
        _arm()
        row = list(key) + [st["n"], st["tc"], st["ec"]]
        if has_value:
            row.append(st["vs"])
        yield pd.DataFrame([row], columns=out_cols)

    timeout_mode = (
        GroupStateTimeout.EventTimeTimeout
        if timeout_on_window_end
        else GroupStateTimeout.NoTimeout
    )
    out = df.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
        run, out_schema, "st binary", "append", timeout_mode
    )
    return Stream(out, ts_col=ts_col, keys=keys)


def _trend_aggregate_streaming_tws(
    stream: Stream,
    event_type: str | None = None,
    adjacent=None,
    value_field: str | None = None,
    within=None,
    adjacent_vec=None,
    timeout_on_window_end: bool = False,
) -> Stream:
    """transformWithStateInPandas twin of trend_aggregate_streaming
    (incremental GRETA, engine/pattern_analyzer.rs:1-80) — VERDICT r11
    task 4, the third timer-driven TWS migration after distinct-TTL and
    pattern confirmation.

    Arbitrary-state v2 layout: the within-horizon DP tail (event rows +
    their propagated cnt/len/val DP values) lives in a native ListState
    column family — the applyInPandasWithState arm pickles the WHOLE tail
    through every micro-batch, which is exactly the large-buffer regime
    (1k-10k rows/key under long horizons) where row-wise state should
    win; running totals sit in a small ValueState. Pane teardown
    (`timeout_on_window_end`) is a native event-time timer registered at
    the pane's window_end: handleExpiredTimer clears the (key, pane)
    state — replacing the hand-rolled GroupStateTimeout re-arm dance
    (setTimeoutTimestamp must be re-clamped above the watermark every
    batch; registerTimer is set once)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from varpulis_spark import pbvendor
    from varpulis_spark.functions import duration_ns
    from varpulis_spark.operators.greta import _greta_dp_extend

    if not pbvendor.tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs a google.protobuf runtime; "
            "none importable and no bundled runtime found (see pbvendor)"
        )
    df = stream.df
    keys = stream.keys
    if not keys:
        raise ValueError("streaming trend_aggregate requires partition_by")
    we_idx = keys.index("window_end") if timeout_on_window_end else None
    if event_type is not None:
        df = df.filter(F.col("event_type") == event_type)
    within_ns = duration_ns(within) if within is not None else None
    ts_col = stream.ts_col
    sort_cols = [ts_col] + ([stream.order_col] if stream.order_col else [])
    closed_form = (
        adjacent is None and adjacent_vec is None and within_ns is None
    )
    has_value = value_field is not None

    key_fields = ", ".join(f"{k} {t}" for k, t in df.dtypes if k in keys)
    out_schema = (
        f"{key_fields}, n_events long, trend_count double, event_count double"
    )
    if has_value:
        out_schema += ", value_sum double"
    out_cols = list(keys) + ["n_events", "trend_count", "event_count"] + (
        ["value_sum"] if has_value else []
    )
    buf_cols = [c for c, _ in df.dtypes]
    tail_schema = ", ".join(f"{c} {t}" for c, t in df.dtypes)
    tail_schema += ", __cnt double, __len double"
    if has_value:
        tail_schema += ", __val double"
    _pd_dtypes = {
        "tinyint": "int8", "smallint": "int16", "int": "int32",
        "bigint": "int64", "float": "float32", "double": "float64",
        "boolean": "bool", "timestamp": "datetime64[us]",
        "timestamp_ntz": "datetime64[us]",
    }
    tail_cols = buf_cols + ["__cnt", "__len"] + (["__val"] if has_value else [])
    tail_dtypes = {c: _pd_dtypes[t] for c, t in df.dtypes if t in _pd_dtypes}
    n_keys = len(keys)

    class _TrendProcessor(StatefulProcessor):
        def init(self, handle):
            self.handle = handle
            if closed_form:
                self.meta = handle.getValueState("meta", "n long, vs double")
            else:
                self.meta = handle.getValueState(
                    "meta",
                    "tc double, ec double, vs double, n long, max_ts long",
                )
                self.tail = handle.getListState("tail", tail_schema)
            if timeout_on_window_end:
                self.armed = handle.getValueState("armed", "t long")

        def _arm(self, key, timer_values):
            if not timeout_on_window_end or self.armed.exists():
                return
            end_ms = int(pd.Timestamp(key[we_idx]).value // 1_000_000)
            try:
                wm_ms = timer_values.getCurrentWatermarkInMs()
            except Exception:  # noqa: BLE001
                wm_ms = 0
            t_ms = max(end_ms, wm_ms + 1)
            self.handle.registerTimer(t_ms)
            self.armed.update((t_ms,))

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # the watermark passed this pane's window_end: tear down
            self.meta.clear()
            if not closed_form:
                self.tail.clear()
            self.armed.clear()
            yield pd.DataFrame(columns=out_cols)

        def handleInputRows(self, key, rows, timer_values):
            self._arm(key, timer_values)
            chunks = [p for p in rows if len(p)]
            if closed_form:
                n0, sv0 = self.meta.get() if self.meta.exists() else (0, 0.0)
                if not chunks:
                    return
                pdf = pd.concat(chunks)
                n = n0 + len(pdf)
                sv = sv0 + (
                    float(pdf[value_field].sum()) if has_value else 0.0
                )
                self.meta.update((n, sv))
                p = float(2.0 ** (n - 1))
                row = list(key[:n_keys]) + [n, 2.0 * p - 1.0, n * p]
                if has_value:
                    row.append(sv * p)
                yield pd.DataFrame([row], columns=out_cols)
                return

            seen = self.meta.exists()
            tc, ec, vs, n_tot, max_ts = (
                self.meta.get() if seen else (0.0, 0.0, 0.0, 0, -1)
            )
            if not chunks:
                return
            pdf = pd.concat(chunks).sort_values(sort_cols, kind="mergesort")
            ts_new = pdf[ts_col].astype("int64")
            if seen and max_ts >= 0:
                live = ts_new >= max_ts  # drop cross-batch late arrivals
                pdf = pdf[live]
            if not len(pdf):
                return
            tail_rows = list(self.tail.get()) if seen else []
            if tail_rows:
                tpdf = pd.DataFrame(tail_rows, columns=tail_cols)
                for c, dt in tail_dtypes.items():
                    try:
                        tpdf[c] = tpdf[c].astype(dt)
                    except (TypeError, ValueError):
                        pass
                cnt0 = tpdf["__cnt"].to_numpy(dtype=np.float64)
                len0 = tpdf["__len"].to_numpy(dtype=np.float64)
                val0 = (
                    tpdf["__val"].to_numpy(dtype=np.float64).reshape(-1, 1)
                    if has_value else None
                )
                tail_events = tpdf[buf_cols]
            else:
                cnt0 = np.zeros(0)
                len0 = np.zeros(0)
                val0 = np.zeros((0, 1)) if has_value else None
                tail_events = None
            start = len(cnt0)
            full = (
                pdf if tail_events is None
                else pd.concat([tail_events, pdf])
            )
            ts = full[ts_col].astype("int64").to_numpy()
            vals = (
                full[value_field].to_numpy(dtype=np.float64).reshape(-1, 1)
                if has_value else None
            )
            cols = {c: full[c].to_numpy() for c in full.columns}
            n = len(full)
            cnt = np.concatenate([cnt0, np.zeros(n - start)])
            len_sum = np.concatenate([len0, np.zeros(n - start)])
            val_sum = (
                np.concatenate([val0, np.zeros((n - start, 1))])
                if has_value else None
            )
            _greta_dp_extend(
                ts, vals, cols, adjacent, adjacent_vec, within_ns,
                cnt, len_sum, val_sum, start=start,
            )
            tc += float(cnt[start:].sum())
            ec += float(len_sum[start:].sum())
            if has_value:
                vs += float(val_sum[start:].sum())
            n_tot += n - start
            max_ts = int(ts[-1])
            keep = (
                ts >= max_ts - within_ns
                if within_ns is not None
                else np.ones(n, dtype=bool)
            )
            self.meta.update((tc, ec, vs, n_tot, max_ts))
            # append-only in the common case — THE ListState advantage
            # over whole-buffer pickle: while the horizon evicts nothing
            # from the stored tail (long `within`, growing buffer), only
            # the NEW rows are appended; the stored prefix is untouched.
            # A clear+rewrite happens only when eviction actually drops
            # stored rows.
            old_intact = bool(keep[:start].all()) if start else True
            if old_intact:
                new_keep = keep[start:]
                kept = full.iloc[start:][new_keep].copy()
                kept["__cnt"] = cnt[start:][new_keep]
                kept["__len"] = len_sum[start:][new_keep]
                if has_value:
                    kept["__val"] = val_sum[start:][new_keep].reshape(-1)
            else:
                kept = full[keep].copy()
                kept["__cnt"] = cnt[keep]
                kept["__len"] = len_sum[keep]
                if has_value:
                    kept["__val"] = val_sum[keep].reshape(-1)
                self.tail.clear()
            if len(kept):
                self.tail.appendList(
                    list(kept[tail_cols].itertuples(index=False, name=None))
                )
            row = list(key[:n_keys]) + [n_tot, tc, ec]
            if has_value:
                row.append(vs)
            yield pd.DataFrame([row], columns=out_cols)

        def close(self):
            pass

    out = df.groupBy(*[F.col(k) for k in keys]).transformWithStateInPandas(
        statefulProcessor=_TrendProcessor(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="EventTime" if timeout_on_window_end else "None",
    )
    out._varpulis_session_confs = dict(_TWS_CONFS)
    s = Stream(out, ts_col=ts_col, keys=keys)
    s.session_confs.update(_TWS_CONFS)
    return s


def trend_aggregate_windowed_streaming(
    stream: Stream,
    size,
    slide=None,
    align: str = "epoch",
    event_type: str | None = None,
    adjacent=None,
    value_field: str | None = None,
    within=None,
    adjacent_vec=None,
    engine: str = "auto",
) -> Stream:
    """Streaming windowed `.trend_aggregate` — pane composition (GRETA
    VLDB'17 §5; the reference runs trend aggregation continuously under
    its window chain, runtime/src/greta.rs + engine window→analyzer).

    Each event is assigned to its containing pane(s) (row-level window
    explode — a pure projection, streaming-safe), then the pane columns
    join the grouping key and the incremental per-(key, pane) GRETA DP
    runs in `trend_aggregate_streaming`. Every trend is confined to one
    pane, so the pane span IS the whole-span bound — identical semantics
    to the batch `WindowedStream.trend_aggregate`.

    Emits the RUNNING aggregate per (keys, window_start, window_end) once
    per micro-batch with a monotonic `n_events`; the max-`n_events` row
    per pane equals the batch result. On a watermarked input, pane state
    is torn down by an event-time timeout once the watermark passes
    `window_end` — state is bounded by the number of OPEN panes."""
    if align != "epoch":
        raise ValueError(
            "streaming windowed trend_aggregate supports epoch alignment "
            "only (first_event needs a retrospective global min)"
        )
    from varpulis_spark.operators import windows as win_mod

    df = win_mod.explode_time_windows(
        stream.df, stream.ts_col, size, slide, "epoch", stream.keys
    )
    sub = Stream(
        df,
        ts_col=stream.ts_col,
        order_col=stream.order_col,
        keys=list(stream.keys) + ["window_start", "window_end"],
    )
    sub._watermarked = stream._watermarked
    return trend_aggregate_streaming(
        sub, event_type, adjacent, value_field, within,
        adjacent_vec=adjacent_vec,
        timeout_on_window_end=stream._watermarked,
        engine=engine,
    )


def distinct_streaming(
    stream: Stream, *cols: str, ttl: str | None = None,
    watermark_delay: str = "0 seconds", engine: str = "auto",
) -> Stream:
    """Streaming `.distinct(cols...)` with BOUNDED state (DistinctState +
    DISTINCT_LRU_CAPACITY, engine/types.rs:286-295): emit the first event
    per distinct key; a key's memory expires after `ttl` of EVENT-time
    inactivity (watermark-driven), after which the key may be emitted
    again.

    Batch `.distinct` is exact (dropDuplicates); an unbounded streaming
    dropDuplicates accretes state forever at 100 TB. The reference bounds
    its seen-set with an LRU cap; the Spark-native bound is an event-time
    state timeout per key — same effect (old keys are forgotten), expressed
    in time rather than cardinality so eviction is deterministic under
    replay (processing-time timers would also schedule no-data
    micro-batches forever under the default trigger, hanging
    processAllAvailable). With `ttl` a watermark on the stream's ts column
    is required; one is applied with `watermark_delay` if absent.

    `engine` selects the stateful backend like count_window_streaming:
    "pandas" (default) = applyInPandasWithState with EventTimeTimeout;
    "tws" = transformWithStateInPandas with NATIVE event-time timers
    (`registerTimer`/`handleExpiredTimer` replace the hand-rolled
    timeout arm; requires RocksDB + a protobuf runtime, see pbvendor);
    "auto" = tws only when VARPULIS_TWS_DISTINCT=1 and available."""
    import os as _os

    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    if engine == "auto":
        engine = (
            "tws" if _os.environ.get("VARPULIS_TWS_DISTINCT") == "1" else "pandas"
        )
    if engine == "tws":
        return _distinct_streaming_tws(
            stream, *cols, ttl=ttl, watermark_delay=watermark_delay
        )

    from varpulis_spark.functions import duration_ns

    df = stream.df
    dcols = list(cols)
    out_schema = ", ".join(f"{k} {t}" for k, t in df.dtypes)
    ttl_ms = int(duration_ns(ttl) // 1_000_000) if ttl else None
    if ttl_ms is not None and not df.isStreaming:
        raise ValueError("ttl applies to streaming inputs only")
    if ttl_ms is not None:
        df = df.withWatermark(stream.ts_col, watermark_delay)
    ts_col = stream.ts_col
    sort_cols = [ts_col] + ([stream.order_col] if stream.order_col else [])

    def run(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        # concat ALL chunks, sort once — the event-time-first row may sit in
        # any chunk, not necessarily the first
        chunks = [pdf for pdf in pdfs if len(pdf)]
        first = None
        last_ts_ms = None
        if chunks:
            all_rows = pd.concat(chunks).sort_values(sort_cols, kind="mergesort")
            first = all_rows.iloc[:1]
            last_ts_ms = int(all_rows[ts_col].astype("int64").max() // 1_000_000)
        def arm_ttl():
            # timeout must sit strictly above the current watermark
            state.setTimeoutTimestamp(
                max(last_ts_ms + ttl_ms, state.getCurrentWatermarkMs() + 1)
            )

        seen = state.exists
        if first is not None and not seen:
            state.update((1,))
            if ttl_ms is not None:
                arm_ttl()
            yield first
        elif seen and ttl_ms is not None and last_ts_ms is not None:
            arm_ttl()  # refresh event-time TTL

    timeout = (
        GroupStateTimeout.EventTimeTimeout if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    out = df.groupBy(*[F.col(c) for c in dcols]).applyInPandasWithState(
        run, out_schema, "seen int", "append", timeout
    )
    return Stream(out, ts_col=stream.ts_col, keys=stream.keys)


def _distinct_streaming_tws(
    stream: Stream, *cols: str, ttl: str | None = None,
    watermark_delay: str = "0 seconds",
) -> Stream:
    """transformWithStateInPandas twin of distinct_streaming, using the
    arbitrary-state-v2 NATIVE TIMER API for the event-time TTL: the
    hand-rolled `GroupStateTimeout.EventTimeTimeout` + `hasTimedOut` arm
    becomes `handle.registerTimer(last_ts + ttl)` on refresh (old timer
    deleted) and `handleExpiredTimer` clearing the key's memory when the
    watermark passes expiry — the engine tracks and fires timers in its
    own column family, no sentinel rows or timeout flags in user state.
    Same semantics: emit the event-time-first row per distinct key; after
    `ttl` of event-time inactivity the key may re-emit.

    Requires the RocksDB state-store provider and a protobuf runtime
    (pbvendor); the applyInPandasWithState twin remains the default."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from varpulis_spark import pbvendor
    from varpulis_spark.functions import duration_ns

    if not pbvendor.tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs a google.protobuf runtime; "
            "none importable and no bundled runtime found (see pbvendor)"
        )

    df = stream.df
    dcols = list(cols)
    out_schema = ", ".join(f"{k} {t}" for k, t in df.dtypes)
    ttl_ms = int(duration_ns(ttl) // 1_000_000) if ttl else None
    if ttl_ms is not None and not df.isStreaming:
        raise ValueError("ttl applies to streaming inputs only")
    if ttl_ms is not None:
        df = df.withWatermark(stream.ts_col, watermark_delay)
    ts_col = stream.ts_col
    sort_cols = [ts_col] + ([stream.order_col] if stream.order_col else [])
    out_cols = [k for k, _ in df.dtypes]

    class _DistinctProcessor(StatefulProcessor):
        def init(self, handle):
            self.handle = handle
            # value = the armed timer's expiry (-1 when no TTL): needed to
            # delete the previous timer when refreshing on new activity
            self.seen = handle.getValueState("seen", "timer_ms long")

        def handleInputRows(self, key, rows, timer_values):
            chunks = [pdf for pdf in rows if len(pdf)]
            if not chunks:
                return
            all_rows = pd.concat(chunks).sort_values(sort_cols, kind="mergesort")
            first = all_rows.iloc[:1]
            last_ts_ms = int(all_rows[ts_col].astype("int64").max() // 1_000_000)

            def arm(prev_timer_ms: int) -> int:
                if ttl_ms is None:
                    return -1
                # expiry must sit strictly above the current watermark or
                # the timer would fire in the very next batch
                expiry = max(
                    last_ts_ms + ttl_ms,
                    timer_values.getCurrentWatermarkInMs() + 1,
                )
                if prev_timer_ms >= 0 and prev_timer_ms != expiry:
                    self.handle.deleteTimer(prev_timer_ms)
                if prev_timer_ms != expiry:
                    self.handle.registerTimer(expiry)
                return expiry

            if self.seen.exists():
                prev = self.seen.get()[0]
                new_timer = arm(prev)
                if new_timer != prev:
                    self.seen.update((new_timer,))
            else:
                self.seen.update((arm(-1),))
                yield first[out_cols]

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # (camelCase params: the runner invokes this with keyword
            # arguments matching the StatefulProcessor base signature.)
            # Watermark passed last activity + ttl: forget the key (it may
            # re-emit); the fired timer is removed by the engine.
            self.seen.clear()
            return iter([])

        def close(self):
            pass

    out = df.groupBy(*[F.col(c) for c in dcols]).transformWithStateInPandas(
        statefulProcessor=_DistinctProcessor(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="EventTime" if ttl_ms is not None else "None",
    )
    out._varpulis_session_confs = dict(_TWS_CONFS)
    s = Stream(out, ts_col=stream.ts_col, keys=stream.keys)
    s.session_confs.update(_TWS_CONFS)
    return s


def limit_streaming(
    stream: Stream, n: int, per_key: bool = True, engine: str = "auto"
) -> Stream:
    """Streaming `.limit(n)`: pass the first n events.

    The reference keeps ONE global LimitState counter (types.rs:296-299)
    regardless of `partition by` — `Stream.limit`'s streaming dispatch
    therefore passes ``per_key=False`` so batch and streaming modes of the
    same program agree (ADVICE r6).  ``per_key=True`` (default when called
    directly) is the keyed extension: first n per partition key.

    `engine`: "pandas" = applyInPandasWithState (default); "tws" =
    transformWithStateInPandas (the counter in a ValueState); "auto" =
    tws only when VARPULIS_TWS_LIMIT=1 and the runtime is available."""
    import os as _os
    import pickle

    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    if engine == "auto":
        engine = (
            "tws" if _os.environ.get("VARPULIS_TWS_LIMIT") == "1"
            else "pandas"
        )
    if engine == "tws":
        return _limit_streaming_tws(stream, n, per_key)

    df = stream.df
    keys = (stream.keys or []) if per_key else []
    gdf = df if keys else df.withColumn("__g", F.lit(0))
    gkeys = keys or ["__g"]
    sort_cols = [stream.ts_col] + ([stream.order_col] if stream.order_col else [])
    out_cols = [k for k, _t in gdf.dtypes if k != "__g"]
    out_schema = ", ".join(f"{k} {t}" for k, t in gdf.dtypes if k != "__g")
    state_schema = "seen long"

    def run(key, pdfs, state):
        seen = state.get[0] if state.exists else 0
        # concat ALL chunks, sort once — taking the head of each chunk
        # independently would pass rows that are not the n earliest
        chunks = [pdf for pdf in pdfs if len(pdf)]
        out = None
        if chunks:
            all_rows = pd.concat(chunks).sort_values(sort_cols, kind="mergesort")
            if "__g" in all_rows.columns:
                all_rows = all_rows.drop(columns="__g")
            take = max(0, n - seen)
            if take:
                out = all_rows.iloc[:take]
            seen += min(max(0, n - seen), len(all_rows))
        state.update((seen,))
        yield out if out is not None else pd.DataFrame(columns=out_cols)

    out = gdf.groupBy(*[F.col(k) for k in gkeys]).applyInPandasWithState(
        run, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return Stream(out, ts_col=stream.ts_col, keys=stream.keys)


def _limit_streaming_tws(
    stream: Stream, n: int, per_key: bool = True
) -> Stream:
    """transformWithStateInPandas twin of limit_streaming: the per-key
    seen-counter (LimitState, types.rs:296-299) in a native ValueState —
    no pickle, no timers (count-triggered like the count window)."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from varpulis_spark import pbvendor

    if not pbvendor.tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs a google.protobuf runtime; "
            "none importable and no bundled runtime found (see pbvendor)"
        )
    df = stream.df
    keys = (stream.keys or []) if per_key else []
    gdf = df if keys else df.withColumn("__g", F.lit(0))
    gkeys = keys or ["__g"]
    sort_cols = [stream.ts_col] + (
        [stream.order_col] if stream.order_col else []
    )
    out_cols = [k for k, _t in gdf.dtypes if k != "__g"]
    out_schema = ", ".join(f"{k} {t}" for k, t in gdf.dtypes if k != "__g")

    class _LimitProcessor(StatefulProcessor):
        def init(self, handle):
            self.seen = handle.getValueState("seen", "seen long")

        def handleInputRows(self, key, rows, timer_values):
            seen = self.seen.get()[0] if self.seen.exists() else 0
            chunks = [pdf for pdf in rows if len(pdf)]
            if not chunks:
                return
            all_rows = pd.concat(chunks).sort_values(
                sort_cols, kind="mergesort"
            )
            if "__g" in all_rows.columns:
                all_rows = all_rows.drop(columns="__g")
            take = max(0, n - seen)
            self.seen.update((seen + min(take, len(all_rows)),))
            if take:
                yield all_rows.iloc[:take]
            else:
                yield pd.DataFrame(columns=out_cols)

        def close(self):
            pass

    out = gdf.groupBy(*[F.col(k) for k in gkeys]).transformWithStateInPandas(
        statefulProcessor=_LimitProcessor(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="None",
    )
    out._varpulis_session_confs = dict(_TWS_CONFS)
    s = Stream(out, ts_col=stream.ts_col, keys=stream.keys)
    s.session_confs.update(_TWS_CONFS)
    return s


# ---------------------------------------------------------------------------
# streaming SASE (applyInPandasWithState)
# ---------------------------------------------------------------------------


def _run_cap_start_steps(pattern) -> list:
    """Steps whose events can OPEN a run (try_start_run_shared analog,
    sase.rs:2410): the leading positive steps up to and including the first
    non-optional one — an optional-Kleene ('*'/'?') head lets the next step
    anchor too. For AND (any-order) patterns every positive step anchors."""
    pos = [s for s in pattern.steps if not s.negated]
    if pattern.any_order:
        return pos
    starts = []
    for s in pos:
        starts.append(s)
        if s.kleene not in ("*", "?"):
            break
    return starts


def _nrows(cols: dict) -> int:
    return len(cols["__ts"]) if cols else 0


def _take(cols: dict, idx) -> dict:
    """Rows of a columnar buffer by mask or index array."""
    return {c: a[idx] for c, a in cols.items()}


def _ts_order(cols: dict, order_col: str | None):
    """Row permutation sorting a columnar buffer by (ts, order_col) — the
    batch NFA's arrival order (sase.apply_pattern_batch sort_cols)."""
    if order_col and order_col in cols:
        return np.lexsort((cols[order_col], cols["__ts"]))
    return np.argsort(cols["__ts"], kind="stable")


def _concat(a: dict, b: dict) -> dict:
    if not a:
        return b
    if not b:
        return a
    return {c: np.concatenate([a[c], b[c]]) for c in a}


def _anchor_mask(cols: dict, start_steps: list) -> "np.ndarray":
    """Which buffered events can open a run (see _run_cap_start_steps)."""
    from varpulis_spark.operators.sase import _EventView

    n = _nrows(cols)
    et = cols.get("event_type")
    mask = np.zeros(n, dtype=bool)
    for s in start_steps:
        if s.event_type is None:
            m = np.ones(n, dtype=bool)
        elif et is None:
            continue  # typed step, untyped events
        else:
            m = np.asarray(et == s.event_type, dtype=bool)
        if s.where is not None and not s.deferred:
            for i in np.flatnonzero(m & ~mask):
                try:
                    if not s.where(_EventView(cols, i), {}):
                        m[i] = False
                except Exception:
                    pass  # binding-dependent predicate → cannot pre-filter here
        mask |= m
    return mask


def _merge_with_run_cap(old: dict, new: dict, pattern, order_col: str | None = None,
                        started_total: int = 0, dropped_total: int = 0,
                        evicted_total: int = 0) -> tuple[dict, int, int, int]:
    """Merge new events into the buffered state under the per-key run cap
    (BP-01, sase.rs:2505-2560 handle_backpressure_partitioned). Both
    buffers are columnar (column arrays plus int64 `__ts`, `old` already
    sorted); new events arrive in (ts, order_col) order, the batch NFA's
    arrival order. Events that cannot open a run always buffer (they only
    ever EXTEND runs; the reference caps runs, not events — their
    retention is bounded below by pruning past the oldest surviving
    anchor). Returns (buffer sorted by (ts, order_col), started, dropped,
    evicted)."""
    max_runs = pattern.max_runs
    strategy = pattern.backpressure
    sample_rate = None
    if strategy.startswith("sample:"):
        sample_rate = float(strategy.split(":", 1)[1])
        strategy = "sample"

    n_old = _nrows(old)
    if new:
        new = _take(new, _ts_order(new, order_col))
    cols = _concat(old, new)
    n = _nrows(cols)
    if not n:
        return cols, 0, 0, 0
    ts = cols["__ts"]
    anchor = _anchor_mask(cols, _run_cap_start_steps(pattern))
    keep = np.ones(n, dtype=bool)
    new_anchors = np.flatnonzero(anchor[n_old:]) + n_old
    live = int(anchor[:n_old].sum())
    started = dropped = evicted = 0

    def oldest(cands):
        return cands[np.argmin(ts[cands])]

    def least_progress(cands, i):
        # EvictLeastProgress analog: count next steps with at least one
        # buffered candidate strictly after the anchor (fewest stack
        # entries, sase.rs:802); ties go to the oldest anchor
        et = cols.get("event_type")
        later = {s.event_type for s in pattern.steps[1:]
                 if not s.negated and s.event_type is not None}
        progress = np.zeros(len(cands), dtype=np.int64)
        for t in later:
            tts = ts[:i][keep[:i] & (et[:i] == t)] if et is not None else ts[:0]
            if len(tts):
                progress += ts[cands] < tts.max()
        return cands[np.lexsort((ts[cands], progress))[0]]

    for i in new_anchors:
        if live < max_runs:
            live += 1
            started += 1
            continue
        if strategy in ("drop", "error") or live <= 0:
            # live <= 0 ⇔ max_runs <= 0: nothing to evict, every run drops
            keep[i] = False
            dropped += 1
            continue
        if strategy == "sample":
            # "accept new runs with probability `rate`" (sase.rs:804-808).
            # The reference approximates this with a `created*rate >
            # dropped` counter switch (sase.rs:2476-2479) that degenerates
            # to all-or-nothing once tripped; we pace deterministically so
            # the long-run accept fraction of over-cap arrivals IS `rate`
            # (documented divergence — intent over artifact). Over-cap
            # accepts == evictions for this strategy, so the evicted counter
            # is the accept count.
            e_tot = evicted_total + evicted
            d_tot = dropped_total + dropped
            if not e_tot < sample_rate * (e_tot + d_tot + 1):
                keep[i] = False
                dropped += 1
                continue
        # evict_oldest | evict_least_progress | sampled in: make room
        cands = np.flatnonzero(anchor[:i] & keep[:i])
        keep[least_progress(cands, i) if strategy == "evict_least_progress"
             else oldest(cands)] = False
        evicted += 1
        started += 1
    # Every match STARTS at an anchor and binds only (ts,order)-later events,
    # so events older than the oldest surviving anchor are dead state — prune
    # them (this is what keeps a hot key bounded under a never-completing
    # pattern even with no `within` horizon). A leading negation would peek
    # before the first positive, so skip pruning in that case.
    alive = anchor & keep
    if alive.any() and not (pattern.steps and pattern.steps[0].negated):
        keep &= ts >= ts[alive].min()
    if not keep.all():
        cols = _take(cols, keep)
    if n_old and new:
        cols = _take(cols, _ts_order(cols, order_col))
    return cols, started, dropped, evicted


def _load_buffer(buf_pkl: bytes, order_col: str | None) -> dict:
    """Unpickle a pattern key's event buffer. Checkpoints written before
    the columnar buffer hold a list of per-event dicts sorted by `__ts`
    alone; they convert on first load and sort by (ts, order_col)."""
    import pickle

    from varpulis_spark.operators.sase import _event_columns

    buf = pickle.loads(buf_pkl)
    if isinstance(buf, list):
        buf = _event_columns(buf)
        if buf:
            buf = _take(buf, _ts_order(buf, order_col))
    return buf


def apply_pattern_streaming(
    stream: Stream, pattern, state_timeout: str | None = None,
    engine: str = "auto",
):
    """Run a SASE+ pattern over a streaming Stream.

    State per partition key = the ts-sorted buffer of relevant events still
    inside the `within` horizon (the reference's run/partial-match state,
    sase.rs:1728 Run::with_partition). Each micro-batch appends the new
    events, re-enumerates, and emits only matches whose LAST event is new —
    incremental delivery without duplicate emission.

    TRAILING negations are CONFIRMED in event time (NegationConstraint,
    sase.rs:675-716): a match whose confirmation deadline (first event ts +
    `within`) has not been passed by the watermark is HELD, not emitted —
    a veto event arriving in a later micro-batch (event-time before the
    deadline) must still be able to kill it. The key's state arms an
    event-time timeout at the earliest pending deadline so held matches
    flush even if the key never receives another event (r11 — emission was
    previously immediate, diverging from batch when the veto crossed a
    micro-batch boundary). Requires `within` and an upstream
    `.watermark(...)`; the idle-GC `state_timeout` (processing-time) is
    unavailable for such patterns (Spark allows one timeout mode).

    `engine`: "pandas" = applyInPandasWithState (default; hand-rolled
    setTimeoutTimestamp arm); "tws" = transformWithStateInPandas with
    NATIVE event-time timers — one registerTimer per pending deadline,
    ListState row buffer instead of a whole-buffer pickle (requires
    RocksDB + a protobuf runtime, see pbvendor); "auto" = tws only when
    VARPULIS_TWS_PATTERN=1 and the runtime is available.
    """
    import pandas as pd
    import pickle

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from varpulis_spark.functions import duration_ns
    from varpulis_spark.operators.sase import _out_schema, _run_nfa

    # Idle-key GC is opt-in: with a processing-time timeout the engine keeps
    # scheduling no-data batches, so processAllAvailable()-style draining
    # never settles. Event buffers are bounded by within-horizon eviction
    # regardless; pass state_timeout only for long-running queries with
    # high key churn.
    timeout_ms = max(1, duration_ns(state_timeout) // 1_000_000) if state_timeout else None

    if engine == "auto":
        engine = (
            "tws" if os.environ.get("VARPULIS_TWS_PATTERN") == "1" else "pandas"
        )

    df = stream.df
    ts_col = stream.ts_col
    order_col = stream.order_col
    keys = pattern.partition_by or stream.keys
    if not keys:
        raise ValueError("streaming patterns require partition_by (keyed state)")

    types = pattern.relevant_types()
    if types is not None and pattern.strategy != "strict_contiguous":
        # mirror the batch guard (sase.py): prefiltering under strict
        # contiguity would hide intervening events that break contiguity
        df = df.filter(F.col("event_type").isin(types))
        from varpulis_spark.operators.sase import pattern_prefilter

        pre = pattern_prefilter(pattern)
        if pre is not None:
            # single-event step predicates run JVM-side before rows enter
            # the keyed NFA state (compiler.rs:146-156 analog); this also
            # keeps non-candidate events out of the run buffers entirely
            df = df.filter(pre)

    out_schema = _out_schema(pattern, df)
    state_schema = "buf binary, emitted binary, started long, dropped long, evicted long"
    emit_cols = list(pattern.emit.keys())
    within = pattern.within_ns()
    in_cols = df.columns

    # Dedupe on MATCH IDENTITY (the participating events' (ts, order)
    # tuples), not on the projected output — two distinct matches that
    # project to identical emit values must both be delivered, matching
    # batch. Internal identity columns ride along in the emit projection and
    # are stripped before output.
    from dataclasses import replace as _dc_replace

    sig_emit: dict[str, tuple[str, str]] = {}
    for s in pattern.steps:
        if s.negated:
            continue
        sig_emit[f"__sig_ts__{s.alias}"] = (s.alias, "__ts")
        if order_col:
            sig_emit[f"__sig_o__{s.alias}"] = (s.alias, order_col)
    id_pattern = _dc_replace(pattern, emit={**pattern.emit, **sig_emit})
    sig_cols = list(sig_emit.keys())

    # trailing negations (NegationConstraint states, sase.rs:675-716) are
    # confirmed in EVENT TIME: the match is held until the watermark passes
    # first_ts + within, so a veto arriving in a later micro-batch (but
    # event-time inside the window) still kills it.
    _pos_idx = [i for i, s in enumerate(pattern.steps) if not s.negated]
    _last_pos = _pos_idx[-1] if _pos_idx else -1
    has_trailing = any(
        s.negated and i > _last_pos for i, s in enumerate(pattern.steps)
    )
    if has_trailing:
        if within is None:
            raise ValueError(
                "streaming patterns with trailing negation need `within` "
                "(the event-time confirmation deadline, sase.rs:675-716)"
            )
        if not stream._watermarked:
            raise ValueError(
                "streaming patterns with trailing negation need an upstream "
                ".watermark(...) — confirmation is watermark-driven"
            )
        if timeout_ms is not None:
            raise ValueError(
                "state_timeout (processing-time idle GC) is unavailable for "
                "patterns with trailing negation: the state timeout slot "
                "holds the event-time confirmation deadline"
            )

    # BP-01 counters (EngineStats total_runs_{created,dropped,evicted},
    # sase.rs:876-878) — accumulators so the driver can read them live
    sc = df.sparkSession.sparkContext
    acc_started = sc.accumulator(0)
    acc_dropped = sc.accumulator(0)
    acc_evicted = sc.accumulator(0)

    def _advance(buf, emitted, new, wm_ns, counters):
        """Shared per-invocation core for BOTH stateful engines: merge new
        events under the run cap, re-enumerate, gate trailing-negation
        confirmation on the watermark, evict beyond the horizon. `buf` and
        `new` are columnar (column arrays plus int64 `__ts`, see
        _merge_with_run_cap).

        Returns (buf, emitted, fresh_rows, pending_min_ns, counters).
        pending_min_ns = earliest unconfirmed deadline (the caller arms a
        timer/timeout at it), None when nothing is pending."""
        c_started, c_dropped, c_evicted = counters
        buf, d_started, d_dropped, d_evicted = _merge_with_run_cap(
            buf, new, pattern, order_col, c_started, c_dropped, c_evicted,
        )
        if d_started:
            acc_started.add(d_started)
        if d_dropped:
            acc_dropped.add(d_dropped)
        if d_evicted:
            acc_evicted.add(d_evicted)
        n = _nrows(buf)
        ts = buf["__ts"] if n else None
        max_ts = int(ts[-1]) if n else 0
        rows = _run_nfa(buf, ts, n, id_pattern) if n else []
        fresh = []
        pending_min = None
        for r in rows:
            sig_vals, first_ts = [], None
            for c in sig_cols:
                v = r.pop(c)
                if isinstance(v, list):
                    sig_vals.append(tuple(v))
                else:
                    sig_vals.append(v)
                if c.startswith("__sig_ts__"):
                    t = min(v) if isinstance(v, (list, tuple)) and v else v
                    try:
                        # _run_nfa hands back numpy int64 — a bare
                        # isinstance(int) silently drops first_ts, which the
                        # confirmation deadline (first_ts + within) must not
                        t = int(t)
                    except (TypeError, ValueError):
                        t = None
                    if t is not None and (first_ts is None or t < first_ts):
                        first_ts = t
            sig = tuple(sig_vals)
            if sig in emitted:
                continue
            eff_first = first_ts if first_ts is not None else max_ts
            if has_trailing:
                hi = eff_first + within
                if wm_ns < hi:
                    # unconfirmed: HOLD — a veto with ts < hi may still
                    # arrive. The buffer keeps every event this match needs
                    # (eviction floor is wm - within < eff_first), so a
                    # later batch or the deadline timer re-enumerates it.
                    if pending_min is None or hi < pending_min:
                        pending_min = hi
                    continue
            emitted[sig] = eff_first
            fresh.append(r)
        # evict events beyond the within horizon (bounded state). With an
        # upstream watermark, an event can still open/extend a match as long
        # as a future event ≤ its within-deadline may arrive, i.e. while
        # e.ts + within >= watermark; without one, fall back to batch max
        # (exact for in-order replay). Confirmation-gated patterns always
        # use the watermark floor — pending matches' first events must
        # survive until their deadline passes (wm 0 ⇒ no eviction yet).
        if within is not None:
            if has_trailing:
                low = wm_ns - within
            else:
                low = (wm_ns if wm_ns > 0 else max_ts) - within
            if n and ts[0] < low:
                # the buffer is ts-sorted: eviction drops a prefix
                buf = _take(buf, slice(int(np.searchsorted(ts, low)), None))
                ts = buf["__ts"]
                n = len(ts)
            # a match can only be re-enumerated while its FIRST event is
            # still in the buffer — evict signatures in lockstep, so the
            # dedupe set plateaus instead of growing forever
            emitted = {s: t for s, t in emitted.items() if t >= low}
        # run-cap pruning evicts buffered events too (oldest-anchor rule in
        # _merge_with_run_cap) — keep the dedupe set in lockstep with the
        # buffer floor so it cannot outgrow the bounded state
        if n:
            buf_low = int(ts[0])
            emitted = {s: t for s, t in emitted.items() if t >= buf_low}
        new_counters = (
            c_started + d_started, c_dropped + d_dropped,
            c_evicted + d_evicted,
        )
        return buf, emitted, fresh, pending_min, new_counters

    def _chunk_columns(pdfs) -> dict:
        """The group's new events as one columnar buffer (one concat over
        Spark's chunks; _merge_with_run_cap sorts it)."""
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return {}
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        cols["__ts"] = pdf[ts_col].astype("int64").to_numpy()
        return cols

    if engine == "tws":
        return _apply_pattern_streaming_tws(
            stream, pattern, df, keys, out_schema, in_cols, has_trailing,
            _advance, _chunk_columns,
            (acc_started, acc_dropped, acc_evicted),
        )

    def _out(fresh):
        # Spark skips empty frames: building one per quiet key is wasted work
        if fresh:
            yield pd.DataFrame(fresh, columns=emit_cols)

    def run(key, pdfs, state: GroupState):
        _dbg = os.environ.get("VARPULIS_PATTERN_DEBUG")

        def _log(msg):
            if _dbg:
                with open(_dbg, "a") as f:
                    f.write(msg + "\n")

        def _wm_ns() -> int:
            try:
                return state.getCurrentWatermarkMs() * 1_000_000
            except Exception:  # no upstream withWatermark configured
                return 0

        def _load():
            if not state.exists:
                return {}, {}, (0, 0, 0)
            buf_pkl, emitted_pkl, cs, cd, ce = state.get
            return (_load_buffer(buf_pkl, order_col), pickle.loads(emitted_pkl),
                    (cs, cd, ce))

        def _save(buf, emitted, counters, pending_min, wm_ns):
            state.update((
                pickle.dumps(buf), pickle.dumps(emitted), *counters,
            ))
            if has_trailing and pending_min is not None:
                # fire once the watermark passes the earliest deadline
                # (must sit strictly above the current watermark)
                t = max(-(-pending_min // 1_000_000), wm_ns // 1_000_000 + 1)
                _log(f"arm timeout key={key} t_ms={t} wm_ms={wm_ns//1_000_000}")
                state.setTimeoutTimestamp(t)
            elif timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)

        if state.hasTimedOut:
            _log(f"timed out key={key}")
            if not has_trailing:
                state.remove()  # idle-key GC (processing-time timeout)
                return
            # confirmation flush: the watermark passed a pending deadline
            # with no new data for this key — re-enumerate and emit what is
            # now confirmed (the hand-rolled analog of a native timer)
            buf, emitted, counters = _load()
            wm_ns = _wm_ns()
            buf, emitted, fresh, pending_min, counters = _advance(
                buf, emitted, {}, wm_ns, counters
            )
            if _nrows(buf) or emitted or pending_min is not None:
                _save(buf, emitted, counters, pending_min, wm_ns)
            else:
                state.remove()  # fully drained key
            yield from _out(fresh)
            return

        buf, emitted, counters = _load()
        wm_ns = _wm_ns()
        buf, emitted, fresh, pending_min, counters = _advance(
            buf, emitted, _chunk_columns(pdfs), wm_ns, counters
        )
        _log(
            f"batch key={key} wm_ms={wm_ns//1_000_000} n_events={_nrows(buf)} "
            f"fresh={len(fresh)} pending={pending_min}"
        )
        _save(buf, emitted, counters, pending_min, wm_ns)
        yield from _out(fresh)

    timeout_conf = (
        GroupStateTimeout.EventTimeTimeout if has_trailing
        else GroupStateTimeout.ProcessingTimeTimeout if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    out = df.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
        run, out_schema, state_schema, "append", timeout_conf
    )
    out_stream = Stream(out, ts_col=stream.ts_col)
    # live BP-01 counters (ExtendedEngineStats, sase.rs:895-903); read
    # `.value` after a micro-batch completes
    out_stream.run_stats = {
        "runs_started": acc_started,
        "runs_dropped": acc_dropped,
        "runs_evicted": acc_evicted,
    }
    return out_stream


def _apply_pattern_streaming_tws(
    stream: Stream, pattern, df, keys, out_schema, in_cols, has_trailing,
    _advance, _chunk_columns, accs,
):
    """transformWithStateInPandas twin of apply_pattern_streaming — the r11
    timer-driven migration (VERDICT r10 task 4).

    Arbitrary-state v2 upgrades over the applyInPandasWithState arm:
    - the event buffer lives in a native row-typed ListState column family
      (RocksDB-resident) instead of a whole-buffer pickle round-tripped
      through every micro-batch;
    - trailing-negation confirmation (sase.rs:675-716) runs on NATIVE
      event-time timers — one `registerTimer` per pending deadline,
      `handleExpiredTimer` re-enumerates and emits the now-confirmed
      matches when the watermark passes. The hand-rolled single-slot
      `setTimeoutTimestamp` arm tracks only the EARLIEST deadline and
      re-arms on every invocation; native timers hold one per deadline in
      the engine's own timer column family.

    Same `_advance` core as the pandas arm, so match semantics (run caps,
    dedupe identity, eviction, confirmation gating) are shared by
    construction. Requires RocksDB (query-scoped conf, see start_query)
    and a protobuf runtime (pbvendor)."""
    import pickle

    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from varpulis_spark import pbvendor

    if not pbvendor.tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs a google.protobuf runtime; "
            "none importable and no bundled runtime found (see pbvendor)"
        )

    ts_col = stream.ts_col
    buf_schema = ", ".join(f"{c} {t}" for c, t in df.dtypes) + ", __ts long"
    buf_cols = in_cols + ["__ts"]
    _pd_dtypes = {
        "tinyint": "int8", "smallint": "int16", "int": "int32",
        "bigint": "int64", "float": "float32", "double": "float64",
        "boolean": "bool", "timestamp": "datetime64[us]",
        "timestamp_ntz": "datetime64[us]",
    }
    buf_dtypes = {c: _pd_dtypes[t] for c, t in df.dtypes if t in _pd_dtypes}
    buf_dtypes["__ts"] = "int64"
    emit_cols = list(pattern.emit.keys())

    class _PatternProcessor(StatefulProcessor):
        def init(self, handle):
            self.handle = handle
            self.buf = handle.getListState("buf", buf_schema)
            # emitted dedupe dict + BP-01 counters + armed-timer set
            self.meta = handle.getValueState(
                "meta", "emitted binary, cs long, cd long, ce long, armed binary"
            )

        def _load(self):
            if not self.meta.exists():
                return {}, {}, (0, 0, 0), set()
            emitted_pkl, cs, cd, ce, armed_pkl = self.meta.get()
            buf = self._columns(list(self.buf.get()))
            return buf, pickle.loads(emitted_pkl), (cs, cd, ce), pickle.loads(armed_pkl)

        def _columns(self, tuples: list) -> dict:
            """ListState rows → the columnar buffer _advance takes."""
            if not tuples:
                return {}
            pdf = pd.DataFrame(tuples, columns=buf_cols)
            for c, dt in buf_dtypes.items():
                try:
                    pdf[c] = pdf[c].astype(dt)
                except (TypeError, ValueError):
                    pass
            return {c: pdf[c].to_numpy() for c in buf_cols}

        def _save(self, buf, emitted, counters, armed):
            self.meta.update((pickle.dumps(emitted), *counters, pickle.dumps(armed)))
            self.buf.clear()
            if _nrows(buf):
                # Series iteration boxes to Python scalars/Timestamps, which
                # the ListState row encoder takes
                pdf = pd.DataFrame({c: buf[c] for c in buf_cols})
                self.buf.appendList(list(pdf.itertuples(index=False, name=None)))

        def _arm(self, pending_min, armed: set, wm_ms: int) -> set:
            armed = {t for t in armed if t > wm_ms}  # fired timers are gone
            if pending_min is not None:
                t_ms = max(-(-pending_min // 1_000_000), wm_ms + 1)
                if t_ms not in armed:
                    self.handle.registerTimer(t_ms)
                    armed.add(t_ms)
            return armed

        def handleInputRows(self, key, rows, timer_values):
            buf, emitted, counters, armed = self._load()
            try:
                wm_ms = timer_values.getCurrentWatermarkInMs()
            except Exception:  # timeMode "None" carries no watermark
                wm_ms = 0
            wm_ns = max(wm_ms, 0) * 1_000_000
            buf, emitted, fresh, pending_min, counters = _advance(
                buf, emitted, _chunk_columns(rows), wm_ns, counters
            )
            armed = self._arm(pending_min, armed, wm_ms)
            self._save(buf, emitted, counters, armed)
            yield pd.DataFrame(fresh, columns=emit_cols)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # watermark passed a pending confirmation deadline: re-enumerate
            # with no new events and emit what is now confirmed
            buf, emitted, counters, armed = self._load()
            wm_ms = timerValues.getCurrentWatermarkInMs()
            buf, emitted, fresh, pending_min, counters = _advance(
                buf, emitted, {}, max(wm_ms, 0) * 1_000_000, counters
            )
            armed = self._arm(pending_min, armed, wm_ms)
            if _nrows(buf) or emitted or pending_min is not None:
                self._save(buf, emitted, counters, armed)
            else:
                self.buf.clear()
                self.meta.clear()
            yield pd.DataFrame(fresh, columns=emit_cols)

        def close(self):
            pass

    # EventTime whenever the input is watermarked (not only for trailing
    # negation): with timeMode="None" getCurrentWatermarkInMs raises and
    # eviction falls back to the batch-max floor, evicting out-of-order late
    # events earlier than the applyInPandasWithState arm does on the same
    # watermarked input (ADVICE r11).
    out = df.groupBy(*[F.col(k) for k in keys]).transformWithStateInPandas(
        statefulProcessor=_PatternProcessor(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode=(
            "EventTime" if (has_trailing or stream._watermarked) else "None"
        ),
    )
    out._varpulis_session_confs = dict(_TWS_CONFS)
    out_stream = Stream(out, ts_col=stream.ts_col)
    out_stream.session_confs.update(_TWS_CONFS)
    acc_started, acc_dropped, acc_evicted = accs
    out_stream.run_stats = {
        "runs_started": acc_started,
        "runs_dropped": acc_dropped,
        "runs_evicted": acc_evicted,
    }
    return out_stream
