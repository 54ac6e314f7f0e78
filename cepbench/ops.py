"""The benchmark's op sets: what each workload runs, and each op's oracle.

A batch op is (name, build, action, oracle SQL). `build(spark, data_dir)`
returns the lazy result DataFrame; the timed op is build plus the forced
action, forced the way bench.py forces it (`count()`, or the noop sink for
the queries whose whole work is a projection that count() would prune).

Two sources of ops:
- the repo's own oracle-checked queries (`__spark_entry__.queries()`,
  checked against `oracle_sql()`), restricted to those reading the events
  table;
- VPL programs owned by the benchmark, compiled by
  `vpl.compiler.run_program`, each with a DuckDB SQL twin written here.

Both workloads also run one streaming op (StreamOp, at the end of the
file): one micro-batch per step, checked against its batch twin.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass
from typing import Callable

# The TPC-H-table queries are out of scope (not CEP); the documents and
# embeddings queries drop out because their oracles do not read `events`.
EXCLUDED = {"pricing_summary", "enrich_orders", "top_orders"}
# bench.py's NOOP_TIMED: count() would prune their only work
NOOP_TIMED = {"text_stats", "collatz_steps"}


@dataclass(frozen=True)
class BatchOp:
    name: str
    build: Callable
    action: str  # "count" | "noop"
    oracle: str
    vpl: str | None = None  # VPL source, for the vpl.* layer spans


# ---------------------------------------------------------------------------
# benchmark-owned VPL programs and their DuckDB twins
# ---------------------------------------------------------------------------

VPL_PROGRAMS: dict[str, tuple[str, str]] = {
    # filter / emit
    "vpl_filter_emit": (
        """
stream Out = purchase
    .where(value > 120)
    .emit(event_id: event_id, user_id: user_id, v: value)
""",
        """
SELECT epoch_us(ts) AS ts, 'Out' AS event_type, event_id, user_id, value AS v
FROM events WHERE event_type = 'purchase' AND value > 120
""",
    ),
    # tumbling window aggregate per key
    "vpl_tumbling_agg": (
        """
stream Out = view
    .partition_by(user_id)
    .window(1h)
    .aggregate(n: count(), mx: max(value))
""",
        """
SELECT user_id, count(*) AS n, max(value) AS mx,
       epoch_us(w) AS window_start, epoch_us(w + INTERVAL '1 hour') AS window_end,
       CAST(user_id AS VARCHAR) AS _partition, epoch_us(w + INTERVAL '1 hour') AS ts
FROM (SELECT user_id, value, time_bucket(INTERVAL '1 hour', ts) AS w
      FROM events WHERE event_type = 'view')
GROUP BY user_id, w
""",
    ),
    # SEQ ... within (skip-till-any-match pairs, inclusive deadline)
    "vpl_seq_within": (
        """
stream Out = signup as a
    -> purchase where user_id == a.user_id as b
    .within(6h)
    .emit(user_id: a.user_id, a_id: a.event_id, b_id: b.event_id)
""",
        """
SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id,
       'Out' AS event_type, epoch_us(b.ts) AS ts
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'signup' AND b.event_type = 'purchase'
 AND b.ts > a.ts AND epoch_us(b.ts) <= epoch_us(a.ts) + 21600000000
""",
    ),
    # exhaustive Kleene closure: C(k, m) matches of size m per anchor pair
    "vpl_kleene": (
        """
stream Out = signup as a
    -> all purchase where user_id == a.user_id as ps
    -> error where user_id == a.user_id as e
    .within(48h)
    .emit(user_id: a.user_id, a_id: a.event_id, e_id: e.event_id, n: len(ps))
""",
        """
WITH anchors AS (
  SELECT s.user_id, s.event_id AS a_id, e.event_id AS e_id, e.ts AS e_ts,
         (SELECT count(*) FROM events p
           WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
             AND p.ts > s.ts AND p.ts < e.ts) AS k
  FROM events s JOIN events e ON e.user_id = s.user_id
   AND s.event_type = 'signup' AND e.event_type = 'error'
   AND e.ts > s.ts AND epoch_us(e.ts) <= epoch_us(s.ts) + 172800000000),
sizes AS (
  SELECT user_id, a_id, e_id, e_ts, k, UNNEST(range(1, k::INT + 1)) AS m
  FROM anchors WHERE k >= 1)
SELECT user_id, a_id, e_id, n, 'Out' AS event_type, epoch_us(e_ts) AS ts FROM (
  SELECT user_id, a_id, e_id, e_ts, CAST(m AS BIGINT) AS n,
         UNNEST(range(CAST(factorial(k::INT) / (factorial(m::INT)
                * factorial((k - m)::INT)) AS BIGINT))) AS rep
  FROM sizes)
""",
    ),
    # GRETA trend aggregate: every ordered subset is a trend, 2^n - 1 per key
    "vpl_trend_agg": (
        """
stream Out = purchase as t
    .partition_by(user_id)
    .trend_aggregate(trends: count_trends(), events: count_events(t))
""",
        """
SELECT user_id, pow(2, n) - 1 AS trends, n * pow(2, n - 1) AS events
FROM (SELECT user_id, count(*) AS n FROM events
      WHERE event_type = 'purchase' GROUP BY 1)
""",
    ),
}


def _vpl_build(name: str, src: str) -> Callable:
    def build(spark, data_dir, compile_span=nullcontext):
        """`compile_span()` is entered around the `run_program` call."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import TimestampType

        from varpulis_spark import Stream
        from varpulis_spark.vpl.compiler import run_program

        events = Stream.events(spark, data_dir)
        with compile_span():
            out = run_program(src, events)["Out"]
        # timestamps compare as epoch microseconds, as in __spark_entry__
        return out.select(
            *(
                F.unix_micros(F.col(f.name)).alias(f.name)
                if isinstance(f.dataType, TimestampType)
                else F.col(f.name)
                for f in out.schema.fields
            )
        )

    build.__name__ = name
    return build


# Each workload times a subset of the op set, small enough that a run fits
# a warm-up at full scale and several timed passes: the JVM keeps getting
# faster over an op's first few executions, and a pass timed before it
# settles reads 20-50 % slow, by an amount that varies from run to run.
#
# cep_small: the layers the op set reaches, at fixed per-op cost: a plain
# filter, a JVM window and a windowed join, a SASE sequence, the VPL collatz
# query (noop-timed) and all five benchmark VPL programs (filter/emit,
# window aggregate, SEQ within, Kleene, GRETA trend aggregate).
SMALL_OPS = (
    "high_value_filter", "tumbling_1h", "windowed_join_3way", "seq_signup_purchase",
    "collatz_steps", *VPL_PROGRAMS,
)
# cep_large: three of the per-key kernels hosted by partition_driver whose
# time grows most with events (GRETA, forecast, SASE Kleene). None of them
# is noop-timed, so every timed execution's row count is checked too.
LARGE_OPS = ("greta_rising", "forecast_runs", "kleene_purchases")


def cep_ops(only: tuple[str, ...] | None = None) -> list[BatchOp]:
    """The cep op set: the events-table queries, then the benchmark's VPL
    programs; `only` keeps the named ops (in op-set order)."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    ops = [
        BatchOp(name, fn, "noop" if name in NOOP_TIMED else "count", oracles[name])
        for name, fn in entry.queries().items()
        if name not in EXCLUDED and "events" in oracles[name]
    ]
    ops += [
        BatchOp(name, _vpl_build(name, src), "count", sql, vpl=src)
        for name, (src, sql) in VPL_PROGRAMS.items()
    ]
    if only is not None:
        unknown = set(only) - {op.name for op in ops}
        if unknown:
            raise ValueError(f"unknown ops {sorted(unknown)}")
        ops = [op for op in ops if op.name in only]
    return ops


# ---------------------------------------------------------------------------
# the streaming op: the same SEQ ... within as vpl_seq_within, through the
# state-store path (file_source -> apply_pattern_streaming, which runs under
# applyInPandasWithState) into a foreachBatch sink
# ---------------------------------------------------------------------------

STREAM_OP = "stream_seq_within"
STREAM_WARM_FILES = 1  # drained when the query starts; the first batch is slow
# one spool file is one micro-batch: the start-up ones, then one per pass.
# The batch size is the same in every workload (cep_small's events make 12
# files); a larger workload spools more files and has more keys in state.
STREAM_FILE_ROWS = 800
# the generator moves a row at most OOO_ROWS rows from its ts slot, far less
# than a day at any workload's density, so no row is ever behind the watermark
STREAM_WATERMARK = "1 day"
PROGRESS_MS = {
    "addBatch": "stream.add_batch_ms",
    "queryPlanning": "stream.query_planning_ms",
    "getBatch": "stream.get_batch_ms",
    "latestOffset": "stream.latest_offset_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
    "triggerExecution": "stream.trigger_ms",
}
STREAM_KEY = ("user_id", "a_id", "b_id")


def seq_pattern():
    from varpulis_spark.operators.sase import Pattern, step

    return Pattern(
        steps=[step("signup", "a"), step("purchase", "b")],
        within="6h",
        emit={"user_id": ("a", "user_id"), "a_id": ("a", "event_id"),
              "b_id": ("b", "event_id")},
        partition_by=["user_id"],
    )


class StreamOp:
    """One long-running streaming query fed from a spool of parquet files in
    arrival order. `step()` moves the next file into the watched directory
    (an atomic rename) and drains it with processAllAvailable: one file is
    one micro-batch, so every step runs the same amount of work."""

    name = STREAM_OP

    def __init__(self, spool_dir: str, work_dir: str):
        self.spool_dir = spool_dir
        self.files = sorted(os.listdir(spool_dir))
        self.source = os.path.join(work_dir, "source")
        self.checkpoint = os.path.join(work_dir, "checkpoint")
        os.makedirs(self.source)
        self.fed = 0
        self.last_batch = -1
        self.rows: list[tuple] = []
        self.sink_ms: dict[int, float] = {}
        self.query = None

    def start(self, spark) -> None:
        from pyspark.sql.types import (
            DoubleType, LongType, StringType, StructField, StructType, TimestampNTZType)

        import varpulis_spark.streaming as S

        schema = StructType([
            StructField("event_id", LongType()), StructField("ts", TimestampNTZType()),
            StructField("user_id", LongType()), StructField("event_type", StringType()),
            StructField("value", DoubleType()), StructField("props", StringType()),
        ])
        src = S.file_source(spark, self.source, schema, order_col="event_id",
                            max_files_per_trigger=1)
        out = S.apply_pattern_streaming(src.watermark(STREAM_WATERMARK), seq_pattern())

        def sink(df, epoch_id):
            t = time.perf_counter()
            self.rows.extend(tuple(r) for r in df.select(*STREAM_KEY).collect())
            self.sink_ms[epoch_id] = (time.perf_counter() - t) * 1000

        self.query = S.start_query(
            out.df.writeStream.foreachBatch(sink).option("checkpointLocation", self.checkpoint),
            out)

    def feed(self, files: int) -> list[dict]:
        """Feed `files` spool files and drain them; returns the progress
        reports of the batches that read input."""
        if self.fed + files > len(self.files):
            raise RuntimeError(f"spool of {len(self.files)} files is used up")
        for name in self.files[self.fed:self.fed + files]:
            os.rename(os.path.join(self.spool_dir, name), os.path.join(self.source, name))
        self.fed += files
        self.query.processAllAvailable()
        # idle progress reports and no-data batches read no rows
        fresh = [p for p in self.query.recentProgress
                 if p["batchId"] > self.last_batch and p["numInputRows"] > 0]
        if fresh:
            self.last_batch = max(p["batchId"] for p in fresh)
        return fresh

    def batch_metrics(self, progress: dict) -> dict:
        """stream.* and sink.ms of one micro-batch."""
        dur = progress["durationMs"]
        m = {key: float(dur.get(k, 0)) for k, key in PROGRESS_MS.items()}
        states = progress.get("stateOperators") or []
        m["stream.state_rows"] = float(sum(s.get("numRowsTotal", 0) for s in states))
        m["stream.state_mem_bytes"] = float(sum(s.get("memoryUsedBytes", 0) for s in states))
        m["sink.ms"] = self.sink_ms.get(progress["batchId"], 0.0)
        return m

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query.awaitTermination(60)
            self.query = None

    def fed_paths(self) -> list[str]:
        return [os.path.join(self.source, n) for n in self.files[:self.fed]]

    def twin(self, spark, data_dir: str) -> tuple[list[str], list[tuple]]:
        """The batch twin's rows over the rows fed so far (in `data_dir`)."""
        from varpulis_spark import Stream

        df = Stream.events(spark, data_dir).pattern(seq_pattern()).df
        return list(STREAM_KEY), [tuple(r) for r in df.select(*STREAM_KEY).collect()]


# DuckDB twin of the batch twin: the same pairs as vpl_seq_within
STREAM_ORACLE = """
SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'signup' AND b.event_type = 'purchase'
 AND b.ts > a.ts AND epoch_us(b.ts) <= epoch_us(a.ts) + 21600000000
"""
