"""Engine metrics — the reference's Prometheus surface mapped to Spark.

Reference: runtime/src/metrics.rs + SaseMetrics (sase.rs:1311-1460) expose
per-engine counters (events in/out, matches, latency). Spark's native
equivalents: `StreamingQueryListener` for streaming progress and the
DataFrame `observe` API for batch row counters. This module packages both.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class QueryStats:
    batches: int = 0
    input_rows: int = 0
    rows_per_sec: list[float] = field(default_factory=list)


class EngineMetricsListener(StreamingQueryListener):
    """Collects per-query progress counters (events processed, throughput)
    — attach with `spark.streams.addListener(listener)`."""

    def __init__(self) -> None:
        self.stats: dict[str, QueryStats] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802
        self.stats.setdefault(event.name or str(event.id), QueryStats())

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        s = self.stats.setdefault(p.name or str(p.id), QueryStats())
        s.batches += 1
        s.input_rows += int(p.numInputRows)
        if p.inputRowsPerSecond is not None:
            s.rows_per_sec.append(float(p.inputRowsPerSecond))

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass


def attach(spark: SparkSession) -> EngineMetricsListener:
    listener = EngineMetricsListener()
    spark.streams.addListener(listener)
    return listener


def observed(df: DataFrame, name: str = "metrics") -> DataFrame:
    """Batch-side counters via the observe API: row count + null-ts count
    surface in QueryExecution metrics without a second pass."""
    return df.observe(name, F.count(F.lit(1)).alias("rows"))


# ---------------------------------------------------------------------------
# Prometheus exposition (runtime/src/metrics.rs — the reference serves the
# text format on its metrics port; scrapers consume it directly)
# ---------------------------------------------------------------------------

# reference histogram buckets (metrics.rs:48-56), extended to 10 s: a
# Spark micro-batch takes ~1 s, so with a 1.0 s top bucket most
# observations landed in +Inf
LATENCY_BUCKETS = [
    0.0001, 0.0005, 0.001, 0.005, 0.01, 0.05, 0.1, 0.5, 1.0, 2.5, 5.0, 10.0,
]


class LatencyHistogram:
    """Fixed-bucket histogram matching the reference's
    varpulis_processing_latency_seconds shape (cumulative buckets + sum +
    count per label)."""

    def __init__(self) -> None:
        self.counts = [0] * len(LATENCY_BUCKETS)
        self.inf = 0
        self.total = 0.0
        self.n = 0

    def record(self, seconds: float) -> None:
        self.n += 1
        self.total += seconds
        for i, b in enumerate(LATENCY_BUCKETS):
            if seconds <= b:
                self.counts[i] += 1
                return
        self.inf += 1


def _esc(v: str) -> str:
    return str(v).replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def _labels(**kv) -> str:
    inner = ",".join(f'{k}="{_esc(v)}"' for k, v in kv.items())
    return "{" + inner + "}" if inner else ""


def prometheus_text(
    events_by_type: dict[str, int],
    processed_by_stream: dict[str, int],
    output_by_stream_type: dict[tuple[str, str], int],
    active_streams: int,
    latency: dict[str, LatencyHistogram] | None = None,
) -> str:
    """Render the reference's metric families (metrics.rs:24-66) in
    Prometheus exposition text format."""
    out: list[str] = []
    out.append("# HELP varpulis_events_total Total events received")
    out.append("# TYPE varpulis_events_total counter")
    for et, n in sorted(events_by_type.items()):
        out.append(f"varpulis_events_total{_labels(event_type=et)} {n}")
    out.append("# HELP varpulis_events_processed Events processed by stream")
    out.append("# TYPE varpulis_events_processed counter")
    for s, n in sorted(processed_by_stream.items()):
        out.append(f"varpulis_events_processed{_labels(stream=s)} {n}")
    out.append("# HELP varpulis_output_events_total Total output events emitted")
    out.append("# TYPE varpulis_output_events_total counter")
    for (s, et), n in sorted(output_by_stream_type.items()):
        out.append(
            f"varpulis_output_events_total{_labels(stream=s, event_type=et)} {n}"
        )
    out.append("# HELP varpulis_active_streams Number of active streams")
    out.append("# TYPE varpulis_active_streams gauge")
    out.append(f"varpulis_active_streams {active_streams}")
    if latency:
        out.append(
            "# HELP varpulis_processing_latency_seconds Event processing latency"
        )
        out.append("# TYPE varpulis_processing_latency_seconds histogram")
        for s, h in sorted(latency.items()):
            cum = 0
            for b, c in zip(LATENCY_BUCKETS, h.counts):
                cum += c
                out.append(
                    f"varpulis_processing_latency_seconds_bucket"
                    f"{_labels(stream=s, le=repr(b))} {cum}"
                )
            out.append(
                f"varpulis_processing_latency_seconds_bucket"
                f'{_labels(stream=s, le="+Inf")} {cum + h.inf}'
            )
            out.append(
                f"varpulis_processing_latency_seconds_sum"
                f"{_labels(stream=s)} {h.total}"
            )
            out.append(
                f"varpulis_processing_latency_seconds_count{_labels(stream=s)} {h.n}"
            )
    return "\n".join(out) + "\n"
