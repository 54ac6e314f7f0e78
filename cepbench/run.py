"""cepbench — the repository benchmark: oracle-checked CEP ops on Spark.

One run generates its inputs from --seed, starts one Spark session on
local[min(nproc, 2)] and the streaming query, and warms up with the
workload's untimed passes over the op set. It then times whole closed-loop
passes (one client: an op starts when the previous one finished) — the
workload's pass count, and more only while fewer than --seconds have
passed — runs every op once more to collect its rows for the oracle check,
and prints one JSON line last.

    python3 cepbench/run.py --workload cep_small --seed 1 --seconds 5 --trace 0

--trace 1 turns on Spark's event log through a spark-defaults.conf in
SPARK_CONF_DIR, records spans around the calls into each layer and prints
the per-layer metrics instead of the end-to-end ones. --repeat N runs the
workload N times (seeds --seed .. --seed+N-1) in child processes and prints
the median, quartiles, min and max of every metric; with --trace 1 it runs
an untraced and a traced child per seed and also reports the tracing
overhead (traced minus untraced median of each end-to-end metric).

Exit code: 0 when every op ran and matched its oracle, 1 otherwise.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # before any heavy import: setup_s starts here

import argparse  # noqa: E402
import functools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(ROOT, ".cepbench")
sys.path.insert(0, ROOT)

from cepbench import gen  # noqa: E402
from cepbench import ops as opsmod  # noqa: E402
from cepbench import oracle as oraclemod  # noqa: E402
from cepbench import spans as tracemod  # noqa: E402

# cep_small: ~10k events, ops.SMALL_OPS plus the streaming op; fixed
# per-op cost dominates.
# cep_large: ~7x the users at the same per-user density, ops.LARGE_OPS plus
# the streaming op; per-event work is a large share of each op.
# After the collecting pass, a run makes `warm_passes` untimed passes, then
# times whole passes: `passes` of them, and more only while fewer than
# --seconds have passed. A fixed pass count keeps a faster host (or commit)
# from also getting warmer, later passes.
WORKLOADS = {
    "cep_small": {"users": 150, "ops": opsmod.SMALL_OPS, "warm_passes": 2, "passes": 2},
    "cep_large": {"users": 400, "ops": opsmod.LARGE_OPS, "warm_passes": 1, "passes": 2},
}


def spool_files(users: int) -> int:
    return round(users * gen.EVENTS_PER_USER) // opsmod.STREAM_FILE_ROWS


def max_passes(workload: str) -> int:
    """Timed passes the spool has files for: every pass feeds the streaming
    op one file."""
    wl = WORKLOADS[workload]
    return spool_files(wl["users"]) - opsmod.STREAM_WARM_FILES - wl["warm_passes"]
E2E = {"setup_s": "s", "wall_s": "s", "op_p50_ms": "ms"}
LAYERS = {
    "engine.session_s": "s",
    "vpl.parse_ms": "ms",
    "vpl.validate_ms": "ms",
    "vpl.compile_ms": "ms",
    "driver.build_ms": "ms",
    "catalyst.plan_ms": "ms",
    "catalyst.exchanges": "count",
    "catalyst.python_nodes": "count",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "sched.delay_ms": "ms",
    "driver.gap_ms": "ms",
    "exec.core_util": "ratio",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_mem_bytes": "bytes",
    "python.total_ms": "ms",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "self.op_ms": "ms",
    "self.build_ms": "ms",
    "self.plan_ms": "ms",
    "self.action_ms": "ms",
    "self.job_ms": "ms",
    "self.stage_ms": "ms",
    "rows_out": "count",
}
# the streaming op's layers: per micro-batch, median over the timed
# batches; stream.first_batch_ms is the query's first batch
STREAM_LAYERS = {
    **{k: "ms" for k in opsmod.PROGRESS_MS.values()},
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "bytes",
    "stream.first_batch_ms": "ms",
    "sink.ms": "ms",
}
# Two Spark cores leave the rest of a 4-core host to the JIT compiler, GC,
# the driver and the Python workers: on local[4], runs of the same code
# differed by up to 50 % as the warm-up raced the work for the cores.
MAX_CORES = 2
OP_TIMEOUT_S = 60.0
def code_stamp() -> str:
    """Hash of the benchmark's own modules (cepbench/*.py), stamped on
    every record."""
    import hashlib

    h = hashlib.sha256()
    for name in sorted(os.listdir(BENCH_DIR)):
        if name.endswith(".py"):
            h.update(name.encode())
            with open(os.path.join(BENCH_DIR, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat; (0, 0)
    where it does not exist."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return fields[7], sum(fields)


def host_stamp() -> dict:
    """nproc, loadavg, Python/Spark versions and two calibration times, each
    the median of three: a 1000x1000 float64 GEMM (numpy's default threads)
    and a one-core interpreter loop. They help tell host phases apart when
    two sets of runs differ; neither tracks the phases closely enough to
    scale the end-to-end times by."""
    import importlib.metadata

    import numpy as np

    a = np.full((1000, 1000), 1.0 / 3)

    def timed(fn) -> float:
        samples = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t)
        return statistics.median(samples)

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "gemm_s": timed(lambda: (a @ a).sum()),
        "py_loop_s": timed(lambda: sum(i * i for i in range(1_000_000))),
        "python": platform.python_version(),
        "spark": importlib.metadata.version("pyspark"),
    }


def _write_conf(work: str, trace: bool) -> str:
    """spark-defaults.conf for this run; the event log goes on from here,
    outside the program under test."""
    conf_dir = os.path.join(work, "conf")
    tmp = os.path.join(work, "tmp")
    os.makedirs(conf_dir)
    os.makedirs(tmp)
    lines = [
        "spark.ui.showConsoleProgress false",
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp}",
        f"spark.local.dir {os.path.join(work, 'local')}",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{log_dir}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return conf_dir


def _collect(spark, op, data_dir: str) -> tuple | Exception:
    """One op's result rows for the oracle gate: (columns, rows) or the
    exception."""
    try:
        df = op.build(spark, data_dir)
        return df.columns, [tuple(r) for r in df.collect()]
    except Exception as e:  # noqa: BLE001 - a failing op is a result, not a crash
        return e


def hd_median(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: the order statistics weighted
    by a Beta((n+1)/2, (n+1)/2) distribution. With a few dozen samples of
    ops of different cost, the sample median jumps across the gap between
    two neighbouring ops when one sample moves; this estimate moves
    smoothly."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a = (n + 1) / 2
    grid = np.linspace(0.0, 1.0, 20_001)
    dens = grid ** (a - 1) * (1 - grid) ** (a - 1)
    cdf = np.concatenate([[0.0], np.cumsum(dens[1:] + dens[:-1])])
    edges = np.interp(np.arange(n + 1) / n, grid, cdf / cdf[-1])
    return float(np.diff(edges) @ x)


def _median_by_op(records: list[dict]) -> dict[str, float]:
    """Each op's median time over the timed passes (ops that ran)."""
    by_op: dict[str, list[float]] = {}
    for r in records:
        if r["ms"] is not None:
            by_op.setdefault(r["op"], []).append(r["ms"])
    return {op: statistics.median(v) for op, v in by_op.items()}


class Runner:
    """One workload run in this process."""

    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.tracer = tracemod.Tracer(self.trace)
        self.excluded = 0.0  # input generation and oracle time, kept out of setup_s
        self.failures: dict[str, str] = {}
        self.records: list[dict] = []  # one per timed op execution
        self.warm_records: list[dict] = []  # one per untimed warm-pass execution
        self.stream: opsmod.StreamOp | None = None
        self.cores = min(len(os.sched_getaffinity(0)), MAX_CORES)

    def _excluded(self, fn, *a):
        t = time.perf_counter()
        try:
            return fn(*a)
        finally:
            self.excluded += time.perf_counter() - t

    def prepare(self, work: str) -> None:
        seed, users = self.args.seed, self.wl["users"]
        events = gen.events_table(seed, users)
        self.data_dir = gen.write_tables(os.path.join(work, "data"), {"events": events})
        self.ops = opsmod.cep_ops(self.wl["ops"])
        orc = oraclemod.Oracle(self.data_dir, ("events",), self.cores)
        self.expected = {op.name: orc.rows(op.oracle) for op in self.ops}
        orc.close()
        self.expected_count = {k: len(v[1]) for k, v in self.expected.items()}
        spool = os.path.join(work, "spool")
        gen.spool(spool, events, spool_files(users))
        self.stream = opsmod.StreamOp(spool, work)

    def run(self) -> int:
        os.makedirs(OUT_DIR, exist_ok=True)
        work = tempfile.mkdtemp(prefix=f"{self.args.workload}-", dir=OUT_DIR)
        try:
            return self._run(work)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def _run(self, work: str) -> int:
        self.ticks_start = cpu_ticks()
        self.host = self._excluded(host_stamp)
        self._excluded(self.prepare, work)

        os.environ.update(
            SPARK_CONF_DIR=_write_conf(work, self.trace),
            SPARK_GRAFT_CPUS=str(self.cores),
            TMPDIR=os.path.join(work, "tmp"),
            XDG_CACHE_HOME=os.path.join(work, "cache"),
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        )
        from pyspark import SparkContext

        from varpulis_spark.engine import get_spark

        t = time.perf_counter()
        spark = get_spark(f"cepbench-{self.args.workload}", cores=self.cores)
        self.session_s = time.perf_counter() - t
        gateway = SparkContext._gateway
        try:
            # warm-up: untimed passes; the streaming query starts (its
            # first batch is the slowest) while the first pass's batch ops run
            with ThreadPoolExecutor(1) as ex:
                started = ex.submit(self._warm_stream, spark)
                self.warm_records += [self._time_op(spark, op, "w0") for op in self.ops]
                self.first_batch = started.result()
            self.warm_records.append(self._time_stream("w0"))
            for i in range(1, self.wl["warm_passes"]):
                self.warm_records += self._pass(spark, f"w{i}")
            window_open = time.perf_counter()
            self.setup_s = window_open - T_PROCESS - self.excluded
            self.pass_walls = []
            while len(self.pass_walls) < max_passes(self.args.workload) and (
                    len(self.pass_walls) < self.wl["passes"]
                    or time.perf_counter() - window_open < self.args.seconds):
                t = time.perf_counter()
                self.records += self._pass(spark, len(self.pass_walls))
                self.pass_walls.append(time.perf_counter() - t)
            self.stream.stop()
            # every op once more, its rows kept for the oracle gate
            t = time.perf_counter()
            collected = [_collect(spark, op, self.data_dir) for op in self.ops]
            self.collect_s = time.perf_counter() - t
            self._gate(collected)
            self._check_stream(spark, work)
        finally:
            self.stream.stop()
            spark.stop()
            # the JVM (and the Python workers it forked) exits when its stdin
            # closes; wait for it so no process outlives the run
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)
        self.host["loadavg_end"] = os.getloadavg()
        steal, total = (b - a for a, b in zip(self.ticks_start, cpu_ticks()))
        # share of the run's CPU time the hypervisor gave to other guests
        self.host["steal_share"] = steal / total if total else 0.0
        layers = self._layers(work) if self.trace else None
        return self._report(layers)

    def _warm_stream(self, spark) -> float | None:
        """Start the streaming query and drain the warm-up files; returns
        the first batch's trigger time."""
        try:
            self.stream.start(spark)
            batches = self.stream.feed(opsmod.STREAM_WARM_FILES)
            return float(batches[0]["durationMs"]["triggerExecution"])
        except Exception as e:  # noqa: BLE001 - counted in op_fail_ratio
            self.failures.setdefault(self.stream.name, f"warm-up raised {type(e).__name__}: {e}"[:300])
            return None

    def _pass(self, spark, pass_no) -> list[dict]:
        """One closed-loop pass: every batch op, then one micro-batch of the
        streaming op."""
        recs = [self._time_op(spark, op, pass_no) for op in self.ops]
        return recs + [self._time_stream(pass_no)]

    def _time_op(self, spark, op, pass_no) -> dict:
        sc = spark.sparkContext
        group = f"cepbench-{pass_no}-{op.name}"
        sc.setJobGroup(group, op.name, True)
        watchdog = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, [group])
        watchdog.start()
        tr = self.tracer
        rec = {"op": op.name, "pass": pass_no, "group": group, "rows": None}
        t0 = time.perf_counter()
        try:
            with tr.span("op", op.name) as sid:
                rec["span"] = sid
                if self.trace and op.vpl:
                    from varpulis_spark.vpl.parser import parse_full
                    from varpulis_spark.vpl.validate import validate

                    with tr.span("vpl.parse", op.name, sid):
                        prog = parse_full(op.vpl)
                    with tr.span("vpl.validate", op.name, sid):
                        validate(prog)
                with tr.span("build", op.name, sid) as bid:
                    if op.vpl:
                        df = op.build(spark, self.data_dir, functools.partial(
                            tr.span, "vpl.compile", op.name, bid))
                    else:
                        df = op.build(spark, self.data_dir)
                target = df.groupBy().count() if op.action == "count" else df
                if self.trace:
                    with tr.span("plan", op.name, sid):
                        rec["plan"] = target._jdf.queryExecution().executedPlan().toString()
                with tr.span("action", op.name, sid):
                    if op.action == "count":
                        rec["rows"] = target.collect()[0][0]
                    else:
                        df.write.format("noop").mode("overwrite").save()
            rec["ms"] = (time.perf_counter() - t0) * 1000
        except Exception as e:  # noqa: BLE001 - counted in op_fail_ratio
            self.failures.setdefault(op.name, f"raised {type(e).__name__}: {e}"[:300])
            rec["ms"] = None
        finally:
            watchdog.cancel()
            sc._jsc.clearJobGroup()
        return rec

    def _time_stream(self, pass_no) -> dict:
        """One step of the streaming op: one spool file, one micro-batch."""
        st, tr = self.stream, self.tracer
        rec = {"op": st.name, "pass": pass_no, "group": None, "rows": None, "stream": True}
        if st.name in self.failures:  # the query did not start
            rec["ms"] = None
            return rec
        before = len(st.rows)
        t0 = time.perf_counter()
        try:
            with tr.span("op", st.name) as sid:
                rec["span"] = sid
                with tr.span("action", st.name, sid):
                    batches = st.feed(1)
            rec["ms"] = (time.perf_counter() - t0) * 1000
            rec["rows"] = len(st.rows) - before
            rec["batches"] = [st.batch_metrics(b) for b in batches]
        except Exception as e:  # noqa: BLE001 - counted in op_fail_ratio
            self.failures.setdefault(st.name, f"raised {type(e).__name__}: {e}"[:300])
            rec["ms"] = None
        return rec

    def _check_stream(self, spark, work: str) -> None:
        """The streaming op's rows against its batch twin over the rows fed
        so far, and the batch twin against DuckDB. The pattern has no
        trailing negation, so each match is final when its last event
        arrives and no row waits for the watermark: every row counts."""
        st = self.stream
        if st.name in self.failures:
            return
        import pyarrow.parquet as pq

        fed_dir = os.path.join(work, "fed")
        gen.write_tables(fed_dir, {"events": pq.read_table(st.fed_paths())})
        twin = st.twin(spark, fed_dir)
        orc = oraclemod.Oracle(fed_dir, ("events",), self.cores)
        reason = (oraclemod.compare(list(opsmod.STREAM_KEY), st.rows, *twin)
                  or oraclemod.compare(*twin, *orc.rows(opsmod.STREAM_ORACLE)))
        orc.close()
        if reason:
            self.failures.setdefault(st.name, f"batch twin mismatch: {reason}"[:300])

    def _gate(self, collected: list) -> None:
        """Oracle check of the batch ops: the collected rows, and the row
        count of every warm and timed execution."""
        for op, got in zip(self.ops, collected):
            if isinstance(got, Exception):
                self.failures.setdefault(op.name, f"collect raised {type(got).__name__}: {got}"[:300])
                continue
            reason = oraclemod.compare(*got, *self.expected[op.name])
            if reason:
                self.failures.setdefault(op.name, f"oracle mismatch: {reason}"[:300])
        want = self.expected_count
        for rec in self.warm_records + self.records:
            if rec.get("stream"):
                continue
            if rec["rows"] is not None and rec["rows"] != want[rec["op"]]:
                self.failures.setdefault(
                    rec["op"], f"{rec['rows']} rows != oracle {want[rec['op']]}")
        for rec in self.records:
            if rec.get("stream"):
                continue
            # noop-timed ops count no rows themselves; rows_out takes the
            # oracle's count, which the gate has just checked
            if rec["rows"] is None and rec["ms"] is not None:
                rec["rows"] = want[rec["op"]]

    def _layers(self, work: str) -> dict:
        """Per-op layer records from spans and the event log, summed per
        pass; the reported value is the median over passes. The streaming
        op's stream.* and sink.ms are per micro-batch, median over the
        timed batches."""
        log = tracemod.read_event_log(os.path.join(work, "eventlog"))
        spans = self.tracer.spans
        per_pass: dict[int, dict[str, float]] = {}
        batches: list[dict] = []
        self.layer_records = []
        for rec in self.records:
            if rec["ms"] is None:
                continue
            mine = [s for s in spans if s["op"] == rec["op"] and _under(spans, s, rec["span"])]
            if rec.get("stream"):
                batches += rec["batches"]
                m = {f"self.{k}_ms": v for k, v in tracemod.self_times(mine).items()}
                m["rows_out"] = rec["rows"]
                self.layer_records.append({"op": rec["op"], "pass": rec["pass"], "ms": rec["ms"],
                                           "batches": rec["batches"], **m})
            else:
                m = self._op_layers(log, rec, mine)
            acc = per_pass.setdefault(rec["pass"], {})
            for k, v in m.items():
                acc[k] = acc.get(k, 0.0) + v
        out = {}
        for k in LAYERS:
            if k == "engine.session_s":
                out[k] = self.session_s
            elif k == "exec.core_util":
                out[k] = statistics.median(
                    p["exec.run_ms"] / (self.cores * p["action_ms"]) for p in per_pass.values())
            else:
                out[k] = statistics.median(p.get(k, 0.0) for p in per_pass.values())
        for k in STREAM_LAYERS:
            if k == "stream.first_batch_ms":
                out[k] = self.first_batch or 0.0
            else:
                out[k] = statistics.median(b[k] for b in batches) if batches else 0.0
        return out

    def _op_layers(self, log: dict, rec: dict, mine: list[dict]) -> dict:
        """One batch op execution's layer record."""
        spans = self.tracer.spans
        dur = {s["name"]: (s["end"] - s["start"]) * 1000 for s in mine}
        action = next(s for s in mine if s["name"] == "action")
        m = tracemod.op_layers(log, rec["group"], (action["start"], action["end"]), self.cores)
        m.update(tracemod.plan_stats(rec.get("plan", "")))
        first_job = len(spans)
        tracemod.attach_job_spans(
            self.tracer, log, rec["group"], rec["op"],
            [s for s in mine if s["name"] in ("build", "plan", "action")])
        for kind, ms in tracemod.self_times(mine + spans[first_job:]).items():
            m[f"self.{kind}_ms"] = ms
        # vpl.parse and vpl.validate time a separate parse of the op's
        # source; vpl.compile is the run_program call inside the build
        for k in ("vpl.parse", "vpl.validate", "vpl.compile"):
            m[f"{k}_ms"] = dur.get(k, 0.0)
        m["driver.build_ms"] = dur["build"]
        m["catalyst.plan_ms"] = dur["plan"]
        m["rows_out"] = rec["rows"] or 0
        m["action_ms"] = dur["action"]
        self.layer_records.append({"op": rec["op"], "pass": rec["pass"], "ms": rec["ms"], **m})
        return m

    def _report(self, layers: dict | None) -> int:
        ok = [r["ms"] for r in self.records if r["ms"] is not None]
        attempted = len(self.records)
        failed = sum(1 for r in self.records if r["ms"] is None or r["op"] in self.failures)
        # wall_s: the pass made of each op's median time, which one slow
        # execution cannot move
        e2e = {
            "setup_s": self.setup_s,
            "wall_s": sum(_median_by_op(self.records).values()) / 1000,
            "op_p50_ms": hd_median(ok) if ok else float("nan"),
        }
        tag = f"{self.args.workload}-seed{self.args.seed}" + ("-trace" if self.trace else "")
        record = {
            "workload": self.args.workload, "seed": self.args.seed, "trace": self.trace,
            "code": code_stamp(), "host": self.host, "cores": self.cores,
            "passes": len(self.pass_walls), "pass_walls": self.pass_walls,
            "phases": {"excluded_s": self.excluded, "session_s": self.session_s,
                       "collect_s": self.collect_s},
            "op_samples": len(ok), "attempted": attempted, "failed": failed,
            "failures": self.failures, "e2e": e2e, "layers": layers,
            "ops": [{k: r[k] for k in ("op", "pass", "ms", "rows")}
                    for r in self.warm_records + self.records],
        }
        if self.trace:
            record["layer_records"] = self.layer_records
            record["self_ms"] = tracemod.self_times(self.tracer.spans)
            self.tracer.write(os.path.join(OUT_DIR, f"{tag}-spans.jsonl"))
        with open(os.path.join(OUT_DIR, f"{tag}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)

        h = self.host
        print(f"host nproc={h['nproc']} cores={self.cores} loadavg_start={h['loadavg_start']} "
              f"loadavg_end={h['loadavg_end']} steal_share={h['steal_share']:.4f} "
              f"gemm_s={h['gemm_s']:.4f} py_loop_s={h['py_loop_s']:.4f} "
              f"python={h['python']} spark={h['spark']}")
        for name, reason in sorted(self.failures.items()):
            print(f"FAIL {name}: {reason}")
        n = len(ok)
        print(f"op_fail_ratio {failed}/{attempted} = {failed / attempted:.4f}")
        for k, v in e2e.items():
            extra = f" (n={n} op samples)" if k.startswith("op_") else ""
            print(f"{k} {v:.4f} {E2E[k]}{extra}")
        # p90 is printed only when ten samples lie beyond it
        print(f"op_p90_ms {statistics.quantiles(ok, n=10)[-1]:.4f} ms (n={n})" if n >= 100
              else f"op_p90_ms n/a (n={n}; needs 100 samples)")
        units = {**LAYERS, **STREAM_LAYERS} if layers is not None else E2E
        if layers is not None:
            for k, v in layers.items():
                print(f"{k} {v:.4f} {units[k]}")
        metrics = layers if layers is not None else e2e
        print(json.dumps({
            "correct": not self.failures and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0 if failed == 0 and not self.failures else 1


def _under(spans: list[dict], s: dict, root: int) -> bool:
    while s is not None:
        if s["id"] == root:
            return True
        s = spans[s["parent"]] if s["parent"] is not None else None
    return False


def _child(args, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    tag = f"{args.workload}-seed{seed}" + ("-trace" if trace else "")
    path = os.path.join(OUT_DIR, f"{tag}.json")
    if os.path.exists(path):
        os.remove(path)
    t = time.perf_counter()
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True) as p:
        try:
            _, err = p.communicate(timeout=900)
        except BaseException:
            # SIGTERM, not SIGKILL: the child stops its JVM and removes its
            # work dir
            p.terminate()
            p.wait()
            raise
    if not os.path.exists(path):
        raise RuntimeError(f"run exited {p.returncode} without a record:\n{err[-3000:]}")
    with open(path) as f:
        rec = json.load(f)
    rec["returncode"], rec["run_s"] = p.returncode, time.perf_counter() - t
    return rec


def _stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "min": min(values), "max": max(values),
            "iqr_share": (q3 - q1) / med if med else float("nan")}


def repeat(args) -> int:
    """Steadiness mode: N child runs on seeds seed..seed+N-1."""
    runs: dict[int, list[dict]] = {0: []}
    if args.trace:
        runs[1] = []
    for i in range(args.repeat):
        # alternate which side runs first, so drift does not favour one
        order = [0, 1] if i % 2 == 0 else [1, 0]
        for tr in (o for o in order if o in runs):
            rec = _child(args, args.seed + i, tr)
            runs[tr].append(rec)
            print(f"seed={args.seed + i} trace={tr} rc={rec['returncode']} "
                  f"run_s={rec['run_s']:.1f} passes={rec['passes']} "
                  f"steal={rec['host']['steal_share']:.3f} "
                  f"failed={rec['failed']}/{rec['attempted']} "
                  + " ".join(f"{k}={v:.4f}" for k, v in rec["e2e"].items()), flush=True)
    report = {"workload": args.workload, "runs": len(runs[0]), "seconds": args.seconds,
              "code": sorted({r["code"] for rs in runs.values() for r in rs}),
              "e2e": {k: _stats([r["e2e"][k] for r in runs[0]]) for k in E2E},
              "run_s": _stats([r["run_s"] for r in runs[0]])}
    if args.trace:
        report["layers"] = {k: _stats([r["layers"][k] for r in runs[1]]) for k in LAYERS}
        report["trace_overhead"] = {
            k: statistics.median(r["e2e"][k] for r in runs[1]) - report["e2e"][k]["median"]
            for k in E2E}
    for k, s in report["e2e"].items():
        print(f"{k}: median={s['median']:.4f} q1={s['q1']:.4f} q3={s['q3']:.4f} "
              f"min={s['min']:.4f} max={s['max']:.4f} iqr/median={s['iqr_share']:.4f}")
    for k, v in report.get("trace_overhead", {}).items():
        print(f"trace_overhead {k}: {v:+.4f} {E2E[k]}")
    path = os.path.join(OUT_DIR, f"steadiness-{args.workload}{'-trace' if args.trace else ''}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"wrote {path}")
    return 0 if all(r["returncode"] == 0 for rs in runs.values() for r in rs) else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="steadiness mode: this many runs on consecutive seeds")
    args = ap.parse_args(argv)
    if args.repeat == 1:
        ap.error("--repeat needs at least 2 runs for quartiles")
    # SIGTERM unwinds like an exception, so the JVM is stopped and awaited
    # and the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.repeat:
        os.makedirs(OUT_DIR, exist_ok=True)
        return repeat(args)
    return Runner(args).run()


if __name__ == "__main__":
    sys.exit(main())
