"""Tests of the benchmark itself (no Spark session needed).

Run: python3 -m pytest cepbench/tests -q
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import numpy as np
import pytest

from cepbench import gen, ops, oracle, run, spans

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_generator_is_deterministic_for_a_seed():
    a, b = gen.events_table(7, 30), gen.events_table(7, 30)
    assert a.equals(b)
    assert not a.equals(gen.events_table(8, 30))


def test_other_seeds_keep_sizes_and_shape():
    for seed in (1, 2, 3):
        t = gen.events_table(seed, 150)
        assert t.num_rows == 10_000
        assert t.schema == gen.events_table(1, 150).schema
        eid = t.column("event_id").to_numpy()
        ts = t.column("ts").cast("int64").to_numpy()
        assert sorted(eid) == list(range(t.num_rows))
        # event_id follows ts; the file order is out of order by a bounded amount
        assert (np.diff(ts[np.argsort(eid)]) >= 0).all()
        assert np.abs(eid - np.arange(t.num_rows)).max() <= gen.OOO_ROWS
        types = t.column("event_type").to_pylist()
        shares = [types.count(x) / len(types) for x in gen.EVENT_TYPES]
        assert max(shares) - min(shares) < 0.04
        span_days = (ts.max() - ts.min()) / 86_400e6
        assert 29 < span_days <= 30


def test_corrupted_result_fails_the_gate(tmp_path):
    data = gen.write_tables(str(tmp_path), {"events": gen.events_table(3, 20)})
    op = next(o for o in ops.cep_ops(("vpl_filter_emit",)))
    orc = oracle.Oracle(data, ("events",), 1)
    cols, rows = orc.rows(op.oracle)
    assert rows and oracle.compare(cols, rows, cols, rows) is None

    bad = list(rows)
    bad[0] = bad[0][:-1] + (bad[0][-1] + 0.01,)
    runner = run.Runner(SimpleNamespace(workload="cep_small", trace=0, seed=3))
    runner.ops, runner.records = [op], []
    runner.data_dir = data
    runner.expected = {op.name: (cols, rows)}
    runner.expected_count = {op.name: len(rows)}
    runner._gate([(cols, bad)])
    assert "oracle mismatch" in runner.failures[op.name]

    assert "rows" in oracle.compare(cols, rows[1:], cols, rows)
    runner.failures.clear()
    runner.records = [{"op": op.name, "rows": len(rows) + 1, "ms": 1.0}]
    runner._gate([(cols, rows)])
    assert "rows != oracle" in runner.failures[op.name]


def test_stream_rows_are_checked_against_the_batch_twin(tmp_path):
    """A streaming op that lost a match fails the gate; the batch twin is
    itself checked against DuckDB."""
    events = gen.events_table(4, 60)
    spool = tmp_path / "spool"
    gen.spool(str(spool), events, 3)
    data = gen.write_tables(str(tmp_path / "all"), {"events": events})
    orc = oracle.Oracle(data, ("events",), 1)
    cols, want = orc.rows(ops.STREAM_ORACLE)
    orc.close()
    assert len(want) > 1

    class FakeStream:
        name = ops.STREAM_OP

        def __init__(self, rows, twin_rows):
            self.rows, self.twin_rows = rows, twin_rows

        def fed_paths(self):
            return sorted(str(p) for p in spool.iterdir())

        def twin(self, spark, data_dir):
            return cols, self.twin_rows

    runner = run.Runner(SimpleNamespace(workload="cep_small", trace=0, seed=4))
    runner.stream = FakeStream(list(want), list(want))
    runner._check_stream(None, str(tmp_path))
    assert not runner.failures
    runner.stream = FakeStream(want[1:], list(want))
    runner._check_stream(None, str(tmp_path / "b"))
    assert "batch twin mismatch" in runner.failures[ops.STREAM_OP]
    runner.failures.clear()
    runner.stream = FakeStream(want[1:], want[1:])
    runner._check_stream(None, str(tmp_path / "c"))
    assert "batch twin mismatch" in runner.failures[ops.STREAM_OP]


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {**run.LAYERS, **run.STREAM_LAYERS}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_every_op_has_an_oracle_and_workload_ops_exist():
    names = [o.name for o in ops.cep_ops()]
    assert len(names) == len(set(names)) == 35
    assert all(o.oracle.strip() for o in ops.cep_ops())
    for only in (ops.SMALL_OPS, ops.LARGE_OPS):
        assert [o.name for o in ops.cep_ops(only)] == [n for n in names if n in only]
        assert len(set(only)) == len(only)
    # every VPL program is timed in cep_small
    assert set(ops.VPL_PROGRAMS) <= set(ops.SMALL_OPS)
    # cep_large checks every timed execution's row count
    assert all(o.action == "count" for o in ops.cep_ops(ops.LARGE_OPS))
    with pytest.raises(ValueError):
        ops.cep_ops(("no_such_op",))


def test_workloads_have_spool_files_for_every_pass():
    assert run.spool_files(run.WORKLOADS["cep_small"]["users"]) == 12
    for name, wl in run.WORKLOADS.items():
        assert run.max_passes(name) >= wl["passes"] >= 2
        rows = gen.events_table(1, wl["users"]).num_rows
        assert rows // run.spool_files(wl["users"]) >= ops.STREAM_FILE_ROWS


def test_hd_median():
    assert run.hd_median([5.0]) == pytest.approx(5.0)
    assert run.hd_median([1.0, 2.0, 3.0]) == pytest.approx(2.0)
    assert run.hd_median([1.0, 2.0, 3.0, 10.0]) == pytest.approx(
        run.hd_median([10.0, 3.0, 2.0, 1.0]))
    # between the middle samples, and moved only a little by one far sample
    xs = [100.0, 110.0, 150.0, 200.0, 210.0, 220.0]
    assert 150 < run.hd_median(xs) < 200
    assert run.hd_median(xs[:-1] + [2000.0]) - run.hd_median(xs) < 60


def test_wall_is_the_pass_of_per_op_medians():
    recs = [{"op": "a", "ms": ms} for ms in (100.0, 900.0, 110.0)]
    recs += [{"op": "b", "ms": 50.0}, {"op": "b", "ms": None}]
    assert run._median_by_op(recs) == {"a": 110.0, "b": 50.0}


def test_self_time_subtracts_children():
    s = [
        {"id": 0, "parent": None, "op": "q", "name": "op", "start": 0.0, "end": 1.0},
        {"id": 1, "parent": 0, "op": "q", "name": "action", "start": 0.2, "end": 1.0},
        {"id": 2, "parent": 1, "op": "q", "name": "job 3", "start": 0.3, "end": 0.6},
        {"id": 3, "parent": 1, "op": "q", "name": "job 4", "start": 0.5, "end": 0.9},
    ]
    got = spans.self_times(s)
    assert got["op"] == pytest.approx(200)
    assert got["action"] == pytest.approx(200)
    assert got["job"] == pytest.approx(700)


def test_event_log_parser(tmp_path):
    def task(stage, launch, finish, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish,
                              "Getting Result Time": 0,
                              "Accumulables": [
                                  {"Name": "time to run Python workers", "Update": 5},
                                  {"Name": "time to initialize Python workers",
                                   "Update": 900}]},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 2e6,
                                 "Executor Deserialize Time": 1,
                                 "Result Serialization Time": 1,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g"}},
        task(0, 1010, 1050, 30),
        task(0, 1010, 1060, 40),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1005, "Completion Time": 1070}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1080},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    log = spans.read_event_log(str(tmp_path))
    m = spans.op_layers(log, "g", (0.9, 1.1), cores=2)
    assert m["sched.jobs"] == 1 and m["sched.stages"] == 1 and m["sched.tasks"] == 2
    assert m["exec.run_ms"] == 70 and m["python.total_ms"] == 10
    # includes a reused worker's idle wait before the task: not reported
    assert not any(k.startswith("python.init") for k in m)
    assert m["exec.shuffle_write_bytes"] == 20
    assert m["sched.delay_ms"] == pytest.approx((40 - 32) + 2 + (50 - 42) + 2)
    assert m["driver.gap_ms"] == pytest.approx(120)
    assert spans.op_layers(log, "other", (0.9, 1.1), cores=2)["sched.jobs"] == 0


def test_plan_stats_counts_exchanges_and_python_nodes():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[], functions=[count(1)])
   +- Exchange SinglePartition, ENSURE_REQUIREMENTS
      +- MapInPandas f(x), [a]
         +- Exchange hashpartitioning(user_id, 8)
            +- FileScan parquet [user_id]"""
    assert spans.plan_stats(plan) == {"catalyst.exchanges": 2, "catalyst.python_nodes": 1}


def test_spool_splits_in_arrival_order(tmp_path):
    import pyarrow.parquet as pq

    t = gen.events_table(5, 30)
    sizes = gen.spool(str(tmp_path), t, 4)
    files = sorted(os.listdir(tmp_path))
    assert len(files) == 4 and sum(sizes) == t.num_rows and max(sizes) - min(sizes) <= 1
    back = pq.read_table([str(tmp_path / f) for f in files])
    assert back.column("event_id").to_pylist() == t.column("event_id").to_pylist()


def test_code_stamp_is_stable():
    assert run.code_stamp() == run.code_stamp()
    assert len(run.code_stamp()) == 12
