"""Contract of partition_driver.apply_per_key: `run(key_tuple, cols)`
gets each key's numpy column slices in (ts, order) order and returns rows;
the driver assembles one output frame per partition."""

from datetime import datetime, timedelta

import numpy as np
import pytest

from varpulis_spark.operators.partition_driver import apply_per_key

T0 = datetime(2024, 1, 1)


def _events(spark, rows):
    return spark.createDataFrame(
        [(k, T0 + timedelta(seconds=s), o, v) for k, s, o, v in rows],
        "k string, ts timestamp, o long, v double",
    )


def test_all_null_keys_form_one_group(spark):
    df = _events(
        spark,
        [("a", 1, 1, 1.0), (None, 2, 2, 2.0), ("a", 3, 3, 3.0),
         (None, 4, 4, 4.0), (None, 5, 5, 5.0), ("b", 6, 6, 6.0)],
    )

    def run(key, cols):
        return [[key[0], len(cols["v"]), float(cols["v"].sum())]]

    out = apply_per_key(
        df, ["k"], run, "k string, n long, s double", ["k", "n", "s"], ["ts", "o"]
    ).collect()
    assert sorted((r.k or "", r.n, r.s) for r in out) == [
        ("", 3, 11.0), ("a", 2, 4.0), ("b", 1, 6.0),
    ]


def test_slices_arrive_in_ts_then_order_order(spark):
    rng = np.random.default_rng(7)
    rows = [
        (f"u{i % 5}", int(s), int(o), 0.0)
        for i, (s, o) in enumerate(zip(rng.integers(0, 4, 200), rng.permutation(200)))
    ]
    df = _events(spark, rows).repartition(3)

    def run(key, cols):
        pairs = list(zip(cols["__ts"].tolist(), cols["o"].tolist()))
        return [[key[0], pairs == sorted(pairs), len(pairs)]]

    out = apply_per_key(
        df, ["k"], run, "k string, ordered boolean, n long",
        ["k", "ordered", "n"], ["ts", "o"],
    ).collect()
    assert sorted(r.k for r in out) == [f"u{i}" for i in range(5)]
    assert all(r.ordered for r in out)
    assert sum(r.n for r in out) == 200


def test_ts_column_is_int64_ns(spark):
    df = _events(spark, [("a", 1, 1, 0.0)])

    def run(key, cols):
        return [[key[0], str(cols["__ts"].dtype), int(cols["__ts"][0])]]

    out = apply_per_key(
        df, ["k"], run, "k string, dt string, ts_ns long", ["k", "dt", "ts_ns"],
        ["ts", "o"],
    ).collect()
    seen = [(r.dt, r.ts_ns) for r in out]
    expected_ns = int((T0 + timedelta(seconds=1) - datetime(1970, 1, 1)).total_seconds()) * 10**9
    assert seen == [("int64", expected_ns)]


@pytest.mark.parametrize("n_rows", [0, 1])
def test_empty_partitions_yield_the_schema(spark, n_rows):
    # one key (or none) over several shuffle partitions: the empty ones
    # must still produce a frame the declared schema accepts
    df = _events(spark, [("a", 1, 1, 1.0)][:n_rows])

    def run(key, cols):
        return [[key[0], len(cols["v"])]]

    out = apply_per_key(df, ["k"], run, "k string, n long", ["k", "n"], ["ts", "o"])
    assert [f.name for f in out.schema.fields] == ["k", "n"]
    assert out.rdd.getNumPartitions() > 1
    assert [tuple(r) for r in out.collect()] == [("a", 1)][:n_rows]


def test_multi_row_output_assembles(spark):
    df = _events(
        spark, [(f"u{i % 4}", i, i, float(i)) for i in range(40)]
    )

    def run(key, cols):
        return [[key[0], q, float(cols["v"].sum()) * q] for q in (1, 2, 3)]

    out = apply_per_key(
        df, ["k"], run, "k string, q int, s double", ["k", "q", "s"], ["ts", "o"]
    ).collect()
    sums = {f"u{j}": float(sum(range(j, 40, 4))) for j in range(4)}
    assert sorted(tuple(r) for r in out) == sorted(
        (k, q, s * q) for k, s in sums.items() for q in (1, 2, 3)
    )


def test_trend_aggregate_multi_rows_match_per_key_dp(spark):
    from varpulis_spark.operators.greta import _greta_dp, trend_aggregate_multi
    from varpulis_spark.stream import Stream

    rng = np.random.default_rng(3)
    rows = []
    for i in range(60):
        rows.append((f"u{i % 3}", ["A", "B"][i % 2], i, float(rng.integers(0, 9))))
    df = spark.createDataFrame(
        [(k, e, T0 + timedelta(seconds=s), s, v) for k, e, s, v in rows],
        "user_id string, event_type string, ts timestamp, o long, value double",
    )
    rising = lambda cols, i: cols["value"][:i] < cols["value"][i]  # noqa: E731
    queries = {
        "a_rising": {"event_type": "A", "adjacent_vec": rising, "value_field": "value"},
        "a_count": {"event_type": "A", "adjacent_vec": rising},
        "b_within": {"event_type": "B", "within": "4s", "value_field": "value"},
    }
    s = Stream(df, ts_col="ts", order_col="o", keys=["user_id"])
    got = {
        (r.user_id, r.query): (r.trend_count, r.event_count, r.value_sum)
        for r in trend_aggregate_multi(s, queries).collect()
    }
    assert len(got) == 9
    for user in ("u0", "u1", "u2"):
        for name, q in queries.items():
            ev = [r for r in rows if r[0] == user and r[1] == q["event_type"]]
            ts = np.array([r[2] * 10**9 for r in ev], dtype=np.int64)
            vals = np.array([r[3] for r in ev])
            within = 4 * 10**9 if "within" in q else None
            tc, ec, vs = _greta_dp(
                ts, vals, {"value": vals}, None, q.get("adjacent_vec"), within
            )
            want_vs = float(vs[0]) if "value_field" in q else 0.0
            assert got[(user, name)] == (tc, ec, want_vs), (user, name)
