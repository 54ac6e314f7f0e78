"""Checkpoint/restore parity (reference: tests/scenarios/checkpoint_*.vpl,
persistence.rs; Spark analog = checkpointLocation restart, SURVEY §2.9).

A windowed streaming query is stopped mid-replay and restarted from its
checkpoint; the combined output must equal an uninterrupted run — no loss,
no duplicates (exactly-once file sink)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from varpulis_spark import Stream
from varpulis_spark.operators import aggregates as A
from varpulis_spark import streaming as S


def test_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    base = Stream.events(spark, sf_dir).df.orderBy("ts", "event_id")
    rows = base.collect()
    half = len(rows) // 2
    schema = base.schema

    def write_file(part, name):
        spark.createDataFrame(part, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        src = [
            f for f in os.listdir(tmp_path / name) if f.endswith(".parquet")
        ][0]
        shutil.copy(tmp_path / name / src, os.path.join(src_dir, f"{name}.parquet"))
        os.utime(
            os.path.join(src_dir, f"{name}.parquet"),
            (1_700_000_000 + int(name[-1]), 1_700_000_000 + int(name[-1])),
        )

    def start_query():
        st = S.file_source(spark, src_dir, schema, max_files_per_trigger=1)
        out = (
            st.watermark("10m")
            .partition_by("user_id")
            .window("1h")
            .aggregate(n=A.count(), total=A.sum("value"))
        )
        sel = out.df.select(
            "user_id", F.unix_micros("window_start").alias("ws"), "n", "total"
        )
        return (
            sel.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    # phase 1: first half, then stop
    write_file(rows[:half], "p0")
    q = start_query()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    # phase 2: restart from checkpoint, feed the rest
    write_file(rows[half:], "p1")
    q2 = start_query()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(60)

    got = {
        (r.user_id, r.ws, r.n, round(r.total, 6))
        for r in spark.read.parquet(out_dir).collect()
    }
    exp_full = {
        (r.user_id, r.ws, r.n, round(r.total, 6))
        for r in (
            Stream.events(spark, sf_dir)
            .partition_by("user_id")
            .window("1h")
            .aggregate(n=A.count(), total=A.sum("value"))
            .df.select("user_id", F.unix_micros("window_start").alias("ws"), "n", "total")
            .collect()
        )
    }
    # emitted windows are exactly correct (subset closed by watermark) and
    # no duplicates across the restart
    assert got <= exp_full
    assert len(got) >= len(exp_full) * 0.7
    rows_out = spark.read.parquet(out_dir).groupBy("user_id", "ws").count().collect()
    assert all(r["count"] == 1 for r in rows_out)  # exactly-once


def test_checkpoint_restart_stream_stream_join(spark, sf_dir, tmp_path):
    """Stream-stream join across a restart: join state (the open window
    buffers) restores from the checkpoint, so pairs spanning the stop
    point still emit exactly once — the reference's persisted JoinBuffer
    (persistence.rs) analog."""
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    base = Stream.events(spark, sf_dir).df.orderBy("ts", "event_id")
    rows = base.collect()
    half = len(rows) // 2
    schema = base.schema

    def write_file(part, name):
        spark.createDataFrame(part, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        src = [f for f in os.listdir(tmp_path / name) if f.endswith(".parquet")][0]
        shutil.copy(tmp_path / name / src, os.path.join(src_dir, f"{name}.parquet"))
        os.utime(os.path.join(src_dir, f"{name}.parquet"),
                 (1_700_000_000 + int(name[-1]), 1_700_000_000 + int(name[-1])))

    def start_query():
        a = S.file_source(spark, src_dir, schema, max_files_per_trigger=1).of_type("view")
        b = S.file_source(spark, src_dir, schema, max_files_per_trigger=1).of_type("click")
        j = a.join(b, on="user_id", window="2h", self_alias="a", other_alias="b")
        sel = j.df.select("user_id", "a_event_id", "b_event_id")
        return (
            sel.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    write_file(rows[:half], "p0")
    q = start_query()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    write_file(rows[half:], "p1")
    q2 = start_query()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(60)

    got = [
        (r.user_id, r.a_event_id, r.b_event_id)
        for r in spark.read.parquet(out_dir).collect()
    ]
    want = {
        (r.user_id, r.a_event_id, r.b_event_id)
        for r in (
            Stream.events(spark, sf_dir, "view")
            .join(Stream.events(spark, sf_dir, "click"),
                  on="user_id", window="2h", self_alias="a", other_alias="b")
            .df.select("user_id", "a_event_id", "b_event_id").collect()
        )
    }
    assert want, "fixture produced no view-click pairs"
    assert len(got) == len(set(got)), "duplicate pairs across restart"
    assert set(got) == want, "join state lost or corrupted across restart"


def test_pattern_restart_keeps_checkpointed_state_partitions(spark, sf_dir, tmp_path):
    """A pattern checkpoint made with 8 state partitions (the count before
    streaming.start_query set min(task slots, 8)) restarts under the new
    rule: Spark keeps the count recorded in the checkpoint, and the rows
    across the restart equal an uninterrupted run's."""
    from varpulis_spark.operators.sase import Pattern, step

    base = Stream.events(spark, sf_dir).df.orderBy("ts", "event_id")
    rows = base.collect()
    half = len(rows) // 2
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)

    def write_file(part, name, stamp):
        tmp = str(tmp_path / name)
        spark.createDataFrame(part, base.schema).coalesce(1).write.parquet(tmp)
        (f,) = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        dst = os.path.join(src_dir, f"{name}.parquet")
        shutil.copy(os.path.join(tmp, f), dst)
        os.utime(dst, (stamp, stamp))

    pattern = Pattern(
        steps=[step("signup", "a"), step("purchase", "b")],
        within="6h",
        emit={"user_id": ("a", "user_id"), "a_id": ("a", "event_id"),
              "b_id": ("b", "event_id")},
        partition_by=["user_id"],
    )

    def writer(ckpt, got):
        src = S.file_source(spark, src_dir, base.schema,
                            max_files_per_trigger=1, order_col="event_id")
        out = S.apply_pattern_streaming(src, pattern)

        def sink(df, _epoch):
            got.extend(tuple(r) for r in df.select("user_id", "a_id", "b_id").collect())

        return out, (out.df.writeStream.foreachBatch(sink)
                     .option("checkpointLocation", ckpt))

    def drain(q):
        q.processAllAvailable()
        parts = {o["numShufflePartitions"]
                 for p in q.recentProgress for o in p["stateOperators"]}
        q.stop()
        q.awaitTermination(60)
        return parts

    # phase 1 under the old fixed count of 8, started without start_query
    write_file(rows[:half], "p0", 1_700_000_000)
    restarted: list = []
    ckpt = str(tmp_path / "ckpt")
    _, w = writer(ckpt, restarted)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = w.start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert drain(q) == {8}

    # phase 2: restart through start_query, which asks for min(slots, 8)
    write_file(rows[half:], "p1", 1_700_000_001)
    out, w = writer(ckpt, restarted)
    assert drain(S.start_query(w, out)) == {8}

    whole: list = []
    out, w = writer(str(tmp_path / "ckpt_whole"), whole)
    assert drain(S.start_query(w, out)) == {
        min(spark.sparkContext.defaultParallelism, 8)}
    assert len(whole) > 0
    assert len(restarted) == len(set(restarted))  # no duplicate across restart
    assert sorted(restarted) == sorted(whole)
