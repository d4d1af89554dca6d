"""Streaming engine tests: per-epoch retraction kernels against batch-oracle
recomputation, exactly-once sink replay, checkpoint restart (FIXTURES.md §7).

Each epoch = one file = one micro-batch (EpochFeeder); the consolidated
output multiset across batches must equal the incremental-count semantics of
the batch engine on the same updates — the reference's differential testing
method (tests/bfs.rs:24-120: incremental output vs sequential recompute)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from differential_dataflow_spark import DiffCollection
from differential_dataflow_spark.streaming.kernels import (
    stateful_count,
    stateful_distinct,
    stateful_reduce,
    stateful_upsert,
)
from differential_dataflow_spark.streaming.sink import ExactlyOnceSink
from differential_dataflow_spark.streaming.source import EpochFeeder, run_to_completion


def _run_stream(spark, tmp_path, build_output, epochs, schema, name):
    """Feed epochs through a kernel; return list of (payload..., epoch=batch)."""
    feeder = EpochFeeder(spark, str(tmp_path / "in"), schema)
    for epoch in epochs:
        for upd in epoch:
            feeder.update(upd[:-1], upd[-1])
        feeder.advance_epoch()
    out = build_output(feeder.stream())
    sink = ExactlyOnceSink(str(tmp_path / "out"), name)
    q = (
        out.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    run_to_completion(q)
    rows = sink.read_all(spark).collect()
    return rows, sink


def test_stateful_count_matches_batch_engine(spark, tmp_path):
    epochs = [
        [(1, 1), (1, 1), (2, 1)],   # epoch 0: k1+2, k2+1
        [(1, 1)],                   # epoch 1: k1 -> 3
        [(1, -3), (2, 1)],          # epoch 2: k1 emptied, k2 -> 2
    ]
    rows, _ = _run_stream(
        spark,
        tmp_path,
        lambda s: stateful_count(s, ["k"], "k long", alias="n"),
        epochs,
        "k long",
        "count",
    )
    got = sorted((r.k, r.n, r.diff) for r in rows)

    # Batch oracle: same updates through the batch engine's count().
    updates = [
        (k, e, d) for e, batch in enumerate(epochs) for (k, d) in batch
    ]
    oracle = (
        DiffCollection.from_updates(spark, updates, "k long")
        .count(["k"], alias="n")
        .updates()
    )
    want = sorted((k, n, d) for (k, n, e, d) in oracle)
    assert got == want
    assert (1, 3, -1) in got and (2, 2, 1) in got


def test_stateful_distinct(spark, tmp_path):
    epochs = [[(7, 2)], [(7, -2)], [(7, 5)]]
    rows, _ = _run_stream(
        spark,
        tmp_path,
        lambda s: stateful_distinct(s, ["k"], "k long"),
        epochs,
        "k long",
        "distinct",
    )
    got = sorted((r.k, r.diff) for r in rows)
    assert got == [(7, -1), (7, 1), (7, 1)]  # appear, vanish, reappear


def test_stateful_reduce_min(spark, tmp_path):
    epochs = [
        [(1, 5, 1), (1, 9, 1)],
        [(1, 3, 1)],
        [(1, 3, -1)],
    ]
    rows, _ = _run_stream(
        spark,
        tmp_path,
        lambda s: stateful_reduce(
            s, ["k"], "k long", "v", lambda vals: [(vals[0][0], 1)], "min_v"
        ),
        epochs,
        "k long, v long",
        "reduce",
    )
    got = sorted((r.k, r.min_v, r.diff) for r in rows)
    # epoch0: min 5; epoch1: retract 5, assert 3; epoch2: retract 3, back to 5
    assert got == sorted(
        [(1, 5, 1), (1, 5, -1), (1, 3, 1), (1, 3, -1), (1, 5, 1)]
    )


def test_stateful_upsert(spark, tmp_path):
    # set, overwrite, repeat-same (no change), delete
    epochs = [
        [(1, 10.0, 1)],
        [(1, 20.0, 1)],
        [(1, 20.0, 1)],
        [(1, None, 1)],
    ]
    rows, _ = _run_stream(
        spark,
        tmp_path,
        lambda s: stateful_upsert(s, ["k"], "k long", "v", "double"),
        epochs,
        "k long, v double",
        "upsert",
    )
    got = sorted((r.k, r.v, r.diff) for r in rows)
    assert got == sorted(
        [(1, 10.0, 1), (1, 10.0, -1), (1, 20.0, 1), (1, 20.0, -1)]
    )


def test_exactly_once_sink_replay(spark, tmp_path):
    sink = ExactlyOnceSink(str(tmp_path / "out"), "replay")
    df = spark.range(5).withColumnRenamed("id", "v")
    sink.write_batch(df, 0)
    sink.write_batch(df, 0)  # replayed batch must be a no-op
    sink.write_batch(df.withColumn("v", F.col("v") + 10), 1)
    total = sink.read_all(spark).count()
    assert total == 10
    lineage = sink.lineage()
    assert [e["batch_id"] for e in lineage] == [0, 1]
    assert all(e["rows"] == 5 for e in lineage)


def _read_back_counts(spark, out_dir):
    """Per-file-ordinal row counts by reading the written files back through
    Spark: the lineage computation the footer-based one replaces."""
    ordinal = F.regexp_extract(F.input_file_name(), r"part-(\d+)", 1)
    return {
        int(r["partition"]): int(r["count"])
        for r in spark.read.parquet(str(out_dir))
        .withColumn(
            "partition",
            F.when(ordinal == "", F.lit(-1)).otherwise(ordinal.cast("int")),
        )
        .groupBy("partition")
        .count()
        .collect()
    }


def test_exactly_once_sink_lineage_from_footers(spark, tmp_path):
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from differential_dataflow_spark.streaming.sink import _file_counts

    sink = ExactlyOnceSink(str(tmp_path / "out"), "lineage")
    df = spark.range(0, 103, numPartitions=4).withColumnRenamed("id", "v")
    sink.write_batch(df, 0)
    out_dir = tmp_path / "out" / "data" / "batch_id=0"
    want = _read_back_counts(spark, out_dir)
    assert len(want) == 4 and sum(want.values()) == 103
    (marker,) = sink.lineage()
    assert marker["rows"] == 103
    assert {int(k): v for k, v in marker["partition_counts"].items()} == want
    # A file whose name carries no part ordinal counts under -1, as Spark's
    # read-back keys it.
    pq.write_table(pa.table({"v": [7, 8]}), out_dir / "foreign.parquet")
    assert _file_counts(out_dir) == _read_back_counts(spark, out_dir)
    assert _file_counts(out_dir)[-1] == 2

    # An empty batch writes one zero-row file, which lineage skips.
    sink.write_batch(df.limit(0), 1)
    marker = json.loads((tmp_path / "out" / "commits" / "lineage-1.json").read_text())
    assert marker["rows"] == 0 and marker["partition_counts"] == {}


def test_exactly_once_sink_commits_none_batch(spark, tmp_path):
    # An operator with nothing to emit yet returns None (DeltaJoin before
    # both sides can join); the sink commits the batch id with no data.
    sink = ExactlyOnceSink(str(tmp_path / "out"), "none")
    sink.write_batch(None, 0)
    sink.write_batch(spark.range(0, 3, numPartitions=1).withColumnRenamed("id", "v"), 1)
    sink.write_batch(None, 1)  # already committed: skipped
    assert not (tmp_path / "out" / "data" / "batch_id=0").exists()
    assert [(e["batch_id"], e["rows"], e["partition_counts"]) for e in sink.lineage()] == [
        (0, 0, {}),
        (1, 3, {"0": 3}),
    ]
    assert sorted(r.v for r in sink.read_all(spark).collect()) == [0, 1, 2]


def test_exactly_once_sink_reads_empty_commits(spark, tmp_path):
    # Commits that hold no data read back as an empty frame; a sink that
    # has committed nothing at all has no output to read.
    sink = ExactlyOnceSink(str(tmp_path / "out"), "empty")
    with pytest.raises(FileNotFoundError):
        sink.read_all(spark)
    sink.write_batch(None, 0)
    sink.write_batch(None, 1)
    assert [e["batch_id"] for e in sink.lineage()] == [0, 1]
    out = sink.read_all(spark)
    assert out.columns == ["batch_id"] and out.count() == 0


def test_exactly_once_sink_write_is_one_job(spark, tmp_path):
    # Lineage comes from the written footers, so writing an already
    # materialized frame launches the write job and nothing else.
    from differential_dataflow_spark.session import (
        release_checkpoint,
        tracked_local_checkpoint,
    )

    sc = spark.sparkContext
    frame = tracked_local_checkpoint(spark.range(0, 50, numPartitions=3))
    sink = ExactlyOnceSink(str(tmp_path / "out"), "jobs")
    group = f"sink-jobs-{tmp_path.name}"
    tracker = sc._jsc.statusTracker()
    sc.setJobGroup(group, "ExactlyOnceSink.write_batch job count")
    try:
        before = len(tracker.getJobIdsForGroup(group))
        sink.write_batch(frame, 0)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        after = len(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    release_checkpoint(frame)
    assert after - before == 1
    assert sink.lineage()[0]["rows"] == 50


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill after epoch k, resume with the same checkpoint: final consolidated
    multiset equals the uninterrupted run (FIXTURES.md §7.7)."""
    feeder = EpochFeeder(spark, str(tmp_path / "in"), "k long")
    for upd in [(1, 1), (2, 1)]:
        feeder.update(upd[:1], upd[1])
    feeder.advance_epoch()

    sink = ExactlyOnceSink(str(tmp_path / "out"), "restart")

    def start_query():
        out = stateful_count(feeder.stream(), ["k"], "k long", alias="n")
        return (
            out.writeStream.outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .foreachBatch(sink.foreach_batch())
            .start()
        )

    q = start_query()
    q.processAllAvailable()
    q.stop()  # "crash" after epoch 0

    # More epochs arrive while the query is down.
    feeder.update((1,), 1)
    feeder.advance_epoch()
    feeder.update((1,), -2)
    feeder.advance_epoch()

    q = start_query()  # resume from checkpoint
    run_to_completion(q)

    got = sorted(
        (r.k, r.n, r.diff) for r in sink.read_all(spark).collect()
    )
    updates = [(1, 0, 1), (2, 0, 1), (1, 1, 1), (1, 2, -2)]
    oracle = (
        DiffCollection.from_updates(spark, updates, "k long")
        .count(["k"], alias="n")
        .updates()
    )
    want = sorted((k, n, d) for (k, n, e, d) in oracle)
    assert got == want


def test_streaming_native_window_aggs(spark, tmp_path):
    """Native tumbling + session window aggregations under a watermark over a
    file stream (frontier discipline: append mode emits closed windows)."""
    import datetime as dt

    from differential_dataflow_spark.streaming.windows import (
        streaming_session_agg,
        streaming_tumbling_agg,
    )

    base = dt.datetime(2025, 1, 1)
    rows = [
        ("a", base),
        ("a", base + dt.timedelta(minutes=1)),
        ("b", base + dt.timedelta(minutes=2)),
        ("a", base + dt.timedelta(minutes=40)),  # new session for a
        ("a", base + dt.timedelta(hours=3)),     # advances watermark far
    ]
    src = tmp_path / "win_in"
    spark.createDataFrame(rows, "k string, ts timestamp").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    stream = spark.readStream.schema("k string, ts timestamp").parquet(str(src))

    out = streaming_tumbling_agg(stream, "ts", "10 minutes", ["k"], "5 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("tumble_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.k, r.win_start.minute, r.n)
        for r in spark.sql("select * from tumble_out").collect()
    }
    # closed windows only: the 3h event's window is still open at stream end
    assert ("a", 0, 2) in got and ("b", 0, 1) in got and ("a", 40, 1) in got

    out2 = streaming_session_agg(stream, "ts", "30 minutes", ["k"], "5 minutes")
    q2 = (
        out2.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    q2.processAllAvailable()
    q2.stop()
    got2 = {
        (r.k, r.n) for r in spark.sql("select * from sess_out").collect()
    }
    assert ("a", 2) in got2  # first session of a: 2 events within the gap
    assert ("a", 1) in got2  # the minute-40 event is its own session
    assert ("b", 1) in got2


def test_stateful_reduce_general_struct_values(spark, tmp_path):
    # Payload-generic streaming reduce (struct values: (v long, tag string)),
    # differential vs the batch reduce kernel on the same updates — the
    # reference's reduce_core contract (src/operators/reduce.rs:240-341).
    from differential_dataflow_spark.streaming.kernels import (
        stateful_reduce_general,
    )

    epochs = [
        [(1, 5, "a", 1), (1, 9, "b", 1)],
        [(1, 3, "c", 1), (2, 7, "a", 1)],
        [(1, 3, "c", -1)],                  # retract the current minimum
    ]

    def keep_min(sorted_input):
        return [(sorted_input[0][0], 1)]

    rows, _ = _run_stream(
        spark,
        tmp_path,
        lambda s: stateful_reduce_general(
            s, ["k"], "k long", ["v", "tag"], "v long, tag string",
            keep_min, "min_v long, min_tag string",
        ),
        epochs,
        "k long, v long, tag string",
        "reduce_general",
    )
    got = sorted((r.k, r.min_v, r.min_tag, r.diff) for r in rows)

    updates = [
        (k, v, t, e, d)
        for e, batch in enumerate(epochs)
        for (k, v, t, d) in batch
    ]
    coll = DiffCollection.from_updates(
        spark, updates, "k long, v long, tag string"
    )
    oracle = coll.reduce(
        ["k"],
        lambda key, vals: [(vals[0][0], 1)],
        "min_v long, min_tag string",
    ).updates()
    want = sorted((k, v, t, d) for (k, v, t, e, d) in oracle)
    assert got == want
    # the epoch-2 retraction really moved the min back
    assert (1, 3, "c", -1) in got and got.count((1, 5, "a", 1)) == 2
