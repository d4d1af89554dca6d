"""Incremental join tests: native stream-stream weighted join and the
arrangement-backed DeltaJoin vs the batch engine's differential join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from differential_dataflow_spark import DiffCollection
from differential_dataflow_spark.streaming.join import DeltaJoin, stream_stream_join
from differential_dataflow_spark.streaming.sink import ExactlyOnceSink
from differential_dataflow_spark.streaming.source import EpochFeeder, run_to_completion


def test_stream_stream_join_native(spark, tmp_path):
    """Native SS join: users joined to responses as epochs arrive; total
    consolidated output equals the batch differential join."""
    lf = EpochFeeder(spark, str(tmp_path / "l"), "k long, v1 long")
    rf = EpochFeeder(spark, str(tmp_path / "r"), "k long, v2 long")
    l_epochs = [[(0, 1, 1)], [(1, 3, 1)], [(0, 2, 1)]]
    r_epochs = [[(0, 10, 1)], [(0, 11, 1), (2, 20, 1)], [(1, 30, 1)]]
    for e in l_epochs:
        for u in e:
            lf.update(u[:-1], u[-1])
        lf.advance_epoch()
    for e in r_epochs:
        for u in e:
            rf.update(u[:-1], u[-1])
        rf.advance_epoch()

    joined = stream_stream_join(lf.stream(), rf.stream(), on=["k"])
    sink = ExactlyOnceSink(str(tmp_path / "out"), "ssj")
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    run_to_completion(q)
    got = sorted(
        (r.k, r.v1, r.v2, r.diff) for r in sink.read_all(spark).collect()
    )

    l_updates = [(k, v, e, d) for e, ep in enumerate(l_epochs) for (k, v, d) in ep]
    r_updates = [(k, v, e, d) for e, ep in enumerate(r_epochs) for (k, v, d) in ep]
    left = DiffCollection.from_updates(spark, l_updates, "k long, v1 long")
    right = DiffCollection.from_updates(spark, r_updates, "k long, v2 long")
    want = sorted(
        (k, v1, v2, d)
        for (k, v1, v2, e, d) in left.join(right, on=["k"]).updates()
    )
    assert got == want


def test_delta_join_matches_batch(spark, tmp_path):
    """Arrangement-backed Δ-join over 4 epochs, including a retraction,
    equals the batch differential join's consolidated output."""
    l_epochs = [
        [(0, 1, 1), (1, 5, 1)],
        [(0, 2, 1)],
        [(0, 1, -1)],       # retract an early row
        [(2, 9, 1)],
    ]
    r_epochs = [
        [(0, 10, 1)],
        [(1, 20, 1)],
        [(0, 30, 1)],
        [(0, 10, -1)],      # retract a matched row
    ]
    dj = DeltaJoin(spark, str(tmp_path / "state"), on=["k"], compact_every=2)
    outs = []
    for le, re in zip(l_epochs, r_epochs):
        dl = spark.createDataFrame(le, "k long, v1 long, diff long")
        dr = spark.createDataFrame(re, "k long, v2 long, diff long")
        out = dj.process_batch(dl, dr)
        if out is not None:
            outs.append(out.collect())

    acc: dict[tuple, int] = {}
    for batch in outs:
        for r in batch:
            key = (r.k, r.v1, r.v2)
            acc[key] = acc.get(key, 0) + r.diff
    got = sorted((k + (d,)) for k, d in acc.items() if d != 0)

    l_updates = [(k, v, e, d) for e, ep in enumerate(l_epochs) for (k, v, d) in ep]
    r_updates = [(k, v, e, d) for e, ep in enumerate(r_epochs) for (k, v, d) in ep]
    left = DiffCollection.from_updates(spark, l_updates, "k long, v1 long")
    right = DiffCollection.from_updates(spark, r_updates, "k long, v2 long")
    final = left.join(right, on=["k"]).consolidate_final().collect()
    want = sorted((r.k, r.v1, r.v2, r.diff) for r in final)
    assert got == want


def test_delta_join_one_sided_batches(spark, tmp_path):
    dj = DeltaJoin(spark, str(tmp_path / "state"), on=["k"])
    with pytest.raises(ValueError):
        dj.process_batch(None, None)  # a batch needs at least one side
    dl = spark.createDataFrame([(0, 1, 1)], "k long, v1 long, diff long")
    assert dj.process_batch(dl, None) is None  # right side unknown yet
    dr = spark.createDataFrame([(0, 7, 1)], "k long, v2 long, diff long")
    out = dj.process_batch(None, dr)
    assert [(r.k, r.v1, r.v2, r.diff) for r in out.collect()] == [(0, 1, 7, 1)]
    # a second left delta joins against accumulated right trace
    dl2 = spark.createDataFrame([(0, 2, 2)], "k long, v1 long, diff long")
    out2 = dj.process_batch(dl2, None)
    assert [(r.k, r.v1, r.v2, r.diff) for r in out2.collect()] == [(0, 2, 7, 2)]


def test_delta_join_resumes_from_state_dir(spark, tmp_path):
    """A NEW DeltaJoin attached to a populated state_dir must continue the
    stream (trace import + epoch counter restart), not reset it — the
    checkpoint-resumability contract. First incarnation processes 2 epochs,
    the second processes 2 more; the accumulated output must equal the batch
    differential join of all 4."""
    l_epochs = [
        [(0, 1, 1)],
        [(1, 5, 1)],
        [(0, 2, 1)],
        [(0, 1, -1)],
    ]
    r_epochs = [
        [(0, 10, 1)],
        [(0, 11, 1)],
        [(1, 20, 1)],
        [(1, 20, 1)],
    ]
    acc: dict[tuple, int] = {}

    def run(dj, lo, hi):
        for le, re in zip(l_epochs[lo:hi], r_epochs[lo:hi]):
            dl = spark.createDataFrame(le, "k long, v1 long, diff long")
            dr = spark.createDataFrame(re, "k long, v2 long, diff long")
            out = dj.process_batch(dl, dr)
            if out is not None:
                for r in out.collect():
                    key = (r.k, r.v1, r.v2)
                    acc[key] = acc.get(key, 0) + r.diff

    dj1 = DeltaJoin(spark, str(tmp_path / "state"), on=["k"], compact_every=3)
    run(dj1, 0, 2)
    dj2 = DeltaJoin(spark, str(tmp_path / "state"), on=["k"], compact_every=3)
    assert dj2.epoch == 2  # resumed past the sealed epochs
    run(dj2, 2, 4)
    got = sorted((k + (d,)) for k, d in acc.items() if d != 0)

    l_updates = [(k, v, e, d) for e, ep in enumerate(l_epochs) for (k, v, d) in ep]
    r_updates = [(k, v, e, d) for e, ep in enumerate(r_epochs) for (k, v, d) in ep]
    left = DiffCollection.from_updates(spark, l_updates, "k long, v1 long")
    right = DiffCollection.from_updates(spark, r_updates, "k long, v2 long")
    final = left.join(right, on=["k"]).consolidate_final().collect()
    want = sorted((r.k, r.v1, r.v2, r.diff) for r in final)
    assert got == want
