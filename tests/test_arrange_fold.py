"""Trace folds behind the batch: a due fold runs on a worker thread after a
batch and is swapped in at the start of the next. Owners that fold every
batch must emit exactly what owners that never compact emit; a fold that
was written but never swapped, failed, or is in flight at ``release`` must
leave the trace as it was."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from differential_dataflow_spark.collection import DIFF
from differential_dataflow_spark.operators.arrange import Arrangement
from differential_dataflow_spark.session import (
    micro_batch_scope,
    micro_shuffle_partitions,
)
from differential_dataflow_spark.streaming.join import DeltaJoin
from differential_dataflow_spark.streaming.maintain import (
    CountMaintainer,
    IncrementalReachability,
)

NEVER = 10**9  # a cadence no test reaches: the trace never compacts
COUNTS = "k long, diff long"
EDGES = "src long, dst long, diff long"
ROWS = "k long, v long, diff long"

COUNT_BATCHES = [
    [(0, 1)],
    [(1, 1), (1, 1), (2, 5)],
    [(0, -4), (2, 1), (3, 2), (3, -2)],
    [(2, -6), (4, 1)],
    [(1, -2), (4, 1)],
]


def _fold_threads() -> list[threading.Thread]:
    return [
        t
        for t in threading.enumerate()
        if t.name == "arrangement-fold" and t.is_alive()
    ]


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _count_run(spark, compact_every, state_dir=None, batches=COUNT_BATCHES):
    cm = CountMaintainer(
        spark,
        ["k"],
        alias="n",
        compact_every=compact_every,
        state_dir=state_dir,
        n_buckets=4,
    )
    cm.seed_counts(spark.createDataFrame([(0, 3), (1, 1)], "k long, count long"))
    outs = [
        _rows(cm.process_batch(spark.createDataFrame(b, COUNTS))) for b in batches
    ]
    return cm, outs, _rows(cm.counts())


@pytest.mark.parametrize("durable", [False, True], ids=["memory", "state_dir"])
def test_count_maintainer_background_folds_match_no_compaction(
    spark, tmp_path, durable
):
    def state(name):
        return str(tmp_path / name) if durable else None

    never, want, want_final = _count_run(spark, NEVER, state("never"))
    never.release()
    cm, got, final = _count_run(spark, 1, state("folded"))
    assert (got, final) == (want, want_final)
    # Every batch started a fold; all but the last were swapped in.
    n = len(COUNT_BATCHES)
    assert (cm.trace.stats.folds_started, cm.trace.stats.folds_swapped) == (n, n - 1)
    assert cm.trace.stats.rows_folded > 0 and cm.trace.stats.fold_s > 0
    cm.release()
    assert not _fold_threads()


@pytest.mark.parametrize("durable", [False, True], ids=["memory", "state_dir"])
def test_delta_join_background_folds_match_no_compaction(spark, tmp_path, durable):
    left = [[(0, 1, 1), (1, 5, 1)], [(0, 2, 1)], [(0, 1, -1)], [(2, 9, 1), (0, 2, 1)]]
    right = [[(0, 10, 1)], [(1, 20, 1)], [(0, 30, 1)], [(0, 10, -1)]]

    def run(name, compact_every):
        dj = DeltaJoin(
            spark,
            str(tmp_path / name) if durable else None,
            on=["k"],
            compact_every=compact_every,
        )
        outs = []
        for le, re in zip(left, right):
            out = dj.process_batch(
                spark.createDataFrame(le, "k long, v1 long, diff long"),
                spark.createDataFrame(re, "k long, v2 long, diff long"),
            )
            outs.append(_rows(out))
        state = {}
        for side, tv in dj._dq.traces.items():
            v = tv.view()
            payload = [c for c in v.columns if c != DIFF]
            state[side] = _rows(
                v.groupBy(*payload)
                .agg(F.sum(DIFF).alias(DIFF))
                .filter(F.col(DIFF) != 0)
            )
        return dj, outs, state

    never, want, want_state = run("never", NEVER)
    never.release()
    dj, got, state = run("folded", 1)
    assert (got, state) == (want, want_state)
    assert all(tv.stats.folds_swapped == len(left) - 1 for tv in dj._dq.traces.values())
    dj.release()
    assert not _fold_threads()


def test_maintained_fixpoint_background_folds_match_no_compaction(spark):
    chain = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (1, 5)], "src long, dst long"
    )
    roots = spark.createDataFrame([(0,)], "node long")
    batches = [
        [(4, 6, 1), (6, 7, 1)],
        # mixed: cut the chain below 1 and attach its tail elsewhere
        [(1, 2, -1), (5, 3, 1), (7, 8, 1)],
        [(0, 1, -1)],
        [(0, 1, 1), (5, 3, -1)],
    ]

    def run(compact_every):
        ir = IncrementalReachability(spark, chain, roots, compact_every=compact_every)
        outs = [
            _rows(ir.process_batch(spark.createDataFrame(b, EDGES))) for b in batches
        ]
        facts = _rows(ir.reached_nodes())
        return ir, outs, facts

    never, want, want_facts = run(NEVER)
    never.release()
    ir, got, facts = run(1)
    assert (got, facts) == (want, want_facts)
    assert ir._fx.derived.stats.folds_swapped >= len(batches) - 1
    ir.release()
    assert not _fold_threads()


def test_unswapped_fold_is_deleted_on_reopen(spark, tmp_path):
    root = tmp_path / "trace"
    arr = Arrangement(spark, str(root), key=["k"], compact_every=1)
    arr.seed(spark.createDataFrame([(1, 10, 1), (2, 20, 1)], ROWS))
    arr.append(spark.createDataFrame([(1, 10, -1), (1, 11, 1)], ROWS))
    want = _rows(arr.lookup([1]))
    assert want == [(1, 11, 1)]
    arr.maybe_compact()
    fold = arr._pending
    fold.thread.join()
    assert fold.error is None and (root / fold.desc["path"]).exists()
    # The process dies here: the fold is written but never swapped in.
    again = Arrangement(spark, str(root), key=["k"])
    assert not (root / fold.desc["path"]).exists()
    assert len(again.batches) == 2
    assert _rows(again.lookup([1])) == want
    again.compact()
    assert _rows(again.lookup([1])) == want


class _Boom(Exception):
    pass


def test_failed_fold_reraises_at_the_next_batch(spark, monkeypatch):
    never, want, want_final = _count_run(spark, NEVER)
    never.release()
    cm, got, _ = _count_run(spark, 1, batches=COUNT_BATCHES[:2])
    cm.trace._pending.thread.join()  # the second batch's fold runs as usual

    def boom(self, fold, since=None):
        raise _Boom()

    # The fold the third batch starts fails on its worker ...
    monkeypatch.setattr(Arrangement, "_run", boom)
    third = spark.createDataFrame(COUNT_BATCHES[2], COUNTS)
    got.append(_rows(cm.process_batch(third)))
    cm.trace._pending.thread.join()
    monkeypatch.undo()
    nxt = spark.createDataFrame(COUNT_BATCHES[3], COUNTS)
    # ... and re-raises at the owner's next call, which applies nothing.
    with pytest.raises(_Boom):
        cm.process_batch(nxt)
    # The trace is as it was: the stream goes on as if nothing failed.
    for b in COUNT_BATCHES[3:]:
        got.append(_rows(cm.process_batch(spark.createDataFrame(b, COUNTS))))
    assert got == want
    assert _rows(cm.counts()) == want_final
    cm.release()


def test_fold_partitions_ignore_a_concurrent_micro_batch_scope(spark):
    # The fold partitions by key into a count derived from the base's row
    # count, so a micro_batch_scope another thread holds (it sets the
    # session-wide shuffle partitions) does not change its plan.
    def fold_partitions():
        arr = Arrangement(spark, key=["k"], compact_every=1)
        one = F.lit(1).cast("long").alias(DIFF)
        arr.seed(spark.range(100).select((F.col("id") % 7).alias("k"), one))
        arr.append(spark.range(10).select(F.col("id").alias("k"), one))
        want = micro_shuffle_partitions(arr.base_rows)
        arr.compact()
        n = arr.base.rdd.getNumPartitions()
        arr.release()
        return n, want

    alone = fold_partitions()
    inside, leave = threading.Event(), threading.Event()

    def hold_scope():
        with micro_batch_scope(spark, 10**9):
            inside.set()
            leave.wait(120)

    other = threading.Thread(target=hold_scope)
    other.start()
    try:
        assert inside.wait(60)
        scoped = spark.conf.get("spark.sql.shuffle.partitions")
        assert scoped == str(micro_shuffle_partitions(10**9))
        beside = fold_partitions()
    finally:
        leave.set()
        other.join()
    assert alone == beside
    assert alone[0] == alone[1]


def test_negative_support_resets_only_when_the_swap_leaves_no_parts(spark):
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    ir = IncrementalReachability(
        spark, edges, spark.createDataFrame([(0,)], "node long"), compact_every=1
    )
    fx = ir._fx

    def batch(rows):
        return ir.process_batch(spark.createDataFrame(rows, EDGES)).count()

    batch([(2, 3, -1)])  # a deletion: the edge trace holds a negative row
    assert fx._input_neg["edge"]
    # A part sealed after the fold's snapshot survives the swap beside it,
    # and may hold negative rows: the flag stays.
    fx.inputs["edge"].append(
        spark.range(0).select(
            F.col("id").alias("src"), F.col("id").alias("dst"), F.col("id").alias(DIFF)
        )
    )
    batch([(3, 4, 1)])
    assert fx._input_neg["edge"]
    # The next swap folds everything: no part is left, and the flag resets.
    batch([(4, 5, 1)])
    assert not fx._input_neg["edge"]
    assert _rows(ir.reached_nodes()) == [(0,), (1,), (2,)]
    ir.release()


def test_swap_reports_whether_parts_remain(spark):
    arr = Arrangement(spark, key=["k"], compact_every=1)
    arr.seed(spark.createDataFrame([(1, 1)], COUNTS))
    part = spark.createDataFrame([(1, -1), (2, 1)], COUNTS)
    assert not arr.swap()  # nothing pending
    arr.append(part)
    arr.maybe_compact()
    arr.append(part)  # sealed after the snapshot: kept by the swap
    assert not arr.swap()
    assert len(arr.parts) == 1 and arr.stats.folds_swapped == 1
    arr.maybe_compact()
    assert arr.swap() and arr.parts == []
    assert _rows(arr.view()) == [(1, -1), (2, 2)]
    assert arr.stats.rows_folded == 1 + 2
    arr.release()
