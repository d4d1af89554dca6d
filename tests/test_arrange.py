"""Arrangement/trace tests: sealed batches, point lookups at a time, frozen
views, logical compaction, cross-session import (reference tests/trace.rs
cursor-through-frontiers shape + arrangement.rs lookup semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from differential_dataflow_spark import DiffCollection
from differential_dataflow_spark.operators.arrange import Arrangement


def _arr(spark, tmp_path):
    arr = Arrangement(spark, str(tmp_path / "trace"), key=["k"])
    arr.insert_batch(
        DiffCollection.from_updates(
            spark,
            [(1, 10, 0, 1), (1, 11, 0, 1), (2, 20, 0, 1)],
            "k bigint, v bigint",
        )
    )
    arr.insert_batch(
        DiffCollection.from_updates(
            spark,
            [(1, 10, 1, -1), (1, 12, 1, 1), (3, 30, 2, 1)],
            "k bigint, v bigint",
        )
    )
    return arr


def test_lookup_at_times(spark, tmp_path):
    arr = _arr(spark, tmp_path)
    # at epoch 0: key 1 holds {10, 11}
    got0 = sorted(tuple(r) for r in arr.lookup([1], at=0).collect())
    assert got0 == [(1, 10, 1), (1, 11, 1)]
    # at epoch 1: 10 retracted, 12 asserted
    got1 = sorted(tuple(r) for r in arr.lookup([1], at=1).collect())
    assert got1 == [(1, 11, 1), (1, 12, 1)]
    # multi-key lookup, final time
    got = sorted(tuple(r) for r in arr.lookup([1, 3]).collect())
    assert got == [(1, 11, 1), (1, 12, 1), (3, 30, 1)]
    # missing key: no rows
    assert arr.lookup([99]).count() == 0


def test_freeze_and_as_collection(spark, tmp_path):
    arr = _arr(spark, tmp_path)
    frozen = arr.freeze(at=0)
    assert sorted(frozen.updates()) == [
        (1, 10, 0, 1),
        (1, 11, 0, 1),
        (2, 20, 0, 1),
    ]
    # full collection view sees all sealed batches
    assert len(arr.as_collection().updates()) == 6


def test_compact_collapses_history(spark, tmp_path):
    arr = _arr(spark, tmp_path)
    arr.compact(since=1)
    # epochs <= 1 collapsed to 1: (1,10) cancels entirely
    got = sorted(arr.as_collection().updates())
    assert got == [
        (1, 11, 1, 1),
        (1, 12, 1, 1),
        (2, 20, 1, 1),
        (3, 30, 2, 1),
    ]
    # lookup before the frontier now refuses
    with pytest.raises(ValueError):
        arr.lookup([1], at=0)
    # lookup at/after the frontier still exact
    got1 = sorted(tuple(r) for r in arr.lookup([1], at=1).collect())
    assert got1 == [(1, 11, 1), (1, 12, 1)]


def test_trace_import(spark, tmp_path):
    arr = _arr(spark, tmp_path)
    again = Arrangement.load(spark, str(tmp_path / "trace"))
    assert again.key == ["k"]
    assert sorted(tuple(r) for r in again.lookup([2]).collect()) == [(2, 20, 1)]
