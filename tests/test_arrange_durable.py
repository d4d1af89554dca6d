"""Durable arrangement recovery: a compaction that crashes part-way must
leave a trace that opens and answers lookups as before it started."""

from __future__ import annotations

import os

from differential_dataflow_spark import DiffCollection
from differential_dataflow_spark.operators.arrange import Arrangement


class _Crash(Exception):
    pass


def _trace(spark, root):
    arr = Arrangement(spark, root, key=["k"])
    for rows in (
        [(1, 10, 0, 1), (1, 11, 0, 1), (2, 20, 0, 1)],
        [(1, 10, 1, -1), (1, 12, 1, 1)],
    ):
        arr.insert_batch(DiffCollection.from_updates(spark, rows, "k bigint, v bigint"))
    return arr


def test_compaction_crash_keeps_the_trace(spark, tmp_path, monkeypatch):
    """Crash ``compact`` at its n-th rename/replace for n = 1, 2, ... until
    one compaction runs through: after every crash a fresh open of the
    directory must answer the pre-compaction lookup."""
    n = 1
    while True:
        root = str(tmp_path / f"trace{n}")
        arr = _trace(spark, root)
        want = sorted(tuple(r) for r in arr.lookup([1]).collect())
        assert want == [(1, 11, 1), (1, 12, 1)]
        calls = [0]

        def crashing(real):
            def call(*args, **kwargs):
                calls[0] += 1
                if calls[0] == n:
                    raise _Crash()
                return real(*args, **kwargs)

            return call

        monkeypatch.setattr(os, "rename", crashing(os.rename))
        monkeypatch.setattr(os, "replace", crashing(os.replace))
        try:
            arr.compact(since=1)
            finished = True
        except _Crash:
            finished = False
        finally:
            monkeypatch.undo()
        again = Arrangement.load(spark, root)
        assert sorted(tuple(r) for r in again.lookup([1]).collect()) == want
        if finished:
            break
        n += 1
