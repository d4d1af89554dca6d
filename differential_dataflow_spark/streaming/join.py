"""Incremental joins for streams (reference src/operators/join.rs).

Two realizations of the differential join, matching the reference's
``join_core`` semantics (src/operators/join.rs:255-556: each new batch from
one side is matched against the other side's trace, diffs multiply):

1. ``stream_stream_join`` — the native Structured Streaming stream-stream
   equi-join. Spark keeps both sides' state and emits each matched pair
   exactly once as rows arrive: exactly the update stream
   ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB of the differential join. Weight multiplication is
   a projection; watermarks bound state like trace compaction
   (src/trace/mod.rs:79-114 logical compaction ≈ state eviction).

2. ``DeltaJoin`` — the micro-batch join for ``foreachBatch`` pipelines: a
   two-relation ``DeltaQuery`` (streaming/delta_query.py), so each side's
   history is an ``operators.arrange.Arrangement`` — the engine's single
   trace type, shared by join state, counts and point queries
   (src/trace/mod.rs:1-8). In memory by default; with ``state_dir`` the
   traces are durable and a new ``DeltaJoin`` on a populated directory
   resumes the stream.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from differential_dataflow_spark.collection import DIFF
from differential_dataflow_spark.streaming.delta_query import DeltaQuery


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """Weighted inner equi-join of two streaming update DataFrames (each with
    a ``diff`` column). Output diff = diff_l * diff_r
    (src/operators/join.rs:55-64)."""
    on = list(on)
    l = left.withColumnRenamed(DIFF, "__diff_l")
    r = right.withColumnRenamed(DIFF, "__diff_r")
    joined = l.join(r, on, "inner")
    return joined.withColumn(
        DIFF, F.col("__diff_l") * F.col("__diff_r")
    ).drop("__diff_l", "__diff_r")


class DeltaJoin:
    """Incremental equi-join for micro-batch pipelines: the delta rule
    ΔL ⋈ R  ∪  L ⋈ ΔR  ∪  ΔL ⋈ ΔR of a two-relation :class:`DeltaQuery`.

    Each side is one relation ``(on..., __left|__right)``: the keys plus a
    struct of the side's other columns (a constant when there are none), so
    the relations are fixed at construction — a side can be sealed before
    the other side's first frame, and a resumed ``state_dir`` needs no
    column discovery. Outputs are ``(on..., left cols..., right cols...,
    diff)``.
    """

    SIDES = ("left", "right")

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str | None,
        on: Sequence[str],
        compact_every: int = 8,
    ):
        """``state_dir=None`` keeps both traces in memory (a round re-reads
        no files); a directory makes them durable and resumable."""
        self.on = list(on)
        rels = {s: (*self.on, f"__{s}") for s in self.SIDES}
        self._dq = DeltaQuery(
            spark,
            relations=rels,
            atoms=list(rels.items()),
            compact_every=compact_every,
            state_dir=state_dir,
        )

    @property
    def epoch(self) -> int:
        """Batches processed, counting those of a resumed ``state_dir``."""
        return self._dq.epoch

    def _rows(self, side: str, df: DataFrame) -> DataFrame:
        payload = [c for c in df.columns if c not in self.on and c != DIFF]
        packed = F.struct(*payload) if payload else F.lit(True)
        return df.select(*self.on, packed.alias(f"__{side}"), DIFF)

    def seed(self, side: str, df: DataFrame) -> None:
        """Pre-load one side's trace with existing state ``(key..., payload...,
        diff)`` — the bulk-load that precedes incremental maintenance
        (one-time O(state); key-partitioned so later lookups co-locate)."""
        self._dq.traces[side].seed(self._rows(side, df))

    def process_batch(
        self, delta_left: DataFrame | None, delta_right: DataFrame | None
    ) -> DataFrame | None:
        """Apply one epoch of deltas; returns the join's output delta:
        ΔL ⋈ R  ∪  L ⋈ ΔR  ∪  ΔL ⋈ ΔR, diffs multiplied, consolidated — or
        None when nothing can join yet. L/R are the traces *before* this
        batch (join_core's batch-vs-trace discipline,
        src/operators/join.rs:413-465). The output is a tracked checkpoint,
        so long-running loops can ``release_checkpoint`` it."""
        if delta_left is None and delta_right is None:
            raise ValueError("process_batch needs a delta for at least one side")
        deltas = {
            s: self._rows(s, d)
            for s, d in zip(self.SIDES, (delta_left, delta_right))
            if d is not None
        }
        joinable = all(s in deltas or self._dq.traces[s].batches for s in self.SIDES)
        out = self._dq.process_batch(deltas)
        if not joinable:
            return None
        cols = [F.col(c) for c in self.on]
        for s in self.SIDES:
            if isinstance(out.schema[f"__{s}"].dataType, StructType):
                cols.append(F.col(f"__{s}.*"))
        res = out.select(*cols, DIFF)
        res._ckpt_rdds = list(getattr(out, "_ckpt_rdds", ()))
        return res

    def release(self) -> None:
        self._dq.release()
