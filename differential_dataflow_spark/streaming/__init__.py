"""Structured Streaming engine: watermark-driven incremental operators.

Maps the reference's streaming machinery onto Spark Structured Streaming
(SURVEY.md §2.10): frontiers/capabilities → watermarks; epoch close
(advance_to+flush, src/input.rs:277-301) → micro-batch trigger; arrangement
state → per-key state store via applyInPandasWithState Arrow kernels;
exactly-once capture protocol (src/capture.rs) → idempotent epoch-keyed
foreachBatch commits."""

from differential_dataflow_spark.streaming.fixpoint import MaintainedFixpoint
from differential_dataflow_spark.streaming.join import DeltaJoin, stream_stream_join
from differential_dataflow_spark.streaming.maintain import (
    CountMaintainer,
    IncrementalBFS,
    IncrementalReachability,
    KCoreMaintainer,
)
from differential_dataflow_spark.streaming.delta_query import (
    DeltaQuery,
    DeltaTriangles,
    half_join,
)
from differential_dataflow_spark.streaming.sink import ExactlyOnceSink
from differential_dataflow_spark.streaming.source import EpochFeeder

__all__ = [
    "CountMaintainer",
    "DeltaJoin",
    "DeltaQuery",
    "DeltaTriangles",
    "EpochFeeder",
    "ExactlyOnceSink",
    "IncrementalBFS",
    "IncrementalReachability",
    "KCoreMaintainer",
    "MaintainedFixpoint",
    "half_join",
    "stream_stream_join",
]
