"""Exactly-once idempotent sink with per-partition lineage + metrics.

Mirrors the reference's durable capture protocol (src/capture.rs:14-41,92-125):
``Message::Updates`` batches plus ``Progress{lower, upper, counts}`` statements
that make replay deduplicating and reorder-tolerant. Spark translation:

- each micro-batch commit is keyed by ``(query_name, batch_id)`` — Spark
  replays a batch after failure with the SAME batch_id, so an idempotent
  "skip if committed" check yields exactly-once output (the standard
  foreachBatch discipline);
- data lands as parquet under ``data/batch_id=N/`` (write-then-mark: the
  commit marker is written only after the data write succeeds);
- the commit log records per-batch lineage — row count and per-output-file
  counts — the analogue of Progress statements, queryable as a table. The
  counts are read in the driver from the parquet footers of the files the
  write just committed, so building the marker launches no Spark job.

On a real deployment the same structure maps to an Iceberg table with
snapshot-id-as-epoch commits; here it is a plain directory protocol so the
sandbox has no connector dependency.
"""

from __future__ import annotations

import json
import os
import re
import time
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


_PART = re.compile(r"part-(\d+)")


def _file_counts(out_dir: Path) -> dict[int, int]:
    """Row counts of the parquet files under ``out_dir``, from their footers,
    keyed by output-file ordinal.

    Progress "partition" ids are OUTPUT-FILE ordinals post-write (the
    part-NNNNN number), not the micro-batch's in-flight Spark partition ids —
    the durable artifact is the file set, so lineage is keyed by it. Files
    Spark's reader skips (``_SUCCESS``, ``.crc``) are skipped, as are empty
    files; a foreign file name falls into ordinal -1 rather than failing the
    commit."""
    counts: dict[int, int] = {}
    for f in sorted(out_dir.iterdir()):
        if f.name.startswith(("_", ".")):
            continue
        rows = pq.read_metadata(f).num_rows
        if rows:
            m = _PART.search(f.name)
            ordinal = int(m.group(1)) if m else -1
            counts[ordinal] = counts.get(ordinal, 0) + rows
    return counts


class ExactlyOnceSink:
    def __init__(self, root: str, query_name: str = "q"):
        self.root = Path(root)
        self.query_name = query_name
        (self.root / "data").mkdir(parents=True, exist_ok=True)
        (self.root / "commits").mkdir(parents=True, exist_ok=True)

    def _commit_path(self, batch_id: int) -> Path:
        return self.root / "commits" / f"{self.query_name}-{batch_id}.json"

    def is_committed(self, batch_id: int) -> bool:
        return self._commit_path(batch_id).exists()

    def write_batch(self, df: DataFrame | None, batch_id: int) -> None:
        """foreachBatch body: idempotent write of one micro-batch. ``None``
        (an operator with nothing to emit yet) commits an empty batch with no
        data directory."""
        if self.is_committed(batch_id):
            return  # replayed batch — exactly-once skip
        part_counts: dict[int, int] = {}
        if df is not None:
            out_dir = self.root / "data" / f"batch_id={batch_id}"
            # Write FIRST, then derive the lineage counts from the written
            # files: computing counts from `df` before the write would
            # evaluate the micro-batch twice, and with a nondeterministic
            # upstream plan (spark_partition_id depends on scheduling/AQE) the
            # Progress counts could disagree with the data actually committed.
            df.write.mode("overwrite").parquet(str(out_dir))
            part_counts = _file_counts(out_dir)
        marker = {
            "query": self.query_name,
            "batch_id": batch_id,
            "rows": sum(part_counts.values()),
            "partition_counts": part_counts,
            "committed_at": time.time(),
        }
        tmp = self._commit_path(batch_id).with_suffix(".tmp")
        tmp.write_text(json.dumps(marker))
        os.rename(tmp, self._commit_path(batch_id))  # atomic publish

    def foreach_batch(self):
        return lambda df, batch_id: self.write_batch(df, batch_id)

    def read_all(self, spark: SparkSession) -> DataFrame:
        """All committed output (uncommitted/partial batch dirs excluded).
        When every committed batch is an empty commit there are no files to
        read, and the output is an empty frame with only ``batch_id``; a
        sink with no commit at all raises ``FileNotFoundError``."""
        committed = [
            int(json.loads(p.read_text())["batch_id"])
            for p in (self.root / "commits").glob(f"{self.query_name}-*.json")
        ]
        if not committed:
            raise FileNotFoundError(f"no committed batches under {self.root}")
        paths = [
            str(self.root / "data" / f"batch_id={b}")
            for b in sorted(committed)
            if (self.root / "data" / f"batch_id={b}").exists()
        ]
        if not paths:
            return spark.range(0).select(F.lit(0).cast("int").alias("batch_id"))
        return spark.read.option("basePath", str(self.root / "data")).parquet(*paths)

    def lineage(self) -> list[dict]:
        """The Progress log: per-batch commit metadata, ordered by batch."""
        entries = [
            json.loads(p.read_text())
            for p in (self.root / "commits").glob(f"{self.query_name}-*.json")
        ]
        return sorted(entries, key=lambda e: e["batch_id"])
