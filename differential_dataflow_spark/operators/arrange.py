"""Arrangements: the engine's one trace type — a compacting, key-indexed
multiset of update rows with point queries.

The reference's second core abstraction (src/trace/mod.rs:1-8;
src/operators/arrange/arrangement.rs:43-62), shared by join state, counts
and queries: a base plus sealed parts, each with its ``Description {lower,
upper}`` (src/trace/description.rs:14-35), and a logical compaction
frontier ``since``. Reads are a lazy union of the parts; compaction folds
them into a new base in one hash aggregate (the spine merge,
src/trace/implementations/spine_fueled.rs), amortized to
O(state/compact_every) per part by the owner's ``maybe_compact`` cadence.

Two tiers, chosen by whether a directory is given. In memory (``root=None``)
the base and parts are lineage-truncated checkpoints, so a micro-batch round
never touches disk. Durable (``root``): every part is a parquet directory
under ``root``, hash-bucket-partitioned by key, so a lookup reads only the
buckets its keys touch. ``manifest.json`` is the commit point: it is
replaced atomically after a part is written; a part it does not list is
never read and is deleted on open; compaction writes the new base as a fresh
part, then swaps the manifest. Opening a populated directory resumes from it
(trace ``import``, src/operators/arrange/agent.rs:215-288).

Rows that carry an ``epoch`` get the time API: ``insert_batch`` seals the
batch's epoch range (arrangement.rs:596-668), ``lookup(keys, at)``
(arrangement.rs:262-421), ``freeze(at)`` (src/trace/wrappers/freeze.rs),
``compact(since)`` collapsing epochs ``<= since`` (src/trace/mod.rs:79-114),
and the ``as_collection``/``filter`` views (arrangement.rs:182-260).
Maintainer traces carry no epoch: ``append`` seals a part at the next batch
ordinal, and compaction only folds.

Frames returned by :meth:`view`/:meth:`lookup_view` are valid until the next
seal or compaction — the reference's cursor validity under spine merges
(src/trace/mod.rs:116-150).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Sequence
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from differential_dataflow_spark.collection import DIFF, EPOCH, DiffCollection
from differential_dataflow_spark.session import (
    counted_local_checkpoint,
    release_checkpoint,
    tracked_local_checkpoint,
)

BUCKET = "__bucket"
MANIFEST = "manifest.json"


def _fold(df: DataFrame) -> DataFrame:
    payload = [c for c in df.columns if c != DIFF]
    return (
        df.groupBy(*payload).agg(F.sum(DIFF).alias(DIFF)).filter(F.col(DIFF) != 0)
    )


class Arrangement:
    """A key-indexed, compacting trace of update rows ``(payload..., diff)``,
    in memory (``root=None``) or durable under ``root``. ``n_buckets=None``
    derives the durable bucket count from the first part written: one per
    ~256k rows, at most the session parallelism (a small trace is one
    file per part, not one per bucket)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str | None = None,
        key: Sequence[str] = (),
        compact_every: int = 16,
        n_buckets: int | None = None,
    ):
        self.spark = spark
        self.root = Path(root) if root is not None else None
        self.key = list(key)
        self.compact_every = compact_every
        self.n_buckets = n_buckets
        self.since: int | None = None
        self.base: DataFrame | None = None
        self.base_rows: int | None = None  # known row count of a seeded base
        self.parts: list[DataFrame] = []
        # One Description per sealed frame, the base's first when present.
        self.batches: list[dict] = []
        self._schema: StructType | None = None  # durable tier's file schema
        if self.root is not None:
            if not self.key:
                raise ValueError(
                    "a durable Arrangement needs key columns: its parts are "
                    "hash-bucket-partitioned by key"
                )
            self._recover()

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "Arrangement":
        """Trace import: attach to an existing arrangement directory —
        another dataflow's state readable here (agent.rs:215-288)."""
        m = json.loads((Path(root) / MANIFEST).read_text())
        return cls(spark, root, key=m["key"], n_buckets=m["n_buckets"])

    @property
    def upper(self) -> int:
        """The least time not yet sealed (0 for an empty trace)."""
        return max((b["upper"] for b in self.batches), default=0)

    # ---------------------------------------------------------------- #
    # Durable tier: manifest, part files, startup recovery
    # ---------------------------------------------------------------- #

    def _recover(self) -> None:
        """Resume from the manifest, and delete every part it does not list:
        a part written before a crash but never committed, or a part a
        committed compaction replaced."""
        self.root.mkdir(parents=True, exist_ok=True)
        path = self.root / MANIFEST
        listed: set[str] = set()
        if path.exists():
            m = json.loads(path.read_text())
            if m["key"] != self.key or self.n_buckets not in (None, m["n_buckets"]):
                raise ValueError(
                    f"{self.root} holds a trace keyed {m['key']} in "
                    f"{m['n_buckets']} buckets"
                )
            self.n_buckets = m["n_buckets"]
            self.since = m["since"]
            self.batches = m["batches"]
            if m["schema"] is not None:
                self._schema = StructType.fromJson(m["schema"])
            frames = [self._read(b["path"]) for b in self.batches]
            if m["has_base"]:
                self.base, frames = frames[0], frames[1:]
            self.parts = frames
            listed = {b["path"] for b in self.batches}
        for p in self.root.glob("part-*"):
            if p.name not in listed:
                shutil.rmtree(p, ignore_errors=True)

    def _save_manifest(self) -> None:
        """Commit the trace's parts: an atomic replace of the manifest."""
        if self.root is None:
            return
        tmp = self.root / (MANIFEST + ".tmp")
        tmp.write_text(
            json.dumps(
                {
                    "key": self.key,
                    "n_buckets": self.n_buckets,
                    "since": self.since,
                    "has_base": self.base is not None,
                    "batches": self.batches,
                    "schema": None if self._schema is None else self._schema.jsonValue(),
                }
            )
        )
        os.replace(tmp, self.root / MANIFEST)

    def _bucket_col(self):
        return F.pmod(F.xxhash64(*self.key), F.lit(self.n_buckets)).cast("int")

    def _read(self, name: str) -> DataFrame:
        # The recorded schema: no footer inference, and an empty part reads.
        return self.spark.read.schema(self._schema).parquet(str(self.root / name))

    def _write(self, df: DataFrame, rows: int | None = None) -> tuple[DataFrame, str]:
        """Write ``df`` (``rows`` long, if known) as a new, not yet
        committed, bucketed part."""
        if self.n_buckets is None:
            rows = df.count() if rows is None else rows
            self.n_buckets = max(
                1, min(self.spark.sparkContext.defaultParallelism, rows // 262_144 + 1)
            )
        name = f"part-{uuid.uuid4().hex[:16]}"
        df = df.withColumn(BUCKET, self._bucket_col())
        self._schema = StructType(
            [f for f in df.schema if f.name != BUCKET]
        ).add(BUCKET, IntegerType())
        (
            df.repartition(BUCKET)
            .write.partitionBy(BUCKET)
            .parquet(str(self.root / name))
        )
        return self._read(name), name

    # ---------------------------------------------------------------- #
    # Writes
    # ---------------------------------------------------------------- #

    def _seal(self, part: DataFrame, desc: dict, rows: int | None = None) -> None:
        if self.root is not None:
            frame, desc["path"] = self._write(part, rows)
            # The caller's checkpoint stays alive until the next compaction,
            # so lazy frames over it stay valid (the cursor contract).
            frame._ckpt_rdds = list(getattr(part, "_ckpt_rdds", ()))
            part = frame
        self.parts.append(part)
        self.batches.append(desc)
        self._save_manifest()

    def _rebase(self, df: DataFrame, desc: dict, counted: bool = False) -> None:
        """Replace the trace's contents by ``df`` as its base. Durable: the
        staged swap — write a fresh part, commit the manifest listing only
        it, then delete the parts it replaced (recovery deletes them if a
        crash comes first)."""
        if self.root is None:
            if counted:
                new_base, self.base_rows = counted_local_checkpoint(df)
            else:
                new_base = tracked_local_checkpoint(df)
            self.release()
            self.base, self.batches = new_base, [desc]
            return
        stale = [b["path"] for b in self.batches]
        frame, desc["path"] = self._write(df)
        self.release()
        self.base, self.batches = frame, [desc]
        self._save_manifest()
        for name in stale:
            shutil.rmtree(self.root / name, ignore_errors=True)

    def seed(self, df: DataFrame) -> None:
        """Load the initial state ``(payload..., diff)`` as the base (one-time
        O(state) cost), replacing whatever the trace held. In memory the
        rows are hash-partitioned by key so later per-key work co-locates."""
        if self.root is None and self.key:
            df = df.repartition(self.spark.sparkContext.defaultParallelism, *self.key)
        # Counted checkpoint: same single job as the eager checkpoint, and
        # the row count lets owners derive micro-round partition counts.
        self._rebase(df, {"lower": 0, "upper": 0}, counted=True)

    def append(self, delta: DataFrame, at: int | None = None) -> None:
        """Seal one small part at batch ordinal ``at`` (default: the next).
        The caller passes a MATERIALIZED (checkpointed or local-relation)
        DataFrame; in memory, appends never trigger jobs."""
        lower = self.upper if at is None else at
        self._seal(delta, {"lower": lower, "upper": lower + 1})

    def insert_batch(self, updates: DiffCollection) -> None:
        """Seal one batch of epoch-carrying updates. The batch's ``[lower,
        upper)`` epoch bounds are its Description, taken from the
        CONSOLIDATED batch (what is actually written); a batch whose updates
        fully cancel is not sealed (the reference never seals empty batches
        into the spine either)."""
        df = updates.consolidate().df
        b = df.agg(
            F.min(EPOCH).alias("lo"), F.max(EPOCH).alias("hi"), F.count("*").alias("n")
        ).collect()[0]
        if b["lo"] is None:
            return
        if self.root is None:
            df = tracked_local_checkpoint(df)
        self._seal(df, {"lower": int(b["lo"]), "upper": int(b["hi"]) + 1}, b["n"])

    def maybe_compact(self) -> bool:
        """Compact when due; returns True iff a compaction ran (callers use
        this to reset their negative-support flags — after the fold every
        surviving row is net-positive again)."""
        if len(self.parts) >= self.compact_every:
            self.compact()
            return True
        return False

    def compact(self, since: int | None = None) -> None:
        """Fold base + parts into a new consolidated base. With ``since``,
        also advance the logical compaction frontier: epochs <= ``since``
        become indistinguishable and collapse to ``since``; lookups at times
        < ``since`` are no longer answerable (the reference's cursor
        validity rule, src/trace/mod.rs:116-150)."""
        if since is not None:
            self.since = since
        df = self.view()
        if df is None:
            self._save_manifest()
            return
        if since is not None and EPOCH in df.columns:
            df = df.withColumn(
                EPOCH, F.greatest(F.col(EPOCH), F.lit(since).cast("long"))
            )
        lower = min(b["lower"] for b in self.batches)
        if since is not None:
            lower = max(lower, since)
        self._rebase(_fold(df), {"lower": lower, "upper": self.upper})

    # ---------------------------------------------------------------- #
    # Reads
    # ---------------------------------------------------------------- #

    def _frames(self) -> list[DataFrame]:
        return ([self.base] if self.base is not None else []) + self.parts

    def view(self) -> DataFrame | None:
        """The whole multiset ``(payload..., diff)``, or None if empty."""
        frames = self._frames()
        if not frames:
            return None
        out = reduce(DataFrame.unionByName, frames)
        return out if self.root is None else out.drop(BUCKET)

    def lookup_view(self, keys: DataFrame) -> DataFrame | None:
        """The sub-multiset that can contain the given keys: in memory the
        whole view; durable parts prune to the touched buckets by a
        BROADCAST semi-join on the partition column (dynamic partition
        pruning reaches the scan; no driver action, unlike collect-isin)."""
        frames = self._frames()
        if self.root is None or not frames:
            return self.view()
        buckets = F.broadcast(
            keys.select(self._bucket_col().alias(BUCKET)).distinct()
        )
        return reduce(
            DataFrame.unionByName,
            [f.join(buckets, [BUCKET], "left_semi") for f in frames],
        ).drop(BUCKET)

    def release(self) -> None:
        """Free the memory the trace holds (a durable trace keeps its files)."""
        for df in self._frames():
            release_checkpoint(df)
        self.base = None
        self.parts = []

    def as_collection(self) -> DiffCollection:
        """Flatten the trace back to an update collection
        (``Arranged::as_collection``, arrangement.rs:182-220)."""
        df = self.view()
        if df is None:
            raise ValueError("empty arrangement has no collection view")
        return DiffCollection(df)

    def filter(self, predicate) -> DiffCollection:
        """Filtered view over the same physical index
        (``Arranged::filter`` / the filter trace wrapper)."""
        return self.as_collection().filter(predicate)

    def freeze(self, at: int) -> DiffCollection:
        """Frozen view: updates at epochs beyond ``at`` are suppressed
        (src/trace/wrappers/freeze.rs:1-18). Fails if ``at`` precedes the
        compaction frontier (those distinctions are gone)."""
        self._check_since(at)
        return DiffCollection(self.as_collection().df.filter(F.col(EPOCH) <= at))

    def lookup(
        self,
        keys: DataFrame | Sequence[tuple] | Sequence,
        at: int | None = None,
    ) -> DataFrame:
        """Point queries: for each queried key, the accumulated (payload,
        weight) multiset at time ``at`` (``Arranged::lookup``,
        arrangement.rs:262-421; queries join against the trace by key hash).

        ``keys`` is a DataFrame with the key columns, or an iterable of
        values (single-column key) / tuples. Returns
        ``(key..., payload..., diff)`` with diff != 0 — the collection's
        contents at ``at`` restricted to the queried keys.
        """
        full = self.view()
        if full is None:
            raise ValueError("lookup against an empty arrangement")
        if not isinstance(keys, DataFrame):
            rows = [k if isinstance(k, tuple) else (k,) for k in keys]
            keys = self.spark.createDataFrame(
                rows, schema=full.select(*self.key).schema
            )
        keys = keys.select(*self.key).dropDuplicates()
        df = self.lookup_view(keys)
        if at is not None:
            self._check_since(at)
            df = df.filter(F.col(EPOCH) <= at)
        # Broadcast the (small) query set against the key-bucketed trace.
        df = df.join(F.broadcast(keys), self.key, "left_semi")
        payload = [c for c in df.columns if c not in (EPOCH, DIFF)]
        return (
            df.groupBy(*payload)
            .agg(F.sum(DIFF).alias(DIFF))
            .filter(F.col(DIFF) != 0)
        )

    def _check_since(self, at: int) -> None:
        if self.since is not None and at < self.since:
            raise ValueError(
                f"time {at} precedes the compaction frontier {self.since}; "
                "historical distinctions were collapsed (trace/mod.rs:79-114)"
            )
