"""Arrangements: the engine's one trace type — a compacting, key-indexed
multiset of update rows with point queries.

The reference's second core abstraction (src/trace/mod.rs:1-8;
src/operators/arrange/arrangement.rs:43-62), shared by join state, counts
and queries: a base plus sealed parts, each with its ``Description {lower,
upper}`` (src/trace/description.rs:14-35), and a logical compaction
frontier ``since``. Reads are a lazy union of the parts.

Compaction is two steps. The FOLD only reads: it consolidates a snapshot of
the base plus the first m parts into one new frame in one hash aggregate
(the spine merge). The SWAP replaces that prefix with the fold, keeps the
parts sealed since the snapshot, releases (or deletes) the replaced frames
and commits. Owners run the fold BEHIND the batch, the way the reference's
fueled merges are amortized and interleaved with normal processing
(src/trace/implementations/spine_fueled.rs:7-69): :meth:`maybe_compact` at
the end of a batch starts a due fold on a worker thread, and :meth:`swap` at
the start of the next batch installs it, waiting only if it has not
finished. :meth:`compact` is fold-then-swap in the caller's thread. The
fold repartitions by key into an explicit partition count derived from the
base's row count (the seed's, or the last fold's output), so its plan does
not depend on the session-wide shuffle partitions that a concurrent
``micro_batch_scope`` sets. :attr:`stats` records folds started and
swapped, rows folded, fold seconds (on the worker) and swap-wait seconds.

Two tiers, chosen by whether a directory is given. In memory (``root=None``)
the base and parts are lineage-truncated checkpoints, so a micro-batch round
never touches disk. Durable (``root``): every part is a parquet directory
under ``root``, hash-bucket-partitioned by key, so a lookup reads only the
buckets its keys touch. ``manifest.json`` is the commit point: it is
replaced atomically after a part is written; a part it does not list is
never read and is deleted on open. A fold writes a part the manifest does
not list yet, and the swap commits the manifest naming it (a fold written
but never swapped is deleted on the next open). Opening a populated
directory resumes from it (trace ``import``,
src/operators/arrange/agent.rs:215-288).

Rows that carry an ``epoch`` get the time API: ``insert_batch`` seals the
batch's epoch range (arrangement.rs:596-668), ``lookup(keys, at)``
(arrangement.rs:262-421), ``freeze(at)`` (src/trace/wrappers/freeze.rs),
``compact(since)`` collapsing epochs ``<= since`` (src/trace/mod.rs:79-114),
and the ``as_collection``/``filter`` views (arrangement.rs:182-260).
Maintainer traces carry no epoch: ``append`` seals a part at the next batch
ordinal, and compaction only folds.

Frames returned by :meth:`view`/:meth:`lookup_view` are valid until the
next swap (or :meth:`compact`, :meth:`seed`, :meth:`release`) — the
reference's cursor validity under spine merges (src/trace/mod.rs:116-150).
A fold in flight only reads them, and sealing a part never invalidates
them.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from collections.abc import Sequence
from dataclasses import dataclass
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType
from pyspark.util import inheritable_thread_target

from differential_dataflow_spark.collection import DIFF, EPOCH, DiffCollection
from differential_dataflow_spark.session import (
    counted_local_checkpoint,
    micro_shuffle_partitions,
    release_checkpoint,
    tracked_local_checkpoint,
)

BUCKET = "__bucket"
MANIFEST = "manifest.json"


def _part_name() -> str:
    return f"part-{uuid.uuid4().hex[:16]}"


@dataclass
class FoldStats:
    """What a trace's compaction did: folds started and swapped in, rows
    the folds wrote, seconds the folds ran (on the worker, for background
    folds) and seconds swaps blocked on a fold still running."""

    folds_started: int = 0
    folds_swapped: int = 0
    rows_folded: int = 0
    fold_s: float = 0.0
    wait_s: float = 0.0


@dataclass
class _Fold:
    """One fold of a trace prefix: the frames it reads (the base, if any,
    then the oldest parts), the Description of its output, and what it made
    — a checkpoint, or a durable part not yet in the manifest."""

    frames: list[DataFrame]
    desc: dict
    partitions: int
    frame: DataFrame | None = None
    schema: StructType | None = None
    rows: int = 0
    seconds: float = 0.0
    error: BaseException | None = None
    thread: threading.Thread | None = None

    @property
    def n(self) -> int:
        return len(self.frames)


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
        self.base_rows: int | None = None  # known row count of the base
        self.parts: list[DataFrame] = []
        # One Description per sealed frame, the base's first when present.
        self.batches: list[dict] = []
        self._schema: StructType | None = None  # durable tier's file schema
        self.stats = FoldStats()
        self._pending: _Fold | None = None  # the fold running behind the batch
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
        a part written before a crash but never committed, a fold never
        swapped in, or a part a committed compaction replaced."""
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

    def _read(self, name: str, schema: StructType | None = None) -> DataFrame:
        # The recorded schema: no footer inference, and an empty part reads.
        return self.spark.read.schema(schema or self._schema).parquet(
            str(self.root / name)
        )

    def _write(self, df: DataFrame, name: str) -> StructType:
        """Write ``df`` as the new, not yet committed, bucketed part
        ``name``; returns its file schema. Reads no trace state but the
        bucket count, so a fold's worker can call it."""
        df = df.withColumn(BUCKET, self._bucket_col())
        schema = StructType([f for f in df.schema if f.name != BUCKET]).add(
            BUCKET, IntegerType()
        )
        (
            df.repartition(BUCKET)
            .write.partitionBy(BUCKET)
            .parquet(str(self.root / name))
        )
        return schema

    def _write_part(
        self, df: DataFrame, rows: int | None = None
    ) -> tuple[DataFrame, str]:
        """Write ``df`` (``rows`` long, if known) as a new part in the
        owner's thread, sizing the bucket count on the first write."""
        if self.n_buckets is None:
            rows = df.count() if rows is None else rows
            self.n_buckets = max(
                1, min(self.spark.sparkContext.defaultParallelism, rows // 262_144 + 1)
            )
        name = _part_name()
        self._schema = self._write(df, name)
        return self._read(name), name

    # ---------------------------------------------------------------- #
    # Writes
    # ---------------------------------------------------------------- #

    def _seal(self, part: DataFrame, desc: dict, rows: int | None = None) -> None:
        if self.root is not None:
            frame, desc["path"] = self._write_part(part, rows)
            # The caller's checkpoint stays alive until the swap that folds
            # this part, so lazy frames over it stay valid (the cursor
            # contract).
            frame._ckpt_rdds = list(getattr(part, "_ckpt_rdds", ()))
            part = frame
        self.parts.append(part)
        self.batches.append(desc)
        self._save_manifest()

    def seed(self, df: DataFrame) -> None:
        """Load the initial state ``(payload..., diff)`` as the base (one-time
        O(state) cost), replacing whatever the trace held. In memory the
        rows are hash-partitioned by key so later per-key work co-locates."""
        if self.root is None and self.key:
            df = df.repartition(self.spark.sparkContext.defaultParallelism, *self.key)
        desc = {"lower": 0, "upper": 0}
        if self.root is None:
            # Counted checkpoint: the one job of the eager checkpoint, and
            # the row count sizes the owners' micro-round partitions.
            new_base, rows = counted_local_checkpoint(df)
            self.release()
            self.base, self.base_rows, self.batches = new_base, rows, [desc]
            return
        # Durable: the staged swap — write a fresh part, commit the
        # manifest listing only it, then delete the parts it replaced
        # (recovery deletes them if a crash comes first).
        stale = [b["path"] for b in self.batches]
        frame, desc["path"] = self._write_part(df)
        self.release()
        self.base, self.base_rows, self.batches = frame, None, [desc]
        self._save_manifest()
        for name in stale:
            shutil.rmtree(self.root / name, ignore_errors=True)

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

    # ---------------------------------------------------------------- #
    # Compaction: fold (reads only) and swap (installs)
    # ---------------------------------------------------------------- #

    def _snapshot(self, since: int | None = None) -> _Fold:
        """The fold of everything sealed so far, not yet run."""
        folded = self.batches
        lower = min(b["lower"] for b in folded)
        if since is not None:
            lower = max(lower, since)
        desc = {"lower": lower, "upper": max(b["upper"] for b in folded)}
        self.stats.folds_started += 1
        return _Fold(self._frames(), desc, micro_shuffle_partitions(self.base_rows))

    def _run(self, fold: _Fold, since: int | None = None) -> None:
        """Consolidate the fold's frames into one frame, repartitioned by
        key into the fold's own partition count (the aggregate's grouping
        contains the key, so it adds no second exchange). Touches no trace
        state: it runs on a worker thread behind the batch."""
        t0 = time.perf_counter()
        df = reduce(DataFrame.unionByName, fold.frames)
        if self.root is not None:
            df = df.drop(BUCKET)
        if since is not None and EPOCH in df.columns:
            df = df.withColumn(
                EPOCH, F.greatest(F.col(EPOCH), F.lit(since).cast("long"))
            )
        payload = [c for c in df.columns if c != DIFF]
        df = (
            df.repartition(fold.partitions, *(self.key or payload))
            .groupBy(*payload)
            .agg(F.sum(DIFF).alias(DIFF))
            .filter(F.col(DIFF) != 0)
        )
        if self.root is None:
            fold.frame, fold.rows = counted_local_checkpoint(df)
        else:
            obs = Observation()
            fold.desc["path"] = _part_name()
            fold.schema = self._write(
                df.observe(obs, F.count(F.lit(1)).alias("n")), fold.desc["path"]
            )
            fold.frame = self._read(fold.desc["path"], fold.schema)
            fold.rows = obs.get["n"]
        fold.seconds = time.perf_counter() - t0

    def _install(self, fold: _Fold) -> None:
        """The swap: replace the fold's prefix by its output, keep the parts
        sealed since, release the replaced frames and commit; durable
        parts the fold replaced are deleted after the commit."""
        replaced = self._frames()[: fold.n]
        stale = [b.get("path") for b in self.batches[: fold.n]]
        kept = self.parts[fold.n - (self.base is not None) :]
        for df in replaced:
            release_checkpoint(df)
        self.base, self.base_rows, self.parts = fold.frame, fold.rows, kept
        self.batches = [fold.desc] + self.batches[fold.n :]
        if self.root is not None:
            self._schema = fold.schema
            self._save_manifest()
            for name in stale:
                shutil.rmtree(self.root / name, ignore_errors=True)
        self.stats.folds_swapped += 1
        self.stats.rows_folded += fold.rows
        self.stats.fold_s += fold.seconds

    def _discard(self, fold: _Fold) -> None:
        """Drop a fold that will not be swapped in."""
        if fold.frame is not None:
            release_checkpoint(fold.frame)
        if self.root is not None and "path" in fold.desc:
            shutil.rmtree(self.root / fold.desc["path"], ignore_errors=True)

    def _wait(self) -> _Fold | None:
        """Take the pending fold, once its worker has finished."""
        fold, self._pending = self._pending, None
        if fold is not None:
            t0 = time.perf_counter()
            fold.thread.join()
            self.stats.wait_s += time.perf_counter() - t0
        return fold

    def maybe_compact(self) -> None:
        """End of a batch: when ``compact_every`` parts are sealed and no
        fold is pending, start folding them on a worker thread, which
        inherits the caller's job group. The next :meth:`swap` installs
        the fold; until then every frame the trace handed out stays valid."""
        if self._pending is not None or len(self.parts) < max(self.compact_every, 1):
            return
        fold = self._snapshot()

        def work() -> None:
            try:
                self._run(fold)
            except BaseException as e:  # re-raised by the owner's next swap
                fold.error = e

        fold.thread = threading.Thread(
            target=inheritable_thread_target(self.spark)(work),
            name="arrangement-fold",
            daemon=True,
        )
        self._pending = fold
        fold.thread.start()

    def swap(self) -> bool:
        """Start of a batch: install the fold the last batch started,
        waiting for it if it is still running; a fold that failed re-raises
        here and leaves the trace as it was. Returns True iff a fold was
        installed and no part is left beside it (callers reset their
        negative-support flags then: every row is net-positive again)."""
        fold = self._wait()
        if fold is None:
            return False
        if fold.error is not None:
            self._discard(fold)
            raise fold.error
        self._install(fold)
        return not self.parts

    def compact(self, since: int | None = None) -> None:
        """Fold base + parts into a new consolidated base, in the caller's
        thread (a pending fold is swapped in first). With ``since``, also
        advance the logical compaction frontier: epochs <= ``since`` become
        indistinguishable and collapse to ``since``; lookups at times
        < ``since`` are no longer answerable (the reference's cursor
        validity rule, src/trace/mod.rs:116-150)."""
        self.swap()
        if since is not None:
            self.since = since
        if not self._frames():
            self._save_manifest()
            return
        fold = self._snapshot(since)
        self._run(fold, since)
        self._install(fold)

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
        """Free the memory the trace holds (a durable trace keeps its
        committed files). A fold in flight is waited for and dropped."""
        fold = self._wait()
        if fold is not None:
            self._discard(fold)
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
