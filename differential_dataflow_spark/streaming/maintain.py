"""O(delta)-per-round maintenance of large arranged state (in-memory spine).

The reference's headline capability is CHEAP MAINTENANCE: after loading a
large collection, each small batch of updates costs work proportional to the
batch, not the state (README.md:150-214 — 228 µs/round at batch 1, ~5 µs per
update at batch 100k). The parquet ``Arrangement`` (operators/arrange.py) is
the durable tier of that story; this module is the hot tier — the same
LSM/spine shape held in executor memory so a micro-batch round never rewrites
or re-reads state from disk:

- ``TraceView`` — a persisted consolidated base plus a list of sealed small
  delta parts (each lineage-truncated). Reads are a lazy union; ``append`` is
  O(delta); ``compact`` folds the parts into a new consolidated base (the
  fueled spine merge, src/trace/implementations/spine_fueled.rs, run as one
  hash aggregate) so amortized per-round merge cost is O(state/compact_every).
- ``CountMaintainer`` — incremental ``count_total`` against a TraceView
  (reference src/operators/count.rs:81-123): per batch, only the TOUCHED keys
  are looked up (broadcast semijoin of the delta's key set against the
  key-partitioned state) and the operator emits the ``(key, old, -1),
  (key, new, +1)`` retraction pairs.
- ``DeltaJoin`` (streaming/join.py) gains an in-memory mode backed by two
  TraceViews — pass ``state_dir=None``.

At cluster scale the base would be a key-bucketed cached table (or the
parquet Arrangement behind an executor-side cache); the delta parts and the
broadcast-semijoin lookup shape are unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from differential_dataflow_spark.collection import DIFF
from differential_dataflow_spark.session import (
    Scratch,
    counted_local_checkpoint,
    micro_batch_scope,
    release_checkpoint,
    tracked_local_checkpoint,
)


BUCKET = "__bucket"


class TraceView:
    """LSM view of an update multiset ``(payload..., diff)``.

    Parts are lineage-truncated in-memory checkpoints; the base is either an
    in-memory checkpoint (default) or — when ``bucket_path`` is given — a
    parquet directory HASH-BUCKET-PARTITIONED by the key columns, the durable
    shape that survives state larger than memory: a small-delta round
    computes its touched buckets from the delta's key set and reads ONLY
    those partitions (:meth:`lookup_view`), so per-round state I/O is
    O(|Δ|/|keyspace| · state), not O(state). On a cluster the parquet dir is
    an Iceberg/Delta table and the pruning is identical.

    Contract: DataFrames returned by :meth:`view`/:meth:`lookup_view` are
    valid until the next ``append``/``compact`` (compaction releases or
    rewrites what they reference); consume or checkpoint them first, exactly
    like the reference's cursor validity under spine merges
    (src/trace/mod.rs:116-150).
    """

    def __init__(
        self,
        spark: SparkSession,
        compact_every: int = 16,
        bucket_path: str | None = None,
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.compact_every = compact_every
        self.bucket_path = bucket_path
        self.n_buckets = n_buckets
        self.key: list[str] | None = None
        self.base: DataFrame | None = None
        self.base_rows: int | None = None  # known row count of the seeded base
        self.parts: list[DataFrame] = []
        if bucket_path is not None:
            self._recover()

    def _recover(self) -> None:
        """Startup recovery for the staged base swap: ``_write_base`` has a
        window between ``rename(root -> old)`` and ``rename(tmp -> root)``
        where no live base exists — a crash there must not lose the state.
        On open: a missing root with a surviving ``.old`` restores it (the
        pre-swap base is the last complete one); a leftover ``.tmp`` is
        discarded (it may be a partial write)."""
        import shutil
        from pathlib import Path

        root = Path(self.bucket_path)
        old, tmp = root.with_suffix(".old"), root.with_suffix(".tmp")
        if not root.exists() and old.exists():
            old.rename(root)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        if root.exists():
            self.base = self.spark.read.parquet(str(root))

    def _bucket_col(self):
        if not self.key:
            raise ValueError(
                "bucketed TraceView requires key columns: call seed(df, "
                "key=[...]) before the first append/compact, or have the "
                "owning operator set .key at construction"
            )
        return F.pmod(F.xxhash64(*self.key), F.lit(self.n_buckets)).cast("int")

    def _write_base(self, df: DataFrame) -> None:
        """Write (or rewrite, via staged swap) the bucket-partitioned base.
        Crash-safe with :meth:`_recover`: the only window without a root dir
        leaves ``.old`` intact, which recovery restores on next open."""
        import shutil
        from pathlib import Path

        root = Path(self.bucket_path)
        tmp, old = root.with_suffix(".tmp"), root.with_suffix(".old")
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        (
            df.withColumn(BUCKET, self._bucket_col())
            .repartition(BUCKET)
            .write.partitionBy(BUCKET)
            .mode("overwrite")
            .parquet(str(tmp))
        )
        if root.exists():
            root.rename(old)
        tmp.rename(root)
        shutil.rmtree(old, ignore_errors=True)
        self.base = self.spark.read.parquet(str(root))

    def seed(self, df: DataFrame, key: Sequence[str] | None = None) -> None:
        """Load the initial state (one-time O(state) cost). ``key`` hash-
        partitions the base so later per-key work is co-located; required
        for the bucketed (``bucket_path``) mode."""
        self.key = list(key) if key else None
        if self.bucket_path is not None:
            assert self.key, "bucketed TraceView requires key columns"
            self._write_base(df)
            return
        if key:
            df = df.repartition(
                self.spark.sparkContext.defaultParallelism, *key
            )
        # Counted checkpoint: same single job as the eager checkpoint, and
        # the row count lets owners derive micro-round partition counts.
        self.base, self.base_rows = counted_local_checkpoint(df)

    def append(self, delta: DataFrame) -> None:
        """Seal one small part. The caller passes a MATERIALIZED (checkpointed
        or local-relation) DataFrame; appends never trigger jobs here."""
        self.parts.append(delta)

    def maybe_compact(self) -> bool:
        """Compact when due; returns True iff a compaction ran (callers use
        this to reset their negative-support flags — after the fold every
        surviving row is net-positive again)."""
        if len(self.parts) >= self.compact_every:
            self.compact()
            return True
        return False

    def compact(self) -> None:
        """Fold base + parts into a new consolidated base — one hash
        aggregate over the state, amortized to O(state/compact_every) per
        append by the caller's ``maybe_compact`` cadence. Bucketed bases are
        rewritten in place with a crash-safe staged swap."""
        df = self.view()
        if df is None:
            return
        payload = [c for c in df.columns if c != DIFF]
        folded = (
            df.groupBy(*payload).agg(F.sum(DIFF).alias(DIFF)).filter(F.col(DIFF) != 0)
        )
        if self.bucket_path is not None:
            # Materialize before the swap unlinks the files the plan reads.
            folded = tracked_local_checkpoint(folded)
            for p in self.parts:
                release_checkpoint(p)
            self.parts = []
            self._write_base(folded)
            release_checkpoint(folded)
            return
        new_base = tracked_local_checkpoint(folded)
        self.release()
        self.base = new_base

    def _base_df(self) -> DataFrame | None:
        if self.base is None:
            return None
        if self.bucket_path is None:
            return self.base
        return self.base.drop(BUCKET)

    def _union(self, dfs: list[DataFrame]) -> DataFrame | None:
        if not dfs:
            return None
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def view(self) -> DataFrame | None:
        base = self._base_df()
        return self._union(([base] if base is not None else []) + self.parts)

    def lookup_view(self, keys: DataFrame) -> DataFrame | None:
        """The sub-multiset that can contain the given keys: bucketed bases
        prune to the touched partitions; parts are small and always included.
        The bucket set is applied as a BROADCAST semi-join on the partition
        column (dynamic partition pruning reaches the parquet scan), not a
        collect-then-isin — saving one driver action per lookup in the
        latency-floor batch-1 path."""
        if self.base is None or self.bucket_path is None:
            return self.view()
        key_buckets = (
            keys.select(
                F.pmod(F.xxhash64(*self.key), F.lit(self.n_buckets))
                .cast("int")
                .alias(BUCKET)
            )
            .distinct()
        )
        base = (
            self.base.join(F.broadcast(key_buckets), [BUCKET], "left_semi")
            .drop(BUCKET)
        )
        return self._union([base] + self.parts)

    def release(self) -> None:
        for df in ([self.base] if self.base is not None else []) + self.parts:
            release_checkpoint(df)
        self.base = None
        self.parts = []


def _reach_step(frontier: DataFrame, inp) -> DataFrame:
    """``reach(y) :- reach(x), edge(x, y)`` applied to frontier facts. A
    semi-join, so the planner sizes the result by the edge relation, not by
    a join product: the derived trace stays small enough in its estimates
    for the anti-join against it to be planned as a broadcast."""
    return (
        inp["edge"]
        .join(frontier.select(F.col("node").alias("src")), ["src"], "left_semi")
        .select(F.col("dst").alias("node"))
    )


def _reach_boundary(kept: DataFrame, suspect: DataFrame, inp) -> DataFrame:
    """Rederive seeds keyed by dst: only edges INTO the suspect set whose
    tail is kept can rederive a suspect node, so the kept region is probed
    by the (small) tail set instead of being joined whole — the reference's
    arrange-by-reverse-key. Every join streams the big side map-side
    against a broadcast set bounded by the suspect region."""
    into = inp["edge"].join(
        F.broadcast(suspect.select(F.col("node").alias("dst"))),
        ["dst"],
        "left_semi",
    )
    tails = kept.select(F.col("node").alias("src")).join(
        F.broadcast(into.select("src").distinct()), ["src"], "left_semi"
    )
    return into.join(F.broadcast(tails), ["src"], "left_semi").select(
        F.col("dst").alias("node")
    )


class IncrementalReachability:
    """Incremental ITERATE: maintain ``reach(roots)`` under edge updates.

    The program ``reach(x) :- root(x); reach(y) :- reach(x), edge(x, y)``
    run on :class:`~differential_dataflow_spark.streaming.fixpoint.
    MaintainedFixpoint` (reference src/operators/iterate.rs:49-127;
    examples/bfs.rs maintains arbitrary changes): insertions extend the
    reached set by semi-naive expansion from the newly attached region, and
    deletions go through delete-and-rederive, so per-batch work is
    O(affected region), not O(graph). Edges are a multiset: an edge
    inserted twice needs two retractions. ``state_dir`` stores the edge
    trace as bucketed parquet (key ``src``).
    """

    def __init__(
        self,
        spark: SparkSession,
        edges: DataFrame,
        roots: DataFrame,
        compact_every: int = 16,
        state_dir: str | None = None,
        n_buckets: int = 64,
        max_iters: int = 10_000,
    ):
        """``edges``: (src, dst); ``roots``: (node). Runs the initial
        fixpoint (one-time O(graph) cost, like any bulk load)."""
        # Deferred: fixpoint.py builds on this module's TraceView.
        from differential_dataflow_spark.streaming.fixpoint import (
            MaintainedFixpoint,
        )

        self._fx = MaintainedFixpoint(
            spark,
            fact_cols=["node"],
            axioms=lambda inp: inp["root"],
            step=_reach_step,
            inputs={
                "edge": edges.select("src", "dst"),
                "root": roots.select("node"),
            },
            input_keys={"edge": ["src"], "root": ["node"]},
            rederive_seeds=_reach_boundary,
            compact_every=compact_every,
            state_dir=state_dir,
            n_buckets=n_buckets,
            max_iters=max_iters,
        )

    def add_edges(self, delta: DataFrame) -> DataFrame:
        """Apply one batch of edge ADDITIONS (src, dst[, diff>0]); returns
        the newly reachable nodes as ``(node, diff=+1)`` update rows."""
        if DIFF in delta.columns and not delta.filter(F.col(DIFF) <= 0).isEmpty():
            raise ValueError(
                "add_edges takes insertions only; use process_batch for "
                "mixed insertions/deletions (delete-and-rederive)"
            )
        return self.process_batch(delta)

    def process_batch(self, delta: DataFrame) -> DataFrame:
        """Apply one batch of edge updates ``(src, dst[, diff])`` —
        insertions and deletions, diff defaulting to +1; returns the
        reached-set update stream ``(node, diff)``. Valid until the next
        call."""
        if DIFF not in delta.columns:
            delta = delta.withColumn(DIFF, F.lit(1).cast("long"))
        return self._fx.process_batch({"edge": delta.select("src", "dst", DIFF)})

    def reached_nodes(self) -> DataFrame:
        """Current reachable set (node rows)."""
        return self._fx.facts()

    def release(self) -> None:
        self._fx.release()


class IncrementalBFS:
    """Maintain single-source BFS hop distances under ARBITRARY edge changes
    — insertions and deletions — at cost proportional to the affected
    region, the reference's marquee maintenance demo (examples/bfs.rs +
    README.md:150-214, where random edge changes stream through an iterate
    scope). The reference gets deletions "for free" from second-order
    differentials; Spark has no feedback edge, so this uses the classic
    dynamic-SSSP decomposition instead, each phase frontier-bounded:

    1. DELETIONS — nodes whose shortest path might have used a deleted edge
       = descendants of the deleted edges' heads in the OLD shortest-path
       DAG (edges (u,v) with dist[v] = dist[u]+1): a semi-naive closure over
       the SP-DAG, O(affected). Their distances are recomputed by
       min-merge (Bellman-Ford) relaxation from the non-affected BOUNDARY
       over the post-deletion edges, restricted to the affected set —
       non-affected distances provably cannot change.
    2. INSERTIONS — decrease-only relaxation seeded from inserted edges that
       improve their head's distance; each round relaxes only the nodes
       improved in the previous round, O(improved region).

    Emits the update stream ``(node, dist, diff)``: retractions of changed /
    vanished distances and assertions of the new ones — consolidating the
    outputs reproduces a from-scratch BFS of the final graph (pytest).
    State: an edge TraceView keyed by src (bucketed parquet optional for
    durable/larger-than-memory storage) and the current distance map. The
    live edge multiset is consolidated ONCE per batch and reused by every
    relaxation round — per-round re-consolidation of the trace was the
    dominant shuffle cost; at warehouse scale that one fold is a
    partition-wise (bucketed) aggregate.
    """

    def __init__(
        self,
        spark: SparkSession,
        edges: DataFrame,
        root: int,
        compact_every: int = 16,
        state_dir: str | None = None,
        n_buckets: int = 64,
        max_iters: int = 10_000,
    ):
        self.spark = spark
        self.root = root
        self.max_iters = max_iters
        # Every intermediate (closure parts, per-round relaxation maps, the
        # previous distance map) is scratch: without the per-batch release
        # the min-merge rounds leak one O(V) checkpoint per round.
        self._scratch = Scratch()
        self.edges = TraceView(
            spark,
            compact_every=compact_every,
            bucket_path=(state_dir + "/edges") if state_dir else None,
            n_buckets=n_buckets,
        )
        self.edges.seed(
            edges.select("src", "dst", F.lit(1).cast("long").alias(DIFF)),
            key=["src"],
        )
        # dist state: a checkpointed (node, dist) map, rewritten only in the
        # affected region per batch (the rewrite unions untouched rows by
        # reference, so the per-batch write is O(changed)).
        start = self._scratch.ck(
            spark.createDataFrame([(root, 0)], "node long, dist long")
        )
        with micro_batch_scope(spark, self.edges.base_rows):
            self.dist = self._relax_down(
                start, 1, None, self._scratch.ck(self._edges_pos())
            )

    # -- helpers ------------------------------------------------------- #

    def _edges_pos(self) -> DataFrame:
        """Current edge multiset's positive support (src, dst)."""
        v = self.edges.view()
        return (
            v.groupBy("src", "dst")
            .agg(F.sum(DIFF).alias("__w"))
            .filter(F.col("__w") > 0)
            .select("src", "dst")
        )

    def _relax_down(
        self,
        improved: DataFrame,
        n_improved: int,
        dist: DataFrame | None,
        live: DataFrame,
    ) -> DataFrame:
        """Decrease-only min-merge relaxation over the pre-consolidated
        ``live`` edge map (consolidating the trace ONCE per batch instead of
        once per round was worth a shuffle per round): propagate better
        distances from ``improved`` (node, dist, with known row count) until
        no improvement. ONE driver job per round — the round's `better` set
        is a counted checkpoint, so materialization and the convergence
        probe share a job; dist stays a lazy anti-join chain over the
        per-round checkpoints, materialized once per BATCH. Returns the new
        checkpointed dist map. O(improved region) per round."""
        dist = improved if dist is None else dist
        rounds = 0
        for _ in range(self.max_iters):
            if n_improved == 0:
                return self._scratch.ck(dist) if rounds else dist
            cand = (
                live.join(
                    F.broadcast(improved.withColumnRenamed("node", "src")),
                    ["src"],
                )
                .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("__nd"))
                .groupBy("node")
                .agg(F.min("__nd").alias("__nd"))
            )
            merged = cand.join(dist, ["node"], "left")
            better, n_improved = self._scratch.ckn(
                merged.filter(
                    F.col("dist").isNull() | (F.col("__nd") < F.col("dist"))
                ).select("node", F.col("__nd").alias("dist"))
            )
            dist = (
                dist.join(better.select("node"), ["node"], "left_anti")
                .unionByName(better)
            )
            improved = better
            rounds += 1
        raise RuntimeError("BFS relaxation did not converge")

    # -- the maintenance step ------------------------------------------ #

    def process_batch(
        self, insert: DataFrame | None, delete: DataFrame | None
    ) -> DataFrame:
        """Apply edge insertions/deletions (src, dst); returns the distance
        update stream (node, dist, diff). Valid until the next call."""
        with micro_batch_scope(self.spark):
            return self._process_batch(insert, delete)

    def _process_batch(
        self, insert: DataFrame | None, delete: DataFrame | None
    ) -> DataFrame:
        self._scratch.reap(keep=(self.dist,))
        old_dist = self.dist
        # The pre-batch edge support is only consulted by the deletion
        # phase's SP-DAG closure — skip its consolidation job entirely on
        # insert-only batches.
        edges_old = (
            self._scratch.ck(self._edges_pos()) if delete is not None else None
        )
        # One TAGGED delta checkpoint covers both sides (one job instead of
        # two) and doubles as the trace part — a plain checkpoint, NOT scratch:
        # it is long-lived edge state, released by the TraceView's own
        # compaction, and reaping it at the next batch would tear the edge
        # trace's blocks out from under later rounds. ins/dele are lazy
        # filters over it.
        tagged = []
        if insert is not None:
            tagged.append(
                insert.select("src", "dst")
                .distinct()
                .withColumn(DIFF, F.lit(1).cast("long"))
            )
        if delete is not None:
            tagged.append(
                delete.select("src", "dst")
                .distinct()
                .withColumn(DIFF, F.lit(-1).cast("long"))
            )
        delta = None
        if tagged:
            delta = tagged[0]
            for t in tagged[1:]:
                delta = delta.unionByName(t)
            delta = tracked_local_checkpoint(delta)
        ins = (
            delta.filter(F.col(DIFF) > 0).select("src", "dst")
            if insert is not None
            else None
        )
        dele = (
            delta.filter(F.col(DIFF) < 0).select("src", "dst")
            if delete is not None
            else None
        )
        self.edges.maybe_compact()
        if delta is not None:
            self.edges.append(delta)
        # One consolidation of the post-change edge multiset serves every
        # relaxation round this batch (at warehouse scale this fold is
        # partition-wise and pruned; per-round re-consolidation was the
        # dominant shuffle cost).
        edges_new = self._scratch.ck(self._edges_pos())

        dist = old_dist
        n_affected = 0
        if dele is not None:
            du = old_dist.withColumnRenamed("node", "src").withColumnRenamed(
                "dist", "__du"
            )
            dv = old_dist.withColumnRenamed("node", "dst").withColumnRenamed(
                "dist", "__dv"
            )
            # Seeds: heads of deleted SP-DAG edges (dele is small — two
            # broadcast probes into the old distance map, no shuffle of it).
            seeds, n_front = self._scratch.ckn(
                du.join(F.broadcast(dele), ["src"])
                .join(dv, ["dst"])
                .filter(F.col("__dv") == F.col("__du") + 1)
                .select(F.col("dst").alias("node"), F.col("__dv").alias("dist"))
                .distinct()
            )
            # Closure over the old SP-DAG, FRONTIER-DRIVEN — each round
            # expands only the frontier's out-edges (bucket-pruned in the
            # parquet mode) and keeps successors whose old dist is exactly
            # frontier dist + 1; the SP-DAG is never materialized whole.
            # One counted-checkpoint job per round.
            parts = [seeds]
            frontier = seeds
            for _ in range(self.max_iters):
                if n_front == 0:
                    break
                aff = parts[0]
                for p in parts[1:]:
                    aff = aff.unionByName(p)
                nxt, n_front = self._scratch.ckn(
                    edges_old.join(
                        F.broadcast(frontier.withColumnRenamed("node", "src")),
                        ["src"],
                    )
                    .select(
                        F.col("dst").alias("node"),
                        (F.col("dist") + 1).alias("__req"),
                    )
                    .join(old_dist, ["node"])
                    .filter(F.col("dist") == F.col("__req"))
                    .select("node", "dist")
                    .distinct()
                    .join(aff.select("node"), ["node"], "left_anti")
                )
                parts.append(nxt)
                frontier = nxt
            affected = parts[0].select("node")
            for p in parts[1:]:
                affected = affected.unionByName(p.select("node"))
            affected, n_affected = self._scratch.ckn(
                affected.filter(F.col("node") != self.root)
            )
            # Keep non-affected distances; re-derive the affected region by
            # min-merge relaxation over the NEW edges, seeded from the
            # BOUNDARY — kept nodes with an edge into the affected set (one
            # map-side edge scan against the broadcast affected set; a
            # dst-keyed secondary trace would prune it, mirroring the
            # reference's arrange-by-reverse-key). Skipped outright when the
            # deleted edges touched no shortest path (n_affected == 0).
            if n_affected:
                kept = self._scratch.ck(
                    old_dist.join(affected, ["node"], "left_anti")
                )
                dist = kept
                into_affected = (
                    edges_new
                    .join(
                        F.broadcast(affected.withColumnRenamed("node", "dst")),
                        ["dst"],
                        "left_semi",
                    )
                    .select(F.col("src").alias("node"))
                    .distinct()
                )
                boundary, n_front = self._scratch.ckn(
                    kept.join(into_affected, ["node"], "left_semi")
                )
                for _ in range(self.max_iters):
                    if n_front == 0:
                        break
                    cand = (
                        edges_new.join(
                            F.broadcast(
                                boundary.withColumnRenamed("node", "src")
                            ),
                            ["src"],
                        )
                        .select(
                            F.col("dst").alias("node"),
                            (F.col("dist") + 1).alias("__nd"),
                        )
                        .join(F.broadcast(affected), ["node"], "left_semi")
                        .groupBy("node")
                        .agg(F.min("__nd").alias("__nd"))
                    )
                    merged = cand.join(dist, ["node"], "left")
                    better, n_front = self._scratch.ckn(
                        merged.filter(
                            F.col("dist").isNull()
                            | (F.col("__nd") < F.col("dist"))
                        ).select("node", F.col("__nd").alias("dist"))
                    )
                    dist = (
                        dist.join(better.select("node"), ["node"], "left_anti")
                        .unionByName(better)
                    )
                    boundary = better
                dist = self._scratch.ck(dist)

        if ins is not None:
            # Decrease-only relaxation seeded by improving inserted edges.
            du = dist.withColumnRenamed("node", "src").withColumnRenamed(
                "dist", "__du"
            )
            seeds, n_seeds = self._scratch.ckn(
                ins.join(du, ["src"])
                .select(
                    F.col("dst").alias("node"), (F.col("__du") + 1).alias("__nd")
                )
                .groupBy("node")
                .agg(F.min("__nd").alias("__nd"))
                .join(dist, ["node"], "left")
                .filter(F.col("dist").isNull() | (F.col("__nd") < F.col("dist")))
                .select("node", F.col("__nd").alias("dist"))
            )
            if n_seeds:
                # The seed rewrite stays a lazy anti-join over the seed
                # checkpoint — _relax_down materializes the final map once.
                dist = self._relax_down(
                    seeds,
                    n_seeds,
                    dist.join(seeds.select("node"), ["node"], "left_anti")
                    .unionByName(seeds),
                    edges_new,
                )

        self.dist = dist
        # Output deltas: full-outer diff of the old and new maps — Spark
        # evaluates it over the two checkpointed maps, and only changed rows
        # survive the filters.
        o = old_dist.withColumnRenamed("dist", "__old")
        n = dist.withColumnRenamed("dist", "__new")
        j = o.join(n, ["node"], "full_outer")
        changed = j.filter(
            ~F.col("__old").eqNullSafe(F.col("__new"))
        )
        out = (
            changed.filter(F.col("__old").isNotNull())
            .select(
                "node",
                F.col("__old").alias("dist"),
                F.lit(-1).cast("long").alias(DIFF),
            )
            .unionByName(
                changed.filter(F.col("__new").isNotNull()).select(
                    "node",
                    F.col("__new").alias("dist"),
                    F.lit(1).cast("long").alias(DIFF),
                )
            )
        )
        return out

    def distances(self) -> DataFrame:
        return self.dist

    def release(self) -> None:
        self.edges.release()
        self._scratch.reap()  # the distance map is scratch-held too


class CountMaintainer:
    """Incremental per-key count over a TraceView: the ``count_total``
    maintenance loop (src/operators/count.rs:81-123 — walk the sealed batch
    against the trace, emit -old/+new per changed key).

    Per ``process_batch``: consolidate the delta (one small shuffle), look up
    ONLY the touched keys' accumulated counts (broadcast semijoin against the
    key-partitioned state — the state itself never shuffles), emit retraction
    pairs, seal the delta as a new part. The returned DataFrame is valid
    until the next ``process_batch`` (which may compact).
    """

    def __init__(
        self,
        spark: SparkSession,
        keys: Sequence[str],
        alias: str = "count",
        compact_every: int = 16,
        state_dir: str | None = None,
        n_buckets: int = 64,
    ):
        """``state_dir`` selects the bucket-partitioned parquet base: per
        round only the delta's touched buckets are read — the state-bigger-
        than-memory shape (see TraceView). Default is the in-memory spine."""
        self.spark = spark
        self.keys = list(keys)
        self.alias = alias
        self.trace = TraceView(
            spark,
            compact_every=compact_every,
            bucket_path=state_dir,
            n_buckets=n_buckets,
        )
        # The maintainer's keys ARE the trace key: set up front so a bucketed
        # trace used without seed_counts (pure append-from-empty) can still
        # compute its bucket column at first compaction.
        self.trace.key = self.keys

    def seed_counts(self, counts: DataFrame, count_col: str = "count") -> None:
        """Pre-load existing per-key counts (``(keys..., count_col)``)."""
        self.trace.seed(
            counts.select(*self.keys, F.col(count_col).cast("long").alias(DIFF)),
            key=self.keys,
        )

    def process_batch(self, delta: DataFrame) -> DataFrame:
        """Apply one batch of ``(keys..., diff)`` updates; returns the output
        update stream ``(keys..., {alias}, diff)`` with the -old/+new pairs
        for every key whose count changed."""
        with micro_batch_scope(self.spark):
            return self._process_batch(delta)

    def _process_batch(self, delta: DataFrame) -> DataFrame:
        self.trace.maybe_compact()
        d = tracked_local_checkpoint(
            delta.groupBy(*self.keys)
            .agg(F.sum(DIFF).alias(DIFF))
            .filter(F.col(DIFF) != 0)
        )
        tv = self.trace.lookup_view(d.select(*self.keys))
        if tv is None:
            old = d.select(*self.keys, F.lit(0).cast("long").alias("__old")).limit(0)
        else:
            old = (
                tv.join(F.broadcast(d.select(*self.keys)), self.keys, "left_semi")
                .groupBy(*self.keys)
                .agg(F.sum(DIFF).alias("__old"))
            )
        # ``old`` is DELTA-bounded (per-key sums of only the touched keys),
        # so pin it as the broadcast build side: the left-outer join then
        # streams the delta map-side instead of waiting for AQE to convert
        # a planned sort-merge after both exchanges ran.
        st = (
            d.withColumnRenamed(DIFF, "__dn")
            .join(F.broadcast(old), self.keys, "left")
            .select(
                *self.keys,
                F.coalesce("__old", F.lit(0)).alias("__old"),
                (F.coalesce("__old", F.lit(0)) + F.col("__dn")).alias("__new"),
            )
        )
        # One pass (no self-union, which would recompute the state lookup
        # twice): explode each changed key into its -old/+new pair and drop
        # the zero-count halves.
        pair = F.array(
            F.struct(
                F.col("__old").alias(self.alias),
                F.lit(-1).cast("long").alias(DIFF),
            ),
            F.struct(
                F.col("__new").alias(self.alias),
                F.lit(1).cast("long").alias(DIFF),
            ),
        )
        out = (
            st.select(*self.keys, F.explode(pair).alias("__p"))
            .select(*self.keys, f"__p.{self.alias}", f"__p.{DIFF}")
            .filter(F.col(self.alias) != 0)
        )
        self.trace.append(d)
        return out

    def counts(self) -> DataFrame:
        """Current consolidated state ``(keys..., {alias})`` — for tests and
        snapshot reads."""
        tv = self.trace.view()
        assert tv is not None, "no state seeded or appended"
        return (
            tv.groupBy(*self.keys)
            .agg(F.sum(DIFF).alias(self.alias))
            .filter(F.col(self.alias) != 0)
        )

    def release(self) -> None:
        self.trace.release()


class KCoreMaintainer:
    """Maintain the k-core (maximal subgraph with all degrees >= k,
    undirected) under edge insertion/deletion batches — the reference's
    third headline maintenance demo (README.md:367-375, ~50 µs/update
    streaming k-cores). Spark has no second-order differentials, so this
    uses the classic two-phase decomposition, both phases bounded by the
    affected region:

    - SHRINK: peel cascade seeded by core endpoints of support-deleted
      edges — each round recomputes only the frontier's in-core degrees
      (one bucket-pruned trace lookup) and drops those below k; dropped
      nodes' core neighbors form the next frontier. Peeling is confluent,
      so the cascade removes exactly old-core \\ k-core(old-core under new
      edges).
    - GROW: candidate closure from the inserted edges' endpoints over
      NON-core nodes with total live degree >= k (any node that newly joins
      the core chains to an inserted edge through such nodes — including
      shrink-phase casualties resurrected by fresh joiners), then an inner
      peel of the candidates with the surviving core held fixed; survivors
      join. Deletion-only batches skip GROW entirely (the core can only
      shrink), insertion-only batches skip SHRINK.

    Emits the membership update stream ``(node, diff)``; ``core_nodes`` /
    ``core_edges`` expose the maintained state (edges in canonical
    src < dst direction, matching ``algorithms.graphs.k_core``). Parity with
    the batch operator across mixed batches is pinned in pytest.
    """

    def __init__(
        self,
        spark: SparkSession,
        edges: DataFrame,
        k: int,
        compact_every: int = 16,
        state_dir: str | None = None,
        n_buckets: int = 64,
        max_iters: int = 10_000,
    ):
        """``edges``: (src, dst) undirected (one direction per edge is
        fine — the trace stores both). Runs the initial peel (one-time
        O(graph) cost, like any bulk load)."""
        self.spark = spark
        self.k = k
        self.max_iters = max_iters
        self._scratch = Scratch()
        self.edges = TraceView(
            spark,
            compact_every=compact_every,
            bucket_path=(state_dir + "/edges") if state_dir else None,
            n_buckets=n_buckets,
        )
        # Multiset support, NOT set semantics: (a,b) and (b,a) both inserted
        # means support 2 for the undirected edge, so deleting one copy
        # leaves it alive — deletions cancel against multiplicity exactly
        # like every other trace here.
        sym = edges.select("src", "dst").unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        self.edges.seed(
            sym.select("src", "dst", F.lit(1).cast("long").alias(DIFF)),
            key=["src"],
        )
        # Initial fixpoint: full peel from all nodes.
        all_nodes = self._scratch.ck(sym.select(F.col("src").alias("node")).distinct())
        with micro_batch_scope(spark, self.edges.base_rows):
            self.core = self._peel(all_nodes, fixed=None, bulk_first=True)

    # -- helpers ------------------------------------------------------- #

    def _support_from(self, srcs: DataFrame | None) -> DataFrame:
        """Live (src, dst) support edges out of the given ``(src)`` key set
        (bucket-pruned; consolidates only the touched rows). ``None`` = the
        whole graph's support, one full aggregate — bulk loads only, never
        a per-batch path."""
        if srcs is None:
            ev = self.edges.view()
        else:
            ev = self.edges.lookup_view(srcs).join(
                F.broadcast(srcs), ["src"], "left_semi"
            )
        return (
            ev.groupBy("src", "dst")
            .agg(F.sum(DIFF).alias("__s"))
            .filter(F.col("__s") > 0)
            .select("src", "dst")
        )

    def _degrees_within(
        self, nodes: DataFrame, members: DataFrame | None
    ) -> DataFrame:
        """(node, deg): each ``nodes`` row's live-degree counting only
        neighbors inside ``members`` (None = every neighbor, i.e. total
        degree). Scale-safe for LARGE member sets: only the frontier's
        neighbor set is ever broadcast — ``members`` streams map-side
        against it to produce the (small) live-member subset, which is then
        broadcast back into the frontier-incident edges. ``nodes=None``
        computes every node's degree (bulk load)."""
        sup = self._support_from(
            None if nodes is None else nodes.select(F.col("node").alias("src"))
        )
        if members is not None:
            nbrs = sup.select(F.col("dst").alias("node")).distinct()
            live = members.join(F.broadcast(nbrs), ["node"], "left_semi")
            sup = sup.join(
                F.broadcast(live.withColumnRenamed("node", "dst")),
                ["dst"],
                "left_semi",
            )
        return (
            sup.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .select(F.col("src").alias("node"), "deg")
        )

    def _peel(
        self,
        candidates: DataFrame,
        fixed: DataFrame | None,
        frontier0: DataFrame | None = None,
        bulk_first: bool = False,
    ) -> DataFrame:
        """Iteratively drop ``candidates`` whose degree within
        (``fixed`` ∪ surviving candidates) is < k; returns the survivors
        (checkpointed iff anything dropped — callers pass checkpointed
        candidates). ``frontier0`` seeds a narrower first check (shrink
        cascades start at the deleted edges' endpoints, not the whole set);
        afterwards only nodes adjacent to a drop are re-checked.

        ONE driver action per round: the round's drop set is a COUNTED lazy
        checkpoint (its materializing count folds the lazy frontier/degree
        evaluation AND answers the convergence probe in the same job);
        survivors and frontier stay lazy chains over the per-round drop
        checkpoints, lineage-cut every few rounds. This is what keeps a
        cascade on a latency-floor-bound micro-batch round at ~1 job
        instead of ~5. ``bulk_first`` marks the initial fixpoint
        (candidates = every node): round one is then one full degree
        aggregate instead of a broadcast of the whole node set."""
        cur = candidates
        frontier = frontier0 if frontier0 is not None else candidates
        first = True
        rounds = 0
        for _ in range(self.max_iters):
            if bulk_first and first:
                # Bulk round: deg covers EVERY node (O(graph)) — never
                # broadcast; the planner/AQE handles it.
                keep = self._degrees_within(None, None).filter(
                    F.col("deg") >= self.k
                )
            else:
                members = cur if fixed is None else cur.unionByName(fixed)
                # deg is FRONTIER-bounded (degrees of the checked nodes
                # only), so broadcasting it keeps the lazy frontier chain
                # off the exchange (without the hint the anti-join planned
                # sort-merge and AQE only converted after both map stages
                # ran — extra stage jobs on a driver-floor-bound loop).
                keep = F.broadcast(
                    self._degrees_within(frontier, members).filter(
                        F.col("deg") >= self.k
                    )
                )
            first = False
            drop, n_drop = self._scratch.ckn(
                frontier.join(keep, ["node"], "left_anti")
            )
            if n_drop == 0:
                return self._scratch.ck(cur) if rounds else candidates
            rounds += 1
            cur = cur.join(drop, ["node"], "left_anti")
            # next frontier: surviving candidates adjacent to a dropped node
            frontier = (
                self._support_from(drop.select(F.col("node").alias("src")))
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(cur, ["node"], "left_semi")
            )
            if rounds % 4 == 0:
                cur = self._scratch.ck(cur)  # bound the anti-join chain depth
        raise RuntimeError("k-core peel did not converge")

    # -- the maintenance step ------------------------------------------ #

    def process_batch(
        self, insert: DataFrame | None, delete: DataFrame | None
    ) -> DataFrame:
        """Apply edge insertions/deletions (src, dst); returns the core-
        membership update stream ``(node, diff)``. Valid until next call."""
        with micro_batch_scope(self.spark):
            return self._process_batch(insert, delete)

    def _process_batch(
        self, insert: DataFrame | None, delete: DataFrame | None
    ) -> DataFrame:
        self._scratch.reap(keep=(self.core,))
        old_core = self.core
        # ONE tagged-delta checkpoint covers both sides; the symmetrized
        # trace part and the per-side endpoint sets are lazy views over it
        # (narrow maps over cached blocks — no further jobs).
        tagged = []
        if insert is not None:
            tagged.append(
                insert.select("src", "dst")
                .distinct()
                .withColumn(DIFF, F.lit(1).cast("long"))
            )
        if delete is not None:
            tagged.append(
                delete.select("src", "dst")
                .distinct()
                .withColumn(DIFF, F.lit(-1).cast("long"))
            )
        delta = None
        if tagged:
            delta = tagged[0]
            for t in tagged[1:]:
                delta = delta.unionByName(t)
            delta = tracked_local_checkpoint(delta)
        ins = (
            delta.filter(F.col(DIFF) > 0).select("src", "dst")
            if insert is not None
            else None
        )
        dele = (
            delta.filter(F.col(DIFF) < 0).select("src", "dst")
            if delete is not None
            else None
        )
        self.edges.maybe_compact()
        if delta is not None:
            sym_part = delta.unionByName(
                delta.select(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    DIFF,
                )
            )
            # TraceView.compact frees parts via release_checkpoint, and the
            # lazy sym view would otherwise leak the backing blocks.
            self.edges.append(self._scratch.hand_off(delta, sym_part))

        core = old_core
        if dele is not None:
            # SHRINK: core endpoints of deleted edges seed the peel; the
            # whole core is the (lazy) candidate set, only the seed frontier
            # is degree-checked first.
            ends = (
                dele.select(F.col("src").alias("node"))
                .unionByName(dele.select(F.col("dst").alias("node")))
                .distinct()
                .join(core, ["node"], "left_semi")
            )
            core = self._peel(core, fixed=None, frontier0=ends)

        if ins is not None:
            # GROW: candidate closure from inserted endpoints over non-core
            # nodes with total degree >= k, then peel with `core` fixed.
            # Each closure round is ONE counted-checkpoint job (the next
            # eligible ring's materialization doubles as the convergence
            # probe) — the eligibility joins stay lazy inside that job.
            def eligible(nodes: DataFrame) -> DataFrame:
                cand = nodes.join(core, ["node"], "left_anti")
                deg = self._degrees_within(cand, members=None)  # total degree
                # deg is candidate-bounded — broadcast (see _peel).
                return cand.join(
                    F.broadcast(deg.filter(F.col("deg") >= self.k)),
                    ["node"],
                    "left_semi",
                )

            seeds, n_seeds = self._scratch.ckn(
                eligible(
                    ins.select(F.col("src").alias("node"))
                    .unionByName(ins.select(F.col("dst").alias("node")))
                    .distinct()
                )
            )
            if n_seeds:
                cand_parts = [seeds]
                frontier = seeds
                for _ in range(self.max_iters):
                    acc = cand_parts[0]
                    for p in cand_parts[1:]:
                        acc = acc.unionByName(p)
                    nxt, n_nxt = self._scratch.ckn(
                        eligible(
                            self._support_from(
                                frontier.select(F.col("node").alias("src"))
                            )
                            .select(F.col("dst").alias("node"))
                            .distinct()
                        ).join(acc, ["node"], "left_anti")
                    )
                    if n_nxt == 0:
                        break
                    cand_parts.append(nxt)
                    frontier = nxt
                else:
                    raise RuntimeError("k-core grow closure did not converge")
                cands = cand_parts[0]
                for p in cand_parts[1:]:
                    cands = cands.unionByName(p)
                joined = self._peel(cands, fixed=core)
                core = self._scratch.ck(core.unionByName(joined))
        o = old_core.withColumn("__o", F.lit(1))
        n_ = core.withColumn("__n", F.lit(1))
        j = o.join(n_, ["node"], "full_outer")
        out = (
            j.filter(F.col("__o").isNull())
            .select("node", F.lit(1).cast("long").alias(DIFF))
            .unionByName(
                j.filter(F.col("__n").isNull()).select(
                    "node", F.lit(-1).cast("long").alias(DIFF)
                )
            )
        )
        out = self._scratch.ck(out)
        self.core = core
        return out

    def core_nodes(self) -> DataFrame:
        return self.core

    def core_edges(self) -> DataFrame:
        """Surviving edges in canonical direction (src < dst), matching the
        batch operator's output. Snapshot read — one consolidation of the
        live edge support plus two membership semijoins (no broadcast of the
        core; Spark picks the join strategy by size)."""
        v = self.edges.view()
        sup = (
            v.groupBy("src", "dst")
            .agg(F.sum(DIFF).alias("__s"))
            .filter(F.col("__s") > 0)
            .select("src", "dst")
        )
        return (
            sup.join(
                self.core.withColumnRenamed("node", "src"), ["src"], "left_semi"
            )
            .join(
                self.core.withColumnRenamed("node", "dst"), ["dst"], "left_semi"
            )
            .filter(F.col("src") < F.col("dst"))
            .select("src", "dst")
        )

    def release(self) -> None:
        self.edges.release()
        self._scratch.reap()
