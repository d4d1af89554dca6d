"""O(delta)-per-round maintenance of large arranged state.

The reference's headline capability is CHEAP MAINTENANCE: after loading a
large collection, each small batch of updates costs work proportional to the
batch, not the state (README.md:150-214 — 228 µs/round at batch 1, ~5 µs per
update at batch 100k). Every maintainer here keeps its state in the one trace
type, :class:`~differential_dataflow_spark.operators.arrange.Arrangement`:
in memory by default, so a micro-batch round never rewrites or re-reads state
from disk, or durable and key-bucketed under ``state_dir``. Each trace
compacts behind the batch: a maintainer's batch ends by starting a due fold
on a worker thread (``Arrangement.maybe_compact``) and the next batch begins
by swapping it in (``Arrangement.swap``), so the O(state) fold is off the
batch's critical path:

- ``CountMaintainer`` — incremental ``count_total`` against an arrangement
  (reference src/operators/count.rs:81-123): per batch, only the TOUCHED keys'
  trace rows are read (broadcast semijoin of the delta's key set against the
  key-bucketed state), one aggregate over them and the raw delta gives each
  key its old count and net change, and the operator emits the ``(key, old,
  -1), (key, new, +1)`` retraction pairs. With ``state_dir`` it resumes
  after a restart from every part it sealed.
- ``IncrementalReachability`` and ``IncrementalBFS`` — graph programs run on
  the generic maintained fixpoint (streaming/fixpoint.py): reachability over
  distinct-valued ``node`` facts, BFS over min-valued ``(node, dist)`` facts,
  both with the dst-keyed rederive boundary.
- ``KCoreMaintainer`` — the k-core under edge changes (a threshold, not a
  monotone program): shrink/grow peel cascades over an edge arrangement.

``DeltaJoin`` (streaming/join.py) is a two-relation ``DeltaQuery`` over the
same arrangements.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from differential_dataflow_spark.collection import DIFF
from differential_dataflow_spark.operators.arrange import Arrangement
from differential_dataflow_spark.operators.iterate import FactKind, closure
from differential_dataflow_spark.session import (
    Scratch,
    micro_batch_scope,
    tracked_local_checkpoint,
)
from differential_dataflow_spark.streaming.fixpoint import MaintainedFixpoint

_NODES = FactKind(["node"])


def _out_edges(tails: DataFrame, edges: DataFrame) -> DataFrame:
    """``edges`` out of ``tails`` — ``src`` plus the tail's value columns,
    if any, which the edges then carry. A semi-join when there are none, so
    the planner sizes the result by the edge relation, not by a join
    product: the derived trace stays small enough in its estimates for the
    anti-join against it to be planned as a broadcast."""
    if tails.columns == ["src"]:
        return edges.join(tails, ["src"], "left_semi")
    return edges.join(tails, ["src"])


def _into_suspect(kept: DataFrame, suspect: DataFrame, inp) -> DataFrame:
    """The dst-keyed rederive boundary: only edges INTO the suspect set
    whose tail is kept can rederive a suspect node, so the kept region is
    probed by the (small) tail set instead of being joined whole — the
    reference's arrange-by-reverse-key. Every join streams the big side
    map-side against a broadcast set bounded by the suspect region."""
    into = inp["edge"].join(
        F.broadcast(suspect.select(F.col("node").alias("dst"))),
        ["dst"],
        "left_semi",
    )
    tails = kept.withColumnRenamed("node", "src").join(
        F.broadcast(into.select("src").distinct()), ["src"], "left_semi"
    )
    return _out_edges(F.broadcast(tails), into)


def _reach_step(frontier: DataFrame, inp) -> DataFrame:
    """``reach(y) :- reach(x), edge(x, y)`` applied to frontier facts."""
    return _out_edges(
        frontier.withColumnRenamed("node", "src"), inp["edge"]
    ).select(F.col("dst").alias("node"))


def _reach_boundary(kept: DataFrame, suspect: DataFrame, inp) -> DataFrame:
    return _into_suspect(kept, suspect, inp).select(F.col("dst").alias("node"))


def _edge_updates(
    insert: DataFrame | None, delete: DataFrame | None
) -> DataFrame | None:
    """One ``(src, dst, diff)`` update frame: +1 per inserted edge, −1 per
    deleted one (None when neither side is given)."""
    sides = [
        df.select("src", "dst", F.lit(diff).cast("long").alias(DIFF))
        for df, diff in ((insert, 1), (delete, -1))
        if df is not None
    ]
    return reduce(DataFrame.unionByName, sides) if sides else None


def _bfs_hop(edges: DataFrame) -> DataFrame:
    return edges.select(
        F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
    )


def _bfs_step(frontier: DataFrame, inp) -> DataFrame:
    """``dist(y) min= dist(x) + 1 :- dist(x), edge(x, y)``."""
    return _bfs_hop(
        _out_edges(frontier.withColumnRenamed("node", "src"), inp["edge"])
    )


def _bfs_boundary(kept: DataFrame, suspect: DataFrame, inp) -> DataFrame:
    return _bfs_hop(_into_suspect(kept, suspect, inp))


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
    scope).

    The reference's program ``nodes.iterate(join(edges).concat(nodes)
    .reduce(min))`` (src/algorithms/graphs/bfs.rs) run on :class:`~
    differential_dataflow_spark.streaming.fixpoint.MaintainedFixpoint` over
    min-valued ``(node, dist)`` facts: axiom ``(root, 0)``, step ``dist(y)
    min= dist(x) + 1 :- edge(x, y)``. Deletions overdelete the old
    shortest-path DAG below the deleted edges and rederive the affected
    nodes from the kept boundary (the dst-keyed ``_bfs_boundary``: edges
    into the affected set whose tail is kept); insertions run a
    decrease-only relaxation from the improved heads.

    Emits the update stream ``(node, dist, diff)``: retractions of changed /
    vanished distances and assertions of the new ones — consolidating the
    outputs reproduces a from-scratch BFS of the final graph (pytest).
    Edges are a multiset: an edge inserted twice needs two retractions.
    ``state_dir`` stores the edge trace as bucketed parquet (key ``src``).
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
        """``edges``: (src, dst). Runs the initial BFS (one-time O(graph)
        cost, like any bulk load)."""
        # Built in the JVM: a frame from a Python list is a Python RDD, and
        # every round that reads the axioms would wait on Python workers.
        origin = spark.range(1).select(
            F.lit(root).cast("long").alias("node"),
            F.lit(0).cast("long").alias("dist"),
        )
        self._fx = MaintainedFixpoint(
            spark,
            fact_cols=["node", "dist"],
            axioms=lambda inp: origin,
            step=_bfs_step,
            inputs={"edge": edges.select("src", "dst")},
            input_keys={"edge": ["src"]},
            rederive_seeds=_bfs_boundary,
            min_col="dist",
            compact_every=compact_every,
            state_dir=state_dir,
            n_buckets=n_buckets,
            max_iters=max_iters,
        )

    def process_batch(
        self, insert: DataFrame | None, delete: DataFrame | None
    ) -> DataFrame:
        """Apply edge insertions/deletions (src, dst); returns the distance
        update stream (node, dist, diff). Valid until the next call."""
        upd = _edge_updates(insert, delete)
        return self._fx.process_batch({} if upd is None else {"edge": upd})

    def distances(self) -> DataFrame:
        """Current distance map (node, dist)."""
        return self._fx.facts()

    def release(self) -> None:
        self._fx.release()


class CountMaintainer:
    """Incremental per-key count over an arrangement: the ``count_total``
    maintenance loop (src/operators/count.rs:81-123 — walk the sealed batch
    against the trace, emit -old/+new per changed key).

    Per ``process_batch``: seal the raw delta as one checkpointed part (the
    trace's fold consolidates it), select ONLY the touched keys' trace rows
    (broadcast semijoin of the delta's keys against the key-partitioned
    state — the state itself never shuffles), and run ONE aggregate over
    those rows and the delta, grouped by key, for each key's old count and
    net change; every key whose net change is non-zero emits its retraction
    pair. The trace folds behind the batch: a due fold starts when the
    batch ends and is swapped in when the next begins. The returned
    DataFrame is valid until the next ``process_batch`` (whose swap
    releases the frames it reads).
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
        """``state_dir`` selects the durable arrangement: per round only the
        delta's touched buckets are read — the state-bigger-than-memory
        shape — and a new maintainer on a populated ``state_dir`` resumes
        from it (no ``seed_counts``). Default is the in-memory tier."""
        self.spark = spark
        self.keys = list(keys)
        self.alias = alias
        self.trace = Arrangement(
            spark,
            state_dir,
            key=self.keys,
            compact_every=compact_every,
            n_buckets=n_buckets,
        )

    def seed_counts(self, counts: DataFrame, count_col: str = "count") -> None:
        """Pre-load existing per-key counts (``(keys..., count_col)``)."""
        self.trace.seed(
            counts.select(*self.keys, F.col(count_col).cast("long").alias(DIFF))
        )

    def process_batch(self, delta: DataFrame) -> DataFrame:
        """Apply one batch of ``(keys..., diff)`` updates; returns the output
        update stream ``(keys..., {alias}, diff)`` with the -old/+new pairs
        for every key whose count changed."""
        with micro_batch_scope(self.spark):
            return self._process_batch(delta)

    def _process_batch(self, delta: DataFrame) -> DataFrame:
        self.trace.swap()
        # The raw delta, unconsolidated: the trace's fold consolidates it, and
        # the aggregate below sums duplicate and cancelling rows per key.
        d = tracked_local_checkpoint(
            delta.select(*self.keys, F.col(DIFF).cast("long").alias(DIFF))
        )
        rows = d.select(
            *self.keys, F.lit(0).cast("long").alias("__old"), F.col(DIFF).alias("__dn")
        )
        keys = d.select(*self.keys)
        tv = self.trace.lookup_view(keys)
        if tv is not None:
            touched = tv.join(F.broadcast(keys), self.keys, "left_semi")
            rows = touched.select(
                *self.keys, F.col(DIFF).alias("__old"), F.lit(0).cast("long").alias("__dn")
            ).unionByName(rows)
        # ONE aggregate over the touched trace rows and the delta gives each
        # touched key its old count and its net change; keys whose changes
        # cancel emit nothing.
        st = (
            rows.groupBy(*self.keys)
            .agg(F.sum("__old").alias("__old"), F.sum("__dn").alias("__dn"))
            .filter(F.col("__dn") != 0)
            .select(
                *self.keys,
                "__old",
                (F.col("__old") + F.col("__dn")).alias("__new"),
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
        self.trace.maybe_compact()
        return out

    def counts(self) -> DataFrame:
        """Current consolidated state ``(keys..., {alias})`` — for tests and
        snapshot reads."""
        tv = self.trace.view()
        if tv is None:
            raise ValueError("no counts: nothing seeded or processed yet")
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
      shrink-phase casualties resurrected by fresh joiners) — a distinct
      closure on the loop driver (operators/iterate.py::closure, step =
      neighbours, within = eligible) — then an inner peel of the candidates
      with the surviving core held fixed; survivors join. Deletion-only
      batches skip GROW entirely (the core can only shrink), insertion-only
      batches skip SHRINK.

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
        self.edges = Arrangement(
            spark,
            (state_dir + "/edges") if state_dir else None,
            key=["src"],
            compact_every=compact_every,
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
            sym.select("src", "dst", F.lit(1).cast("long").alias(DIFF))
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
        self.edges.swap()  # before the reap: a running fold reads the parts
        self._scratch.reap(keep=(self.core,))
        old_core = self.core
        # ONE delta checkpoint covers both sides, summed per edge (the trace
        # is a multiset: an edge inserted twice needs two retractions); the
        # symmetrized trace part and the per-side endpoint sets are lazy
        # views over it (narrow maps over cached blocks — no further jobs).
        delta = _edge_updates(insert, delete)
        if delta is not None:
            delta = tracked_local_checkpoint(
                delta.groupBy("src", "dst")
                .agg(F.sum(DIFF).cast("long").alias(DIFF))
                .filter(F.col(DIFF) != 0)
            )
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
        if delta is not None:
            sym_part = delta.unionByName(
                delta.select(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    DIFF,
                )
            )
            # The trace's swap frees parts via release_checkpoint, and the
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
            # A distinct closure on the loop driver (step = neighbours,
            # within = eligible): one counted checkpoint per round, the
            # eligibility joins lazy inside it.
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
                grown = [seeds]
                closure(
                    seeds,
                    n_seeds,
                    lambda f: self._support_from(
                        f.select(F.col("node").alias("src"))
                    )
                    .select(F.col("dst").alias("node"))
                    .distinct(),
                    _NODES,
                    grown,
                    self._scratch,
                    within=eligible,
                    max_iters=self.max_iters,
                )
                cands = grown[0]
                for p in grown[1:]:
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
        self.edges.maybe_compact()
        return out

    def core_nodes(self) -> DataFrame:
        return self.core

    def core_edges(self) -> DataFrame:
        """Surviving edges in canonical direction (src < dst), matching the
        batch operator's output. Snapshot read — one consolidation of the
        live edge support plus two membership semijoins (no broadcast of the
        core; Spark picks the join strategy by size)."""
        return (
            self._support_from(None)
            .join(
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
