"""Incremental multiway delta-join — the dogs³ ``half_join`` pipeline.

The reference's dogsdogsdogs crate maintains ANY multiway join under updates
by running one DELTA PIPELINE per relation occurrence (atom): the delta
``dR_i`` is extended by a chain of half-joins against the other occurrences'
traces, where occurrences BEFORE position i are read at the post-batch time
and occurrences AFTER position i at the pre-batch time
(dogsdogsdogs/src/operators/half_join.rs:1-33 — the ``Lt``/``Le`` time
comparison encodes exactly this ordering; dogsdogsdogs/src/lib.rs:1-60 and
examples/delta_query.rs wire the per-occurrence pipelines from forward /
reverse ``CollectionIndex`` arrangements). The alternating discipline makes
the pipelines PARTITION the output change — summing them telescopes
``⊗R_i_new − ⊗R_i_old`` with no double counting, for additions and
retractions alike, for any number of relations updated in the same epoch.

Spark realization: one micro-batch epoch at a time against one shared
``Arrangement`` per RELATION (not per occurrence — Spark's column renaming
plays the role of the reference's per-occurrence forward/reverse
arrangements), so "pre/post-batch time" is simply which view a term joins
(``R_old`` vs ``R_old ∪ ΔR``). The traces compact behind the batch: a due
fold starts when a batch ends and is swapped in when the next begins. For
triangles over a single edge relation the alternating discipline yields the
canonical three pipelines:

    ΔT = Δ(a,b) ⋈ E_old(b,c) ⋈ E_old(a,c)
       + E_new(a,b) ⋈ Δ(b,c)  ⋈ E_old(a,c)
       + E_new(a,b) ⋈ E_new(b,c) ⋈ Δ(a,c)

Every pipeline is DELTA-DRIVEN: the small consolidated Δ is broadcast into
its first half-join, so per-round work is O(|Δ| · extension degree), never
O(|R|ⁿ). Diffs multiply through each half-join (weighted-multiset
semantics), so multiplicities and retractions need no special casing. The
chain visits the remaining atoms GREEDILY BY CONNECTIVITY (most shared
bound variables first) — the same heuristic a worst-case-optimal planner
uses to avoid Cartesian intermediates; a genuinely disconnected query falls
back to an explicit crossJoin.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from differential_dataflow_spark.collection import DIFF
from differential_dataflow_spark.operators.arrange import Arrangement
from differential_dataflow_spark.session import (
    micro_batch_scope,
    tracked_local_checkpoint,
)


def half_join(
    bindings: DataFrame,
    trace: DataFrame,
    on: Sequence[str],
    broadcast_bindings: bool = False,
) -> DataFrame:
    """One half-join step: extend weighted prefix ``bindings`` by a trace,
    multiplying diffs (half_join.rs:9-33 — the output weight is the product).
    Column names must be pre-aligned: shared names in ``on`` join, the
    trace's other columns become new binding variables. An empty ``on``
    (disconnected query fragment) is an explicit cross product."""
    l = bindings.withColumnRenamed(DIFF, "__wb")
    r = trace.withColumnRenamed(DIFF, "__wt")
    if broadcast_bindings:
        l = F.broadcast(l)
    joined = l.crossJoin(r) if not on else l.join(r, list(on), "inner")
    return (
        joined.withColumn(DIFF, F.col("__wb") * F.col("__wt"))
        .drop("__wb", "__wt")
    )


class DeltaQuery:
    """Generic incrementally-maintained n-way join (dogsdogsdogs/src/lib.rs
    ``CollectionIndex`` + half_join pipelines, re-planned for micro-batches).

    ``relations`` maps each relation name to its payload column order;
    ``atoms`` is the conjunctive query — one ``(relation, variables)`` pair
    per occurrence, variables bound positionally to the relation's columns.
    A variable repeated WITHIN an atom (e.g. self-loops ``E(a, a)``) becomes
    an equality filter. Example — triangles:

        DeltaQuery(spark,
                   relations={"E": ("src", "dst")},
                   atoms=[("E", ("a", "b")), ("E", ("b", "c")),
                          ("E", ("a", "c"))])

    ``process_batch`` takes one epoch of updates per relation (any subset)
    and returns the output update stream over the query's variables plus
    ``diff``; accumulating the outputs reproduces the batch join of the
    final relation contents (pytest: 3-path over two relations, 4-clique,
    triangle parity with the hand-wired pipelines). The traces fold behind
    the batch: a due fold starts when the batch ends and is swapped in when
    the next begins. The returned frame is valid until the next call — the
    trace cursor contract.

    ``state_dir`` keeps each relation's trace durable under
    ``state_dir/<relation>`` (bucketed by the relation's first column), and
    a new query on a populated ``state_dir`` resumes from it, its
    :attr:`epoch` past every sealed batch. Default: in memory.
    """

    def __init__(
        self,
        spark: SparkSession,
        relations: Mapping[str, Sequence[str]],
        atoms: Sequence[tuple[str, Sequence[str]]],
        compact_every: int = 8,
        state_dir: str | None = None,
    ):
        self.spark = spark
        self.relations = {r: list(cols) for r, cols in relations.items()}
        self.atoms = [(r, list(vs)) for r, vs in atoms]
        for r, vs in self.atoms:
            if r not in self.relations:
                raise ValueError(f"atom references unknown relation {r!r}")
            if len(vs) != len(self.relations[r]):
                raise ValueError(
                    f"atom {r}{tuple(vs)} arity {len(vs)} != relation "
                    f"arity {len(self.relations[r])}"
                )
        # Output variables in first-appearance order.
        self.variables: list[str] = []
        for _, vs in self.atoms:
            for v in vs:
                if v not in self.variables:
                    self.variables.append(v)
        self.traces = {
            r: Arrangement(
                spark,
                f"{state_dir}/{r}" if state_dir else None,
                key=cols[:1],
                compact_every=compact_every,
            )
            for r, cols in self.relations.items()
        }
        # Batches processed: each seals its deltas at this ordinal.
        self.epoch = max(t.upper for t in self.traces.values())

    # -- helpers ------------------------------------------------------- #

    def _as_atom(self, df: DataFrame, rel: str, vs: list[str]) -> DataFrame:
        """Rename a relation-shaped frame to an atom's variables; repeated
        variables within the atom become equality filters. Trace and delta
        frames hold exactly ``(cols..., diff)``, so an atom whose variables
        are its relation's columns is the frame itself (every DataFrame
        call is a driver round trip on the micro-batch path)."""
        cols = self.relations[rel]
        if vs == cols:
            return df
        sel, seen, conds = [], {}, []
        for i, (c, v) in enumerate(zip(cols, vs)):
            if v in seen:
                tmp = f"__dup{i}"
                sel.append(F.col(c).alias(tmp))
                conds.append((seen[v], tmp))
            else:
                seen[v] = v
                sel.append(F.col(c).alias(v))
        out = df.select(*sel, F.col(DIFF))
        for a, b in conds:
            out = out.filter(F.col(a) == F.col(b)).drop(b)
        return out

    def _chain_order(self, pos: int) -> list[int]:
        """Greedy connectivity ordering of the other occurrences: extend by
        the atom sharing the most already-bound variables (ties -> lowest
        index), so intermediates stay join-driven, not Cartesian."""
        bound = set(self.atoms[pos][1])
        remaining = [j for j in range(len(self.atoms)) if j != pos]
        order: list[int] = []
        while remaining:
            j = max(
                remaining,
                key=lambda k: (len(bound & set(self.atoms[k][1])), -k),
            )
            order.append(j)
            bound |= set(self.atoms[j][1])
            remaining.remove(j)
        return order

    def _empty(self, frames: Mapping[str, DataFrame | None]) -> DataFrame:
        """The empty output, typed from the relations' live frames (each
        variable from the first relation column that binds it). Built in
        the JVM: a frame from a Python list is a Python RDD, and every job
        that reads it waits on Python workers."""

        def dtype(v: str) -> str:
            for rel, vs in self.atoms:
                if v in vs and frames[rel] is not None:
                    return dict(frames[rel].dtypes)[self.relations[rel][vs.index(v)]]
            return "bigint"

        return self.spark.range(0).select(
            *[F.lit(None).cast(dtype(v)).alias(v) for v in self.variables],
            F.lit(0).cast("long").alias(DIFF),
        )

    # -- the maintenance step ------------------------------------------ #

    def process_batch(
        self, deltas: Mapping[str, DataFrame]
    ) -> DataFrame:
        """Apply one epoch of per-relation updates ``(cols..., diff)``;
        returns the consolidated output update stream ``(vars..., diff)``."""
        with micro_batch_scope(self.spark):
            return self._process_batch(deltas)

    def _process_batch(self, deltas: Mapping[str, DataFrame]) -> DataFrame:
        for r in deltas:
            if r not in self.relations:
                raise ValueError(f"delta for unknown relation {r!r}")
        for tv in self.traces.values():
            tv.swap()
        # Raw deltas, not consolidated: the half-joins multiply weights, so
        # duplicates and cancelling rows sum out in the output consolidation
        # and in the trace's compaction — one shuffle less per relation.
        # Lazy checkpoints: the output job that reads a delta materializes
        # it — one job less per relation (checked before sealing, below).
        d: dict[str, DataFrame | None] = {
            r: tracked_local_checkpoint(deltas[r].select(*cols, DIFF), eager=False)
            if deltas.get(r) is not None
            else None
            for r, cols in self.relations.items()
        }
        old = {r: tv.view() for r, tv in self.traces.items()}
        new: dict[str, DataFrame | None] = {}
        for r in self.relations:
            if old[r] is None:
                new[r] = d[r]
            elif d[r] is None:
                new[r] = old[r]
            else:
                new[r] = old[r].unionByName(d[r])

        def pipeline(pos: int) -> DataFrame | None:
            """Position ``pos``'s delta pipeline; None when it is empty."""
            rel_i, vars_i = self.atoms[pos]
            if d[rel_i] is None:
                return None
            bindings = self._as_atom(d[rel_i], rel_i, vars_i)
            bound = set(vars_i)
            for step, j in enumerate(self._chain_order(pos)):
                rel_j, vars_j = self.atoms[j]
                view = new[rel_j] if j < pos else old[rel_j]
                if view is None:
                    return None
                ext = self._as_atom(view, rel_j, vars_j)
                on = sorted(bound & set(dict.fromkeys(vars_j)))
                # Step 0 pins the (small) Δ as the broadcast side; later
                # steps are left to AQE, which sees the REAL sizes of the
                # bindings chain vs the trace at runtime and broadcasts the
                # smaller (measured: forcing the bindings side everywhere
                # regressed 35% when the trace was the smaller relation).
                bindings = half_join(
                    bindings, ext, on=on, broadcast_bindings=(step == 0)
                )
                bound |= set(vars_j)
            return bindings.select(*self.variables, DIFF)

        pipes = [p for p in map(pipeline, range(len(self.atoms))) if p is not None]
        if pipes:
            # Consolidate the epoch's output (one small shuffle over
            # O(|Δ|·deg) rows) and materialize it before the traces mutate
            # (the next swap frees the blocks the lazy plan references).
            out = tracked_local_checkpoint(
                reduce(DataFrame.unionByName, pipes)
                .groupBy(*self.variables)
                .agg(F.sum(DIFF).alias(DIFF))
                .filter(F.col(DIFF) != 0)
            )
        else:
            out = self._empty({r: d[r] if d[r] is not None else old[r] for r in d})
        for r, delta in d.items():
            if delta is None:
                continue
            if not all(rdd.isCheckpointed() for rdd in delta._ckpt_rdds):
                delta.count()  # no output job read it: materialize it now
            self.traces[r].append(delta, at=self.epoch)
        for tv in self.traces.values():
            tv.maybe_compact()
        self.epoch += 1
        return out

    def release(self) -> None:
        for tv in self.traces.values():
            tv.release()


class DeltaTriangles:
    """Incrementally maintained triangle query T(a,b,c) ⟸ E(a,b), E(b,c),
    E(a,c) over a single evolving edge relation — the reference's
    delta_query/half_join demonstration (examples/delta_query.rs), expressed
    as the canonical instance of the generic :class:`DeltaQuery` builder.

    ``process_batch`` takes one epoch of edge updates ``(src, dst, diff)``
    and returns the triangle update stream ``(a, b, c, diff)``; the returned
    frame is valid until the next call. Accumulating the outputs reproduces
    the batch worst-case-optimal join of the final edge set (pinned by
    pytest and the ``graph_delta_triangles`` oracle).
    """

    def __init__(self, spark: SparkSession, compact_every: int = 8):
        self._dq = DeltaQuery(
            spark,
            relations={"E": ("src", "dst")},
            atoms=[("E", ("a", "b")), ("E", ("b", "c")), ("E", ("a", "c"))],
            compact_every=compact_every,
        )

    def process_batch(self, delta: DataFrame) -> DataFrame:
        return self._dq.process_batch({"E": delta})

    def release(self) -> None:
        self._dq.release()
