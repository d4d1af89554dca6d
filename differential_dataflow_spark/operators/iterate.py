"""Bounded iteration to fixed point (reference src/operators/iterate.rs:49-127).

The reference runs ``logic`` "infinitely often" inside a nested scope whose
timestamps gain an iteration coordinate; updates circulate through a feedback
edge until differences cancel to the empty stream (fixed point observed as
frontier advancement). Spark has no feedback edge, so iteration is a
**driver-side loop**: each round applies ``logic``, consolidates (the
reference's own convergence requirement, src/operators/iterate.rs:12-15), cuts
lineage with a local checkpoint, and tests whether the consolidated multiset
changed — ``new ⊎ (−old)`` consolidating to empty is exactly the reference's
"updates dissipate" condition.

Loop discipline (matters at scale): every round's result is locally
checkpointed (truncating both lineage and analysis cost to O(1) per round)
and checkpoints a loop no longer needs are **released** — without this the
block manager accumulates one cached RDD per round and round latency degrades
super-linearly (observed: 0.5s/round → 110s/round by round 21).

Engines:

- ``iterate`` — general fixpoint for arbitrary (non-monotone) logic over full
  update collections.
- ``closure`` — THE semi-naive round driver: every frontier loop of the
  engine runs on it. Only the *frontier* (newly derived facts) is expanded
  each round — the differential behavior of the reference's iterate, where
  only changed updates flow — so total work is O(Σ|new facts|). Facts are
  distinct-valued or min-valued (:class:`FactKind`); the known set is a list
  of disjoint checkpointed parts, never rewritten. Its callers:
  ``semi_naive`` (distinct, over DiffCollections: reachability / transitive
  closure, README.md:22-31), ``iterate_keyed_min`` (min-valued: BFS and
  label propagation, src/algorithms/graphs/bfs.rs:36-49),
  ``mutual_semi_naive`` (one driver round per relation per round),
  ``MaintainedFixpoint``'s insert expansion and overdelete/rederive closures
  (streaming/fixpoint.py) and ``KCoreMaintainer``'s GROW closure
  (streaming/maintain.py).
- ``iterate_with_priorities`` — records entering at staged rounds, then
  ``iterate``.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from differential_dataflow_spark.collection import DIFF, DiffCollection
from differential_dataflow_spark.session import (
    Scratch,
    release_checkpoint,
    tracked_local_checkpoint,
)

Logic = Callable[[DiffCollection], DiffCollection]

# The frontier gate, read at call time: a frontier of at most this many rows
# is broadcast into the step's joins (the step's relations stream map-side
# instead of being exchanged every round), and its round broadcasts the
# known parts into the anti-join — or, against a big known set, the
# candidates (advance's tail). Interleaved A/B at 8M-conversation scale
# measured the plain anti-join faster for ~1M-row frontiers (the broadcast
# build is serial), hence 200k.
FRONTIER_ROWS = 200_000
# The broadcast tail only pays off against a known set at least this big.
TAIL_KNOWN_ROWS = 500_000


class FixpointNotReached(RuntimeError):
    pass


def _union(dfs: Sequence[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, dfs)


class FactKind:
    """How derived facts merge. Distinct-valued (``min_col=None``): a fact is
    derived or not. Min-valued: column ``min_col`` is merged by MIN per key
    (the other fact columns), the reference's ``iterate`` + ``reduce(min)``
    idiom (src/algorithms/graphs/bfs.rs: ``(node, dist)`` keyed by
    ``node``)."""

    def __init__(self, fact_cols: Sequence[str], min_col: str | None = None):
        self.fact_cols = list(fact_cols)
        self.min_col = min_col
        self.key_cols = [c for c in self.fact_cols if c != min_col]

    def merge(self, cands: DataFrame) -> DataFrame:
        """One fact per distinct candidate, or per key at its least value."""
        cands = cands.select(*self.fact_cols)
        if self.min_col is None:
            return cands.distinct()
        out = cands.groupBy(*self.key_cols).agg(
            F.min(self.min_col).alias(self.min_col)
        )
        if out.columns != self.fact_cols:
            out = out.select(*self.fact_cols)
        return out

    def by_key(
        self, cands: DataFrame, other: DataFrame, value_test, how: str
    ) -> DataFrame:
        """Min-valued facts only: join ``cands`` against ``other`` on the
        key, with ``value_test(cand value, other value)`` as the extra
        condition (a broadcast hint on ``other`` carries through)."""
        o = {c: f"__o_{c}" for c in self.fact_cols}
        other = other.select(*(F.col(c).alias(a) for c, a in o.items()))
        cond = [F.col(k) == F.col(o[k]) for k in self.key_cols]
        cond.append(value_test(F.col(self.min_col), F.col(o[self.min_col])))
        return cands.join(other, reduce(lambda a, b: a & b, cond), how)

    def fresh(self, cands: DataFrame, seen: DataFrame) -> DataFrame:
        """Candidates ``seen`` does not already cover: absent facts, or
        (min-valued) keys absent from ``seen`` or at a lower value than every
        value ``seen`` holds for them."""
        if self.min_col is None:
            return cands.join(seen, self.fact_cols, "left_anti")
        return self.by_key(cands, seen, lambda v, s: s <= v, "left_anti")

    def improve(self, cands: DataFrame, current: DataFrame) -> DataFrame:
        """The ``(facts..., diff)`` part that adds merged ``cands`` to the
        ``current`` facts: +1 per fresh fact and, for an improved min-valued
        key, −1 for the value it held (``current`` holds one fact per
        key)."""
        one = F.lit(1).cast("long").alias(DIFF)
        if self.min_col is None:
            return self.fresh(cands, current).select(*self.fact_cols, one)
        v = self.min_col
        old = current.select(*self.key_cols, F.col(v).alias("__old"))
        better = cands.join(old, self.key_cols, "left").filter(
            F.col("__old").isNull() | (F.col(v) < F.col("__old"))
        )
        minus_one = F.lit(-1).cast("long").alias(DIFF)
        pair = F.array(
            F.struct(F.col(v).alias(v), one),
            F.struct(F.col("__old").alias(v), minus_one),
        )
        rows = better.select(
            *self.key_cols,
            F.inline(F.filter(pair, lambda r: r[v].isNotNull())),
        )
        if rows.columns != [*self.fact_cols, DIFF]:
            rows = rows.select(*self.fact_cols, DIFF)
        return rows


def gate(frontier: DataFrame, n_rows: int | None) -> DataFrame:
    """The frontier as a step reads it: broadcast when it is counted and
    under the gate."""
    if n_rows is not None and n_rows <= FRONTIER_ROWS:
        return F.broadcast(frontier)
    return frontier


def advance(
    cands: DataFrame,
    known: Sequence[DataFrame],
    kind: FactKind,
    scratch: Scratch,
    n_frontier: int | None,
    n_known: int,
    isolate: bool = False,
) -> tuple[DataFrame, int]:
    """One round: merged ``cands`` (from a frontier of ``n_frontier`` rows)
    minus the ``known`` parts (``n_known`` counted rows), as ONE counted
    checkpoint held by ``scratch``; the count is the convergence probe.

    Over the gate the planner picks the anti-join; under it the known parts
    are broadcast, or — against ``TAIL_KNOWN_ROWS`` or more — the
    small-frontier tail broadcasts the checkpointed candidates against the
    parts (no exchange of the known set) and anti-joins them against the
    small matched set, for one more O(new) job (two unless ``isolate``).

    ``isolate`` checkpoints the candidates first (one more job; released
    with the round), for opaque steps whose plan reads a known part itself:
    a plan holding the same checkpoint twice can trip Spark's
    localCheckpoint stats rewrite ("key not found: <attr>")."""
    seen = _union(known)
    small = n_frontier is not None and n_frontier <= FRONTIER_ROWS
    tail = small and n_known >= TAIL_KNOWN_ROWS
    tmp = Scratch()
    if isolate or tail:
        cands = tmp.ck(cands)
    if tail:
        keys = kind.key_cols
        seen = tmp.ck(
            seen.join(F.broadcast(cands.select(*keys)), keys, "left_semi")
        )
    out = scratch.ckn(kind.fresh(cands, F.broadcast(seen) if small else seen))
    tmp.reap()
    return out


def closure(
    frontier: DataFrame,
    n_frontier: int | None,
    step: Callable[[DataFrame], DataFrame],
    kind: FactKind,
    seen: list[DataFrame],
    scratch: Scratch,
    within: Callable[[DataFrame], DataFrame] | None = None,
    exclude: DataFrame | None = None,
    seal: Callable[[DataFrame], tuple[DataFrame, int]] | None = None,
    isolate: bool = False,
    max_iters: int = 10_000,
) -> list[DataFrame]:
    """Close ``frontier`` (``n_frontier`` rows, ``None`` if uncounted) under
    ``step``; returns the parts derived, one per round. A round is

      new = advance(merge(within(step(gate(frontier)))), seen ∪ exclude)

    ``within`` bounds the candidates before the merge (a min-valued key
    keeps its least admissible value); ``exclude`` holds facts the closure
    neither enters nor passes through (taken to be small). ``seen`` is the
    known set as disjoint checkpointed parts, the frontier usually among
    them, and grows IN PLACE, so a step reading the closure so far sees it.
    ``seal(cands)`` replaces :func:`advance` for a caller whose known facts
    live elsewhere (MaintainedFixpoint's derived trace). One action per
    round (two with ``isolate``, see :func:`advance`); the parts stay held
    by ``scratch``.

    The known set is never union-rewritten: that made late small-frontier
    rounds cost O(|total|) block-store writes (37s for a 1-new-fact round
    at 3.9M total). Every part is checkpointed, so plans stay O(1): under
    persist-only lineage the plan doubled per round (0.8s -> 18.7s by round
    4 on a 20-node graph)."""
    n_known = (n_frontier or 0) if any(p is frontier for p in seen) else 0
    start = len(seen)
    for _ in range(max_iters):
        if n_frontier == 0:
            return seen[start:]
        cands = step(gate(frontier, n_frontier)).select(*kind.fact_cols)
        if within is not None:
            cands = within(cands)
        cands = kind.merge(cands)
        if seal is not None:
            frontier, n_frontier = seal(cands)
        else:
            known = seen if exclude is None else [*seen, exclude]
            frontier, n_frontier = advance(
                cands, known, kind, scratch, n_frontier, n_known, isolate
            )
        if n_frontier:
            seen.append(frontier)
            n_known += n_frontier
    raise FixpointNotReached(f"no fixed point within {max_iters} iterations")


def _closed(
    initial: DataFrame, expand: Logic, kind: FactKind, max_iters: int
) -> DiffCollection:
    """The closed set of ``initial`` under ``expand`` (min-valued: each key
    at its least value), carrying every part's storage handle so
    release_checkpoint on it frees the whole set."""
    scratch = Scratch()
    base, n_base = scratch.ckn(kind.merge(initial))
    seen = [base]
    closure(
        base,
        n_base,
        lambda f: expand(DiffCollection.from_df(f)).df,
        kind,
        seen,
        scratch,
        isolate=True,
        max_iters=max_iters,
    )
    scratch.reap(keep=seen)
    return _collection(seen, kind)


def _collection(parts: list[DataFrame], kind: FactKind) -> DiffCollection:
    out = _union(parts)
    if kind.min_col is not None:
        out = kind.merge(out)
    out._ckpt_rdds = [h for p in parts for h in getattr(p, "_ckpt_rdds", ())]
    return DiffCollection.from_df(out)


def iterate(
    initial: DiffCollection,
    logic: Logic,
    max_iters: int = 100,
    strict: bool = True,
) -> DiffCollection:
    """Apply ``logic`` until the consolidated update multiset stops changing.

    General (non-monotone) fixpoint; each round costs two shuffles
    (consolidate + change test). ``strict=True`` raises if ``max_iters`` is
    hit without convergence.
    """
    current = tracked_local_checkpoint(initial.consolidate().df)
    for _ in range(max_iters):
        nxt = tracked_local_checkpoint(
            logic(DiffCollection(current)).consolidate().df
        )
        delta = (
            DiffCollection(nxt)
            .concat(DiffCollection(current).negate())
            .consolidate()
            .df
        )
        if delta.isEmpty():
            release_checkpoint(current)
            return DiffCollection(nxt)
        release_checkpoint(current)
        current = nxt
    if strict:
        raise FixpointNotReached(f"no fixed point within {max_iters} iterations")
    return DiffCollection(current)


def semi_naive(
    roots: DiffCollection,
    expand: Logic,
    max_iters: int = 10_000,
) -> DiffCollection:
    """Monotone fixpoint: total = roots ∪ expand(roots) ∪ expand²(...) as a
    *distinct* collection, computed by expanding only the per-round frontier
    (:func:`closure` over distinct facts).

    ``expand`` maps a frontier collection (weights 1, epoch 0) to candidate
    new facts with the same payload columns; candidates already known are
    discarded with a ``left_anti`` join against the accumulated total. The
    result collapses epochs: it is the fixpoint of the final accumulated
    input (per-epoch incremental iteration is the streaming engine's job).
    DISTINCT runs BEFORE the anti-join, so the duplicate factor of
    ``expand`` (e.g. 4x for a 4-out expander) never enters the join.
    """
    return _closed(
        roots.consolidate_final().filter(F.col(DIFF) > 0),
        expand,
        FactKind(roots.payload_columns),
        max_iters,
    )


def iterate_keyed_min(
    initial: DiffCollection,
    expand: Logic,
    keys: Sequence[str],
    value: str,
    max_iters: int = 10_000,
) -> DiffCollection:
    """Fixpoint of "keep the per-key minimum" — BFS distance labeling
    (src/algorithms/graphs/bfs.rs:36-49: ``inner.join(edges).concat(nodes)
    .reduce(min)``), run delta-style: each round expands only keys whose
    minimum improved (:func:`closure` over min-valued facts; the result is
    the per-key minimum over the rounds' parts).

    ``expand`` maps the frontier (keys + current best value) to candidate
    (key, value) facts; a candidate survives iff it beats the current best.
    """
    return _closed(
        initial.df, expand, FactKind([*keys, value], min_col=value), max_iters
    )


def iterate_with_priorities(
    staged: DiffCollection,
    logic: Logic,
    round_col: str = "enter_at",
    max_iters: int = 100,
    strict: bool = True,
) -> DiffCollection:
    """Fixpoint where records ENTER the loop at a chosen iteration round —
    the reference's ``enter_at`` (src/collection.rs:375-392), used to gate
    work by priority (e.g. sequential.rs's node-order gating).

    ``staged``'s payload carries ``round_col``; a record participates from
    iteration ``enter_at`` onward:

        current_0     = stage[0]
        current_{r+1} = consolidate(logic(current_r) ∪ stage[r+1])

    and after the last staged round the plain fixpoint loop finishes the
    convergence (updates dissipate). ``round_col`` is dropped from the loop
    variable's payload.
    """
    rounds_df = staged.df.agg(F.max(round_col).alias("m")).collect()
    max_round = rounds_df[0]["m"]
    if max_round is None:
        raise ValueError("iterate_with_priorities: empty staged collection")
    payload = [c for c in staged.payload_columns if c != round_col]

    def stage_at(r: int) -> DiffCollection:
        return staged.filter(F.col(round_col) == r).map(*payload)

    current = tracked_local_checkpoint(stage_at(0).consolidate().df)
    for r in range(1, int(max_round) + 1):
        nxt = tracked_local_checkpoint(
            logic(DiffCollection(current))
            .concat(stage_at(r))
            .consolidate()
            .df
        )
        release_checkpoint(current)
        current = nxt
    # Every record has entered; run the ordinary fixpoint to convergence.
    out = iterate(
        DiffCollection(current), logic, max_iters=max_iters, strict=strict
    )
    release_checkpoint(current)
    return out


def mutual_semi_naive(
    roots: dict[str, DiffCollection],
    expands: dict[str, "Callable[[dict, dict], DiffCollection]"],
    max_iters: int = 10_000,
) -> dict[str, DiffCollection]:
    """Semi-naive fixpoint over SEVERAL mutually recursive relations — the
    reference's multi-`Variable` pattern (src/operators/iterate.rs:166-262),
    the doop/graspan program shape (doop/src/main.rs:1-40: many variables,
    each defined from the others, iterated to mutual fixpoint).

    ``roots[name]`` seeds relation ``name``; ``expands[name]`` maps
    ``(frontiers, totals)`` — dicts keyed by relation name holding the
    last round's new-fact collections and the accumulated closed sets
    (plain DataFrames of key columns) — to the candidate collection for
    ``name``. Monotone, distinct-valued logic only (the semi_naive
    contract). Each relation keeps its closed set as a list of disjoint
    checkpointed frontier parts exactly like :func:`semi_naive`; a round
    runs one driver round (:func:`advance`) per relation, O(new) each.

    Returns ``{name: closed-set DiffCollection}``.
    """
    names = list(roots)
    spark = roots[names[0]].df.sparkSession
    kinds = {n: FactKind(roots[n].payload_columns) for n in names}
    scratch = Scratch()
    fronts = {
        n: scratch.ckn(
            kinds[n].merge(roots[n].consolidate_final().filter(F.col(DIFF) > 0))
        )
        for n in names
    }
    parts = {n: [fronts[n][0]] for n in names}
    n_known = {n: fronts[n][1] for n in names}

    def _round(n, frontiers, totals):
        cands = kinds[n].merge(expands[n](frontiers, totals).df)
        return advance(
            cands, parts[n], kinds[n], scratch, fronts[n][1], n_known[n], True
        )

    for _ in range(max_iters):
        frontiers = {n: DiffCollection.from_df(gate(*fronts[n])) for n in names}
        totals = {n: _union(parts[n]) for n in names}
        # The relations' rounds are independent given the previous frontiers:
        # run them as concurrent Spark jobs (the reference runs all Variables
        # in one dataflow graph; driver threads are the Spark analogue). The
        # threads inherit the caller's job group.
        with ThreadPoolExecutor(max_workers=max(len(names), 1)) as ex:
            run = inheritable_thread_target(spark)(
                lambda n: _round(n, frontiers, totals)
            )
            fronts = dict(zip(names, ex.map(run, names)))
        if not any(cnt for _, cnt in fronts.values()):
            scratch.reap(keep=[p for n in names for p in parts[n]])
            return {n: _collection(parts[n], kinds[n]) for n in names}
        for n, (new, cnt) in fronts.items():
            if cnt:
                parts[n].append(new)
                n_known[n] += cnt
    raise FixpointNotReached(f"no mutual fixed point within {max_iters} iterations")
