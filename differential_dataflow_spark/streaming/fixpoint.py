"""Generic maintained ITERATE: keep the fixpoint of ANY monotone semi-naive
program up to date under mixed insertions and deletions of its inputs.

The reference gets this for free from its architecture: ``iterate`` runs the
loop body "infinitely often" under timestamps with an iteration coordinate,
so ANY program written against collections is incrementally maintained when
its inputs change (src/operators/iterate.rs:49-127; examples/bfs.rs
demonstrates maintenance under arbitrary edge updates). This module is
the *general* engine for monotone programs over distinct-valued or
min-valued facts via **delete-and-rederive** (DRed — Gupta, Mumick &
Subrahmanian, "Maintaining Views Incrementally", SIGMOD 1993 — the classic
public-literature counterpart of the reference's second-order
differentials). ``IncrementalReachability`` and ``IncrementalBFS``
(streaming/maintain.py) are programs run on it; ``KCoreMaintainer`` (a
threshold, not monotone) still hand-derives its affected-region repair.

The user supplies a Datalog-shaped program:

- ``fact_cols`` — the schema of derived facts (any arity: ``["node"]`` for
  reachability, ``["src", "dst"]`` for transitive closure, ...).
- ``axioms(inputs) -> DataFrame`` — the non-recursive rules: base facts as a
  function of the input relations (e.g. the root set, or ``edge(x,y) =>
  path(x,y)``).
- ``step(frontier, inputs) -> DataFrame`` — one application of the recursive
  rules to FRONTIER facts (e.g. ``path(x,y), edge(y,z) => path(x,z)``).
  Contract: monotone in both arguments and LINEAR in the recursive
  predicate (each derivation uses at least one frontier premise), the
  standard semi-naive requirement — exactly the class the reference's
  ``iterate`` + ``distinct`` idiom covers.
- ``min_col`` (optional) — make facts MIN-VALUED: one fact column is merged
  by min per key (the other fact columns), the reference's ``iterate`` +
  ``reduce(min)`` idiom (src/algorithms/graphs/bfs.rs: ``(node, dist)``
  keyed by ``node``).

Inputs are multisets: a row's multiplicity is the sum of its diffs, and a
row is present while that sum is positive. Maintenance per batch of input
updates ``(payload..., diff)``:

1. OVERDELETE — the suspect region D: facts whose derivation may rest on a
   deleted input row. Seeds are the retracted axioms (``axioms(old) \\
   axioms(new)``) plus, per input carrying deletions, ``step(derived, inputs
   with that relation restricted to its deleted rows)`` — any derivation
   with a deleted premise is caught through whichever relation the premise
   came from. D closes under ``step(D, old_inputs)`` intersected with the
   derived set, so work is O(|affected region|), not O(|derived|). Facts
   in ``axioms(new)`` survive the batch, so D never enters or passes
   through them (a reachability root is never suspect). The intersection
   is on whole facts, so for min-valued facts a fact is suspect only when
   a suspect premise derives its exact value (BFS: the shortest-path DAG).
2. REDERIVE — within D, from the untouched boundary: ``step(derived \\ D,
   new_inputs) ∩ D``, closed under ``step(R, new_inputs) ∩ D``. Facts with
   a surviving alternative derivation come back; ``removed = D \\ R`` is
   emitted with diff −1. Min-valued facts are bounded by D's keys instead,
   at values no lower than the key's old one (a lower value can only come
   from an inserted row, which phase 3 propagates), and merged by min: a
   key rederived at a higher value retracts the old value and asserts the
   new one.
3. INSERT — seeds are the new axioms plus, per input carrying insertions,
   ``step(derived, inputs with that relation restricted to its inserted
   rows)``, minus already-derived; then the ordinary semi-naive expansion
   over the post-batch inputs. O(|newly derived region|). For min-valued
   facts a candidate is new when its key is absent or its value is lower;
   an improvement retracts the key's old value.

Every change is sealed into the derived trace as a tagged ``(facts...,
diff)`` part, and a batch returns the consolidation of the parts it sealed.

Scale shape: inputs and the derived set live in arrangements
(operators/arrange.py; inputs optionally durable and key-bucketed, so
per-batch reads prune to touched buckets). Their compaction runs behind the
batch: a batch ends by starting each due trace's fold on a worker thread,
and the next batch begins by swapping the folds in, before it captures any
support view. Every loop — the insert expansion and the overdelete and
rederive closures — runs on the engine's one semi-naive round driver
(operators/iterate.py::closure): a frontier under its gate is broadcast
into the step's joins, and every round is ONE
counted checkpoint (materialization fused with the convergence probe; the
expansion's is the seal into the derived trace). The one inherently
program-shaped cost is the rederive boundary seed (``step`` over the kept
region): the default scans it once per deletion batch; programs with a
cheaper reverse-key form (like IncrementalReachability's dst-keyed
boundary: only edges INTO the suspect set) pass ``rederive_seeds`` to
override it.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
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

Inputs = Mapping[str, DataFrame]
Step = Callable[[DataFrame, Inputs], DataFrame]
Axioms = Callable[[Inputs], DataFrame]


def _union(dfs: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, dfs)


class _Reads(Mapping):
    """Input mapping that records which relations a rule reads."""

    def __init__(self, inputs: Inputs):
        self._inputs = inputs
        self.read: set[str] = set()

    def __getitem__(self, name: str) -> DataFrame:
        self.read.add(name)
        return self._inputs[name]

    def __iter__(self):
        return iter(self._inputs)

    def __len__(self) -> int:
        return len(self._inputs)


class MaintainedFixpoint:
    """Maintain ``fix(F) = axioms(I) ∪ step(F, I)`` under updates to ``I``."""

    def __init__(
        self,
        spark: SparkSession,
        fact_cols: Sequence[str],
        axioms: Axioms,
        step: Step,
        inputs: Mapping[str, DataFrame],
        input_keys: Mapping[str, Sequence[str]] | None = None,
        rederive_seeds: Callable[[DataFrame, DataFrame, Inputs], DataFrame]
        | None = None,
        min_col: str | None = None,
        compact_every: int = 16,
        state_dir: str | None = None,
        n_buckets: int = 64,
        max_iters: int = 10_000,
    ):
        """``inputs``: initial relations (payload columns, no diff; a row
        present twice has multiplicity 2). ``input_keys``: per-input key
        columns (joins co-locate on them; the input's declared key when
        bucketed). ``rederive_seeds(kept, suspect, new_inputs)``: optional
        program-specific boundary — facts of ``suspect`` derivable in one
        step from ``kept`` (defaults to ``step(kept, new_inputs)``).

        ``min_col`` names the fact column merged by MIN: facts are then
        keyed by the other fact columns, each key holds only its least
        value, and the step must be monotone in that value (a lower premise
        never derives a higher conclusion — BFS's ``dist + 1``), so stepping
        each key's least fact suffices. A candidate counts as new when its
        key is absent or its value is lower, and an improvement seals
        ``(key, old, −1)`` with ``(key, new, +1)``, so the update stream
        carries retraction pairs like ``count``'s. Default: distinct-valued
        facts (a fact is derived or not).

        The step may reference the derived relation itself through the
        reserved input name ``"$derived"``, which lifts the LINEAR
        restriction (delta-rule discipline — e.g. transitive closure by
        squaring: ``step = frontier ⋈ $derived ∪ $derived ⋈ frontier``).
        Whether it does is recorded from one dry build of the step's plan
        at construction (no job). Contract: every occurrence of the
        recursive relation must appear in FRONTIER position in at least
        one union term (the standard non-linear semi-naive delta-rule
        requirement); the engine binds ``$derived`` to the semantically
        current fact set — all facts so far during expansion, the pre-batch
        set during the overdelete closure, and kept-plus-rederived-so-far
        during rederivation."""
        self.spark = spark
        self.fact_cols = list(fact_cols)
        self.kind = FactKind(fact_cols, min_col)
        self.axioms = axioms
        self.step = step
        self.rederive_seeds = rederive_seeds
        self.max_iters = max_iters
        self._scratch = Scratch()

        self.inputs: dict[str, Arrangement] = {}
        self._input_neg: dict[str, bool] = {}
        input_keys = input_keys or {}
        for name, df in inputs.items():
            tv = Arrangement(
                spark,
                f"{state_dir}/{name}" if state_dir else None,
                key=input_keys.get(name, df.columns),
                compact_every=compact_every,
                n_buckets=n_buckets,
            )
            # One row per copy: a row present twice has multiplicity 2.
            tv.seed(df.withColumn(DIFF, F.lit(1).cast("long")))
            self.inputs[name] = tv
            self._input_neg[name] = False

        self.derived = Arrangement(
            spark, key=self.fact_cols, compact_every=compact_every
        )
        self._derived_neg = False
        self._sealed: list[DataFrame] = []  # parts sealed by this batch

        supports = self._supports()
        # Which inputs the axioms read: a batch that changes none of them
        # leaves the axioms as they were, and skips the axiom diffs.
        reads = _Reads(supports)
        base_axioms = self.kind.merge(axioms(reads))
        self._axiom_inputs = reads.read
        # Whether the step reads the derived relation itself (non-linear).
        reads = _Reads({**supports, "$derived": base_axioms})
        step(base_axioms, reads)
        self.uses_derived = "$derived" in reads.read
        n_state = max(
            (tv.base_rows or 0 for tv in self.inputs.values()), default=None
        )
        with micro_batch_scope(spark, n_state):
            self.derived.seed(base_axioms.withColumn(DIFF, F.lit(1).cast("long")))
            # The seeded base is the first frontier: no second copy of it.
            self._expand(
                self.derived.base.select(*self.fact_cols),
                self.derived.base_rows,
                supports,
            )
            self.derived.compact()  # fold the initial rounds into one base
            self._derived_neg = False

    # -- bookkeeping ---------------------------------------------------- #

    def _seal(self, part: DataFrame) -> tuple[DataFrame, int]:
        """Checkpoint a ``(facts..., diff)`` part and, unless it is empty,
        seal it into the derived trace, which takes its blocks. One job:
        the materializing aggregate counts the facts the part asserts and
        those it retracts. Returns the asserted facts (the next frontier)
        and their count."""
        part = self._scratch.ck(part, eager=False)
        row = part.agg(
            F.sum((F.col(DIFF) > 0).cast("long")).alias("n_pos"),
            F.sum((F.col(DIFF) < 0).cast("long")).alias("n_neg"),
        ).collect()[0]
        n_pos, n_neg = int(row["n_pos"] or 0), int(row["n_neg"] or 0)
        if n_pos or n_neg:
            self.derived.append(self._scratch.hand_off(part, part))
            self._sealed.append(part)
            self._derived_neg |= n_neg > 0
        return part.filter(F.col(DIFF) > 0).select(*self.fact_cols), n_pos

    def release(self) -> None:
        self._scratch.reap()
        self.derived.release()
        for tv in self.inputs.values():
            tv.release()

    # -- support views --------------------------------------------------- #

    def _pos(self, view: DataFrame, payload: list[str], neg: bool) -> DataFrame:
        if not neg:
            return view.select(*payload)
        return (
            view.groupBy(*payload)
            .agg(F.sum(DIFF).alias("__s"))
            .filter(F.col("__s") > 0)
            .select(*payload)
        )

    def _input_support(self, name: str) -> DataFrame:
        tv = self.inputs[name]
        v = tv.view()
        payload = [c for c in v.columns if c != DIFF]
        return self._pos(v, payload, self._input_neg[name])

    def _supports(self) -> dict[str, DataFrame]:
        return {n: self._input_support(n) for n in self.inputs}

    def _fold(self, supports: Inputs, which: Mapping[str, bool]) -> Inputs:
        """Supports for a deletion batch's loop rounds (overdelete, then
        rederive and insert): each input in ``which`` is folded to its
        positive support ONCE (a lazy checkpoint, materialized by its first
        reader) instead of every round's read re-aggregating its trace."""
        return {
            n: self._scratch.ck(s, eager=False) if which[n] else s
            for n, s in supports.items()
        }

    def _derived_support(self) -> DataFrame:
        return self._pos(
            self.derived.view(), self.fact_cols, self._derived_neg
        )

    def _bind(self, supports: Inputs, derived: DataFrame) -> Inputs:
        """Attach the reserved ``$derived`` relation for non-linear steps."""
        if not self.uses_derived:
            return supports
        out = dict(supports)
        out["$derived"] = derived
        return out

    # -- facts: distinct-valued or min-valued (FactKind) ------------------ #

    def _within_suspect(
        self, cands: DataFrame, suspect: DataFrame
    ) -> DataFrame:
        """The rederive bound: candidates for suspect facts, or (min-valued)
        for suspect keys at no lower a value than the key's old one."""
        if self.kind.min_col is None:
            return cands.join(F.broadcast(suspect), self.fact_cols, "left_semi")
        return self.kind.by_key(
            cands, F.broadcast(suspect), lambda v, s: v >= s, "left_semi"
        )

    def _replace(self, suspect: DataFrame, rederived: DataFrame) -> DataFrame:
        """The part taking the suspect facts to the rederived ones: −1 per
        suspect fact not rederived at its value and, for min-valued facts,
        +1 per key rederived at a new value (distinct-valued rederivation
        stays inside the suspect set)."""
        if self.kind.min_col is not None:
            rederived = self.kind.merge(rederived)
        out = suspect.join(rederived, self.fact_cols, "left_anti").select(
            *self.fact_cols, F.lit(-1).cast("long").alias(DIFF)
        )
        if self.kind.min_col is None:
            return out
        return out.unionByName(
            rederived.join(suspect, self.fact_cols, "left_anti").select(
                *self.fact_cols, F.lit(1).cast("long").alias(DIFF)
            )
        )

    # -- semi-naive loops (operators/iterate.py::closure) ----------------- #

    def _expand(
        self, frontier: DataFrame, n_frontier: int, supports: Inputs
    ) -> None:
        """Ordinary semi-naive expansion: derive from ``frontier`` until no
        new facts; each round's changes are sealed into the derived trace.
        One checkpoint job per round (:meth:`_seal`)."""

        def step(f: DataFrame) -> DataFrame:
            # Non-linear steps see ALL facts so far (semi-naive "full"
            # relation) — rebound every round as parts accumulate.
            return self.step(f, self._bind(supports, self._derived_support()))

        closure(
            frontier,
            n_frontier,
            step,
            self.kind,
            [],
            self._scratch,
            seal=lambda c: self._seal(
                self.kind.improve(c, self._derived_support())
            ),
            max_iters=self.max_iters,
        )

    def _closure_within(
        self,
        seeds: DataFrame,
        n_seeds: int,
        supports: Inputs,
        within: Callable[[DataFrame], DataFrame],
        dyn_derived: DataFrame | None = None,
        exclude: DataFrame | None = None,
    ) -> DataFrame:
        """Close ``seeds`` under ``step`` restricted by ``within`` (the
        region's bound on a round's candidates) minus ``exclude`` (facts the
        closure neither enters nor passes through); returns the closure as
        the union of its checkpointed rounds.
        ``dyn_derived`` (non-linear rederivation only): bind ``$derived`` to
        ``dyn_derived ∪ closure-so-far``, rebound each round — rederiving
        through a still-suspect fact would keep facts alive via dead
        derivations, so only kept-plus-already-rederived facts qualify."""
        acc = [seeds]

        def step(f: DataFrame) -> DataFrame:
            if dyn_derived is None:
                return self.step(f, supports)
            return self.step(
                f, self._bind(supports, _union([dyn_derived, *acc]))
            )

        closure(
            seeds,
            n_seeds,
            step,
            self.kind,
            acc,
            self._scratch,
            within=within,
            exclude=exclude,
            max_iters=self.max_iters,
        )
        return _union(acc)

    # -- maintenance -------------------------------------------------------- #

    def process_batch(
        self, updates: Mapping[str, DataFrame]
    ) -> DataFrame:
        """Apply one batch of input updates (per input: payload columns +
        ``diff``, summed per payload row) and return the derived-fact update
        stream ``(fact_cols..., diff)``. Valid until the next call."""
        unknown = sorted(set(updates) - set(self.inputs))
        if unknown:
            raise ValueError(
                f"updates for unknown input(s) {unknown}; the program's "
                f"inputs are {sorted(self.inputs)}"
            )
        with micro_batch_scope(self.spark):
            return self._process_batch(updates)

    def _process_batch(self, updates: Mapping[str, DataFrame]) -> DataFrame:
        # Swap in the folds the last batch started BEFORE capturing support
        # views: trace views are valid only until the next swap, and the
        # old-support snapshots below must survive the whole batch. A fold
        # takes the ±1 pairs to net-positive rows, so when the swap leaves
        # no part beside it the negative-support flags reset — without this
        # every later view pays the positive-support aggregate forever
        # after the first deletion.
        if self.derived.swap():
            self._derived_neg = False
        for name, tv in self.inputs.items():
            if tv.swap():
                self._input_neg[name] = False
        self._scratch.reap()
        self._sealed = []

        old_neg = dict(self._input_neg)
        old_supports = self._supports()
        derived_old = self._derived_support()

        dels: dict[str, DataFrame] = {}
        inss: dict[str, DataFrame] = {}
        for name, upd in updates.items():
            tv = self.inputs[name]
            payload = [c for c in upd.columns if c != DIFF]
            # Consolidated per payload row (multiset inputs: an edge
            # inserted twice needs two retractions). LAZY checkpoint + the
            # phase-deciding aggregate as its materializer: one Spark job per
            # input delta instead of two (eager checkpoint, then a separate
            # aggregate job). The checkpoint is the sealed trace part, so the
            # swap that folds it releases it.
            d = tracked_local_checkpoint(
                upd.groupBy(*payload)
                .agg(F.sum(DIFF).cast("long").alias(DIFF))
                .filter(F.col(DIFF) != 0),
                eager=False,
            )
            # One cheap aggregate over the cached delta decides which phases
            # this batch pays for (insert-only batches skip DRed entirely).
            row = d.agg(
                F.sum((F.col(DIFF) < 0).cast("long")).alias("nd"),
                F.sum((F.col(DIFF) > 0).cast("long")).alias("ni"),
            ).collect()[0]
            n_del, n_ins_rows = int(row["nd"] or 0), int(row["ni"] or 0)
            tv.append(d)
            if n_del:
                dels[name] = d.filter(F.col(DIFF) < 0).select(*payload)
                self._input_neg[name] = True
            if n_ins_rows:
                inss[name] = d.filter(F.col(DIFF) > 0).select(*payload)

        if dels:
            old_supports = self._fold(old_supports, old_neg)
        new_supports = self._fold(
            self._supports(), {n: n in dels for n in self.inputs}
        )
        ax_old = self.kind.merge(self.axioms(old_supports))
        ax_del = any(name in dels for name in self._axiom_inputs)
        ax_ins = any(name in inss for name in self._axiom_inputs)
        ax_new = ax_old
        if ax_del or ax_ins:
            ax_new = self._scratch.ck(self.kind.merge(self.axioms(new_supports)))

        # Phase 1: OVERDELETE — suspect seeds from retracted axioms and from
        # derivations through each input's deleted rows. Skipped outright on
        # insert-only batches (axioms are monotone in the inputs, so none
        # can retract without a deletion).
        if dels:
            seed_parts = (
                [ax_old.join(ax_new, self.fact_cols, "left_anti")]
                if ax_del
                else []
            )
            for name, del_df in dels.items():
                restricted = dict(self._bind(old_supports, derived_old))
                restricted[name] = F.broadcast(del_df)
                seed_parts.append(
                    self.step(derived_old, restricted).select(*self.fact_cols)
                )

            def in_derived(cands: DataFrame) -> DataFrame:
                # The whole derived set: streamed, never broadcast.
                return cands.join(derived_old, self.fact_cols, "left_semi")

            seeds, n_seeds = self._scratch.ckn(
                self.kind.fresh(
                    self.kind.merge(in_derived(_union(seed_parts))), ax_new
                )
            )
            if n_seeds:
                suspect = self._closure_within(
                    seeds,
                    n_seeds,
                    self._bind(old_supports, derived_old),
                    within=in_derived,
                    exclude=ax_new,
                )
                # Phase 2: REDERIVE within the suspect region from the kept
                # boundary over the POST-batch inputs.
                kept = derived_old.join(
                    F.broadcast(suspect), self.fact_cols, "left_anti"
                )
                boundary_fn = self.rederive_seeds or (
                    lambda kept, sus, sup: self.step(kept, sup)
                )
                r0, n_r0 = self._scratch.ckn(
                    self.kind.merge(
                        self._within_suspect(
                            boundary_fn(
                                kept, suspect, self._bind(new_supports, kept)
                            ).select(*self.fact_cols),
                            suspect,
                        )
                    )
                )
                rederived = self._closure_within(
                    r0,
                    n_r0,
                    new_supports,
                    within=lambda c: self._within_suspect(c, suspect),
                    dyn_derived=kept if self.uses_derived else None,
                )
                self._seal(self._replace(suspect, rederived))

        # Phase 3: INSERT — new axioms plus derivations through each input's
        # inserted rows, then the ordinary semi-naive expansion. Skipped on
        # delete-only batches.
        if inss:
            derived_now = self._derived_support()
            ins_parts = [self.kind.fresh(ax_new, ax_old)] if ax_ins else []
            for name, ins_df in inss.items():
                restricted = dict(self._bind(new_supports, derived_now))
                restricted[name] = F.broadcast(ins_df)
                ins_parts.append(
                    self.step(derived_now, restricted).select(*self.fact_cols)
                )
            frontier, n_ins = self._seal(
                self.kind.improve(
                    self.kind.merge(_union(ins_parts)), derived_now
                )
            )
            self._expand(frontier, n_ins, new_supports)

        # The batch's update stream is the consolidation of what it sealed:
        # a fact overdeleted in phase 1 can be re-derived in phase 3 through
        # brand-new intermediate facts (outside the suspect region, so phase
        # 2's D-bounded rederive cannot see it) — the −1/+1 pair must
        # cancel. Delta-sized shuffle.
        out = (
            _union(self._sealed)
            if self._sealed
            else self.derived.view().limit(0)
        )
        # Fold behind the batch: due folds run while the caller consumes
        # the update stream, and the next batch swaps them in.
        for tv in (self.derived, *self.inputs.values()):
            tv.maybe_compact()
        return (
            out.groupBy(*self.fact_cols)
            .agg(F.sum(DIFF).alias(DIFF))
            .filter(F.col(DIFF) != 0)
        )

    def facts(self) -> DataFrame:
        """Current derived-fact set (positive support)."""
        return self._derived_support()
