"""Complex-event-processing (CEP) sequence patterns over keyed, time-ordered
streams — funnel detection and contiguous-pattern matching.

The reference engine has no CEP operator; this is part of the engine's
streaming/CEP surface over conversation/agent transcripts (per-conversation
turn sequences) and event streams. Semantics follow the standard CEP
taxonomy (Wu/Diao/Rizvi, "High-Performance Complex Event Processing over
Streams", SIGMOD 2006; SQL MATCH_RECOGNIZE):

- ``funnel``: *skip-till-next-match* — for each step-1 anchor event, the
  match binds each later step to the EARLIEST qualifying event strictly
  after and within ``within_sec`` of the previously bound step.
  Greedy-earliest binding is deterministic and, unlike skip-till-any-match,
  produces one match per anchor (no combinatorial blowup — the property
  that makes funnels safe at 100 TB).
- ``pattern_contiguous``: strict contiguity (MATCH_RECOGNIZE
  ``PATTERN (A B C)`` with no skips) under a total per-key order.

Scale shape — everything is native Catalyst, no Python in any path:

- Step 2 of a funnel costs NO join at all: one window pass computes, for
  every row, the earliest strictly-later step-2 event (a conditional
  ``min`` over a RANGE frame ``(+1 µs, unbounded)``, so timestamp ties are
  excluded exactly rather than by intra-tie row order); anchors read their
  own row's value.
- Steps 3+ bind by joining the (already filtered, usually tiny) surviving
  anchor set against the step's candidate events, shuffling only on the
  partition key — candidates are pre-filtered by the step predicate before
  the exchange, so the shuffled volume is per-step selectivity, not the
  stream.
- ``pattern_contiguous`` is a single window pass over lead-chained flags:
  one exchange + sort per key, whole-stage codegen throughout.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from differential_dataflow_spark.session import Scratch


def _strictly_after(key: Sequence[str]):
    """RANGE frame covering rows whose (long) order value is >= current + 1
    — i.e. strictly later events, deterministic under timestamp ties."""
    return (
        Window.partitionBy(*key)
        .orderBy(F.col("__ts"))
        .rangeBetween(1, Window.unboundedFollowing)
    )


def funnel(
    df: DataFrame,
    key: Sequence[str],
    ts: str,
    steps: Sequence[Column],
    within_sec: int | float,
) -> DataFrame:
    """Skip-till-next-match funnel: one output row per step-1 event whose
    chain completes — columns ``(*key, t1, ..., tn)`` in epoch MICROSECONDS
    (long), where ``t_{i+1}`` is the earliest event matching ``steps[i+1]``
    strictly after ``t_i`` and at most ``within_sec`` seconds after it.

    Rows whose chain does not complete are dropped. Binding to the earliest
    qualifying event makes every output value a group-min — deterministic
    regardless of partitioning or tie order.

    Duplicate-anchor cardinality contract: two step-1 EVENTS with the same
    (key, timestamp) bind identical chains. A 2-step funnel emits one row
    PER ANCHOR EVENT (this path never groups), while 3+-step funnels
    collapse identical chains through the per-chain ``groupBy`` — i.e. for
    n >= 3 outputs are per DISTINCT chain. ``FunnelMaintainer`` follows the
    n >= 3 (distinct-chain) semantics at every length. Exact-duplicate
    events are a degenerate input (real streams carry a tiebreaking event
    id in the key or timestamp); the asymmetry is documented and pinned in
    pytest rather than papered over with a dedup pass every caller would
    pay for.
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    key = list(key)
    gap = F.lit(int(within_sec * 1_000_000))
    ts_us = F.unix_micros(F.col(ts).cast("timestamp"))

    # Normalize to a (key..., __ts long, step flags) relation once.
    ev = df.select(
        *key,
        ts_us.alias("__ts"),
        *[s.cast("boolean").alias(f"__m{i}") for i, s in enumerate(steps)],
    )

    # Step 2 needs no join: every row learns its earliest strictly-later
    # step-2 event in the same window pass that the anchors then filter.
    with_next = ev.withColumn(
        "__t2",
        F.min(F.when(F.col("__m1"), F.col("__ts"))).over(_strictly_after(key)),
    )
    anchors = (
        with_next.filter(F.col("__m0"))
        .filter(
            F.col("__t2").isNotNull() & (F.col("__t2") <= F.col("__ts") + gap)
        )
        .select(*key, F.col("__ts").alias("t1"), F.col("__t2").alias("t2"))
    )

    # Steps 3+: bind each surviving anchor to the earliest qualifying event
    # by joining against the step's (pre-filtered) candidates on the key.
    for i in range(2, len(steps)):
        cand = ev.filter(F.col(f"__m{i}")).select(
            *key, F.col("__ts").alias("__c")
        )
        prev = f"t{i}"
        cur = f"t{i + 1}"
        anchors = (
            anchors.join(cand, key)
            .filter(
                (F.col("__c") > F.col(prev))
                & (F.col("__c") <= F.col(prev) + gap)
            )
            .groupBy(*key, *[f"t{j}" for j in range(1, i + 1)])
            .agg(F.min("__c").alias(cur))
        )
    return anchors


def pattern_contiguous(
    df: DataFrame,
    key: Sequence[str],
    order: Sequence[str],
    steps: Sequence[Column],
) -> DataFrame:
    """Strictly contiguous pattern (MATCH_RECOGNIZE ``PATTERN (A B ... )``,
    no skips) under the per-key order given by ``order`` — which MUST be a
    total order (e.g. ``(ts, event_id)``) for deterministic adjacency:
    returns the anchor rows (all original columns) where ``steps[0]`` holds
    on the row, ``steps[1]`` on the immediately next row in the group, and
    so on — one window pass over lead-chained step flags."""
    w = Window.partitionBy(*[F.col(k) for k in key]).orderBy(
        *[F.col(o) for o in order]
    )
    cond = steps[0]
    for i, s in enumerate(steps[1:], start=1):
        cond = cond & F.coalesce(
            F.lead(s.cast("boolean"), i).over(w), F.lit(False)
        )
    return df.withColumn("__match", cond).filter(F.col("__match")).drop(
        "__match"
    )


class FunnelMaintainer:
    """STREAMING funnel: maintain skip-till-next-match funnel matches across
    timestamp-ordered micro-batches — the CEP operator as incremental
    state, matching the engine's maintenance tier (streaming/maintain.py).

    Under watermark-ordered arrival (every batch's events are strictly later
    than all previous events — the EpochFeeder/watermark discipline),
    completed matches are STABLE: a bound step is the earliest qualifying
    event, and later batches only carry later events, so no retraction is
    ever needed. The maintained state is exactly the PENDING partial chains
    ``(key, stage, t1..ti)``; a chain expires (provably unable to complete)
    once the stream has passed ``ti + within``, so state is bounded by the
    funnel window x event rate, not by history. Each batch costs one window
    pass over the batch (stage-2 binding for new anchors) plus one
    broadcast-ish join per later stage — all against BATCH-sized, never
    history-sized, relations.

    ``process_batch`` returns the batch's newly completed matches; across
    batches these are exactly the batch ``funnel`` of the concatenated
    stream (pytest-pinned parity).
    """

    def __init__(
        self,
        spark,
        key: Sequence[str],
        ts: str,
        steps: Sequence[Column],
        within_sec: int | float,
    ):
        if len(steps) < 2:
            raise ValueError("funnel needs at least 2 steps")
        self.spark = spark
        self.key = list(key)
        self.ts = ts
        self.steps = list(steps)
        self.gap = int(within_sec * 1_000_000)
        # Pending chains: (*key, stage, t1..tn with nulls above stage).
        # The schema is derived from the first batch (key columns keep
        # their native types — string conv_ids included).
        self._tcols = [f"t{i}" for i in range(1, len(steps) + 1)]
        self.pending: DataFrame | None = None
        self._max_seen: int | None = None
        # The returned matches are a view over this batch's checkpoints;
        # everything but the live pending set is released at the NEXT batch.
        self._scratch = Scratch()

    def _events(self, batch: DataFrame) -> DataFrame:
        ts_us = F.unix_micros(F.col(self.ts).cast("timestamp"))
        return batch.select(
            *self.key,
            ts_us.alias("__ts"),
            *[
                s.cast("boolean").alias(f"__m{i}")
                for i, s in enumerate(self.steps)
            ],
        )

    def process_batch(self, batch: DataFrame) -> DataFrame:
        """Ingest one strictly-later micro-batch; returns its newly
        completed matches ``(*key, t1..tn)``. Raises if the batch violates
        the watermark order (an event at or before the last seen ts)."""
        self._scratch.reap(keep=(self.pending,))
        ev = self._scratch.ck(self._events(batch))
        row = ev.agg(
            F.min("__ts").alias("lo"), F.max("__ts").alias("hi")
        ).collect()[0]
        lo, hi = row["lo"], row["hi"]
        null_t = [F.lit(None).cast("long").alias(c) for c in self._tcols[1:]]
        if self.pending is None:
            self.pending = self._scratch.ck(
                ev.filter(F.lit(False)).select(
                    *self.key,
                    F.lit(1).alias("stage"),
                    F.col("__ts").alias("t1"),
                    *null_t,
                )
            )
        if lo is None:
            return self.pending.filter(F.lit(False)).select(
                *self.key, *self._tcols
            )
        if self._max_seen is not None and lo <= self._max_seen:
            raise ValueError(
                f"out-of-order batch: event at {lo} <= watermark "
                f"{self._max_seen} (FunnelMaintainer requires ts-ordered "
                "batches; route late data through the batch funnel)"
            )

        n = len(self.steps)
        # New anchors from this batch enter at stage 1...
        new_anchors = ev.filter(F.col("__m0")).select(
            *self.key,
            F.lit(1).alias("stage"),
            F.col("__ts").alias("t1"),
            *null_t,
        )
        chains = self.pending.unionByName(new_anchors)
        # ...then every stage tries to bind its next step from THIS batch.
        # A chain can advance multiple stages within one batch (anchor and
        # full completion in the same batch included), so iterate stages in
        # order. Each pass: LEFT-join the stage's chains to the batch's
        # pre-filtered step candidates on the key, qualify, group-min —
        # bound and unbound chains fall out of the same aggregate (grouping
        # keys include the null t-columns; GROUP BY groups NULLs, and
        # duplicate identical chains collapse exactly as the batch funnel's
        # group-min does).
        for i in range(1, n):
            cand = ev.filter(F.col(f"__m{i}")).select(
                *self.key, F.col("__ts").alias("__c")
            )
            at_stage = chains.filter(F.col("stage") == i)
            rest = chains.filter(F.col("stage") != i)
            prev = f"t{i}"
            nxt = (
                at_stage.join(cand, self.key, "left")
                .withColumn(
                    "__q",
                    F.when(
                        (F.col("__c") > F.col(prev))
                        & (F.col("__c") <= F.col(prev) + F.lit(self.gap)),
                        F.col("__c"),
                    ),
                )
                .groupBy(*self.key, "stage", *self._tcols)
                .agg(F.min("__q").alias("__next"))
            )
            advanced = nxt.filter(F.col("__next").isNotNull()).select(
                *self.key,
                (F.col("stage") + 1).alias("stage"),
                *[
                    F.col("__next").alias(c) if c == f"t{i + 1}" else F.col(c)
                    for c in self._tcols
                ],
            )
            unbound = nxt.filter(F.col("__next").isNull()).select(
                *self.key, "stage", *self._tcols
            )
            chains = rest.unionByName(advanced).unionByName(unbound)

        chains = self._scratch.ck(chains)
        done = chains.filter(F.col("stage") == n).select(
            *self.key, *self._tcols
        )
        # Expire chains that can no longer complete: the next step had to
        # arrive by (last bound time) + gap, and the stream has passed it.
        # The last bound time of a stage-i chain is its highest non-null
        # t-column.
        last_bound = F.coalesce(*[F.col(c) for c in reversed(self._tcols[:-1])])
        keep = chains.filter(F.col("stage") < n).filter(
            F.lit(hi) < last_bound + F.lit(self.gap)
        )
        self.pending = self._scratch.ck(keep)
        self._max_seen = hi
        return done

    def release(self) -> None:
        self._scratch.reap()


def absence(
    df: DataFrame,
    key: Sequence[str],
    ts: str,
    anchor: Column,
    expected: Column,
    within_sec: int | float,
) -> DataFrame:
    """Absence / timeout pattern — the canonical transcript alert ("a tool
    call with NO tool result within T"): one output row ``(*key, t1)`` in
    epoch microseconds per ``anchor`` event with no ``expected`` event
    strictly after it within ``within_sec``. One window pass (the same
    strict range-following conditional min as ``funnel`` step 2), no join.

    Note the boundary contract: an anchor in the last ``within_sec`` of the
    stream is reported absent if nothing qualifying has arrived YET — batch
    semantics are "as of the end of the input". The streaming counterpart
    (:class:`AbsenceMaintainer`) instead holds such anchors pending until
    the watermark passes their deadline, which is the alerting behavior a
    live pipeline wants."""
    key = list(key)
    gap = F.lit(int(within_sec * 1_000_000))
    ts_us = F.unix_micros(F.col(ts).cast("timestamp"))
    ev = df.select(
        *key,
        ts_us.alias("__ts"),
        anchor.cast("boolean").alias("__a"),
        expected.cast("boolean").alias("__e"),
    )
    with_next = ev.withColumn(
        "__nxt",
        F.min(F.when(F.col("__e"), F.col("__ts"))).over(_strictly_after(key)),
    )
    return (
        with_next.filter(F.col("__a"))
        .filter(
            F.col("__nxt").isNull() | (F.col("__nxt") > F.col("__ts") + gap)
        )
        .select(*key, F.col("__ts").alias("t1"))
    )


class AbsenceMaintainer:
    """STREAMING absence detection: across ts-ordered micro-batches, emit
    ``(*key, t1)`` for each anchor whose expected follow-up did NOT arrive
    within ``within_sec`` — emitted exactly when the stream first passes the
    anchor's deadline (the watermark-timer semantics of a live alerting
    pipeline). State is the open-deadline anchor set, bounded by the window
    x anchor rate. Matches the batch ``absence`` of the concatenated stream
    once the stream has passed every anchor's deadline (pytest-pinned)."""

    def __init__(
        self,
        spark,
        key: Sequence[str],
        ts: str,
        anchor: Column,
        expected: Column,
        within_sec: int | float,
    ):
        self.spark = spark
        self.key = list(key)
        self.ts = ts
        self.anchor = anchor
        self.expected = expected
        self.gap = int(within_sec * 1_000_000)
        self.pending: DataFrame | None = None  # open anchors (*key, t1)
        self._max_seen: int | None = None
        self._scratch = Scratch()

    def process_batch(self, batch: DataFrame) -> DataFrame:
        self._scratch.reap(keep=(self.pending,))
        ts_us = F.unix_micros(F.col(self.ts).cast("timestamp"))
        ev = self._scratch.ck(
            batch.select(
                *self.key,
                ts_us.alias("__ts"),
                self.anchor.cast("boolean").alias("__a"),
                self.expected.cast("boolean").alias("__e"),
            )
        )
        if self.pending is None:
            self.pending = self._scratch.ck(
                ev.filter(F.lit(False)).select(
                    *self.key, F.col("__ts").alias("t1")
                )
            )
        row = ev.agg(
            F.min("__ts").alias("lo"), F.max("__ts").alias("hi")
        ).collect()[0]
        lo, hi = row["lo"], row["hi"]
        if lo is None:
            return self.pending.filter(F.lit(False))
        if self._max_seen is not None and lo <= self._max_seen:
            raise ValueError(
                f"out-of-order batch: event at {lo} <= watermark "
                f"{self._max_seen}"
            )

        # Open anchors = carried-over pending + this batch's anchors; an
        # expected event in THIS batch closes any open anchor in its window
        # (earlier batches were already tried — arrival order guarantees
        # the follow-up can only be here or later). Pending anchors are
        # interleaved as rows (__e = false) with the batch events and every
        # open anchor reads its earliest strictly-later batch follow-up
        # from ONE conditional window-min — the same ``_strictly_after``
        # idiom as the batch :func:`absence`. (The previous shape built a
        # collect_list of ALL expected timestamps per key per batch — an
        # unbounded in-memory array under a hot key; the window spills
        # gracefully instead.) Watermark discipline makes every pending t1
        # strictly earlier than every batch event, so the strict range
        # frame is exact for carried-over anchors too.
        pend_rows = self.pending.select(
            *self.key,
            F.col("t1").alias("__ts"),
            F.lit(True).alias("__a"),
            F.lit(False).alias("__e"),
        )
        allrows = ev.select(*self.key, "__ts", "__a", "__e").unionByName(
            pend_rows
        )
        closed_or_open = (
            allrows.withColumn(
                "__nxt",
                F.min(F.when(F.col("__e"), F.col("__ts"))).over(
                    _strictly_after(self.key)
                ),
            )
            .filter(F.col("__a"))
            .select(*self.key, F.col("__ts").alias("t1"), "__nxt")
        )
        survives = closed_or_open.filter(
            F.col("__nxt").isNull() | (F.col("__nxt") > F.col("t1") + F.lit(self.gap))
        ).select(*self.key, "t1")
        # Deadline passed -> ALERT; else stay pending.
        alerts = self._scratch.ck(
            survives.filter(F.lit(hi) > F.col("t1") + F.lit(self.gap))
        )
        still_open = survives.filter(
            F.lit(hi) <= F.col("t1") + F.lit(self.gap)
        )
        self.pending = self._scratch.ck(still_open)
        self._max_seen = hi
        return alerts

    def flush(self) -> DataFrame:
        """End-of-stream: report every still-open anchor (batch-semantics
        tail, matching ``absence`` over the full input)."""
        assert self.pending is not None, "no batches processed"
        return self.pending

    def release(self) -> None:
        self._scratch.reap()
