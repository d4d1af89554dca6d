"""Maintenance-path tests: CountMaintainer and the in-memory DeltaJoin spine
vs batch recomputation (the reference's count_total / join_core maintenance
contracts, src/operators/count.rs:81-123, src/operators/join.rs:255-556)."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from differential_dataflow_spark import DiffCollection
from differential_dataflow_spark.streaming.join import DeltaJoin
from differential_dataflow_spark.streaming.maintain import CountMaintainer


import pytest


@pytest.mark.parametrize("bucketed", [False, True])
def test_count_maintainer_matches_batch(spark, tmp_path, bucketed):
    # Seed counts, then drive delta rounds (incl. retractions and a key that
    # vanishes) across a compaction boundary; accumulated output must equal
    # the -old/+new pairs of a from-scratch recompute per round. Runs on the
    # in-memory spine AND the bucket-partitioned parquet base (pruned
    # lookups + staged-swap compaction).
    cm = CountMaintainer(
        spark,
        keys=["k"],
        alias="n",
        compact_every=2,
        state_dir=str(tmp_path / "state") if bucketed else None,
        n_buckets=4,
    )
    cm.seed_counts(
        spark.createDataFrame([(0, 3), (1, 1), (2, 5)], "k long, count long")
    )
    state = {0: 3, 1: 1, 2: 5}
    rounds = [
        [(0, 1), (3, 1)],            # new key appears
        [(1, -1), (0, 2)],           # key 1 vanishes
        [(2, -2), (2, -3), (4, 7)],  # key 2 vanishes via two updates
        [(1, 1)],                    # key 1 reappears (after compaction)
    ]
    for updates in rounds:
        delta = spark.createDataFrame(updates, "k long, diff long")
        got = sorted((r.k, r.n, r.diff) for r in cm.process_batch(delta).collect())
        want = []
        for k, d in updates:
            state[k] = state.get(k, 0) + d
        touched = {k for k, _ in updates}
        prev = dict(state)
        for k, d in updates:
            prev[k] = prev.get(k, 0) - d
        for k in sorted(touched):
            if prev.get(k, 0) != state.get(k, 0):
                if prev.get(k, 0):
                    want.append((k, prev[k], -1))
                if state.get(k, 0):
                    want.append((k, state[k], 1))
        assert got == sorted(want)
    # final state view agrees too
    got_state = {r.k: r.n for r in cm.counts().collect()}
    assert got_state == {k: v for k, v in state.items() if v}
    cm.release()
    # A durable trace is hash-bucketed by key: no key is a usage error.
    with pytest.raises(ValueError):
        CountMaintainer(spark, keys=[], state_dir=str(tmp_path / "nokey"))


def test_count_maintainer_resumes_after_kill(spark, tmp_path):
    # Kill and resume: a maintainer on a durable state_dir processes three
    # batches (the third sealed after a compaction) and is dropped without
    # release; a new one on the same directory must hold every sealed batch
    # and continue the update stream exactly like an uninterrupted run.
    def make(name):
        return CountMaintainer(
            spark,
            keys=["k"],
            alias="n",
            compact_every=2,
            state_dir=str(tmp_path / name),
            n_buckets=4,
        )

    def run(cm, batches):
        return [
            sorted(
                (r.k, r.n, r.diff)
                for r in cm.process_batch(
                    spark.createDataFrame(b, "k long, diff long")
                ).collect()
            )
            for b in batches
        ]

    def counts(cm):
        return {r.k: r.n for r in cm.counts().collect()}

    seed = spark.createDataFrame([(0, 3), (1, 1)], "k long, count long")
    batches = [[(0, 1)], [(1, 1)], [(2, 5)], [(0, -4), (2, 1), (3, 2)]]
    whole = make("whole")
    whole.seed_counts(seed)
    want = run(whole, batches)
    first = make("killed")
    first.seed_counts(seed)
    got = run(first, batches[:3])
    resumed = make("killed")
    assert counts(resumed) == {0: 4, 1: 2, 2: 5}
    got += run(resumed, batches[3:])
    assert got == want
    assert counts(resumed) == counts(whole) == {1: 2, 2: 6, 3: 2}


@pytest.mark.parametrize("bucketed", [False, True])
def test_count_maintainer_multiset_deltas(spark, tmp_path, bucketed):
    # The delta is sealed raw, unconsolidated: a batch may carry a key
    # several times, with weights that cancel or add up. Folding every
    # batch (compact_every=1) must keep the trace equal to a recompute.
    def make():
        return CountMaintainer(
            spark,
            keys=["k"],
            alias="n",
            compact_every=1,
            state_dir=str(tmp_path / "state") if bucketed else None,
            n_buckets=4,
        )

    def counts(m):
        return {r.k: r.n for r in m.counts().collect()}

    seed = [(0, 3), (1, 1)]
    batches = [
        # +1 and -1 in one batch emit nothing; a new key inserted twice
        # counts 2; a zero weight is no change.
        ([(0, 1), (9, 1), (0, -1), (9, 1), (1, 0)], [(9, 2, 1)]),
        # A cancelling pair beside a net change.
        ([(1, 1), (1, 1), (1, -1), (5, 1), (5, -1)], [(1, 1, -1), (1, 2, 1)]),
        ([(9, -1), (9, -1), (0, 2), (0, -2)], [(9, 2, -1)]),
        ([(2, 1), (2, 1), (2, 1), (1, -2)], [(1, 2, -1), (2, 3, 1)]),
    ]
    cm = make()
    cm.seed_counts(spark.createDataFrame(seed, "k long, count long"))
    for updates, want in batches:
        delta = spark.createDataFrame(updates, "k long, diff long")
        got = sorted((r.k, r.n, r.diff) for r in cm.process_batch(delta).collect())
        assert got == want
    history = seed + [u for updates, _ in batches for u in updates]
    recompute = {
        r.k: r.n
        for r in spark.createDataFrame(history, "k long, diff long")
        .groupBy("k")
        .agg(F.sum("diff").alias("n"))
        .filter("n != 0")
        .collect()
    }
    assert counts(cm) == recompute == {0: 3, 2: 3}
    if bucketed:
        assert counts(make()) == recompute
    cm.release()


def test_delta_join_in_memory_matches_batch(spark):
    # The in-memory spine (state_dir=None) must replicate the parquet-backed
    # DeltaJoin semantics: 4 epochs including retractions, compact_every=2.
    l_epochs = [
        [(0, 1, 1), (1, 5, 1)],
        [(0, 2, 1)],
        [(0, 1, -1)],
        [(2, 9, 1)],
    ]
    r_epochs = [
        [(0, 10, 1)],
        [(1, 20, 1)],
        [(0, 30, 1)],
        [(0, 10, -1)],
    ]
    dj = DeltaJoin(spark, None, on=["k"], compact_every=2)
    acc: dict[tuple, int] = {}
    for le, re in zip(l_epochs, r_epochs):
        dl = spark.createDataFrame(le, "k long, v1 long, diff long")
        dr = spark.createDataFrame(re, "k long, v2 long, diff long")
        out = dj.process_batch(dl, dr)
        if out is not None:
            for r in out.collect():
                key = (r.k, r.v1, r.v2)
                acc[key] = acc.get(key, 0) + r.diff
    got = sorted((k + (d,)) for k, d in acc.items() if d != 0)

    l_updates = [(k, v, e, d) for e, ep in enumerate(l_epochs) for (k, v, d) in ep]
    r_updates = [(k, v, e, d) for e, ep in enumerate(r_epochs) for (k, v, d) in ep]
    left = DiffCollection.from_updates(spark, l_updates, "k long, v1 long")
    right = DiffCollection.from_updates(spark, r_updates, "k long, v2 long")
    final = left.join(right, on=["k"]).consolidate_final().collect()
    want = sorted((r.k, r.v1, r.v2, r.diff) for r in final)
    assert got == want


def test_delta_join_in_memory_seeded(spark):
    # Bulk-load both sides, then a single delta round: output = ΔL ⋈ R only.
    dj = DeltaJoin(spark, None, on=["k"])
    dj.seed(
        "left",
        spark.createDataFrame([(0, 1, 1), (1, 2, 1)], "k long, v1 long, diff long"),
    )
    dj.seed(
        "right",
        spark.createDataFrame([(0, 10, 1), (0, 11, 1)], "k long, v2 long, diff long"),
    )
    dl = spark.createDataFrame([(0, 3, 1)], "k long, v1 long, diff long")
    out = sorted((r.k, r.v1, r.v2, r.diff) for r in dj.process_batch(dl, None).collect())
    assert out == [(0, 3, 10, 1), (0, 3, 11, 1)]


@pytest.mark.parametrize("bucketed", [False, True])
def test_incremental_reachability_matches_recompute(spark, tmp_path, bucketed):
    # Monotone incremental iterate: edge-addition batches extend the reached
    # set; after each batch the maintained set must equal a from-scratch
    # python BFS over the accumulated edges, and the returned update stream
    # must be exactly the newly reached nodes.
    import random

    from differential_dataflow_spark.streaming.maintain import (
        IncrementalReachability,
    )

    rng = random.Random(17)
    n = 80
    all_edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(220)})
    init, batches = all_edges[:80], [all_edges[80:130], all_edges[130:180], all_edges[180:]]
    roots = [0, 1]

    def py_reach(edges):
        adj = {}
        for s, d in edges:
            adj.setdefault(s, []).append(d)
        seen, stack = set(roots), list(roots)
        while stack:
            u = stack.pop()
            for v in adj.get(u, ()):
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        return seen

    ir = IncrementalReachability(
        spark,
        spark.createDataFrame(init, "src long, dst long"),
        spark.createDataFrame([(r,) for r in roots], "node long"),
        compact_every=2,
        state_dir=str(tmp_path / "state") if bucketed else None,
        n_buckets=4,
    )
    acc = list(init)
    prev = py_reach(acc)
    assert {r.node for r in ir.reached_nodes().collect()} == prev
    for batch in batches:
        out = {r.node for r in ir.add_edges(
            spark.createDataFrame(batch, "src long, dst long")
        ).collect()}
        acc += batch
        cur = py_reach(acc)
        assert out == cur - prev          # exactly the newly reached nodes
        assert {r.node for r in ir.reached_nodes().collect()} == cur
        prev = cur
    # the monotone fast path rejects retractions (process_batch handles them)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="process_batch"):
        ir.add_edges(
            spark.createDataFrame([(0, 1, -1)], "src long, dst long, diff long")
        )
    ir.release()


@pytest.mark.parametrize("bucketed", [False, True])
def test_incremental_reachability_mixed_deletions(spark, tmp_path, bucketed):
    # Delete-and-rederive: mixed insertion/deletion batches; after each
    # batch the maintained set equals a from-scratch BFS over the live
    # edges, and the update stream consolidates to exactly the symmetric
    # difference (retractions of no-longer-reachable nodes, assertions of
    # newly reachable ones).
    import random

    from differential_dataflow_spark.streaming.maintain import (
        IncrementalReachability,
    )

    rng = random.Random(23)
    n = 60
    all_edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(200)})
    init = all_edges[:100]
    roots = [0, 1]

    def py_reach(edges):
        adj = {}
        for s, d in edges:
            adj.setdefault(s, []).append(d)
        seen, stack = set(roots), list(roots)
        while stack:
            u = stack.pop()
            for v in adj.get(u, ()):
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        return seen

    batches = [
        # pure deletion; deletes include high-fanout early edges
        [(s, d, -1) for s, d in init[:25]],
        # mixed: re-add some deleted, add new, delete others
        [(s, d, 1) for s, d in init[:10]]
        + [(s, d, 1) for s, d in all_edges[100:140]]
        + [(s, d, -1) for s, d in init[30:45]],
        # deletion of edges that were never present is the caller's error —
        # not exercised; delete a slice of the round-2 additions instead
        [(s, d, -1) for s, d in all_edges[100:120]]
        + [(s, d, 1) for s, d in all_edges[140:]],
    ]

    ir = IncrementalReachability(
        spark,
        spark.createDataFrame(init, "src long, dst long"),
        spark.createDataFrame([(r,) for r in roots], "node long"),
        compact_every=3,
        state_dir=str(tmp_path / "state") if bucketed else None,
        n_buckets=4,
    )
    live: dict = {}
    for s, d in init:
        live[(s, d)] = live.get((s, d), 0) + 1
    prev = py_reach([e for e, w in live.items() if w > 0])
    for batch in batches:
        out = ir.process_batch(
            spark.createDataFrame(batch, "src long, dst long, diff long")
        ).collect()
        for s, d, w in batch:
            live[(s, d)] = live.get((s, d), 0) + w
        cur = py_reach([e for e, w in live.items() if w > 0])
        # update stream: exactly the set difference, as ±1 rows
        got = {}
        for r in out:
            got[r.node] = got.get(r.node, 0) + r.diff
        got = {k: v for k, v in got.items() if v != 0}
        want = {v: 1 for v in cur - prev} | {v: -1 for v in prev - cur}
        assert got == want
        assert {r.node for r in ir.reached_nodes().collect()} == cur
        prev = cur
    ir.release()


@pytest.mark.parametrize("bucketed", [False, True])
def test_incremental_bfs_matches_recompute(spark, tmp_path, bucketed):
    # The reference's marquee demo (examples/bfs.rs): BFS distances
    # maintained under MIXED edge insertions and deletions. After every
    # batch the maintained distance map must equal a from-scratch BFS, and
    # the emitted update stream must be exactly the map diff.
    import random
    from collections import deque

    from differential_dataflow_spark.streaming.maintain import IncrementalBFS

    rng = random.Random(23)
    n = 60
    pool = list({(rng.randrange(n), rng.randrange(n)) for _ in range(260)})
    init = pool[:140]
    live = set(init)

    def py_bfs(edges):
        adj = {}
        for s, d in edges:
            adj.setdefault(s, []).append(d)
        dist = {0: 0}
        q = deque([0])
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return dist

    ib = IncrementalBFS(
        spark,
        spark.createDataFrame(init, "src long, dst long"),
        root=0,
        compact_every=2,
        state_dir=str(tmp_path / "state") if bucketed else None,
        n_buckets=4,
    )
    prev = py_bfs(live)
    assert {r.node: r.dist for r in ib.distances().collect()} == prev
    for i in range(4):
        rng2 = random.Random(100 + i)
        dels = rng2.sample(sorted(live), 18)
        ins = [e for e in pool if e not in live][: 15]
        out = ib.process_batch(
            spark.createDataFrame(ins, "src long, dst long") if ins else None,
            spark.createDataFrame(dels, "src long, dst long"),
        )
        live = (live - set(dels)) | set(ins)
        cur = py_bfs(live)
        got = {r.node: r.dist for r in ib.distances().collect()}
        assert got == cur, f"batch {i}: map mismatch"
        # the update stream is exactly the diff of the two maps
        ups = {}
        for r in out.collect():
            ups[(r.node, r.dist)] = ups.get((r.node, r.dist), 0) + r.diff
        want_ups = {}
        for node in set(prev) | set(cur):
            if prev.get(node) != cur.get(node):
                if node in prev:
                    want_ups[(node, prev[node])] = -1
                if node in cur:
                    want_ups[(node, cur[node])] = 1
        assert {k: v for k, v in ups.items() if v} == want_ups, f"batch {i}"
        prev = cur
    ib.release()


def test_count_maintainer_inside_structured_streaming(spark, tmp_path):
    # End-to-end: EpochFeeder micro-batches -> foreachBatch drives the
    # CountMaintainer against pre-seeded state -> ExactlyOnceSink. The
    # accumulated sink output must equal the -old/+new pairs of recomputing
    # per epoch, and replaying the stream (same checkpoint) adds nothing.
    from differential_dataflow_spark.streaming.maintain import CountMaintainer
    from differential_dataflow_spark.streaming.sink import ExactlyOnceSink
    from differential_dataflow_spark.streaming.source import (
        EpochFeeder,
        run_to_completion,
    )

    feeder = EpochFeeder(spark, str(tmp_path / "in"), "k long")
    epochs = [[(1, 2), (2, 1)], [(1, -2), (3, 1)], [(2, 1), (1, 1)]]
    for ep in epochs:
        for k, d in ep:
            feeder.update((k,), d)
        feeder.advance_epoch()

    cm = CountMaintainer(spark, keys=["k"], alias="n", compact_every=2)
    cm.seed_counts(spark.createDataFrame([(1, 5)], "k long, count long"))
    sink = ExactlyOnceSink(str(tmp_path / "out"), "maintain")

    def batch_fn(df, batch_id):
        out = cm.process_batch(df)
        sink.write_batch(out, batch_id)

    q = (
        feeder.stream()
        .writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(batch_fn)
        .start()
    )
    run_to_completion(q)
    got = sorted((r.k, r.n, r.diff) for r in sink.read_all(spark).collect())

    state = {1: 5}
    want = []
    for ep in epochs:
        per_key = {}
        for k, d in ep:
            per_key[k] = per_key.get(k, 0) + d
        for k, d in sorted(per_key.items()):
            old = state.get(k, 0)
            new = old + d
            if old != new:
                if old:
                    want.append((k, old, -1))
                if new:
                    want.append((k, new, 1))
            state[k] = new
    assert got == sorted(want)
    assert {r.k: r.n for r in cm.counts().collect()} == {
        k: v for k, v in state.items() if v
    }
    cm.release()


@pytest.mark.parametrize("bucketed", [False, True])
def test_kcore_maintainer_matches_recompute(spark, tmp_path, bucketed):
    # Maintained k-core (reference README.md:367-375 streaming k-cores):
    # after each mixed insertion/deletion batch the maintained core must
    # equal a from-scratch python peel of the live graph, and the update
    # stream must be exactly the membership symmetric difference.
    import random

    from differential_dataflow_spark.streaming.maintain import KCoreMaintainer

    def py_kcore(edges, k):
        adj = {}
        for s, d in edges:
            if s == d:
                continue
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
        # include self-loop-only nodes with empty adjacency
        nodes = set()
        for s, d in edges:
            nodes.add(s); nodes.add(d)
        core = set(nodes)
        changed = True
        while changed:
            changed = False
            for v in list(core):
                if len(adj.get(v, set()) & core) < k:
                    core.discard(v)
                    changed = True
        return core

    rng = random.Random(31)
    n, k = 40, 3
    all_edges = list(
        {(rng.randrange(n), rng.randrange(n)) for _ in range(260) }
    )
    all_edges = [(s, d) for s, d in all_edges if s != d]
    init = all_edges[:140]
    batches = [
        (None, init[:40]),                       # pure delete: core shrinks
        (all_edges[140:200], init[40:60]),       # mixed
        (init[:40], None),                       # pure insert: core regrows
        (all_edges[200:], init[60:80]),          # mixed again
    ]

    km = KCoreMaintainer(
        spark,
        spark.createDataFrame(init, "src long, dst long"),
        k=k,
        compact_every=3,
        state_dir=str(tmp_path / "state") if bucketed else None,
        n_buckets=4,
    )
    live = set(init)
    prev = py_kcore(live, k)
    assert {r.node for r in km.core_nodes().collect()} == prev
    for ins, dele in batches:
        out = km.process_batch(
            spark.createDataFrame(ins, "src long, dst long") if ins else None,
            spark.createDataFrame(dele, "src long, dst long") if dele else None,
        ).collect()
        live |= set(ins or [])
        live -= set(dele or [])
        cur = py_kcore(live, k)
        got = {}
        for r in out:
            got[r.node] = got.get(r.node, 0) + r.diff
        got = {kk: v for kk, v in got.items() if v != 0}
        want = {v: 1 for v in cur - prev} | {v: -1 for v in prev - cur}
        assert got == want
        assert {r.node for r in km.core_nodes().collect()} == cur
        # surviving edges match the induced live support
        want_edges = {
            (min(s, d), max(s, d))
            for s, d in live
            if s in cur and d in cur and s != d
        }
        got_edges = {(r.src, r.dst) for r in km.core_edges().collect()}
        assert got_edges == want_edges
        prev = cur
    km.release()


def test_maintainers_release_scratch(spark):
    # Per-batch checkpoints are released at the next batch, and release()
    # frees the rest: a toggle stream (delete an edge, re-insert it) returns
    # to the same state every two batches, so the persisted-RDD count must
    # not grow with the number of batches.
    from differential_dataflow_spark.collection import DIFF
    from differential_dataflow_spark.streaming.maintain import (
        IncrementalBFS,
        IncrementalReachability,
        KCoreMaintainer,
    )

    def persisted():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def edges(rows):
        return spark.createDataFrame(rows, "src long, dst long")

    chain = edges([(0, 1), (1, 2), (2, 3), (3, 4), (1, 5)])
    two_triangles = edges([(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2)])
    cut, bridge = edges([(1, 2)]), edges([(3, 4)])

    def reachability():
        # A MaintainedFixpoint program (streaming/fixpoint.py).
        ir = IncrementalReachability(
            spark, chain, spark.createDataFrame([(0,)], "node long"),
            compact_every=2,
        )
        return ir, lambda dele: ir.process_batch(
            cut.withColumn(DIFF, F.lit(-1 if dele else 1))
        )

    def bfs():
        ib = IncrementalBFS(spark, chain, root=0, compact_every=2)
        return ib, lambda dele: (
            ib.process_batch(None, cut) if dele else ib.process_batch(cut, None)
        )

    def kcore():
        km = KCoreMaintainer(spark, two_triangles, k=2, compact_every=2)
        return km, lambda dele: (
            km.process_batch(None, bridge)
            if dele
            else km.process_batch(bridge, None)
        )

    def count():
        # Folds every batch: release() finds a fold in flight, waits for
        # it and frees its checkpoint with the trace's.
        cm = CountMaintainer(spark, ["k"], alias="n", compact_every=1)
        cm.seed_counts(spark.createDataFrame([(0, 1)], "k long, count long"))
        return cm, lambda dele: cm.process_batch(
            spark.createDataFrame([(0, -1 if dele else 1)], "k long, diff long")
        )

    def fold_threads():
        return [
            t for t in threading.enumerate()
            if t.name == "arrangement-fold" and t.is_alive()
        ]

    for make in (reachability, bfs, kcore, count):
        before = persisted()
        m, batch = make()
        seen = []
        for i in range(12):
            assert batch(i % 2 == 0).count() > 0
            # A fold behind the batch persists its checkpoint while it runs:
            # sample once it has finished, so every sample counts it.
            for t in fold_threads():
                t.join()
            seen.append(persisted())
        assert max(seen[8:]) <= max(seen[:4]), (make.__name__, seen)
        m.release()
        assert persisted() <= before, make.__name__
        assert not fold_threads(), make.__name__


@pytest.mark.parametrize("maintainer", ["bfs", "kcore"])
def test_maintainers_count_edges_inserted_twice_in_one_batch(spark, maintainer):
    # Edges are a multiset on every path: an edge inserted twice in ONE
    # batch survives its first retraction, as a seed edge listed twice does.
    from differential_dataflow_spark.streaming.maintain import (
        IncrementalBFS,
        KCoreMaintainer,
    )

    def edges(rows):
        return spark.createDataFrame(rows, "src long, dst long")

    if maintainer == "bfs":
        # Chain 0->1->2; the shortcut (0,2) puts node 2 at dist 1.
        m = IncrementalBFS(spark, edges([(0, 1), (1, 2)]), root=0)
        extra = (0, 2)
        with_extra, without = {(0, 0), (1, 1), (2, 1)}, {(0, 0), (1, 1), (2, 2)}

        def state():
            return {(r.node, r.dist) for r in m.distances().collect()}

    else:
        # Triangle 0-1-2 plus (2,3); (3,0) gives node 3 its second neighbor.
        m = KCoreMaintainer(spark, edges([(0, 1), (1, 2), (2, 0), (2, 3)]), k=2)
        extra = (3, 0)
        with_extra, without = {0, 1, 2, 3}, {0, 1, 2}

        def state():
            return {r.node for r in m.core_nodes().collect()}

    m.process_batch(edges([extra, extra]), None)
    assert state() == with_extra
    m.process_batch(None, edges([extra]))
    assert state() == with_extra
    m.process_batch(None, edges([extra]))
    assert state() == without
    m.release()
