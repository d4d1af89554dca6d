"""Iteration tests — reachability / BFS fixpoints vs hand-computed oracles
(reference tests/bfs.rs:24-120 style: compare against a sequential
recomputation)."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from differential_dataflow_spark import DiffCollection
from differential_dataflow_spark.operators import iterate as loop
from differential_dataflow_spark.operators.iterate import (
    iterate,
    iterate_keyed_min,
    semi_naive,
)


def _edges(spark, pairs):
    return DiffCollection.from_updates(
        spark, [(s, d, 0, 1) for s, d in pairs], "src bigint, dst bigint"
    )


def _python_reach(pairs, roots):
    adj = {}
    for s, d in pairs:
        adj.setdefault(s, set()).add(d)
    seen = set(roots)
    frontier = set(roots)
    while frontier:
        nxt = set()
        for n in frontier:
            for m in adj.get(n, ()):
                if m not in seen:
                    seen.add(m)
                    nxt.add(m)
        frontier = nxt
    return sorted(seen)


def test_semi_naive_reachability(spark):
    pairs = [(0, 1), (1, 2), (2, 3), (3, 1), (5, 6), (4, 5)]
    edges = _edges(spark, pairs)
    roots = DiffCollection.from_updates(spark, [(0, 0, 1)], "node bigint")

    reached = semi_naive(
        roots,
        lambda frontier: frontier.map(src=F.col("node"))
        .join(edges.map(F.col("src"), node=F.col("dst")), on=["src"])
        .map(F.col("node")),
    )
    got = sorted(r.node for r in reached.df.collect())
    assert got == _python_reach(pairs, [0]) == [0, 1, 2, 3]


def test_iterate_generic_fixpoint_matches_semi_naive(spark):
    pairs = [(0, 1), (1, 2), (0, 3), (3, 4), (9, 0)]
    edges = _edges(spark, pairs)
    roots = DiffCollection.from_updates(spark, [(0, 0, 1)], "node bigint")

    def logic(inner):
        expanded = (
            inner.map(src=F.col("node"))
            .join(edges.map(F.col("src"), node=F.col("dst")), on=["src"])
            .map(F.col("node"))
        )
        return expanded.concat(roots).distinct(["node"])

    reached = iterate(roots, logic, max_iters=20)
    got = sorted(r.node for r in reached.df.collect())
    assert got == _python_reach(pairs, [0]) == [0, 1, 2, 3, 4]


def test_bfs_distances(spark):
    # BFS distance labeling (src/algorithms/graphs/bfs.rs:36-49):
    # dist(root)=0; dist(n) = min over edges (m,n) of dist(m)+1.
    pairs = [(0, 1), (1, 2), (0, 2), (2, 3), (4, 3)]
    edges = _edges(spark, pairs)
    init = DiffCollection.from_updates(spark, [(0, 0, 0, 1)], "node bigint, dist bigint")

    dists = iterate_keyed_min(
        init,
        lambda frontier: frontier.map(src=F.col("node"), d=F.col("dist"))
        .join(edges.map(F.col("src"), node=F.col("dst")), on=["src"])
        .map(F.col("node"), dist=F.col("d") + 1),
        keys=["node"],
        value="dist",
    )
    got = sorted((r.node, r.dist) for r in dists.df.collect())
    assert got == [(0, 0), (1, 1), (2, 1), (3, 2)]


def test_connected_components_label_propagation(spark):
    # propagate (src/algorithms/graphs/propagate.rs:18-60): each node keeps
    # the min label reachable over undirected edges.
    pairs = [(0, 1), (1, 2), (3, 4)]
    sym = pairs + [(d, s) for s, d in pairs]
    edges = _edges(spark, sym)
    nodes = sorted({n for p in pairs for n in p})
    labels = DiffCollection.from_updates(
        spark, [(n, n, 0, 1) for n in nodes], "node bigint, label bigint"
    )

    comps = iterate_keyed_min(
        labels,
        lambda frontier: frontier.map(src=F.col("node"), l=F.col("label"))
        .join(edges.map(F.col("src"), node=F.col("dst")), on=["src"])
        .map(F.col("node"), label=F.col("l")),
        keys=["node"],
        value="label",
    )
    got = sorted((r.node, r.label) for r in comps.df.collect())
    assert got == [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3)]


def test_iterate_with_priorities_enter_at(spark):
    # enter_at (src/collection.rs:375-392): records join the loop at their
    # round. Roots staged at rounds 0/2 over a 2-chain graph must reach the
    # same closure as all-at-once iteration (monotone logic), and the staged
    # plumbing must not lose or duplicate records.
    from differential_dataflow_spark.operators.iterate import (
        iterate_with_priorities,
    )

    edges = {(1, 2), (2, 3), (10, 11), (11, 12)}
    edges_coll = DiffCollection.from_updates(
        spark, [(s, d, 0, 1) for s, d in edges], "src bigint, dst bigint"
    )

    def logic(cur):
        new = (
            cur.map(src=F.col("node"))
            .join(edges_coll.map(F.col("src"), node=F.col("dst")), on=["src"])
            .map(F.col("node"))
        )
        return cur.concat(new).distinct(["node"])

    staged = DiffCollection.from_updates(
        spark,
        [(1, 0, 0, 1), (10, 2, 0, 1)],  # node 1 enters at round 0, 10 at 2
        "node bigint, enter_at bigint",
    )
    out = iterate_with_priorities(staged, logic)
    got = sorted(r.node for r in out.df.select("node").collect())
    assert got == [1, 2, 3, 10, 11, 12]


def test_mutual_semi_naive_even_odd(spark):
    # Even/odd-hop reachability: two mutually recursive relations
    # (the reference's multi-Variable shape). Python parity-BFS oracle.
    from differential_dataflow_spark.operators.iterate import mutual_semi_naive

    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (2, 0), (4, 5)]
    want = {("even", 0)}
    frontier = {("even", 0)}
    while frontier:
        nxt = set()
        for tag, n in frontier:
            out_tag = "odd" if tag == "even" else "even"
            for s, d in edges:
                if s == n and (out_tag, d) not in want:
                    nxt.add((out_tag, d))
        want |= nxt
        frontier = nxt

    e = DiffCollection.from_df(spark.createDataFrame(edges, "src long, dst long"))
    even0 = DiffCollection.from_df(
        spark.range(1).select(F.lit(0).cast("long").alias("node"))
    )
    odd0 = DiffCollection.from_df(spark.createDataFrame([], "node long"))

    def step(frontier_coll):
        return (
            frontier_coll.map(src=F.col("node"))
            .join(e.map(F.col("src"), node=F.col("dst")), on=["src"])
            .map(F.col("node"))
        )

    closed = mutual_semi_naive(
        roots={"even": even0, "odd": odd0},
        expands={
            "even": lambda fr, tot: step(fr["odd"]),
            "odd": lambda fr, tot: step(fr["even"]),
        },
    )
    got = {
        (tag, r["node"])
        for tag in ("even", "odd")
        for r in closed[tag].df.collect()
    }
    assert got == want


# -- the loop driver: both sides of the frontier gate, and round shapes ---- #


def _reach(spark, pairs, root=0):
    edges = _edges(spark, pairs)
    roots = DiffCollection.from_updates(spark, [(root, 0, 1)], "node bigint")
    return semi_naive(
        roots,
        lambda f: f.map(src=F.col("node"))
        .join(edges.map(F.col("src"), node=F.col("dst")), on=["src"])
        .map(F.col("node")),
    )


def _bfs(spark, pairs, root=0):
    edges = _edges(spark, pairs)
    init = DiffCollection.from_updates(
        spark, [(root, 0, 0, 1)], "node bigint, dist bigint"
    )
    return iterate_keyed_min(
        init,
        lambda f: f.map(src=F.col("node"), d=F.col("dist"))
        .join(edges.map(F.col("src"), node=F.col("dst")), on=["src"])
        .map(F.col("node"), dist=F.col("d") + 1),
        keys=["node"],
        value="dist",
    )


_GRAPH = [(0, 1), (1, 2), (2, 3), (3, 1), (1, 4), (4, 5), (5, 6), (0, 6), (7, 8)]


def _driver_results(spark) -> dict:
    """One result per driver caller: semi_naive, iterate_keyed_min, a
    distinct- and a min-valued MaintainedFixpoint through a mixed batch
    (expansion, overdelete and rederive closures), and KCoreMaintainer
    through an insert batch (the GROW closure)."""
    from differential_dataflow_spark.streaming.maintain import (
        IncrementalBFS,
        IncrementalReachability,
        KCoreMaintainer,
    )

    def frame(pairs):
        return spark.createDataFrame(pairs, "src long, dst long")

    out = {
        "semi_naive": sorted(r.node for r in _reach(spark, _GRAPH).df.collect()),
        "keyed_min": sorted(
            (r.node, r.dist) for r in _bfs(spark, _GRAPH).df.collect()
        ),
    }
    ir = IncrementalReachability(
        spark, frame(_GRAPH), spark.createDataFrame([(0,)], "node long")
    )
    upd = spark.createDataFrame(
        [(1, 2, -1), (3, 1, -1), (8, 9, 1), (6, 7, 1)],
        "src long, dst long, diff long",
    )
    out["reach_batch"] = sorted(tuple(r) for r in ir.process_batch(upd).collect())
    out["reach"] = sorted(r.node for r in ir.reached_nodes().collect())
    ir.release()
    ib = IncrementalBFS(spark, frame(_GRAPH), root=0)
    batch = ib.process_batch(frame([(6, 7), (0, 5)]), frame([(0, 1), (4, 5)]))
    out["bfs_batch"] = sorted(tuple(r) for r in batch.collect())
    out["bfs"] = sorted(tuple(r) for r in ib.distances().collect())
    ib.release()
    km = KCoreMaintainer(spark, frame([(0, 1), (1, 2), (2, 0), (3, 4)]), k=2)
    batch = km.process_batch(frame([(2, 3), (4, 5), (5, 2), (6, 7)]), None)
    out["kcore_batch"] = sorted(tuple(r) for r in batch.collect())
    out["kcore"] = sorted(r.node for r in km.core_nodes().collect())
    km.release()
    return out


@pytest.fixture(scope="module")
def default_results(spark) -> dict:
    return _driver_results(spark)


@pytest.mark.parametrize(
    "patch",
    [
        # Gate at 0: no non-empty frontier is under it, so none is
        # broadcast and every round anti-joins against the exchanged parts.
        {"FRONTIER_ROWS": 0},
        # Tail threshold at 0: every frontier under the gate takes the
        # broadcast tail (candidates broadcast against the parts).
        {"TAIL_KNOWN_ROWS": 0},
    ],
    ids=["exchange", "tail"],
)
def test_frontier_gate_sides_agree(spark, monkeypatch, default_results, patch):
    assert default_results["semi_naive"] == _python_reach(_GRAPH, [0])
    for name, value in patch.items():
        monkeypatch.setattr(loop, name, value)
    assert _driver_results(spark) == default_results


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches: the diff of its own job group's jobs."""
    sc = spark.sparkContext
    tracker = sc._jsc.statusTracker()
    group = f"loop-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "loop driver job count")
    try:
        before = len(tracker.getJobIdsForGroup(group))
        fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(tracker.getJobIdsForGroup(group)) - before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _chain(n):
    return [(i, i + 1) for i in range(n - 1)]


# Per-round Spark jobs, measured on these chains by the same job-group diff
# (AQE stage jobs included): semi_naive 5 and iterate_keyed_min 5 (one
# counted checkpoint per round, whose row count is an observed metric of
# the checkpoint's own job), a MaintainedFixpoint insert expansion 6 (its
# seal is a lazy checkpoint read by one aggregate). A round may not cost
# more.
@pytest.mark.parametrize(
    "run, per_round",
    [
        (lambda spark, n: _reach(spark, _chain(n)), 5),
        (lambda spark, n: _bfs(spark, _chain(n)), 5),
    ],
    ids=["semi_naive", "iterate_keyed_min"],
)
def test_loop_rounds_keep_their_job_count(spark, run, per_round):
    # An n-node chain from node 0 closes in n rounds (the last one empty),
    # so the job difference between two chain lengths is the per-round cost.
    short = _jobs(spark, lambda: run(spark, 3))
    long = _jobs(spark, lambda: run(spark, 7))
    assert long - short <= per_round * 4


def test_maintained_fixpoint_expansion_keeps_its_job_count(spark):
    from differential_dataflow_spark.streaming.maintain import (
        IncrementalReachability,
    )

    def insert_chain(n):
        ir = IncrementalReachability(
            spark,
            spark.createDataFrame([(0, 1)], "src long, dst long"),
            spark.createDataFrame([(0,)], "node long"),
        )
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, n)], "src long, dst long"
        )
        jobs = _jobs(spark, lambda: ir.process_batch(edges))
        ir.release()
        return jobs

    # The batch attaches an n-1 edge chain below node 1: its expansion runs
    # one round per chain node, so the difference is the per-round cost.
    assert insert_chain(7) - insert_chain(3) <= 6 * 4
