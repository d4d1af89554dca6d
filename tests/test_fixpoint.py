"""Generic maintained-fixpoint (DRed) tests: MaintainedFixpoint must keep an
ARBITRARY monotone semi-naive program's derived set equal to a from-scratch
recompute under mixed insertion/deletion batches, and its emitted update
stream must be exactly the old→new set difference per batch (the reference's
incremental-iterate contract, src/operators/iterate.rs:49-127 /
examples/bfs.rs, here for any user program)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from differential_dataflow_spark.streaming.fixpoint import MaintainedFixpoint


def _reach_oracle(edges: set, roots: set) -> set:
    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    seen, stack = set(r for r in roots), list(roots)
    while stack:
        n = stack.pop()
        for m in adj.get(n, ()):
            if m not in seen:
                seen.add(m)
                stack.append(m)
    return seen


def _tc_oracle(edges: set) -> set:
    # Closure of path(x,y) :- edge(x,y); path(x,z) :- path(x,y), edge(y,z).
    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    out = set()
    for r in {s for s, _ in edges}:
        seen, stack = set(), [r]
        while stack:
            n = stack.pop()
            for m in adj.get(n, ()):
                if m not in seen:
                    seen.add(m)
                    stack.append(m)
        out |= {(r, m) for m in seen}
    return out


def _apply(mf, spark, cur: set, ins: set, dele: set, schema: str) -> set:
    rows = [t + (1,) for t in sorted(ins)] + [t + (-1,) for t in sorted(dele)]
    upd = spark.createDataFrame(rows, schema)
    got = mf.process_batch({"edges": upd})
    deltas = [(tuple(r[:-1]), r[-1]) for r in got.collect()]
    assert len({t for t, _ in deltas}) == len(deltas), "duplicate fact in output"
    return (cur | ins) - dele, dict(deltas)


def test_maintained_reachability_mixed_batches(spark):
    rng = random.Random(7)
    nodes = list(range(40))
    all_edges = {(rng.choice(nodes), rng.choice(nodes)) for _ in range(160)}
    all_edges = {(s, d) for s, d in all_edges if s != d}
    edges = set(list(sorted(all_edges))[:80])
    roots = {0, 1}

    mf = MaintainedFixpoint(
        spark,
        fact_cols=["node"],
        axioms=lambda inp: spark.createDataFrame(
            [(r,) for r in sorted(roots)], "node long"
        ),
        step=lambda f, inp: f.withColumnRenamed("node", "src")
        .join(inp["edges"], ["src"])
        .select(F.col("dst").alias("node")),
        inputs={
            "edges": spark.createDataFrame(sorted(edges), "src long, dst long")
        },
        input_keys={"edges": ["src"]},
        compact_every=2,
    )
    assert {r.node for r in mf.facts().collect()} == _reach_oracle(edges, roots)

    pool = sorted(all_edges)
    for i in range(5):
        rng.shuffle(pool)
        ins = {e for e in pool[:12] if e not in edges}
        dele = {e for e in pool[12:24] if e in edges}
        if i == 2:
            ins = set()  # delete-only batch
        if i == 3:
            dele = set()  # insert-only batch (fast path, no DRed jobs)
        before = _reach_oracle(edges, roots)
        edges, deltas = _apply(
            mf, spark, edges, ins, dele, "src long, dst long, diff long"
        )
        after = _reach_oracle(edges, roots)
        assert {r.node for r in mf.facts().collect()} == after
        # Update stream must be exactly the set difference.
        want = {(n,): 1 for n in after - before}
        want.update({(n,): -1 for n in before - after})
        assert deltas == want, f"batch {i}"
    mf.release()


def test_maintained_transitive_closure_mixed_batches(spark):
    # Binary fact schema and input-derived axioms: path(x,y) :- edge(x,y).
    rng = random.Random(11)
    nodes = list(range(18))
    all_edges = {(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)}
    all_edges = {(s, d) for s, d in all_edges if s != d}
    edges = set(list(sorted(all_edges))[:30])

    mf = MaintainedFixpoint(
        spark,
        fact_cols=["src", "dst"],
        axioms=lambda inp: inp["edges"].select("src", "dst"),
        step=lambda f, inp: f.select(
            F.col("src"), F.col("dst").alias("mid")
        )
        .join(
            inp["edges"].select(
                F.col("src").alias("mid"), F.col("dst")
            ),
            ["mid"],
        )
        .select("src", "dst"),
        inputs={
            "edges": spark.createDataFrame(sorted(edges), "src long, dst long")
        },
        input_keys={"edges": ["src"]},
        compact_every=2,
    )
    assert {(r.src, r.dst) for r in mf.facts().collect()} == _tc_oracle(edges)

    pool = sorted(all_edges)
    for i in range(4):
        rng.shuffle(pool)
        ins = {e for e in pool[:6] if e not in edges}
        dele = {e for e in pool[6:12] if e in edges}
        before = _tc_oracle(edges)
        edges, deltas = _apply(
            mf, spark, edges, ins, dele, "src long, dst long, diff long"
        )
        after = _tc_oracle(edges)
        assert {(r.src, r.dst) for r in mf.facts().collect()} == after
        want = {t: 1 for t in after - before}
        want.update({t: -1 for t in before - after})
        assert deltas == want, f"batch {i}"
    mf.release()


def test_maintained_fixpoint_bucketed_state(spark, tmp_path):
    # Bucketed parquet input trace: same parity on the durable state shape.
    # Inputs are multisets: the seed carries (4,5) twice and (5,6) arrives
    # twice in one batch, so each edge survives its first retraction.
    seed = [(0, 1), (1, 2), (2, 3), (4, 5), (4, 5)]
    mf = MaintainedFixpoint(
        spark,
        fact_cols=["node"],
        axioms=lambda inp: spark.createDataFrame([(0,)], "node long"),
        step=lambda f, inp: f.withColumnRenamed("node", "src")
        .join(inp["edges"], ["src"])
        .select(F.col("dst").alias("node")),
        inputs={"edges": spark.createDataFrame(seed, "src long, dst long")},
        input_keys={"edges": ["src"]},
        compact_every=2,
        state_dir=str(tmp_path / "fx"),
        n_buckets=4,
    )
    reach = {0, 1, 2, 3}
    assert {r.node for r in mf.facts().collect()} == reach
    # An update for an input the program does not have names it.
    typo = spark.createDataFrame([(0, 9, 1)], "src long, dst long, diff long")
    with pytest.raises(ValueError, match="'edge'"):
        mf.process_batch({"edge": typo})
    batches = [
        # Cut 1->2, bridge 0->4: reach flips to {0,1,4,5}.
        ([(1, 2, -1), (0, 4, 1)], {(2, -1), (3, -1), (4, 1), (5, 1)}),
        # Duplicated seed edge retracted once.
        ([(4, 5, -1)], set()),
        # Edge inserted twice in one batch, then retracted once.
        ([(5, 6, 1), (5, 6, 1)], {(6, 1)}),
        ([(5, 6, -1)], set()),
        # The last copies go.
        ([(4, 5, -1), (5, 6, -1)], {(5, -1), (6, -1)}),
    ]
    for rows, want in batches:
        upd = spark.createDataFrame(rows, "src long, dst long, diff long")
        deltas = {
            (r.node, r.diff) for r in mf.process_batch({"edges": upd}).collect()
        }
        assert deltas == want, rows
        reach = (reach | {n for n, d in want if d > 0}) - {
            n for n, d in want if d < 0
        }
        assert {r.node for r in mf.facts().collect()} == reach
    mf.release()


def test_maintained_tc_nonlinear_squaring(spark):
    """NON-LINEAR program (the step reads ``$derived``): transitive closure
    by squaring — path(x,y) :- edge(x,y) | path(x,z), path(z,y). The recursive
    relation appears in BOTH premise positions, so the step is the pair of
    delta rules (frontier ⋈ $derived) ∪ ($derived ⋈ frontier). Maintained
    under mixed insertions/deletions with exact update streams."""
    rng = random.Random(19)
    nodes = list(range(16))
    all_edges = {(rng.choice(nodes), rng.choice(nodes)) for _ in range(50)}
    all_edges = {(s, d) for s, d in all_edges if s != d}
    edges = set(list(sorted(all_edges))[:25])

    def step_sq(f, inp):
        d = inp["$derived"]
        a = (
            f.select(F.col("src"), F.col("dst").alias("mid"))
            .join(d.select(F.col("src").alias("mid"), F.col("dst")), ["mid"])
            .select("src", "dst")
        )
        b = (
            d.select(F.col("src"), F.col("dst").alias("mid"))
            .join(f.select(F.col("src").alias("mid"), F.col("dst")), ["mid"])
            .select("src", "dst")
        )
        return a.unionByName(b)

    mf = MaintainedFixpoint(
        spark,
        fact_cols=["src", "dst"],
        axioms=lambda inp: inp["edges"].select("src", "dst"),
        step=step_sq,
        inputs={
            "edges": spark.createDataFrame(sorted(edges), "src long, dst long")
        },
        input_keys={"edges": ["src"]},
        compact_every=2,
    )
    assert {(r.src, r.dst) for r in mf.facts().collect()} == _tc_oracle(edges)

    pool = sorted(all_edges)
    for i in range(4):
        rng.shuffle(pool)
        ins = {e for e in pool[:5] if e not in edges}
        dele = {e for e in pool[5:10] if e in edges}
        if i == 1:
            ins = set()  # delete-only: the pure-DRed path
        before = _tc_oracle(edges)
        edges, deltas = _apply(
            mf, spark, edges, ins, dele, "src long, dst long, diff long"
        )
        after = _tc_oracle(edges)
        assert {(r.src, r.dst) for r in mf.facts().collect()} == after
        want = {t: 1 for t in after - before}
        want.update({t: -1 for t in before - after})
        assert deltas == want, f"batch {i}"
    mf.release()
