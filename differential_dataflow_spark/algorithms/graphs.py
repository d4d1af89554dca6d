"""Graph algorithms over edge collections (reference src/algorithms/graphs/*).

Edge collections are DiffCollections with payload ``(src, dst)``; node labels
are ``(node, value)``. Every algorithm is a composition of the engine's
operators (join/semijoin/distinct/count/threshold + driver fixpoint), exactly
like the reference builds them from its operator set:

- ``reachability`` — roots.iterate(join edges ∪ roots).distinct
  (README.md:22-31), semi-naive.
- ``bfs_distances`` — min-distance labeling
  (src/algorithms/graphs/bfs.rs:12-49), delta-keyed-min iteration.
- ``connected_components`` / ``propagate`` — min-label propagation over
  (symmetrized) edges (src/algorithms/graphs/propagate.rs:18-60).
- ``k_core`` — iteratively discard nodes with degree < k
  (README.md:328-350: threshold-on-degree + semijoin until fixpoint).
- ``assign_identifiers`` — hash-propose + collision retry rounds
  (src/algorithms/identifiers.rs:36-60).
- ``prefix_sum`` — the reference builds this as an iterative power-of-two
  range decomposition (src/algorithms/prefix_sum.rs); Spark has a native
  scalable primitive (sort-based running window), which is the idiomatic
  implementation here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from differential_dataflow_spark.collection import DIFF, EPOCH, DiffCollection
from differential_dataflow_spark.operators.iterate import (
    iterate_keyed_min,
    semi_naive,
)
from differential_dataflow_spark.session import release_checkpoint as _release
from differential_dataflow_spark.session import tracked_local_checkpoint as _tckpt


def _expand(frontier: DiffCollection, edges: DiffCollection) -> DiffCollection:
    return (
        frontier.map(src=F.col("node"))
        .join(edges.map(F.col("src"), node=F.col("dst")), on=["src"])
        .map(F.col("node"))
    )


def reachability(
    roots: DiffCollection, edges: DiffCollection, max_iters: int = 10_000
) -> DiffCollection:
    """Nodes reachable from ``roots`` over directed ``edges``.
    roots payload: (node); edges payload: (src, dst)."""
    return semi_naive(roots, lambda f: _expand(f, edges), max_iters=max_iters)


def bfs_distances(
    roots: DiffCollection, edges: DiffCollection, max_iters: int = 10_000
) -> DiffCollection:
    """(node, dist) of shortest hop-distance from any root
    (src/algorithms/graphs/bfs.rs)."""
    init = roots.map(F.col("node"), dist=F.lit(0).cast("long"))
    return iterate_keyed_min(
        init,
        lambda f: f.map(src=F.col("node"), d=F.col("dist"))
        .join(edges.map(F.col("src"), node=F.col("dst")), on=["src"])
        .map(F.col("node"), dist=F.col("d") + 1),
        keys=["node"],
        value="dist",
        max_iters=max_iters,
    )


def propagate(
    labels: DiffCollection, edges: DiffCollection, max_iters: int = 10_000
) -> DiffCollection:
    """Per-node minimum label reachable backward along edges — the reference's
    ``propagate_core`` (src/algorithms/graphs/propagate.rs:18-60).
    labels payload: (node, label); edges payload: (src, dst)."""
    return iterate_keyed_min(
        labels,
        lambda f: f.map(src=F.col("node"), l=F.col("label"))
        .join(edges.map(F.col("src"), node=F.col("dst")), on=["src"])
        .map(F.col("node"), label=F.col("l")),
        keys=["node"],
        value="label",
        max_iters=max_iters,
    )


def connected_components(
    edges: DiffCollection, max_iters: int = 10_000
) -> DiffCollection:
    """(node, component) with component = min node id in the (undirected)
    component. Symmetrizes edges, then min-label propagation."""
    sym = edges.concat(
        edges.map(src=F.col("dst"), dst=F.col("src"))
    ).distinct(["src", "dst"])
    nodes = (
        edges.map(node=F.col("src"))
        .concat(edges.map(node=F.col("dst")))
        .distinct(["node"])
    )
    labels = nodes.map(F.col("node"), label=F.col("node"))
    out = propagate(labels, sym, max_iters=max_iters)
    return out.map(F.col("node"), component=F.col("label"))


def k_core(
    edges: DiffCollection, k: int, max_iters: int = 10_000
) -> DiffCollection:
    """The maximal subgraph where every node has degree >= k (undirected):
    iteratively semijoin edges to surviving nodes until stable
    (README.md:328-350). Returns the surviving edge collection."""
    sym = edges.concat(edges.map(src=F.col("dst"), dst=F.col("src"))).distinct(
        ["src", "dst"]
    )
    cur = sym.local_checkpoint()
    cur_count = cur.df.count()
    for _ in range(max_iters):
        degrees = cur.map(node=F.col("src")).threshold(
            ["node"], lambda cum: F.when(cum >= k, 1).otherwise(0)
        )
        survivors_df = degrees.consolidate_final().filter(F.col(DIFF) > 0).select("node")
        nxt = DiffCollection(
            cur.df.join(
                survivors_df.withColumnRenamed("node", "src"), ["src"], "left_semi"
            ).join(
                survivors_df.withColumnRenamed("node", "dst"), ["dst"], "left_semi"
            )
        ).local_checkpoint()
        # Survivors only shrink, so one count per round decides convergence
        # (the previous round's count is carried, not recomputed).
        nxt_count = nxt.df.count()
        same = nxt_count == cur_count
        _release(cur.df)
        cur, cur_count = nxt, nxt_count
        if same:
            # undirected edges were symmetrized; return canonical direction
            return DiffCollection(cur.df.filter(F.col("src") < F.col("dst")))
    raise RuntimeError(f"k_core did not converge in {max_iters} iterations")


def degrees(edges: DiffCollection) -> DiffCollection:
    """(node, degree) over directed out-edges (hello.rs shape)."""
    return edges.map(node=F.col("src")).count(["node"], alias="degree")


def degree_distribution(edges: DiffCollection) -> DiffCollection:
    """(degree, n_nodes) — the reference's flagship example."""
    return degrees(edges).map(F.col("degree")).count(["degree"], alias="n_nodes")


def assign_identifiers(
    records: DiffCollection, max_rounds: int = 64, hash_fn=None
) -> DiffCollection:
    """Assign a unique long id to every distinct record via hash-propose +
    collision retry (src/algorithms/identifiers.rs:36-60): round r proposes
    xxhash64(payload, r); records whose proposal collides retry in round r+1.
    Deterministic and distributed (no sequential counter).

    Collision detection covers BOTH the current round's proposals and the ids
    already settled in earlier rounds (the reference re-groups the full
    collection every round, winners included — identifiers.rs:44-52 — which is
    what makes its crippled-hash uniqueness test pass): a retry whose hash
    lands on an existing winner's id is pushed to the next round, not emitted
    as a duplicate.
    """
    payload = records.payload_columns
    if hash_fn is None:  # hash_fn(payload_cols, round) -> Column; tests
        hash_fn = lambda cols, r: F.xxhash64(*cols, F.lit(r))  # noqa: E731
    remaining = _tckpt(records.distinct(payload).df.select(*payload))
    assigned_parts: list[DataFrame] = []
    settled_ids: DataFrame | None = None  # ids taken in earlier rounds
    for r in range(max_rounds):
        proposed = remaining.withColumn("assigned_id", hash_fn(payload, r))
        w_cnt = Window.partitionBy("assigned_id")
        marked = proposed.withColumn("__n", F.count("*").over(w_cnt))
        round_winners = marked.filter(F.col("__n") == 1).drop("__n")
        round_losers = marked.filter(F.col("__n") > 1).select(*payload)
        if settled_ids is not None:
            # Validate against already-taken ids: clashing proposals retry.
            clash = round_winners.join(
                settled_ids, "assigned_id", "left_semi"
            ).select(*payload)
            round_winners = round_winners.join(
                settled_ids, "assigned_id", "left_anti"
            )
            round_losers = round_losers.unionByName(clash)
        winners = _tckpt(round_winners)
        losers = _tckpt(round_losers)
        _release(remaining)
        assigned_parts.append(winners)
        ids_part = winners.select("assigned_id")
        prev_settled = settled_ids
        settled_ids = _tckpt(
            ids_part if settled_ids is None else settled_ids.unionByName(ids_part)
        )
        if prev_settled is not None:
            _release(prev_settled)
        if losers.isEmpty():
            _release(losers)
            break
        remaining = losers
    else:
        raise RuntimeError("identifier assignment did not converge")
    out = assigned_parts[0]
    for p in assigned_parts[1:]:
        out = out.unionByName(p)
    result = _tckpt(out)
    for p in assigned_parts:
        _release(p)
    if settled_ids is not None:
        _release(settled_ids)
    return DiffCollection.from_df(result)


def prefix_sum(
    df: DataFrame, order_col: str, value_col: str, out_col: str = "prefix_sum"
) -> DataFrame:
    """Running sum ordered by ``order_col``. The reference constructs this
    with an iterative power-of-two decomposition (src/algorithms/
    prefix_sum.rs:16-60) because its engine lacks ordered windows; Spark's
    sort-based window is the idiomatic, scalable equivalent (range-partitioned
    sort, one shuffle)."""
    w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out_col, F.sum(value_col).over(w))


def strongly_connected_components(
    edges: DiffCollection, max_outer: int = 50
) -> DiffCollection:
    """(node, scc) with scc = min node id in the strongly connected component.

    The reference computes SCC with trim + a doubly-nested iterate
    (src/algorithms/graphs/scc.rs:16-52). Here: the standard distributed
    FW-BW-coloring scheme, built from the same primitives —

    repeat until no nodes remain:
      1. color = min node id forward-reachable TO each node (propagate along
         reversed edges — a keyed-min fixpoint);
      2. within each color class, nodes backward-reachable from the color's
         pivot (the node whose id == its color) form one SCC — another
         keyed-min fixpoint restricted to same-colored edges;
      3. emit and remove those SCCs.

    Every outer round removes at least one SCC per color class, so outer
    rounds ≈ the longest chain of SCCs; inner fixpoints are the scalable
    frontier loops.
    """
    remaining = _tckpt(edges.df.select("src", "dst").distinct())
    all_nodes = (
        remaining.select(F.col("src").alias("node"))
        .union(remaining.select(F.col("dst").alias("node")))
        .distinct()
    )
    all_nodes = _tckpt(all_nodes)
    out_parts: list[DataFrame] = []
    for _ in range(max_outer):
        nodes = (
            remaining.select(F.col("src").alias("node"))
            .union(remaining.select(F.col("dst").alias("node")))
            .distinct()
        )
        if nodes.isEmpty():
            break
        rem_edges = DiffCollection.from_df(remaining)
        labels = DiffCollection.from_df(nodes.select("node")).map(
            F.col("node"), label=F.col("node")
        )
        # 1. color: min id that can reach the node (propagate along edges).
        colors = propagate(labels, rem_edges)
        # Materialized once: used three times below (two edge-endpoint joins
        # + pivot filter) — a shared derived subplan in a self-join shape
        # trips Catalyst attribute deduplication ("key not found: node#N").
        color_df = _tckpt(
            colors.df.select("node", F.col("label").alias("color"))
        )
        _release(colors.df)

        # 2. backward reach from each pivot within its color class.
        colored_edges = (
            remaining.join(
                color_df.withColumnRenamed("node", "src").withColumnRenamed(
                    "color", "c_src"
                ),
                "src",
            )
            .join(
                color_df.withColumnRenamed("node", "dst").withColumnRenamed(
                    "color", "c_dst"
                ),
                "dst",
            )
            .filter(F.col("c_src") == F.col("c_dst"))
            # backward: reverse the edge direction
            .select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
            # checkpoint: re-evaluated every fixpoint round, and the fresh
            # LogicalRDD also avoids attribute-id collisions between the
            # frontier lineage and the roots lineage inside semi_naive.
        )
        colored_edges = _tckpt(colored_edges)
        pivots = color_df.filter(F.col("node") == F.col("color")).select("node")
        scc_reach = semi_naive(
            DiffCollection.from_df(pivots),
            lambda f: f.map(src=F.col("node"))
            .join(
                DiffCollection.from_df(colored_edges).map(
                    F.col("src"), node=F.col("dst")
                ),
                on=["src"],
            )
            .map(F.col("node")),
        ).df
        scc_nodes = scc_reach.select("node")
        # Checkpoint BEFORE releasing color_df/colored_edges: the lazy plan
        # references both, and a released checkpoint block is unrecoverable.
        scc = _tckpt(
            scc_nodes.join(color_df, "node").select(
                "node", F.col("color").alias("scc")
            )
        )
        out_parts.append(scc)
        _release(scc_reach)
        _release(colored_edges)
        _release(color_df)

        # 3. remove settled nodes.
        prev = remaining
        remaining = (
            remaining.join(scc.select(F.col("node").alias("src")), "src", "left_anti")
            .join(scc.select(F.col("node").alias("dst")), "dst", "left_anti")
        )
        remaining = _tckpt(remaining)
        _release(prev)
    else:
        raise RuntimeError(f"SCC did not settle within {max_outer} outer rounds")
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    # Nodes that lost all their edges when a neighbor's SCC was removed are
    # singleton components of themselves.
    singletons = all_nodes.join(out.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("scc")
    )
    result = _tckpt(out.unionByName(singletons))
    for p in out_parts:
        _release(p)
    _release(remaining)
    _release(all_nodes)
    return DiffCollection.from_df(result)


def bidirectional_shortest_path(
    edges: DiffCollection,
    source: int,
    target: int,
    max_iters: int = 10_000,
    small_frontier_rows: int = 20_000,
) -> DataFrame:
    """Shortest hop distance source -> target via BIDIRECTIONAL search —
    the reference's bijkstra (src/algorithms/graphs/bijkstra.rs:24-60): two
    frontiers evolve in one iterative scope, forward from the source along
    edges and backward from the target along reversed edges; the answer is
    the minimum of fwd_dist + bwd_dist over nodes seen by both.

    BOTH directions expand every round inside ONE Spark job: the edge
    relation is tagged by direction (dir 0 = forward, dir 1 = reversed) so
    the two expansions are a single join, and the meet test rides the same
    job (new frontier left-joined to the direction-FLIPPED visited set).
    Rounds therefore cost one action each and the round count is ~dist/2
    instead of dist. While frontiers are small (<= ``small_frontier_rows``
    total) the round's output is pulled to the driver and re-broadcast as a
    local relation — the small-frontier tail of operators/iterate.py — so no
    checkpoint job is paid; large frontiers switch to checkpointed parts
    (one extra job per round), which is the shape that scales.

    Terminates once best <= depth + 1: every future meet costs at least
    depth+1 on its newly-expanded side. Returns a 1-row DataFrame
    (source, target, dist); empty if unreachable within max_iters.
    """
    spark = edges.df.sparkSession
    # No edge dedup: duplicate edges only duplicate candidates, and the
    # per-(dir, node) min aggregation absorbs them — a distinct here would
    # be one extra full exchange.
    ed = edges.df.select("src", "dst")
    tagged = _tckpt(
        ed.select(F.lit(0).alias("dir"), "src", "dst").unionByName(
            ed.select(
                F.lit(1).alias("dir"),
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
            )
        )
    )
    spent: list[DataFrame] = [tagged]
    # Visited set accumulates as pairwise-disjoint (dir, node, dist) parts:
    # each holds the min dist of nodes first reached that round.
    frontier = spark.createDataFrame(
        [(0, source, 0), (1, target, 0)], "dir int, node long, dist long"
    )
    parts: list[DataFrame] = [frontier]
    depth = 0
    f_n = b_n = 1
    best = 0 if source == target else None
    small = True

    def _union(dfs):
        out = dfs[0]
        for p in dfs[1:]:
            out = out.unionByName(p)
        return out

    for _ in range(max_iters):
        if best is not None and best <= depth + 1:
            break  # any future meet pays >= depth+1 on its new side
        if f_n == 0 or b_n == 0:
            break  # one side exhausted its component: no shorter path exists
        fr = F.broadcast(frontier) if small else frontier
        cand = (
            fr.withColumnRenamed("node", "src")
            .join(tagged, ["dir", "src"])
            .select("dir", F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
            .groupBy("dir", "node")
            .agg(F.min("dist").alias("dist"))
        )
        visited = _union(parts)
        new = cand.join(visited.select("dir", "node"), ["dir", "node"], "left_anti")
        depth += 1
        if small:
            # One job: collect the new frontier WITH its meet distances; the
            # flipped visited side has <= 1 row per (dir, node), so the left
            # join preserves row count. The collect is BOUNDED by limit(cap+1)
            # — deciding `small` from the PREVIOUS round's size would let one
            # high-fanout expansion (20k frontier x degree 100) pull millions
            # of rows to the driver; hitting the limit discards the sample and
            # falls through to the checkpointed branch for this round.
            flipped = visited.unionByName(new).select(
                (1 - F.col("dir")).alias("dir"), "node", F.col("dist").alias("odist")
            )
            rows = (
                new.join(flipped, ["dir", "node"], "left")
                .select("dir", "node", "dist", "odist")
                .limit(small_frontier_rows + 1)
                .collect()
            )
            small = len(rows) <= small_frontier_rows
        if small:
            f_n = sum(1 for r in rows if r["dir"] == 0)
            b_n = len(rows) - f_n
            meets = [r["dist"] + r["odist"] for r in rows if r["odist"] is not None]
            m = min(meets) if meets else None
            frontier = spark.createDataFrame(
                [(r["dir"], r["node"], r["dist"]) for r in rows],
                "dir int, node long, dist long",
            )
        else:
            frontier = _tckpt(new)
            spent.append(frontier)
            flipped = visited.unionByName(frontier).select(
                (1 - F.col("dir")).alias("dir"), "node", F.col("dist").alias("odist")
            )
            row = (
                frontier.join(flipped, ["dir", "node"], "left")
                .agg(
                    F.sum((F.col("dir") == 0).cast("long")).alias("nf"),
                    F.sum((F.col("dir") == 1).cast("long")).alias("nb"),
                    F.min(F.col("dist") + F.col("odist")).alias("m"),
                )
                .collect()[0]
            )
            f_n, b_n = int(row["nf"] or 0), int(row["nb"] or 0)
            m = row["m"]
            small = (f_n + b_n) <= small_frontier_rows
        parts.append(frontier)
        if m is not None:
            best = int(m) if best is None else min(best, int(m))
    rows = [] if best is None else [(source, target, best)]
    out = spark.createDataFrame(rows, "source long, target long, dist long")
    for df in spent:
        _release(df)
    return out


def sequential_coloring(
    edges: DiffCollection,
    max_iters: int = 10_000,
    max_component_nodes: int = 500_000,
) -> DiffCollection:
    """Greedy sequential graph coloring in node-id order — the reference's
    sequential.rs:44-60 fixpoint-with-order-gating: a node is colored once
    every LOWER-id neighbor is colored, receiving the smallest positive color
    none of them uses (mex). Deterministic and identical to the sequential
    greedy algorithm.

    Execution strategy (two regimes, split per CONNECTED COMPONENT):

    - Components up to ``max_component_nodes``: coloring different components
      is embarrassingly parallel, and WITHIN a component the greedy order is
      a chain of fine-grained rounds that any engine executes fastest
      in-process (the reference's timely worker runs its order-gated fixpoint
      rounds at in-memory latency on one worker for exactly this reason). So
      each component's lower-neighbor lists are grouped to ONE task and
      colored by a linear-time Arrow kernel — 3 Spark jobs total instead of
      one driver round per DAG level.
    - Oversized components fall back to the distributed level-synchronous
      loop (``_coloring_levelsync``) whose per-round work is O(frontier):
      rounds = the longest id-increasing path, which is the inherent critical
      path of the algorithm in ANY distributed execution. The 500k default
      bounds the single-task kernel's in-memory pred lists to low hundreds
      of MB even at average degree ~50; raise it only for sparse graphs.

    Returns (node, color) for every node of the (symmetrized) graph.
    """
    sym = (
        edges.df.select("src", "dst")
        .unionByName(edges.df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    sym = _tckpt(sym)
    # Checkpointed: re-read by the adjacency build AND (potentially) the
    # levelsync fallback, and the fresh LogicalRDD's attribute ids keep the
    # comp ⋈ pred-groupBy join free of Catalyst attribute-dedup collisions.
    pred = _tckpt(
        sym.filter(F.col("dst") < F.col("src")).select(
            F.col("src").alias("node"), F.col("dst").alias("nbr")
        )
    )
    # Per-node component labels: min node id reachable over the undirected
    # graph (min-label propagation — O(diameter) rounds).
    comp_coll = propagate(
        DiffCollection.from_df(
            sym.select(F.col("src").alias("node")).distinct()
        ).map(F.col("node"), label=F.col("node")),
        DiffCollection.from_df(sym),
    )
    comp = _tckpt(
        comp_coll.df.select("node", F.col("label").alias("component"))
    )
    _release(comp_coll.df)
    sizes = comp.groupBy("component").agg(F.count("*").alias("__n"))
    big = [
        int(r["component"])
        for r in sizes.filter(F.col("__n") > max_component_nodes).collect()
    ]
    adj = comp.join(
        pred.groupBy("node").agg(F.collect_list("nbr").alias("__nbrs")),
        "node",
        "left",
    )

    def _greedy_kernel(pdf):
        import pandas as pd

        pdf = pdf.sort_values("node")
        color: dict[int, int] = {}
        for node, nbrs in zip(pdf["node"], pdf["__nbrs"]):
            used = set()
            if nbrs is not None:
                used = {color[n] for n in nbrs}
            c = 1
            while c in used:
                c += 1
            color[int(node)] = c
        return pd.DataFrame(
            {"node": list(color.keys()), "color": list(color.values())}
        )

    small_adj = adj.filter(~F.col("component").isin(big)) if big else adj
    small_out = small_adj.groupBy("component").applyInPandas(
        _greedy_kernel, "node long, color long"
    )
    big_out = None
    if big:
        big_nodes = comp.filter(F.col("component").isin(big)).select("node")
        big_pred = pred.join(big_nodes, "node", "left_semi")
        big_out = _coloring_levelsync(
            big_nodes, big_pred, max_iters=max_iters
        )
        small_out = small_out.unionByName(big_out)
    result = _tckpt(small_out)
    _release(sym)
    _release(comp)
    _release(pred)
    if big_out is not None:
        _release(big_out)
    return DiffCollection.from_df(result)


def _coloring_levelsync(
    nodes: DataFrame, pred: DataFrame, max_iters: int = 10_000
) -> DataFrame:
    """Distributed level-synchronous greedy coloring: per-round work is
    O(frontier), not O(graph). Each uncolored node carries incremental stats
    (np = lower-neighbor count, nk = how many are colored, cols = their color
    set); a round joins ``pred`` against ONLY the newly colored frontier
    (broadcast — the frontier is the small side), folds per-node deltas into
    the stats with a broadcast merge (the shrinking stats table never
    re-shuffles), and colors nodes whose counts complete. Driver cost: one
    checkpoint + one 1-row count per round. At cluster scale ``pred`` would
    be pre-hash-partitioned by ``nbr`` and the frontier exchanged to it
    instead of broadcast; the stats-side shape is unchanged.

    ``nodes``: (node); ``pred``: (node, nbr) with nbr < node. Returns a
    DataFrame (node, color)."""
    pred = _tckpt(pred)
    n_pred = pred.groupBy("node").agg(F.count("*").alias("__np"))
    empty_cols = F.array().cast("array<long>")
    # merged round 0: every node, nk=0; ready means np==0 (sources take mex
    # of the empty set = color 1).
    merged = _tckpt(
        nodes.join(n_pred, "node", "left")
        .select(
            "node",
            F.coalesce("__np", F.lit(0)).cast("long").alias("__np"),
            F.lit(0).cast("long").alias("__nk"),
            empty_cols.alias("__cols"),
        )
        .withColumn("__ready", F.col("__nk") == F.col("__np"))
    )
    # mex: smallest positive int not among the lower neighbors' colors.
    mex = F.element_at(
        F.filter(
            F.sequence(F.lit(1).cast("long"), F.size("__cols") + 1),
            lambda x: ~F.array_contains(F.col("__cols"), x),
        ),
        1,
    )
    colored_parts: list[DataFrame] = []  # lazy filters over kept checkpoints
    spent: list[DataFrame] = [pred, merged]
    for _ in range(max_iters):
        counts = merged.agg(
            F.sum(F.col("__ready").cast("long")).alias("nr"),
            F.count("*").alias("n"),
        ).collect()[0]
        n_ready, n_all = int(counts["nr"] or 0), int(counts["n"])
        new_colored = merged.filter("__ready").select("node", mex.alias("color"))
        if n_ready:
            colored_parts.append(new_colored)
        if n_ready == n_all:
            break
        if n_ready == 0:
            raise RuntimeError(
                "coloring stalled: uncolored nodes with no completable "
                "predecessor set (pred relation is not a DAG?)"
            )
        stats = merged.filter(~F.col("__ready"))
        delta = (
            pred.join(
                F.broadcast(
                    new_colored.select(F.col("node").alias("nbr"), "color")
                ),
                "nbr",
            )
            .groupBy("node")
            .agg(
                F.count("*").alias("__dnk"),
                F.collect_set("color").alias("__dcols"),
            )
        )
        merged = _tckpt(
            stats.join(F.broadcast(delta), "node", "left")
            .select(
                "node",
                "__np",
                (F.col("__nk") + F.coalesce("__dnk", F.lit(0))).alias("__nk"),
                F.array_union(
                    "__cols", F.coalesce("__dcols", empty_cols)
                ).alias("__cols"),
            )
            .withColumn("__ready", F.col("__nk") == F.col("__np"))
        )
        # Keep prior checkpoints alive: colored_parts are lazy filters over
        # them. All released together after the final union materializes.
        spent.append(merged)
    else:
        raise RuntimeError(f"coloring did not converge in {max_iters} rounds")
    if not colored_parts:  # empty node set
        for df in spent:
            _release(df)
        return nodes.sparkSession.createDataFrame([], "node long, color long")
    out = colored_parts[0]
    for p in colored_parts[1:]:
        out = out.unionByName(p)
    result = _tckpt(out)
    for df in spent:
        _release(df)
    return result
