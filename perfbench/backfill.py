"""Backfill, the first part of the ``batch`` workload: the flagship group,
join and iterate shapes in bulk over generated transcripts staged to
parquet.

Set-up generates ``generate_transcripts(n_convs, seed)`` and stages it with
epochs as parquet. The timed pass then runs

- group: per-conversation turn counts (``DiffCollection.count``);
- join: each user turn with the response that follows it
  (``DiffCollection.join`` + ``consolidate``);
- iterate: reachability (``semi_naive``) over a 4-out conversation graph.

The graph's out-edges come from integer arithmetic on the conversation
number, so DuckDB can rebuild the same graph for the check.
"""

from __future__ import annotations

import time

from harness import log, median

N_CONVS = 5_000
N_CONVS_TINY = 2_000
SETUP_REPS = 3

# Out-edge i of node x: ((x * A + B_i) xor ((x * A + B_i) >> 11)) % n.
EDGE_A = 2_654_435_761 % 2**31
EDGE_B = (97, 40_503, 1_000_003, 7_919_993)
EDGE_MASK = 2**31 - 1


def layer_metrics() -> list[tuple[str, str]]:
    return [
        ("backfill.sources.generate_s", "s"),
        ("backfill.collection.group_s", "s"),
        ("backfill.collection.group_jobs", "count"),
        ("backfill.collection.join_s", "s"),
        ("backfill.collection.join_jobs", "count"),
        ("backfill.iterate.semi_naive_s", "s"),
        ("backfill.iterate.jobs", "count"),
    ]


def _spark_out_edges(x, i: int):
    from pyspark.sql import functions as F

    h = (x * F.lit(EDGE_A) + F.lit(EDGE_B[i])).bitwiseAND(F.lit(EDGE_MASK))
    return h.bitwiseXOR(F.shiftright(h, 11))


def _sql_out_edge(x: str, i: int, n: int) -> str:
    h = f"(({x} * {EDGE_A} + {EDGE_B[i]}) & {EDGE_MASK})"
    return f"(xor({h}, {h} >> 11) % {n})"


def one_pass(spark, tr, ops, staged: str, n_convs: int) -> dict:
    """Times each stage; a stage that raises is recorded as failed and the
    pass goes on. Holds the stage's span under its name, and its row count
    under ``<name>_rows`` when it completed."""
    from pyspark.sql import functions as F

    from differential_dataflow_spark.collection import DiffCollection
    from differential_dataflow_spark.operators.iterate import semi_naive
    from differential_dataflow_spark.session import release_all_cached

    updates = spark.read.parquet(staged)
    coll = DiffCollection(updates)
    out: dict = {}

    with ops.guard("backfill group"), tr.span("collection:DiffCollection.count") as s:
        out["group"] = s
        counts = coll.map(F.col("conv_id")).count(["conv_id"], alias="n_turns")
        out["group_rows"] = counts.consolidate().df.count()

    with ops.guard("backfill join"), tr.span("collection:DiffCollection.join") as s:
        out["join"] = s
        conv_key = F.xxhash64("conv_id")
        users = coll.filter(F.col("role") == "user").map(conv_key=conv_key, turn_idx=F.col("turn_idx"))
        responses = coll.filter(F.col("role") != "user").map(
            conv_key=conv_key, turn_idx=F.col("turn_idx") - 1
        )
        out["join_rows"] = users.join(responses, on=["conv_key", "turn_idx"]).consolidate().df.count()

    with ops.guard("backfill iterate"), tr.span("operators.iterate:semi_naive") as s:
        out["iterate"] = s
        conv_no = F.substring("conv_id", 2, 8).cast("long")
        convs = updates.select(conv_no.alias("src")).distinct()
        edges_df = (
            convs.select(
                "src",
                F.explode(F.array(*[_spark_out_edges(F.col("src"), i) % n_convs for i in range(4)])).alias("dst"),
            )
            .repartition(spark.sparkContext.defaultParallelism * 2, "src")
            .persist()
        )
        edges_df.count()
        edges = DiffCollection.from_df(edges_df)
        roots = DiffCollection.from_df(
            convs.select(F.col("src").alias("node")).filter(F.col("node") < max(n_convs // 10, 2))
        ).distinct()
        reached = semi_naive(
            roots,
            lambda frontier: frontier.map(src=F.col("node"))
            .join(edges.map(F.col("src"), node=F.col("dst")), on=["src"])
            .map(F.col("node")),
            max_iters=200,
        )
        out["iterate_rows"] = reached.df.count()
    release_all_cached(spark)
    return out


def check(ops, con, staged: str, n_convs: int, res: dict) -> None:
    """The pass's row counts against DuckDB over the staged parquet, for
    each stage that completed (a stage that raised is already counted)."""
    src = f"read_parquet('{staged}/*.parquet')"
    if "group_rows" in res:
        # count's update stream: per conversation one (+new) row per epoch in
        # which its count changed, and one (-old) row for each change after
        # the first (turns only arrive, so every epoch present changes it).
        want_group = con.execute(
            f"SELECT CAST(sum(2 * n - 1) AS BIGINT) FROM "
            f"(SELECT conv_id, count(DISTINCT epoch) AS n FROM {src} GROUP BY conv_id)"
        ).fetchone()[0]
        ops.check("backfill group (update rows)", res["group_rows"] == want_group,
                  f"{res['group_rows']} rows, DuckDB {want_group}")
    if "join_rows" in res:
        want_join = con.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT u.conv_id, u.turn_idx, greatest(u.epoch, r.epoch) AS epoch "
            f"FROM {src} u JOIN {src} r ON u.conv_id = r.conv_id AND r.turn_idx = u.turn_idx + 1 "
            f"WHERE u.role = 'user' AND r.role <> 'user')"
        ).fetchone()[0]
        ops.check("backfill join (update rows)", res["join_rows"] == want_join,
                  f"{res['join_rows']} rows, DuckDB {want_join}")
    if "iterate_rows" in res:
        edges = " UNION ALL ".join(
            f"SELECT x AS src, {_sql_out_edge('x', i, n_convs)} AS dst FROM nodes" for i in range(4)
        )
        want_reach = con.execute(
            f"WITH RECURSIVE nodes AS (SELECT DISTINCT CAST(substr(conv_id, 2) AS BIGINT) AS x FROM {src}), "
            f"edges AS ({edges}), "
            f"reach(node) AS (SELECT x FROM nodes WHERE x < {max(n_convs // 10, 2)} "
            f"UNION SELECT e.dst FROM reach r JOIN edges e ON e.src = r.node) "
            f"SELECT count(*) FROM reach"
        ).fetchone()[0]
        ops.check("backfill iterate (reached nodes)", res["iterate_rows"] == want_reach,
                  f"{res['iterate_rows']} nodes, DuckDB {want_reach}")


def run(ctx) -> dict:
    import duckdb

    from differential_dataflow_spark.sources.transcripts import (
        generate_transcripts,
        transcripts_with_epochs,
    )

    spark, tr, ops = ctx.spark, ctx.tracer, ctx.ops
    n_convs = N_CONVS_TINY if ctx.tiny else N_CONVS
    staged = str(ctx.work / "transcripts")

    # Set-up: generate and stage the input (repeated; median reported).
    reps = []
    n_turns = 0
    with ops.guard("backfill staging"):
        for _ in range(1 if ctx.tiny else SETUP_REPS):
            t0 = time.perf_counter()
            with tr.span("sources:generate_transcripts"):
                transcripts_with_epochs(generate_transcripts(spark, n_convs=n_convs, seed=ctx.seed)).write.mode(
                    "overwrite"
                ).parquet(staged)
            reps.append(time.perf_counter() - t0)
        n_turns = spark.read.parquet(staged).count()
        print(f"backfill: {n_convs} conversations, {n_turns} turns", flush=True)

    # One timed pass, directly after set-up: it includes first-use code
    # generation, as a one-off backfill does.
    res: dict = {}
    if n_turns:
        res = one_pass(spark, tr, ops, staged, n_convs)
        log("backfill: pass done")
        con = duckdb.connect()
        try:
            check(ops, con, staged, n_convs, res)
        finally:
            con.close()

    group, join, iterate = (res[k].ms / 1000 if k in res else 0.0 for k in ("group", "join", "iterate"))
    turns_per_s = n_turns / (group + join + iterate) if n_turns else 0.0
    return {
        "setup_s": median(reps),
        "throughput_per_s": turns_per_s,
        "loop_s": iterate,
        "bulk_s": group + join,
        "layer": {
            "backfill.sources.generate_s": median(reps),
            "backfill.collection.group_s": group,
            "backfill.collection.group_jobs": res["group"].jobs if "group" in res else 0,
            "backfill.collection.join_s": join,
            "backfill.collection.join_jobs": res["join"].jobs if "join" in res else 0,
            "backfill.iterate.semi_naive_s": iterate,
            "backfill.iterate.jobs": res["iterate"].jobs if "iterate" in res else 0,
        },
        "aliases": {"backfill_turns_per_s": (turns_per_s, "turns/s")},
    }
