"""Query registry, the second part of the ``batch`` workload: the engine's
registered queries over seeded TPC-H-like tables, in sorted-name order,
each timed on its first run in the session and checked against its DuckDB
oracle outside the timed region.

A run times a fixed sample of the registry that fits the run budget:
loop-family queries (driver loops whose cost is jobs x the job floor) and
batch-family queries (at least one per ``functions`` and ``operators``
module). ``scripts/check_oracles.py`` runs and times every registered query
against its oracle.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import time

from harness import median, pct

# Queries whose cost is a driver loop (one Spark job or more per round).
LOOP_FAMILY = (
    "dd_fixpoint_tc_maintained",
    "dd_iterate_reachability",
    "dd_reachability_maintained",
    "graph_bfs",
    "graph_bfs_maintained",
    "graph_bidirectional_sp",
    "graph_connected_components",
    "graph_delta_paths",
    "graph_delta_triangles",
    "graph_kcore",
    "graph_kcore_maintained",
    "graph_mutual_reachability",
    "graph_sequential_coloring",
)

# The sample, sized to about 15 s a pass on a 4-core host. Loop family:
# the semi-naive iterate path (the other loop queries cost 2-10 s each).
# Batch family: one query per operators/functions module. All have DuckDB
# oracles.
SAMPLE_LOOP = ("dd_iterate_reachability",)
SAMPLE_BATCH = (
    "cep_funnel",
    "dd_count_skew_blocked",
    "dd_top_k",
    "dd_trace_lookup",
    "dd_upsert_stream",
    "dedup_exact",
    "graph_wco_triangles",
    "text_token_stats",
)
SAMPLE = tuple(sorted(SAMPLE_LOOP + SAMPLE_BATCH))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)
SETUP_REPS = 3


def layer_metrics() -> list[tuple[str, str]]:
    out = [
        ("registry.loops_jobs", "count"),
        ("registry.batch_jobs", "count"),
    ]
    for name in SAMPLE:
        out.append((f"registry.q.{name}_s", "s"))
    for name in SAMPLE_LOOP:
        out.append((f"registry.q.{name}_jobs", "count"))
    return out


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return float(f"{v:.6g}")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, values normalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    cols = [columns[i].lower() for i in order]
    out = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    return cols, out


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return canonical([d[0] for d in res.description], res.fetchall())


def run(ctx) -> dict:
    import duckdb

    from differential_dataflow_spark.queries import ORACLES, QUERIES
    from differential_dataflow_spark.session import release_all_cached

    import gen

    spark, tr, ops = ctx.spark, ctx.tracer, ctx.ops
    names = list(SAMPLE)
    sf_dir = ctx.work / "registry"

    # Set-up: generate the tables (repeated; the median is reported).
    reps = []
    for _ in range(1 if ctx.tiny else SETUP_REPS):
        t0 = time.perf_counter()
        rows = gen.registry_tables(ctx.seed, sf_dir, sf=ctx.registry_sf)
        reps.append(time.perf_counter() - t0)
    print(f"registry: tables {rows}", flush=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir / t}.parquet')")

    # One timed pass, after the backfill has warmed the session: each query
    # is timed on its first run, code generation included, as a caller that
    # runs it once pays. A warm second pass does not fit the run budget.
    times: dict[str, float] = {}
    jobs: dict[str, int] = {}
    results: dict[str, tuple] = {}
    for name in names:
        ops.attempt()
        try:
            with tr.span(f"queries:{name}") as s:
                df = QUERIES[name](spark, str(sf_dir))
                got = df.collect()
            times[name] = s.ms / 1000.0
            jobs[name] = s.jobs
            results[name] = (df.columns, got)
        except Exception as e:  # one failing query must not stop the suite
            ops.fail(name, f"raised {type(e).__name__}: {e}")
        finally:
            release_all_cached(spark)

    # Correctness, outside the timed region: each query's result against
    # its DuckDB oracle.
    for name in names:
        if name not in results:
            continue
        try:
            want = oracle_rows(con, ORACLES[name])
        except Exception as e:
            ops.check(f"{name} (oracle)", False, f"oracle raised {type(e).__name__}: {e}")
            continue
        got = canonical(*results[name])
        why = ""
        if got[0] != want[0]:
            why = f"columns {got[0]} != {want[0]}"
        elif len(got[1]) != len(want[1]):
            why = f"{len(got[1])} rows, oracle has {len(want[1])}"
        elif got[1] != want[1]:
            why = "row values differ from the oracle"
        ops.check(f"{name} (oracle)", not why, why)
    con.close()

    loops = [n for n in names if n in LOOP_FAMILY]
    batch = [n for n in names if n not in LOOP_FAMILY]
    loops_s = sum(times.get(n, 0.0) for n in loops)
    batch_s = sum(times.get(n, 0.0) for n in batch)
    q_ms = [times[n] * 1000.0 for n in names if n in times]
    layer = {
        "registry.loops_jobs": sum(jobs.get(n, 0) for n in loops),
        "registry.batch_jobs": sum(jobs.get(n, 0) for n in batch),
    }
    for name in names:
        layer[f"registry.q.{name}_s"] = times.get(name, 0.0)
        if name in LOOP_FAMILY:
            layer[f"registry.q.{name}_jobs"] = jobs.get(name, 0)
    return {
        "setup_s": median(reps),
        "latency_ms": sum(q_ms) / max(len(q_ms), 1),
        "latency_p90_ms": pct(q_ms, 90),
        "loop_s": loops_s,
        "bulk_s": batch_s,
        "layer": layer,
        "aliases": {
            "registry_loops_s": (loops_s, "s"),
            "registry_batch_s": (batch_s, "s"),
            "registry_queries": (len(names), "count"),
        },
    }
