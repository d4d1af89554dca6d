"""``stream`` workload: per-conversation turn counts and the user-turn ⋈
next-response join kept fresh over a file stream.

Set-up writes a conversation history and every epoch file with pyarrow,
seeds a ``CountMaintainer`` and a ``DeltaJoin`` with the history, and warms
the query with ``WARM_FILES`` epoch files, one batch each. Then:

1. Open loop: a feeder thread renames one epoch file (``EVENTS`` turn
   events, 10% retractions) into the watched directory every
   ``1 / RATE`` seconds, on schedule whatever the engine does. A Structured
   Streaming file source with ``foreachBatch`` feeds both maintainers, and
   both outputs commit through ``ExactlyOnceSink``. Each file's latency runs
   from when it was due to the ``committed_at`` of the batch that consumed
   it (the later of the two sinks).
2. Closed-loop drain: ``DRAIN_ROUNDS`` rounds, each moving one larger
   backlog file in and waiting for its batch to commit; the drain rate is
   their updates over the sum of the round times.

Both maintainers compact their traces every ``COMPACT_EVERY`` batches, so
compaction lands in every phase of a short run. Each batch runs under an
operation guard: one that raises is counted and named, and the stream goes
on.

The file -> batch map is read from the query checkpoint's source log.
"""

from __future__ import annotations

import json
import threading
import time
from pathlib import Path

from harness import log, mean, median, pct

N_HISTORY = 20_000
RATE = 1.0  # epoch files per second
EVENTS = 2_000
# Warm-up batches before the open loop: batch time still falls by about a
# fifth from the first to the third batch of a session as code warms up.
WARM_FILES = 2
DRAIN_ROUNDS = 3
DRAIN_EVENTS = 20_000
SETUP_REPS = 3
# Both maintainers fold their trace at every batch after the first (the
# engine default is every 16th / 8th): a short run then crosses the cadence,
# and every batch pays the same compaction instead of alternate ones.
COMPACT_EVERY = 1
SCHEMA = "conv_id long, turn_idx int, role string, diff long"
TINY = {"N_HISTORY": 2_000, "EVENTS": 200, "DRAIN_EVENTS": 1_000}


def layer_metrics() -> list[tuple[str, str]]:
    return [
        ("stream.maintain.count_ms_p50", "ms"),
        ("stream.maintain.count_jobs", "count"),
        ("stream.maintain.compactions", "count"),
        ("stream.maintain.compact_ms_p50", "ms"),
        ("stream.drain.count_ms_p50", "ms"),
        ("stream.join.delta_join_ms_p50", "ms"),
        ("stream.join.jobs", "count"),
        ("stream.drain.join_ms_p50", "ms"),
        ("stream.sink.write_ms_p50", "ms"),
        ("stream.sink.jobs", "count"),
        ("stream.source.pickup_ms_p50", "ms"),
        ("stream.engine.gap_ms_p50", "ms"),
        ("stream.source.files_per_batch_p50", "count"),
        ("stream.gen.late_ms_max", "ms"),
        ("stream.backlog_files_end", "count"),
    ]


def source_log(ckpt: Path) -> dict[str, int]:
    """File name -> id of the batch that consumed it, from the file source's
    metadata log (``sources/0/<batchId>`` and its ``.compact`` files)."""
    out: dict[str, int] = {}
    for p in (ckpt / "sources" / "0").iterdir():
        if p.name.startswith("."):
            continue
        for line in p.read_text().splitlines()[1:]:
            entry = json.loads(line)
            out[Path(entry["path"]).name] = int(entry["batchId"])
    return out


class Feeder(threading.Thread):
    """Moves staged files into the watched directory at their due times and
    records how late each move was."""

    def __init__(self, files: list[Path], watch: Path, t0: float, rate: float):
        super().__init__(name="epoch-feeder", daemon=True)
        self.files, self.watch, self.t0, self.rate = files, watch, t0, rate
        self.due: dict[str, float] = {}
        self.late_s: list[float] = []
        self.stop_event = threading.Event()

    def run(self) -> None:
        for i, f in enumerate(self.files):
            due = self.t0 + i / self.rate
            if self.stop_event.wait(max(due - time.time(), 0.0)):
                return
            f.rename(self.watch / f.name)
            self.late_s.append(time.time() - due)
            self.due[f.name] = due


def _expected_sql(history: str, events: str) -> tuple[str, str, str]:
    """DuckDB recomputation: the consolidated count sink output, the final
    counts, and the consolidated join sink output."""
    w = lambda src: f"SELECT conv_id, turn_idx, role, sum(diff) AS w FROM {src} GROUP BY ALL"  # noqa: E731
    both = f"(SELECT * FROM {history} UNION ALL SELECT * FROM {events})"
    counts = (
        f"WITH h AS (SELECT conv_id, sum(diff) AS c FROM {history} GROUP BY 1), "
        f"a AS (SELECT conv_id, sum(diff) AS c FROM {both} GROUP BY 1), "
        f"j AS (SELECT conv_id, coalesce(h.c, 0) AS c0, coalesce(a.c, 0) AS c1 FROM h FULL JOIN a USING (conv_id)) "
        f"SELECT conv_id, c1, 1 FROM j WHERE c0 <> c1 AND c1 <> 0 "
        f"UNION ALL SELECT conv_id, c0, -1 FROM j WHERE c0 <> c1 AND c0 <> 0"
    )
    final = f"SELECT conv_id, sum(diff) AS c FROM {both} GROUP BY 1 HAVING sum(diff) <> 0"
    pairs = lambda src: (  # noqa: E731
        f"SELECT u.conv_id, u.turn_idx, u.w * r.w AS w FROM ({w(src)}) u JOIN ({w(src)}) r "
        f"ON u.conv_id = r.conv_id AND r.turn_idx = u.turn_idx + 1 WHERE u.role = 'user' AND r.role <> 'user'"
    )
    join = (
        f"SELECT conv_id, turn_idx, sum(w) FROM ({pairs(both)} UNION ALL "
        f"SELECT conv_id, turn_idx, -w FROM ({pairs(history)})) GROUP BY 1, 2 HAVING sum(w) <> 0"
    )
    return counts, final, join


def _sink_sql(sink, keys: str) -> str:
    """The consolidated output of a sink's committed batches, read straight
    from its parquet files."""
    committed = ", ".join(str(e["batch_id"]) for e in sink.lineage())
    return (
        f"SELECT {keys}, sum(diff) FROM read_parquet('{sink.root}/data/*/*.parquet', hive_partitioning = true) "
        f"WHERE batch_id IN ({committed}) GROUP BY ALL HAVING sum(diff) <> 0"
    )


def check(ctx, cm, sink_c, sink_j, history: Path, watch: Path) -> None:
    import duckdb

    ops = ctx.ops
    con = duckdb.connect()
    try:
        rows = lambda sql: sorted(tuple(int(x) for x in r) for r in con.execute(sql).fetchall())  # noqa: E731
        want_c, want_final, want_j = map(
            rows, _expected_sql(f"read_parquet('{history}')", f"read_parquet('{watch}/*.parquet')")
        )
        got_c = rows(_sink_sql(sink_c, 'conv_id, "count"'))
        got_j = rows(_sink_sql(sink_j, "conv_id, turn_idx"))
    finally:
        con.close()
    ops.check("stream count sink (consolidated)", got_c == want_c, f"{len(got_c)} rows, DuckDB {len(want_c)}")
    ops.check("stream join sink (consolidated)", got_j == want_j, f"{len(got_j)} rows, DuckDB {len(want_j)}")
    with ops.guard("stream CountMaintainer.counts"):
        got_final = sorted((int(r[0]), int(r[1])) for r in cm.counts().select("conv_id", "count").collect())
        if got_final != want_final:
            ops.fail("stream CountMaintainer.counts", f"{len(got_final)} rows, DuckDB {len(want_final)}")


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from differential_dataflow_spark.session import release_all_cached, release_checkpoint
    from differential_dataflow_spark.streaming.join import DeltaJoin
    from differential_dataflow_spark.streaming.maintain import CountMaintainer
    from differential_dataflow_spark.streaming.sink import ExactlyOnceSink

    import gen

    size = {"N_HISTORY": N_HISTORY, "EVENTS": EVENTS, "DRAIN_EVENTS": DRAIN_EVENTS}
    if ctx.tiny:
        size.update(TINY)
    spark, tr, ops = ctx.spark, ctx.tracer, ctx.ops
    root = ctx.work / "stream"
    staged, watch, ckpt = root / "staged", root / "watch", root / "checkpoint"
    watch.mkdir(parents=True)

    # ---- set-up: inputs, seeded maintainers, warm query -------------------- #
    t_setup = time.perf_counter()
    turns = gen.TurnStream(ctx.seed, size["N_HISTORY"])
    history = staged / "history.parquet"
    gen.write_table(history, turns.history())
    n_open = max(int(ctx.seconds * RATE), 1)
    names = [f"epoch-{i:05d}.parquet" for i in range(WARM_FILES + n_open)]
    for name in names:
        gen.write_table(staged / name, turns.events(size["EVENTS"]))
    drain = [f"drain-{i:05d}.parquet" for i in range(DRAIN_ROUNDS)]
    for name in drain:
        gen.write_table(staged / name, turns.events(size["DRAIN_EVENTS"]))
    gen_s = time.perf_counter() - t_setup
    log(f"stream: inputs written in {gen_s:.1f} s")

    # The bulk load of the history into both maintainers, repeated: the
    # first round pays the session's first jobs, the median is a warm one.
    hist = spark.read.parquet(str(history))
    seed_reps = []
    for _ in range(1 if ctx.tiny else SETUP_REPS):
        release_all_cached(spark)  # the state an earlier round pinned
        t0 = time.perf_counter()
        with tr.span("streaming.maintain:CountMaintainer.seed_counts"):
            cm = CountMaintainer(spark, ["conv_id"], alias="count", compact_every=COMPACT_EVERY)
            cm.seed_counts(hist.groupBy("conv_id").agg(F.sum("diff").alias("count")))
        with tr.span("streaming.join:DeltaJoin.seed"):
            dj = DeltaJoin(spark, None, on=["conv_id", "turn_idx"], compact_every=COMPACT_EVERY)
            dj.seed("left", hist.filter("role = 'user'").select("conv_id", "turn_idx", "diff"))
            dj.seed("right", hist.filter("role <> 'user'").select("conv_id", (F.col("turn_idx") - 1).alias("turn_idx"), "diff"))
        seed_reps.append(time.perf_counter() - t0)
        log(f"stream: maintainers seeded in {seed_reps[-1]:.1f} s")
    sink_c = ExactlyOnceSink(str(root / "sink_counts"), "counts")
    sink_j = ExactlyOnceSink(str(root / "sink_join"), "join")

    # Time the count trace's compactions, which run inside process_batch.
    compact_ms: list[float] = []

    def traced_compact(compact=cm.trace.compact) -> None:
        with tr.span("streaming.maintain:TraceView.compact") as s:
            compact()
        compact_ms.append(s.ms)

    cm.trace.compact = traced_compact

    batches: dict[int, dict] = {}

    def on_batch(df, batch_id: int) -> None:
        rec = batches[batch_id] = {"start": time.time(), "ok": False}
        with ops.guard(f"batch {batch_id}"), tr.span("streaming.source:foreachBatch"):
            with tr.span("streaming.maintain:CountMaintainer.process_batch") as s_c:
                out_c = cm.process_batch(df.select("conv_id", "diff"))
            with tr.span("streaming.join:DeltaJoin.process_batch") as s_j:
                out_j = dj.process_batch(
                    df.filter("role = 'user'").select("conv_id", "turn_idx", "diff"),
                    df.filter("role <> 'user'").select("conv_id", (F.col("turn_idx") - 1).alias("turn_idx"), "diff"),
                )
            with tr.span("streaming.sink:ExactlyOnceSink.write_batch") as s_kc:
                sink_c.write_batch(out_c, batch_id)
            with tr.span("streaming.sink:ExactlyOnceSink.write_batch") as s_kj:
                sink_j.write_batch(out_j, batch_id)
            release_checkpoint(out_j)
            rec.update(
                ok=True,
                count_ms=s_c.ms, count_jobs=s_c.jobs,
                join_ms=s_j.ms, join_jobs=s_j.jobs,
                sink_ms=s_kc.ms + s_kj.ms, sink_jobs=s_kc.jobs + s_kj.jobs,
            )
        rec["end"] = time.time()

    query = (
        spark.readStream.schema(SCHEMA).parquet(str(watch))
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    feeder = None
    drain_t0: list[float] = []
    try:
        for name in names[:WARM_FILES]:
            (staged / name).rename(watch / name)
            query.processAllAvailable()
        setup_s = gen_s + median(seed_reps) + (time.perf_counter() - t_setup - gen_s - sum(seed_reps))
        log("stream: warm-up done, open loop starts")

        # ---- open loop ------------------------------------------------------ #
        feeder = Feeder([staged / n for n in names[WARM_FILES:]], watch, time.time() + 0.5, RATE)
        feeder.start()
        feeder.join()
        window_end = time.time()
        query.processAllAvailable()
        log("stream: open loop drained, backlog drain starts")

        # ---- closed-loop drain: one backlog file, one batch, per round ------ #
        for name in drain:
            drain_t0.append(time.time())
            (staged / name).rename(watch / name)
            query.processAllAvailable()
    finally:
        if feeder is not None:
            feeder.stop_event.set()
            feeder.join()
        query.stop()

    # ---- figures ------------------------------------------------------------ #
    # A batch is committed once both sinks hold its marker; it commits at the
    # later of the two.
    consumed = source_log(ckpt)
    lineage = [{e["batch_id"]: e["committed_at"] for e in sink.lineage()} for sink in (sink_c, sink_j)]
    for b in sorted(b for b, rec in batches.items() if rec["ok"]):
        missing = [sink for sink, marks in zip(("counts", "join"), lineage) if b not in marks]
        if missing:
            ops.fail(f"batch {b}", f"no commit marker in the {' and '.join(missing)} sink")
    committed = {b: max(lineage[0][b], lineage[1][b]) for b in set(lineage[0]) & set(lineage[1])}
    open_files = [n for n in names[WARM_FILES:] if consumed.get(n) in committed]
    open_batches = sorted({consumed[n] for n in open_files})
    ob = [batches[b] for b in open_batches if batches[b]["ok"]]
    latency_ms = [(committed[consumed[n]] - feeder.due[n]) * 1000.0 for n in open_files]
    pickup_ms = [(batches[consumed[n]]["start"] - feeder.due[n]) * 1000.0 for n in open_files]
    ordered = sorted(batches)
    gaps_ms = [
        (batches[b]["start"] - batches[a]["end"]) * 1000.0
        for a, b in zip(ordered, ordered[1:])
        if b in open_batches and a >= open_batches[0]
    ]
    files_per_batch = [sum(1 for n in open_files if consumed[n] == b) for b in open_batches]
    drain_rounds = [(consumed[n], t0) for n, t0 in zip(drain, drain_t0) if consumed.get(n) in committed]
    drain_s = sum(committed[b] - t0 for b, t0 in drain_rounds)
    drain_rate = len(drain_rounds) * size["DRAIN_EVENTS"] / drain_s if drain_s else 0.0
    db = [batches[b] for b, _ in drain_rounds if batches[b]["ok"]]

    log("stream: checking outputs")
    check(ctx, cm, sink_c, sink_j, history, watch)
    log("stream: checked")
    release_all_cached(spark)

    return {
        "setup_s": setup_s,
        "latency_ms": pct(latency_ms, 50),
        "latency_p90_ms": pct(latency_ms, 90),
        "throughput_per_s": drain_rate,
        "loop_s": mean(b["end"] - b["start"] for b in ob),
        "bulk_s": median(seed_reps),
        "layer": {
            "stream.maintain.count_ms_p50": median(b["count_ms"] for b in ob),
            "stream.maintain.count_jobs": median(b["count_jobs"] for b in ob),
            "stream.maintain.compactions": len(compact_ms),
            "stream.maintain.compact_ms_p50": median(compact_ms),
            "stream.drain.count_ms_p50": median(b["count_ms"] for b in db),
            "stream.join.delta_join_ms_p50": median(b["join_ms"] for b in ob),
            "stream.join.jobs": median(b["join_jobs"] for b in ob),
            "stream.drain.join_ms_p50": median(b["join_ms"] for b in db),
            "stream.sink.write_ms_p50": median(b["sink_ms"] for b in ob),
            "stream.sink.jobs": median(b["sink_jobs"] for b in ob),
            "stream.source.pickup_ms_p50": median(pickup_ms),
            "stream.engine.gap_ms_p50": median(gaps_ms),
            "stream.source.files_per_batch_p50": median(files_per_batch),
            "stream.gen.late_ms_max": max(feeder.late_s) * 1000.0,
            "stream.backlog_files_end": sum(
                1 for n in open_files if batches[consumed[n]]["start"] > window_end
            ),
        },
        "aliases": {
            "stream_latency_p50_ms": (pct(latency_ms, 50), "ms"),
            "stream_latency_p90_ms": (pct(latency_ms, 90), "ms"),
            "stream_drain_updates_per_s": (drain_rate, "updates/s"),
            "stream_seed_s": (median(seed_reps), "s"),
            "stream_open_loop_files": (len(open_files), "count"),
            "stream_open_loop_batches": (len(open_batches), "count"),
            "stream_gen_late_ms_max": (max(feeder.late_s) * 1000.0, "ms"),
        },
    }
