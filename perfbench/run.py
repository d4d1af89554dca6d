"""Transcript benchmark: one seeded workload per run, on local[nproc].

    python3 perfbench/run.py --workload {stream,batch} \
        --seed N --seconds S --trace {0,1} [--tiny]

Run it from the root of a source checkout: the engine package is imported
from there. The last line of standard output is one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(spans are written to ``.perfbench_work/spans-<workload>-<seed>.json``).
Lines before it name every metric with its unit, the workload's own
metric names, and every failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402

WORKLOADS = ("stream", "batch")

# Every run reports all of these; each workload maps its own figures onto
# them (see README.md).
END_TO_END = (
    ("setup_s", "s"),
    ("latency_ms", "ms"),
    ("throughput_per_s", "1/s"),
    ("loop_s", "s"),
    ("bulk_s", "s"),
)

# Reported by every run too, but without a bound: a tail percentile of a
# few dozen samples and a peak RSS that follows JVM heap sizing are too
# noisy between runs to gate on.
OBSERVED = (
    ("latency_p90_ms", "ms"),
    ("peak_rss_mb", "MiB"),
)

# Engine modules the spans enter, for per-layer self time.
LAYERS = (
    "collection",
    "operators.iterate",
    "queries",
    "sources",
    "streaming.join",
    "streaming.maintain",
    "streaming.sink",
    "streaming.source",
)


def workload_module(name: str):
    import batch
    import stream

    return {"stream": stream, "batch": batch}[name]


def layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    out: list[tuple[str, str]] = []
    for w in WORKLOADS:
        out.extend(workload_module(w).layer_metrics())
    out.append(("session.noop_job_ms", "ms"))
    out.extend((f"trace.self_ms.{layer}", "ms") for layer in LAYERS)
    out.append(("trace.overhead_ms", "ms"))
    out.append(("trace.spans", "count"))
    out.extend((f"trace.e2e.{name}", unit) for name, unit in END_TO_END + OBSERVED)
    return out


@dataclass
class Context:
    spark: object
    tracer: harness.Tracer
    ops: harness.Ops
    seed: int
    seconds: int
    work: Path
    tiny: bool

    @property
    def registry_sf(self) -> float:
        return 0.0002 if self.tiny else 0.001


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """A driver heap that leaves most of the host to others: a quarter of
    physical memory, between 2 and 8 GiB."""
    total_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{int(max(2, min(8, total_gib // 4)))}g"


def start_spark(work: Path):
    from differential_dataflow_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cores=host_cpus(),
        extra_conf={
            # Keep every file Spark writes inside the work directory.
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # Job attribution reads job ids back from the status tracker.
            "spark.ui.retainedJobs": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it: it exits
    once the gateway's stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs, for the self-test")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "differential_dataflow_spark" / "__init__.py").is_file():
        print(f"error: no differential_dataflow_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    os.environ.update(
        # Every JVM, the spark-submit launcher included, keeps its temporary
        # files in the work directory.
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        TMPDIR=str(work / "tmp"),
        TZ="UTC",
        SPARK_GRAFT_CPUS=str(host_cpus()),
        SPARK_DRIVER_MEMORY=driver_heap(),
    )
    time.tzset()
    sys.path.insert(0, str(ROOT))
    module = workload_module(args.workload)

    rss = harness.RssSampler().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        harness.log(f"session started in {session_s:.1f} s")
        sc = spark.sparkContext
        sc.setJobGroup(f"perfbench-{args.workload}", f"perfbench {args.workload} seed {args.seed}")
        tracer = harness.Tracer(sc, enabled=bool(args.trace))
        ctx = Context(spark, tracer, harness.Ops(), args.seed, args.seconds, work, args.tiny)
        try:
            res = module.run(ctx)
        except Exception as e:
            # The workload could not finish: name the failure and report
            # what is known (nothing), so the result line still prints.
            ctx.ops.attempt()
            ctx.ops.fail(f"{args.workload} workload", f"raised {type(e).__name__}: {e}")
            res = {"latency_p90_ms": 0.0, "layer": {}, **{name: 0.0 for name, _ in END_TO_END}}
        noop_ms = harness.noop_job_ms(spark) if args.trace else 0.0
        harness.log(f"{args.workload}: done")
    finally:
        if spark is not None:
            stop_spark(spark)
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    ops = ctx.ops
    e2e = {name: res[name] for name, _ in END_TO_END}
    e2e["setup_s"] += session_s
    observed = {"latency_p90_ms": res["latency_p90_ms"], "peak_rss_mb": peak_mb}
    units = dict(END_TO_END + OBSERVED)
    for name, value in {**e2e, **observed}.items():
        print(f"{args.workload}: {name} = {value:.6g} {units[name]}")
    for name, (value, unit) in res.get("aliases", {}).items():
        print(f"{args.workload}: {name} = {value:.6g} {unit}")
    print(f"{args.workload}: failed_frac = {ops.failed / max(ops.attempted, 1):.6g} ({ops.failed} of {ops.attempted} operations)")
    for name, why in ops.failures:
        print(f"{args.workload}: FAILED {name}: {why}")

    if args.trace:
        layer = {name: 0.0 for name, _ in layer_metrics()}
        layer.update(res["layer"])
        layer["session.noop_job_ms"] = noop_ms
        for name, ms in tracer.self_ms_by_layer().items():
            layer[f"trace.self_ms.{name}"] = ms
        layer["trace.overhead_ms"] = tracer.overhead_s * 1000.0
        layer["trace.spans"] = len(tracer.spans)
        layer.update({f"trace.e2e.{k}": v for k, v in {**e2e, **observed}.items()})
        spans_path = ROOT / ".perfbench_work" / f"spans-{args.workload}-{args.seed}.json"
        spans_path.write_text(json.dumps(tracer.to_records()))
        print(f"{args.workload}: {len(tracer.spans)} spans written to {spans_path.relative_to(ROOT)}")
        units = dict(layer_metrics())
        metrics = {k: {"value": v, "unit": units.get(k, "s" if k.endswith("_s") else "count")} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": ops.failed == 0, "attempted": ops.attempted, "failed": ops.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
