"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py           # harness logic, no Spark (~2 s)
    python3 perfbench/selftest.py --spark   # also every workload at tiny scale

The first part checks the pieces the figures rest on: span self time and
job attribution arithmetic, quantiles, seeded generators, the oracle
normalization, and that BENCHMARK.json lists exactly the metrics the code
reports. The ``--spark`` part runs each workload end to end on tiny inputs,
traced and untraced, and requires correct outputs and the full metric set.
"""

from __future__ import annotations

import json
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import harness  # noqa: E402
import registry  # noqa: E402
import run  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok   {what}")


def test_tracer() -> None:
    tr = harness.Tracer(enabled=False)
    with tr.span("a:outer") as outer:
        time.sleep(0.02)
        with tr.span("b:inner") as inner:
            time.sleep(0.03)
    check(outer.ms >= inner.ms >= 25, "disabled tracer still times spans")
    check(tr.spans == [] and inner.parent == outer.span_id, "disabled tracer keeps no spans but links parents")

    tr.spans = [
        harness.Span("a:x", "a", 0, None, "main", 0.0, 1.0),
        harness.Span("b:y", "b", 1, 0, "main", 0.1, 0.4),
        harness.Span("b:z", "b", 2, 0, "main", 0.5, 0.7),
        harness.Span("c:w", "c", 3, 2, "main", 0.55, 0.65),
    ]
    self_ms = tr.self_ms_by_layer()
    check(abs(self_ms["a"] - 500.0) < 1e-6, "self time subtracts child spans")
    check(abs(self_ms["b"] - 400.0) < 1e-6 and abs(self_ms["c"] - 100.0) < 1e-6, "self time per layer sums spans")

    class FakeSc:
        """A context whose caller's group launches two jobs per span, and
        whose tracker lists jobs by group as Spark's does."""

        def __init__(self):
            self.groups = {"g": [0, 1, 2]}
            self._jsc = self

        def statusTracker(self):
            return self

        def getJobIdsForGroup(self, group):
            return self.groups.get(group, [])

        def getLocalProperty(self, key):
            return "g" if key == "spark.jobGroup.id" else None

    sc = FakeSc()
    tr = harness.Tracer(sc, enabled=True)
    with tr.span("a:outer") as outer:
        sc.groups["g"] += [3, 4]
        with tr.span("b:inner") as inner:
            sc.groups["g"] += [5]
    sc.groups["other"] = [6]
    with tr.span("a:none") as none:
        pass
    check((outer.jobs, inner.jobs, none.jobs) == (3, 1, 0), "jobs are the growth of the caller's job group")
    check(len(tr.spans) == 3 and inner.parent == outer.span_id, "enabled tracer keeps spans with parents")


def test_stats_and_ops() -> None:
    check(harness.pct([5.0], 90) == 5.0 and harness.pct([], 50) == 0.0, "percentile of one and no samples")
    check(harness.pct([1, 2, 3, 4, 5], 50) == 3 and harness.median([4, 1, 2]) == 2, "median")
    check(abs(harness.pct(list(range(1, 12)), 90) - 10.0) < 1e-9, "inclusive 90th percentile")
    ops = harness.Ops()
    ops.attempt(3)
    ops.check("good", True)
    ops.check("bad", False, "rows differ\nsecond line")
    check(ops.attempted == 5 and ops.failures == [("bad", "rows differ")], "failed operations are counted and named")
    with ops.guard("raises"):
        raise RuntimeError("boom")
    with ops.guard("fine"):
        pass
    check(ops.attempted == 7 and ops.failures[-1] == ("raises", "raised RuntimeError: boom") and ops.failed == 2,
          "an operation that raises is counted, named, and does not stop the run")


def test_generators() -> None:
    a, b = gen.TurnStream(7, 300), gen.TurnStream(7, 300)
    check(a.history() == b.history(), "history is a function of the seed")
    ev_a = [a.events(500) for _ in range(3)]
    ev_b = [b.events(500) for _ in range(3)]
    check(all(x == y for x, y in zip(ev_a, ev_b)), "event files are a function of the seed")
    check(gen.TurnStream(8, 300).history() != a.history(), "another seed gives another history")

    # Live turns of every conversation stay the prefix [0, next_turn).
    s = gen.TurnStream(3, 200)
    live = {}
    for conv, turn in zip(s.history()["conv_id"].to_pylist(), s.history()["turn_idx"].to_pylist()):
        live.setdefault(conv, set()).add(turn)
    retracts = 0
    for _ in range(5):
        ev = s.events(400)
        for conv, turn, d in zip(ev["conv_id"].to_pylist(), ev["turn_idx"].to_pylist(), ev["diff"].to_pylist()):
            if d < 0:
                retracts += 1
                check_live = turn in live.get(conv, set())
                if not check_live:
                    raise AssertionError(f"retraction of a turn that is not live: {conv}/{turn}")
                live[conv].remove(turn)
            else:
                live.setdefault(conv, set()).add(turn)
    check(all(t == set(range(len(t))) for t in live.values()), "live turns stay a prefix; retractions hit live turns")
    check(0.05 < retracts / 2000 < 0.15, "about 10% of events are retractions")

    scratch = HERE.parent / ".perfbench_work"
    scratch.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        rows = gen.registry_tables(1, Path(d) / "x", sf=0.0002)
        rows2 = gen.registry_tables(1, Path(d) / "y", sf=0.0002)
        same = all(
            (Path(d) / "x" / f"{t}.parquet").read_bytes() == (Path(d) / "y" / f"{t}.parquet").read_bytes()
            for t in registry.TABLES
        )
        check(rows == rows2 and same and set(rows) == set(registry.TABLES), "registry tables are a function of the seed")


def test_oracle_normalization() -> None:
    import datetime as dt
    import decimal

    cols, rows = registry.canonical(["B", "a"], [(1.0000001, 2), (decimal.Decimal("0.5"), dt.date(2024, 1, 2))])
    check(cols == ["a", "b"], "columns sorted by name, case-folded")
    check(rows == sorted([(2, 1.0), ("2024-01-02", 0.5)], key=repr), "values normalized and rows sorted")


def test_benchmark_json() -> None:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    check([(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END), "BENCHMARK.json end_to_end matches the code")
    check([(m["name"], m["unit"]) for m in spec["per_layer"]] == run.layer_metrics(), "BENCHMARK.json per_layer matches the code")
    check([w["name"] for w in spec["workloads"]] == list(run.WORKLOADS), "BENCHMARK.json workloads match the code")
    check(all(m["better"] in ("lower", "higher") for m in spec["end_to_end"] + spec["per_layer"]), "every metric has a direction")


def test_workloads_tiny() -> None:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    for workload in run.WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
                 "--seconds", "3", "--trace", str(trace), "--tiny"],
                capture_output=True, text=True, cwd=HERE.parent, timeout=300,
            )
            if p.returncode != 0:
                raise AssertionError(f"{workload} --trace {trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                  f"{workload} --trace {trace}: outputs correct ({time.time() - t0:.0f} s)")
            check(set(res["metrics"]) == {m["name"] for m in spec[key]}, f"{workload} --trace {trace}: every {key} metric reported")


def main() -> int:
    test_tracer()
    test_stats_and_ops()
    test_generators()
    test_oracle_normalization()
    test_benchmark_json()
    if "--spark" in sys.argv[1:]:
        test_workloads_tiny()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
