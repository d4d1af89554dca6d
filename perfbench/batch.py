"""``batch`` workload: the engine's work without streaming state, in one
session: first the backfill (``backfill.py``: the flagship group, join and
iterate shapes over staged transcripts), then the query registry sample
(``registry.py``).

The two parts share a session so that a run pays one session start and one
JVM warm-up: each costs about 15 s on a 4-core host, and the run budget
(70 runs of three workloads, or 48 of two, in under an hour) does not fit
them three times.
"""

from __future__ import annotations

import backfill
import registry


def layer_metrics() -> list[tuple[str, str]]:
    return backfill.layer_metrics() + registry.layer_metrics()


def run(ctx) -> dict:
    b = backfill.run(ctx)
    r = registry.run(ctx)
    return {
        "setup_s": b["setup_s"] + r["setup_s"],
        "latency_ms": r["latency_ms"],
        "latency_p90_ms": r["latency_p90_ms"],
        "throughput_per_s": b["throughput_per_s"],
        # Driver-loop fixpoints: the backfill's semi_naive and the registry's
        # loop family.
        "loop_s": b["loop_s"] + r["loop_s"],
        "bulk_s": b["bulk_s"] + r["bulk_s"],
        "layer": {**b["layer"], **r["layer"]},
        "aliases": {**b["aliases"], **r["aliases"]},
    }
