"""Local replica of the driver's correctness gate: run every registered query
on Spark and its oracle SQL on DuckDB over the same parquet, compare row
count, schema (column names), and order-insensitive values (columns sorted by
name, rows sorted, floats rounded).

Usage: python scripts/check_oracles.py [sf_dir] [query ...]

Exits non-zero when a query fails or a named query is not registered.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# The checkout this script lives in, not whichever copy is installed.
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from differential_dataflow_spark.queries import ORACLES, QUERIES  # noqa: E402
from differential_dataflow_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
        elif np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    unknown = sorted(only - set(QUERIES))
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark(
        app_name="check-oracles",
        cores=8,
        shuffle_partitions=8,
        # Job counts read the status tracker, which must keep every job.
        extra_conf={"spark.ui.retainedJobs": "100000"},
    )
    sc = spark.sparkContext
    tracker = sc._jsc.statusTracker()

    def jobs(group: str) -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(tracker.getJobIdsForGroup(group))

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    failures = []
    ran = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        ran += 1
        group = f"check-oracles-{name}"
        sc.setJobGroup(group, name)
        n0 = jobs(group)
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        cost = f"[{time.time() - t0:.1f}s, {jobs(group) - n0} jobs]"
        if name not in ORACLES:
            print(f"ok?  {name}: rows={len(got)} (no oracle — rows-only check) "
                  f"{cost}")
            continue
        try:
            want = con.sql(ORACLES[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
            failures.append(name)
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)}")
            failures.append(name)
            continue
        if not g.equals(w):
            neq = (g != w).any(axis=1)
            print(f"FAIL {name}: value mismatch in {int(neq.sum())}/{len(g)} rows")
            print("  got :", g[neq].head(3).to_dict("records"))
            print("  want:", w[neq].head(3).to_dict("records"))
            failures.append(name)
            continue
        print(f"PASS {name}: rows={len(g)} {cost}")
    print(f"\n{ran - len(failures)}/{ran} queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
