"""Per-query wall-time profile at a given sf, mirroring the driver's
oracle-compare loop (Spark run -> toPandas, DuckDB oracle run). Prints
one line per query sorted by total time, plus the grand total — the
driver's correctness harness truncates on a time budget, so this is
the feedback loop for keeping all 101 declared queries inside it.

Usage: SPARK_GRAFT_CPUS=8 python tools/profile_queries.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

from pdf_toolkit_spark.ops import all_oracles, all_queries
from pdf_toolkit_spark.spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    queries = all_queries()
    oracles = all_oracles()
    spark = get_spark(app_name="profile-queries")

    rows = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        n_spark = len(fn(spark, sf_dir).toPandas())
        t1 = time.monotonic()
        n_duck = -1
        if name in oracles:
            con = duckdb.connect()
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
                )
            n_duck = len(con.execute(oracles[name]).fetchdf())
            con.close()
        t2 = time.monotonic()
        rows.append((name, t1 - t0, t2 - t1, n_spark, n_duck))
        print(
            f"{name:36s} spark {t1 - t0:7.2f}s  duck {t2 - t1:7.2f}s"
            f"  rows {n_spark}/{n_duck}",
            flush=True,
        )

    rows.sort(key=lambda r: -(r[1] + r[2]))
    print("\n=== sorted by total ===")
    for name, ts, td, ns, nd in rows:
        print(f"{ts + td:8.2f}s  {name:36s} (spark {ts:.2f} duck {td:.2f})")
    print(f"\nTOTAL {sum(r[1] + r[2] for r in rows):.1f}s over {len(rows)} queries")


if __name__ == "__main__":
    main()
