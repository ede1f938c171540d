#!/usr/bin/env python3
"""Cross-scale oracle check (BASELINE.md's correctness claim): run registry
queries vs their DuckDB oracles at any sf dir / parallelism, not just the
driver's sf0.01 gate.

Usage: python scripts/cross_scale_check.py <sf_dir> <cores> [query ...]
(no query names = the full registry)

Each query's line ends with its Spark and DuckDB wall seconds.
"""
from __future__ import annotations

import sys
import os
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    import duckdb
    import pandas as pd
    from scrapontologies_spark.plans import driver_queries as DQ
    from scrapontologies_spark.session import build_session

    sf_dir, cores = sys.argv[1], int(sys.argv[2])
    names = sys.argv[3:] or sorted(DQ.queries())
    spark = build_session(
        app_name="cross-scale-check",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        # DuckDB binds the parquet eagerly at CREATE VIEW — a table the dir
        # doesn't carry (e.g. the sf1-bench dirs have only documents/
        # embeddings/events) must be skipped, not abort the whole check;
        # a query that actually needs it fails at its own oracle with a
        # clear missing-view message.
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            # Spark-written tables (bench_data/ dirs from sf1_bench) are
            # DIRECTORIES of part files — DuckDB needs the glob form
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    qmap, omap = DQ.queries(), DQ.oracle_sql()
    from scrapontologies_spark.operators.util import persisted_rdd_ids, unpersist_rdds

    # release operator-internal localCheckpoints between queries (same
    # rationale as bench.py / sf1_bench): a full-registry sweep at an
    # sf1-class dir otherwise accumulates blocks into a ~30 GB heap and a
    # migrating multi-minute full GC
    baseline_persists = persisted_rdd_ids(spark)
    failed = []
    for name in names:
        t0 = time.perf_counter()
        try:
            # inside the try: a query whose table the dir doesn't carry
            # (PATH_NOT_FOUND on the Spark side, missing view on the DuckDB
            # side) must be reported and skipped, not abort the sweep —
            # that's the skip-missing-views design the view loop states
            sp = qmap[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — report, keep checking
            unpersist_rdds(spark, baseline_persists)
            failed.append(name)
            print(
                f"{name}: FAIL — {type(e).__name__}: {str(e).splitlines()[0][:200]}"
                f" [spark {time.perf_counter() - t0:.1f}s]"
            )
            continue
        spark_s = time.perf_counter() - t0
        unpersist_rdds(spark, baseline_persists)
        sql = omap.get(name)
        if sql is None:
            print(f"{name}: rows-only ({len(sp)}) [spark {spark_s:.1f}s]")
            continue
        t0 = time.perf_counter()
        try:
            du = con.execute(sql).fetchdf()
            duck_s = time.perf_counter() - t0
            cols = sorted(sp.columns)
            a = sp.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
            b = du.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
            for c in cols:
                # Spark's toPandas emits datetime64[ns], DuckDB's fetchdf
                # datetime64[us]; assert_frame_equal compares the raw int
                # representation, so equal timestamps mismatch by 1000×
                # unless normalized to one unit
                if str(a[c].dtype).startswith("datetime64") and str(
                    b[c].dtype
                ).startswith("datetime64"):
                    a[c] = a[c].astype("datetime64[us]")
                    b[c] = b[c].astype("datetime64[us]")
            pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-6)
            print(f"{name}: OK ({len(sp)} rows) [spark {spark_s:.1f}s, duckdb {duck_s:.1f}s]")
        except Exception as e:  # noqa: BLE001 — report, keep checking
            failed.append(name)
            print(
                f"{name}: FAIL — {e}"
                f" [spark {spark_s:.1f}s, duckdb {time.perf_counter() - t0:.1f}s]"
            )
    spark.stop()
    print(f"\n{len(names) - len(failed)}/{len(names)} OK at {sf_dir} local[{cores}]")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
