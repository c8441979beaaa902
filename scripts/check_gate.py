#!/usr/bin/env python
"""Driver-gate simulation: run every registry query on Spark AND its DuckDB
oracle at the given sf dir (default sf0.01, the driver's correctness
scale); compare row count, sorted-column value multiset. Prints one line
per query + a summary. A gated query that passes with 0 rows on both
engines compared nothing, so it also prints an EMPTY line and counts
toward ``empty`` in the summary."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    import duckdb

    from dygiepp_spark.registry import QUERIES
    from dygiepp_spark.session import get_spark
    from dygiepp_spark.tables import TABLE_NAMES

    spark = get_spark("gate", master="local[16]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = n_rows_only = n_empty = 0
    # Types the driver's type-aware value hash treats as portable between
    # Spark and DuckDB.  Anything else (HUGEINT from SUM(int), INT32, DECIMAL)
    # hash-mismatches even when the values are equal — flag it locally.
    portable = {"BIGINT", "DOUBLE", "VARCHAR", "BOOLEAN", "DATE", "TIMESTAMP"}

    for name in sorted(QUERIES):
        if only and name not in only:
            continue
        spec = QUERIES[name]
        t0 = time.perf_counter()
        try:
            df = spec.build(spark, sf_dir)
            if spec.sql is None:
                n = df.count()
                n_rows_only += 1
                print(f"ROWS-ONLY {name}: {n} rows ({time.perf_counter()-t0:.1f}s)")
                continue
            cols = sorted(df.columns)
            a = sorted(
                tuple("~" if r[c] is None else (f"{r[c]:.10g}" if isinstance(r[c], float) else str(r[c])) for c in cols)
                for r in df.collect()
            )
            rel = con.sql(spec.sql)
            bad_types = [
                f"{c}:{t}" for c, t in zip(rel.columns, rel.types) if str(t) not in portable
            ]
            if bad_types:
                print(f"TYPEWARN {name}: non-portable oracle types {bad_types}")
            idx = [rel.columns.index(c) for c in cols]
            b = sorted(
                tuple("~" if row[i] is None else (f"{row[i]:.10g}" if isinstance(row[i], float) else str(row[i])) for i in idx)
                for row in rel.fetchall()
            )
            ok = a == b
            n_pass += ok
            n_fail += not ok
            status = "PASS" if ok else "FAIL"
            print(f"{status} {name}: {len(a)} rows ({time.perf_counter()-t0:.1f}s)")
            if ok and not a:
                n_empty += 1
                print(f"EMPTY {name}")
            if not ok:
                print("   spark sample:", a[:2], "\n   oracle sample:", b[:2])
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            print(f"ERROR {name}: {type(exc).__name__}: {str(exc)[:150]}")
    print(
        f"\nSUMMARY pass={n_pass} fail={n_fail} rows_only={n_rows_only} empty={n_empty}"
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
