"""Local mimic of the driver's correctness gate: run each __spark_entry__
query at sf0.01 and compare against its DuckDB oracle (row count + column
names + order-insensitive value hash, columns sorted by name).

Usage: python scripts/local_verify.py [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = f"{v:.9g}"
            vals.append(str(v))
        out.append("\x1f".join(vals))
    out.sort()
    return hashlib.sha256("\x1e".join(out).encode()).hexdigest()


def main():
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
        except Exception:
            pass

    # Verify BOTH registries: the 50 driver-gated keys and the
    # extra_queries() overflow (keys curated out of the driver's 50-row
    # gate window — same check, recorded here instead).
    qs = dict(entrymod.queries())
    oracles = dict(entrymod.oracle_sql())
    qs.update(entrymod.extra_queries())
    oracles.update(entrymod.extra_oracle_sql())
    only = set(sys.argv[1:])
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows-only {name}: {len(rows)} rows in {dt:.1f}s cols={cols}")
            if len(rows) == 0:
                print(f"  WARNING: empty result")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok_cols = sorted(cols) == sorted(ocols)
        ok_count = len(rows) == len(orows)
        ok_hash = ok_cols and ok_count and canon(rows, cols) == canon(orows, ocols)
        status = "OK   " if (ok_cols and ok_count and ok_hash) else "FAIL "
        print(
            f"{status} {name}: spark={len(rows)} oracle={len(orows)} cols_match={ok_cols} "
            f"hash_match={ok_hash} ({dt:.1f}s)"
        )
        if not (ok_cols and ok_count and ok_hash):
            failures.append(name)
            if not ok_cols:
                print(f"   spark cols={sorted(cols)}\n   duck  cols={sorted(ocols)}")
            else:
                s = {canon([r], cols) for r in rows}
                o = {canon([r], ocols) for r in orows}
                print(f"   only-in-spark={len(s-o)} only-in-oracle={len(o-s)}")
                sr = sorted(rows)[:3]
                orr = sorted(orows, key=lambda r: tuple(str(x) for x in r))[:3]
                print(f"   spark sample: {sr}")
                print(f"   duck  sample: {orr}")
    print("\nFAILURES:", failures if failures else "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
