"""Local mirror of the driver's correctness gate.

Runs each __spark_entry__.queries() entry via Spark AND its oracle_sql()
via DuckDB at the given sf dir; compares row count, column-name set, and
order-insensitive values. Usage:

    python tools/check_contract.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from fog_spark.session import get_spark

    # the Python UDF workers import fog_spark too: they see the
    # environment, not this process's sys.path, so started outside the
    # checkout they would miss it without the root on PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    # inputs are a few MB: a small driver heap bounds the gate's JVM,
    # which grows to 6-8 GB resident on get_spark's 24g default
    spark = get_spark("contract-check", cpus=8, shuffle_partitions=16,
                      extra_conf={"spark.ui.showConsoleProgress": "false",
                                  "spark.driver.memory": os.environ.get("FOGSPARK_DRIVER_MEM", "4g")})

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    import time
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(srows)} (no oracle, rows-only)")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {e}")
            continue
        sn, dn = norm_rows(scols, srows), norm_rows(dcols, drows)
        if sorted(scols) != sorted(dcols):
            failures.append(name)
            print(f"FAIL {name}: schema spark={sorted(scols)} duck={sorted(dcols)}")
        elif len(sn) != len(dn):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(sn)} duck={len(dn)}")
        elif sn != dn:
            failures.append(name)
            bad = next((a, b) for a, b in zip(sn, dn) if a != b)
            print(f"FAIL {name}: values differ, first diff: spark={bad[0]} duck={bad[1]}")
        else:
            print(f"PASS {name}: rows={len(sn)} ({time.time()-t0:.1f}s)")

    if not only:
        df = entrymod.entry(spark)
        n = df.count()
        print(f"entry(): rows={n} schema={df.columns}")
        assert n > 0

    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL PASS")


if __name__ == "__main__":
    main()
