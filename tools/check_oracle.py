"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same parquet tables; compare row count, sorted column names, and the
order-insensitive multiset of canonicalized row values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

The per-directory core is exposed as :func:`check_dir` so
``tools/seed_sweep.py`` can reuse one SparkSession across N freshly
generated datasets (the gate VERDICT r4 asked for — a leg that is
green on the committed fixture but flips on fresh driver data must be
caught before the round ships).
"""

from __future__ import annotations

import math
import os
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    import datetime
    import decimal
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(canon(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def check_dir(spark, sf_dir, only=None, tag=""):
    """Run the full queries()-vs-oracle_sql() comparison over the
    parquet tables in ``sf_dir``. Returns the list of failing query
    names (empty == all green). Prints one status line per query."""
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * "
                f"FROM '{sf_dir}/{t}.parquet'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{tag}{name:28s} rows-only: {len(srows)} rows")
            continue
        ddf = con.sql(oracles[name])
        dcols = [d[0] for d in ddf.description]
        drows = ddf.fetchall()
        status = []
        if len(srows) != len(drows):
            status.append(
                f"ROWCOUNT spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            status.append(f"SCHEMA spark={sorted(scols)} "
                          f"duckdb={sorted(dcols)}")
        if not status:
            ms = rows_multiset(scols,
                               [[r[c] for c in scols] for r in srows])
            md = rows_multiset(
                dcols,
                [[dict(zip(dcols, r))[c] for c in dcols]
                 for r in drows])
            if ms != md:
                diff_s = {k: v for k, v in ms.items()
                          if md.get(k) != v}
                diff_d = {k: v for k, v in md.items()
                          if ms.get(k) != v}
                ex_s = list(diff_s.items())[:3]
                ex_d = list(diff_d.items())[:3]
                status.append(
                    f"VALUES {len(diff_s)}/{len(diff_d)} differing; "
                    f"spark-only={ex_s} duckdb-only={ex_d}")
        if status:
            failures.append(name)
            print(f"{tag}{name:28s} FAIL  " + " | ".join(status))
        else:
            print(f"{tag}{name:28s} OK    {len(srows)} rows")
    con.close()
    return failures


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from log2seq_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    failures = check_dir(spark, sf_dir, only)
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
