"""Driver-contract regression: every queries() entry runs, and every
oracle_sql() entry matches it on DuckDB (row count + schema + multiset of
canonicalized values) at sf0.001 — a fast local replica of the driver's
CORRECTNESS gate."""

import pathlib
import sys

import duckdb
import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
import __spark_entry__ as entrymod
from tools.check_oracle import TABLES, rows_multiset

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) >= 3


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, ddb, name):
    fn = entrymod.queries()[name]
    sdf = fn(spark, SF_DIR)
    srows = sdf.collect()
    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        return  # rows-only query: running without error is the check
    res = ddb.sql(oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows), f"{name}: row count"
    assert sorted(sdf.columns) == sorted(dcols), f"{name}: schema"
    ms = rows_multiset(sdf.columns, [[r[c] for c in sdf.columns] for r in srows])
    md = rows_multiset(dcols, list(drows))
    assert ms == md, f"{name}: values differ"


def test_bench_stdout_line_fits_driver_tail():
    """The driver records only the last ~2000 chars of bench stdout and
    parses the final JSON line from that tail. Round 3's line overflowed
    it (BENCH_r03.json "parsed": null). Build the line with the REAL
    query-name set and worst-case-width values and assert the margin."""
    import bench
    names = list(entrymod.queries().keys())
    pipe = {"rows": 99_999_999, "seconds": 9999.999,
            "turns_per_sec": 999999.9}
    queries = {n: 9999.999 for n in names}
    out = bench.compact_line(pipe, queries, [999999, 999999],
                             sf_dir="/root/testdata/sf0.1", cpus=32)
    assert len(out) < 1900
    import json
    parsed = json.loads(out)
    assert parsed["unit"] == "sec"
    assert set(parsed["queries"]) == set(names) | {"pipeline"}
