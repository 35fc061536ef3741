"""Fixed per-task Python cost of the parse → enrich → route path.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, which re-reads the central directory of every cached
``zipimporter`` (``pyspark.zip``, the py4j zip, the ``spark-core`` jar).
The product UDF bodies drop those finders, and the pipeline's small
driver-side frames plan as ``LocalTableScan`` so that no job starts
Python workers only to unpickle a handful of rows."""

import json
import os
import pathlib
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from log2seq_spark.operators import funnel
from log2seq_spark.plans import pipeline as pl
from log2seq_spark.sources.transcripts import (role_dim, severity_dim,
                                               tool_dim, transcripts)

ROOT = pathlib.Path(__file__).resolve().parent.parent

# one Python worker (local[1], worker reuse on): probe its zip finders,
# run a with_parsed job on it, probe again
_PROBE = r"""
import json
from log2seq_spark.functions.udf import with_parsed
from log2seq_spark.rules.presets import default_program
from log2seq_spark.session import get_spark

spark = get_spark(master="local[1]",
                  extra_conf={"spark.ui.enabled": "false",
                              "spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")


def probe(batches):
    import sys
    import zipimport
    import pyarrow as pa
    for _ in batches:
        pass
    n = sum(isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values())
    yield pa.RecordBatch.from_pylist([{"n": n}])


def zip_finders():
    return (spark.range(1, numPartitions=1)
            .mapInArrow(probe, "n long").collect()[0]["n"])


zip_finders()
before = zip_finders()
lines = spark.createDataFrame(
    [(f"Jan  1 00:00:0{i} host app[1]: INFO x {i}",) for i in range(8)],
    "text string").repartition(3)
(with_parsed(lines, default_program(), ts_col=None, default_year=2024)
 .write.format("noop").mode("overwrite").save())
print(json.dumps({"before": before, "after": zip_finders()}))
spark.stop()
"""


def test_parse_tasks_leave_no_zip_finders():
    env = dict(os.environ, PYTHONPATH=str(ROOT),
               SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", _PROBE], env=env,
                         cwd=str(ROOT), capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    if got["before"] == 0:
        pytest.skip("these Python workers import nothing from zip archives")
    assert got["after"] == 0, got


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _local_only(plan):
    return "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_dims_plan_as_local_table_scans(spark):
    frames = {dim.__name__: dim(spark)
              for dim in (role_dim, tool_dim, severity_dim)}
    # the other leaf of each of these plans is a Parquet scan or a Range:
    # the band dim and the stage-order frame are their only driver-side
    # frames
    frames["route_severity_counts"] = entry.q_route_severity_counts(
        spark, entry.SF_SMOKE)
    docs = spark.range(20).withColumn("n", F.col("id") % 4)
    frames["funnel_census"] = funnel.funnel_census(
        docs, [("nonzero", F.col("n") > 0), ("small", F.col("n") < 3)])
    for name, df in frames.items():
        assert _local_only(_plan(df)), name


def test_sink_count_frame_plans_as_local_table_scan(spark, tmpdir_path,
                                                    monkeypatch):
    plans = {}
    write = pl.write_partitioned

    def spy(df, dest, *a, **k):
        plans[os.path.basename(dest)] = _plan(df)
        return write(df, dest, *a, **k)

    monkeypatch.setattr(pl, "write_partitioned", spy)
    turns = transcripts(spark, 10, seed=7, partitions=2)
    cfg = pl.PipelineConfig(out_dir=tmpdir_path, n_buckets=2, partitions=2)
    pl.run_pipeline(spark, turns, cfg, resume=False)
    assert _local_only(plans[pl.AGG_SINK]), plans[pl.AGG_SINK]
