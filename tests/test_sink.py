"""The pipeline's partitioned parquet writer
(``plans.pipeline.write_partitioned``): dynamic partition overwrite set
per writer, and a read-back that prunes on the partition columns."""

import os

from pyspark.sql import functions as F

from log2seq_spark.plans.pipeline import write_partitioned


class TestParquetWriter:
    def test_dynamic_overwrite_keeps_untouched_partitions(
            self, spark, tmpdir_path):
        dest = os.path.join(tmpdir_path, "t")
        df1 = spark.createDataFrame(
            [("a", 1), ("b", 2)], "k string, v int")
        write_partitioned(df1, dest, ["k"])
        # second write touches only partition b; a must survive
        df2 = spark.createDataFrame([("b", 99)], "k string, v int")
        write_partitioned(df2, dest, ["k"])
        out = {(r["k"], r["v"]) for r in spark.read.parquet(dest).collect()}
        assert out == {("a", 1), ("b", 99)}
        # session conf was never mutated
        assert spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                              "STATIC").upper() == "STATIC"

    def test_read_partitioned_round_trips_through_seam(
            self, spark, tmpdir_path):
        dest = os.path.join(tmpdir_path, "rt")
        df = spark.createDataFrame(
            [("a", 1), ("b", 2), ("b", 3)], "k string, v int")
        write_partitioned(df, dest, ["k"])
        back = spark.read.parquet(dest)
        assert {(r["k"], r["v"]) for r in back.collect()} == \
            {("a", 1), ("b", 2), ("b", 3)}
        # partition column k is reconstructed, so a filter on it prunes
        # at scan time (PartitionFilters) rather than post-scan
        plan = back.filter(F.col("k") == "b")._jdf.queryExecution() \
                   .executedPlan().toString()
        assert "PartitionFilters: [" in plan and "isnotnull(k" in plan
