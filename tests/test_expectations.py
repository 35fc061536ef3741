"""Single-pass table-level data-quality gates."""

import pytest
from pyspark.sql import functions as F

from log2seq_spark.operators import expectations as ex


@pytest.fixture(scope="module")
def turns(spark):
    return spark.range(1000).select(
        F.concat(F.lit("c"), F.pmod("id", F.lit(50))).alias("conv_id"),
        (F.col("id") / 50).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant")),
            (F.pmod("id", F.lit(2)) + 1).cast("int")).alias("role"),
        F.concat(F.lit("turn text "), F.col("id")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.col("id").alias("uid"))


class TestChecks:
    def test_clean_table_passes_the_transcript_gate(self, turns):
        report = ex.evaluate(turns, ex.transcript_checks())
        assert all(r["passed"] for r in report)
        assert len(report) == 7

    def test_single_pass(self, turns):
        # all checks compile into ONE aggregate: the report comes from
        # one job regardless of how many checks are stacked
        checks = ex.transcript_checks() + [
            ex.unique("uid"), ex.in_range("uid", 0, 999),
            ex.matches("conv_id", r"^c\d+$"),
        ]
        report = ex.evaluate(turns, checks)
        assert all(r["passed"] for r in report), report

    def test_violations_carry_observations(self, spark):
        df = spark.range(100).select(
            F.when(F.col("id") < 7, None)
             .otherwise(F.col("id")).alias("k"),
            F.pmod("id", F.lit(5)).alias("v"))
        report = ex.evaluate(df, [
            ex.not_null("k"),                       # 7% nulls -> fail
            ex.not_null("k", max_null_frac=0.10),   # pass
            ex.in_range("v", lo=0, hi=3),           # v=4 rows -> fail
            ex.accepted_values("v", [0, 1, 2, 3, 4]),
            ex.row_count(1, 50),                    # 100 rows -> fail
        ])
        by = {r["check"]: r for r in report}
        assert not report[0]["passed"]
        assert "7 nulls" in report[0]["observed"]
        assert report[1]["passed"]
        assert report[1]["expected"].endswith("0.1")
        assert not by["in_range(v)"]["passed"]
        assert "observed [0, 4]" in by["in_range(v)"]["observed"]
        assert by["accepted_values(v)"]["passed"]
        assert not by["row_count"]["passed"]

    def test_unique_exact_and_approx(self, spark):
        dup = spark.range(1000).select(
            F.pmod("id", F.lit(500)).alias("k"))   # every key twice
        uniq = spark.range(1000).select(F.col("id").alias("k"))
        assert not ex.evaluate(dup, [ex.unique("k")])[0]["passed"]
        assert ex.evaluate(uniq, [ex.unique("k")])[0]["passed"]
        assert ex.evaluate(uniq,
                           [ex.unique("k", approx=False)])[0]["passed"]
        # nulls are not key violations
        with_null = uniq.union(
            spark.range(5).select(F.lit(None).cast("bigint").alias("k")))
        assert ex.evaluate(with_null,
                           [ex.unique("k", approx=False)])[0]["passed"]

    def test_satisfies_engine_invariant(self, spark):
        df = spark.range(50).select(
            F.array(F.lit("a"), F.lit("b")).alias("words"),
            F.array(F.lit(""), F.lit(" "), F.lit("")).alias("symbols"))
        ok = ex.evaluate(df, [ex.satisfies(
            "reconstruction", "size(symbols) = size(words) + 1")])
        assert ok[0]["passed"]

    def test_empty_frame(self, spark):
        df = spark.range(0).select(F.col("id").alias("k"))
        report = ex.evaluate(df, [ex.not_null("k"), ex.row_count(1)])
        by = {r["check"]: r for r in report}
        assert by["not_null(k)"]["passed"]      # no rows, no nulls
        assert not by["row_count"]["passed"]

    def test_same_column_at_two_thresholds(self, spark):
        df = spark.range(100).select(
            F.when(F.col("id") < 7, None)
             .otherwise(F.col("id")).alias("k"))
        report = ex.evaluate(df, [ex.not_null("k"),
                                  ex.not_null("k", 0.5)])
        assert [r["passed"] for r in report] == [False, True]

    def test_in_range_requires_a_bound(self, turns):
        with pytest.raises(ValueError, match="lo and/or hi"):
            ex.in_range("turn_idx")


class TestTableProfile:
    def test_profile(self, spark):
        from log2seq_spark.operators.expectations import table_profile
        a = spark.createDataFrame(
            [(1, "x", 1.0), (2, "y", None), (3, "x", 3.0)],
            "id long, s string, v double")
        pa = {r["column"]: r for r in
              table_profile(a, exact_distinct=True).collect()}
        assert pa["id"]["n"] == 3 and pa["id"]["n_null"] == 0
        assert pa["id"]["n_distinct"] == 3
        assert (pa["id"]["min_s"], pa["id"]["max_s"]) == ("1", "3")
        assert pa["v"]["n_null"] == 1 and pa["v"]["n_distinct"] == 2
        assert pa["s"]["n_distinct"] == 2
