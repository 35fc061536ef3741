"""Deterministic hash-based sampling: reproducibility, rate accuracy,
stratified rates, and independence from partitioning (the property
``df.sample`` lacks)."""

import pytest
from pyspark.sql import functions as F

from log2seq_spark.operators import sampling


def _sample(df, rate, seed=0):
    """The hash-sampled rows: ``leakage_safe_split``'s 'val' side with
    no clusters is membership ``hash_bucket(id) < rate * N_BUCKETS``."""
    return (sampling.leakage_safe_split(df, val_rate=rate, seed=seed)
            .filter("split = 'val'"))


@pytest.fixture(scope="module")
def table(spark):
    return spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.element_at(F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
                     (F.pmod("id", F.lit(3)) + 1).cast("int")).alias("lang"))


class TestHashSample:
    def test_rate_and_determinism(self, spark, table):
        a = {r["doc_id"] for r in
             _sample(table, 0.25).collect()}
        b = {r["doc_id"] for r in
             _sample(table.repartition(13), 0.25).collect()}
        assert a == b                      # partitioning-independent
        assert 0.2 < len(a) / 4000 < 0.3   # ~25%

    def test_seed_changes_membership(self, table):
        a = {r["doc_id"] for r in
             _sample(table, 0.5, seed=0).collect()}
        b = {r["doc_id"] for r in
             _sample(table, 0.5, seed=1).collect()}
        assert a != b
        # overlap ≈ rate², not 0 and not 100%
        assert 0.1 < len(a & b) / 4000 < 0.4

    def test_edge_rates(self, table):
        assert _sample(table, 0.0).count() == 0
        assert _sample(table, 1.0).count() == 4000

    def test_stratified_rates(self, table):
        out = sampling.stratified_sample(
            table, "lang", {"en": 1.0, "de": 0.25}, default_rate=0.0)
        by = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert by["en"] == 1334            # every en row kept
        assert "fr" not in by              # default 0
        assert 0.15 < by["de"] / 1333 < 0.35


def test_rate_unbiased(spark):
    # regression for the 4-hex-char modulo bias: 65536 values mod 10000
    # made buckets 0-5535 7/6 as likely, so rate=0.1 actually kept
    # ~10.68% and rate=0.5 kept ~53.4%. With 8 hex chars the observed
    # rates over 20k sequential ids sit within sampling noise.
    from log2seq_spark.operators import sampling
    t = spark.range(20000).withColumnRenamed("id", "doc_id")
    for rate in (0.1, 0.5):
        got = _sample(t, rate).count() / 20000
        assert abs(got - rate) < 0.005, (rate, got)


class TestLeakageSafeSplit:
    def _clusters(self, spark):
        # families: {1,2,3}, {10,11}; everything else unclustered
        return spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
            ["doc_id", "cluster_id"])

    def test_families_never_straddle(self, spark):
        from log2seq_spark.operators import sampling
        docs = spark.range(2000).withColumnRenamed("id", "doc_id")
        cl = self._clusters(spark)
        out = sampling.leakage_safe_split(docs, cl, val_rate=0.5)
        side = {r["doc_id"]: r["split"] for r in out.collect()}
        assert side[1] == side[2] == side[3]
        assert side[10] == side[11]
        # both sides populated at 50%
        assert {"train", "val"} == set(side.values())

    def test_no_clusters_matches_hash_sample(self, spark):
        from log2seq_spark.operators import sampling
        docs = spark.range(4000).withColumnRenamed("id", "doc_id")
        val = {r["doc_id"] for r in
               sampling.leakage_safe_split(docs, val_rate=0.2)
               .filter("split = 'val'").collect()}
        sampled = {r["doc_id"] for r in docs.filter(
            sampling.hash_bucket(F.col("doc_id")) < 2000).collect()}
        assert val == sampled

    def test_rate_approx(self, spark):
        from log2seq_spark.operators import sampling
        docs = spark.range(20000).withColumnRenamed("id", "doc_id")
        out = sampling.leakage_safe_split(docs, self._clusters(spark),
                                          val_rate=0.1)
        got = out.filter("split = 'val'").count() / 20000
        assert abs(got - 0.1) < 0.01

    def test_schema_untouched_plus_split(self, spark):
        from log2seq_spark.operators import sampling
        docs = spark.createDataFrame([(1, "a"), (5, "b")],
                                     ["doc_id", "text"])
        out = sampling.leakage_safe_split(docs, self._clusters(spark))
        assert out.columns == ["doc_id", "text", "split"]


class TestWeightedSample:
    def _docs(self, spark, weights):
        from pyspark.sql import functions as F  # noqa: F401
        return spark.createDataFrame(
            [(i, w) for i, w in enumerate(weights)],
            "doc_id long, w double")

    def test_deterministic_and_without_replacement(self, spark):
        from log2seq_spark.operators import sampling
        docs = self._docs(spark, [float(i % 7 + 1) for i in range(100)])
        a = [r["doc_id"] for r in
             sampling.weighted_sample(docs, 10, "w").collect()]
        b = [r["doc_id"] for r in
             sampling.weighted_sample(docs, 10, "w").collect()]
        assert a == b
        assert len(set(a)) == 10

    def test_weight_proportionality(self, spark):
        from log2seq_spark.operators import sampling
        # 300 heavy (w=10) + 300 light (w=1): across seeds, heavy ids
        # must dominate the sample decisively
        docs = self._docs(spark, [10.0] * 300 + [1.0] * 300)
        heavy = light = 0
        for seed in range(6):
            sel = [r["doc_id"] for r in sampling.weighted_sample(
                docs, 30, "w", seed=seed).collect()]
            heavy += sum(1 for i in sel if i < 300)
            light += sum(1 for i in sel if i >= 300)
        assert heavy + light == 180
        assert heavy > 4 * light

    def test_nonpositive_and_null_weights_excluded(self, spark):
        from log2seq_spark.operators import sampling
        docs = spark.createDataFrame(
            [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)],
            "doc_id long, w double")
        sel = {r["doc_id"] for r in
               sampling.weighted_sample(docs, 10, "w").collect()}
        assert sel == {1, 5}

    def test_plans_take_ordered_not_global_sort(self, spark):
        from log2seq_spark.operators import sampling
        docs = self._docs(spark, [1.0] * 50)
        p = (sampling.weighted_sample(docs, 5, "w")
             ._jdf.queryExecution().executedPlan().toString())
        assert "TakeOrderedAndProject" in p
