"""Physical-plan shape gates for the session-3 operators — assert the
100×-survivable plan, not just the answer (same discipline as
tests/test_curation.py::TestPlanShapes)."""

import pytest
from pyspark.sql import functions as F

from log2seq_spark.operators import (anomaly, eventseq, fuzzyjoin,
                                     gapfill, scrub)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


class TestSession3PlanShapes:
    def test_fuzzy_pairs_never_plans_a_product(self, spark):
        df = spark.createDataFrame([("abc",), ("abd",), ("xyz",)],
                                   "s string")
        p = _plan(fuzzyjoin.fuzzy_self_pairs(df, "s"))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p

    def test_robust_outliers_stats_join_back_is_broadcast(self, spark):
        df = spark.createDataFrame([("t", float(i)) for i in range(10)],
                                   "event_type string, value double")
        p = _plan(anomaly.robust_outliers(df, "value", ("event_type",)))
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p

    def test_fill_gaps_fuses_both_frames_into_one_window(self, spark):
        import datetime as dt
        df = spark.createDataFrame(
            [("k", dt.datetime(2024, 1, 1, h), 1.0) for h in (0, 3)],
            "key string, ts timestamp, value double")
        p = _plan(gapfill.fill_gaps(df))
        # LOCF (preceding) + next-obs (following) share one partitioning
        # and ordering -> Spark plans a single Window operator
        assert p.count("Window") == 1

    def test_transition_matrix_no_product(self, spark):
        import datetime as dt
        df = spark.createDataFrame(
            [(0, 1, dt.datetime(2024, 1, 1), "a")],
            "event_id long, user_id long, ts timestamp, event_type string")
        p = _plan(eventseq.transition_matrix(df))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p

    def test_normalize_text_is_map_only_with_one_arrow_hop(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        p = _plan(scrub.normalize_text(df))
        assert "Exchange" not in p
        assert "ArrowEvalPython" in p   # the NFC batch UDF, nothing else
        assert p.count("ArrowEvalPython") == 1
