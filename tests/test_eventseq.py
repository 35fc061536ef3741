"""Event-sequence analytics: ordered funnels + transition matrices."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from log2seq_spark.operators import eventseq


def _ev(spark, rows):
    # rows: (user_id, minute, event_type)
    data = [(i, u, dt.datetime(2024, 1, 1, 0, m), t)
            for i, (u, m, t) in enumerate(rows)]
    return spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp, "
              "event_type string")


class TestFunnel:
    def test_ordering_matters(self, spark):
        ev = _ev(spark, [
            (1, 0, "view"), (1, 1, "click"), (1, 2, "purchase"),  # full
            (2, 0, "view"), (2, 1, "click"),                      # 2 steps
            (3, 0, "click"), (3, 1, "view"),       # wrong order: view only
            (4, 5, "purchase"),                    # no view: nothing
        ])
        out = {r["step_idx"]: r for r in eventseq.funnel_conversions(
            ev, ["view", "click", "purchase"]).collect()}
        assert out[0]["n_converted"] == 3          # users 1, 2, 3
        assert out[1]["n_converted"] == 2          # users 1, 2
        assert out[2]["n_converted"] == 1          # user 1
        assert out[0]["rate"] == 1.0
        assert out[1]["rate"] == pytest.approx(2 / 3, abs=1e-6)
        assert out[2]["rate"] == 0.5

    def test_strictly_after_earliest(self, spark):
        # click at the SAME minute as the earliest view does not count;
        # a later view does not resurrect it (earliest-first semantics)
        ev = _ev(spark, [(1, 0, "view"), (1, 0, "click"), (1, 3, "view")])
        out = {r["step_idx"]: r["n_converted"]
               for r in eventseq.funnel_conversions(
                   ev, ["view", "click"]).collect()}
        assert out == {0: 1, 1: 0}

    def test_zero_base_rate(self, spark):
        ev = _ev(spark, [(1, 0, "view")])
        out = {r["step_idx"]: r["rate"] for r in
               eventseq.funnel_conversions(
                   ev, ["view", "click", "purchase"]).collect()}
        assert out[1] == 0.0 and out[2] == 0.0


class TestTransitions:
    def test_counts_and_probabilities(self, spark):
        ev = _ev(spark, [
            (1, 0, "a"), (1, 1, "b"), (1, 2, "a"), (1, 3, "c"),
            (2, 0, "a"), (2, 1, "b"),
        ])
        out = {(r["from_type"], r["to_type"]): r
               for r in eventseq.transition_matrix(ev).collect()}
        assert out[("a", "b")]["n"] == 2
        assert out[("a", "c")]["n"] == 1
        assert out[("b", "a")]["n"] == 1
        assert out[("a", "b")]["p"] == pytest.approx(2 / 3, abs=1e-6)
        assert out[("b", "a")]["p"] == 1.0
        # no cross-user transitions: user boundary respected
        assert ("c", "a") not in out

    def test_tie_break_on_event_id(self, spark):
        # same timestamp: event_id orders the stream deterministically
        ev = _ev(spark, [(1, 0, "x"), (1, 0, "y"), (1, 0, "z")])
        out = {(r["from_type"], r["to_type"]) for r in
               eventseq.transition_matrix(ev).collect()}
        assert out == {("x", "y"), ("y", "z")}


