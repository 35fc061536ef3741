"""Template-anomaly surfaces: drift between two corpora, per-line
template assignment + rarity, and burst detection."""

import pytest
from pyspark.sql import functions as F

from log2seq_spark.operators import anomaly, templates


def _lines(spark, rows):
    return spark.createDataFrame([(t,) for t in rows], "text string")


class TestTemplateDrift:
    def test_statuses(self, spark):
        a = _lines(spark,
                   ["login user alice ok"] * 8
                   + ["login user bob ok"] * 8
                   + ["restart daemon now"] * 2
                   + ["disk full on node1"]
                   + ["ping ok now yes"])          # tot_a = 20
        b = _lines(spark,
                   ["login user carol ok", "login user dave ok"]
                   + ["restart daemon now"] * 15
                   + ["oom killer invoked"] * 2
                   + ["ping ok now yes"])          # tot_b = 20
        out = {r["template"]: r for r in
               anomaly.template_drift(a, b, factor=4).collect()}
        assert len(out) == 5
        assert out["login user <*> ok"]["status"] == "drop"
        assert (out["login user <*> ok"]["n_a"],
                out["login user <*> ok"]["n_b"]) == (16, 2)
        assert out["restart daemon now"]["status"] == "surge"
        assert out["disk full on node1"]["status"] == "vanished"
        assert out["disk full on node1"]["n_b"] == 0
        assert out["oom killer invoked"]["status"] == "new"
        assert out["oom killer invoked"]["n_a"] == 0
        assert out["ping ok now yes"]["status"] == "stable"

    def test_share_not_count(self, spark):
        # corpus B is 10x corpus A overall; a template that grew 10x in
        # raw count kept its SHARE and must stay stable
        a = _lines(spark, ["alpha beta"] * 5 + ["gamma delta"] * 5)
        b = _lines(spark, ["alpha beta"] * 50 + ["gamma delta"] * 50)
        out = {r["template"]: r["status"]
               for r in anomaly.template_drift(a, b).collect()}
        assert set(out.values()) == {"stable"}


class TestAssignTemplates:
    def test_assignment_and_rarity(self, spark):
        rows = (["login user alice ok"] * 3 + ["login user bob ok"]
                + ["disk full on node1"] + [""])
        out = anomaly.rare_template_lines(
            _lines(spark, rows), max_lines=1).collect()
        by_text = {}
        for r in out:
            by_text.setdefault(r["text"], r)
        login = by_text["login user alice ok"]
        assert login["template"] == "login user <*> ok"
        assert login["template_lines"] == 4 and not login["is_rare"]
        disk = by_text["disk full on node1"]
        assert disk["template"] == "disk full on node1"
        assert disk["template_lines"] == 1 and disk["is_rare"]
        empty = by_text[""]
        assert empty["template"] is None and empty["is_rare"]
        assert len(out) == len(rows)  # left join never drops lines

    def test_assign_against_merged_state(self, spark):
        # the incremental path: assign batch-B lines against state mined
        # over A union B == assigning against mining the union directly
        a = _lines(spark, ["job 12 done", "job 13 done"])
        b = _lines(spark, ["job 99 done", "node up fine"])
        merged = templates.merge_profiles(
            templates.position_profiles(a), templates.position_profiles(b))
        out = {r["text"]: r["template"]
               for r in anomaly.assign_templates(b, profile=merged).collect()}
        # across A+B the job id position varies, so B's line maps onto
        # the union-mined template even though B alone saw one id
        assert out["job 99 done"] == "job <*> done"
        assert out["node up fine"] == "node up fine"


class TestBurstWindows:
    def test_bursts_with_gap(self, spark):
        # windows (10s): w0 n=2, w1 n=3, w2 gap, w3 n=12, w4 n=1
        secs = [1, 2] + [11, 12, 13] + [31] * 12 + [41]
        df = spark.createDataFrame([(s,) for s in secs], "sec long") \
                  .select(F.timestamp_seconds("sec").alias("ts"))
        out = {int(r["window_start"]): r for r in
               anomaly.burst_windows(df, "ts", window="10 seconds",
                                     trailing=2, mult=2).collect()}
        assert set(out) == {0, 10, 30, 40}
        assert not out[0]["is_burst"] and out[0]["base_windows"] == 0
        assert not out[10]["is_burst"]          # 3 <= 2*2
        w3 = out[30]
        # gap at w2: baseline is w1 only (1 window, 3 events), not a
        # stale stretch back to w0
        assert (w3["base_n"], w3["base_windows"]) == (3, 1)
        assert w3["is_burst"]                   # 12 > 2*3
        assert not out[40]["is_burst"]          # 1 <= 2*12

    def test_per_key_and_min_windows(self, spark):
        secs = [("a", 1), ("a", 11), ("a", 12), ("a", 13),
                ("b", 11), ("b", 12)]
        df = spark.createDataFrame(secs, "k string, sec long") \
                  .select("k", F.timestamp_seconds("sec").alias("ts"))
        out = {(r["k"], int(r["window_start"])): r for r in
               anomaly.burst_windows(df, "ts", key_col="k",
                                     window="10 seconds", trailing=2,
                                     mult=2, min_windows=1).collect()}
        assert out[("a", 10)]["is_burst"]       # 3 > 2*1, baseline from a
        # b's first window has no baseline: never a burst under min_windows
        assert not out[("b", 10)]["is_burst"]
        assert out[("b", 10)]["base_windows"] == 0


    def test_duration_ms_compound_intervals(self):
        # any spec F.window accepts must parse here too
        from log2seq_spark.operators.anomaly import duration_ms
        assert duration_ms("30 minutes") == 1_800_000
        assert duration_ms("1 hour 30 minutes") == 5_400_000
        assert duration_ms("1 day 2 hours 3 seconds") == 93_603_000
        with pytest.raises(ValueError, match="cannot parse"):
            duration_ms("90")
        with pytest.raises(ValueError, match="cannot parse"):
            duration_ms("1 fortnight")


class TestNovelLineFlags:
    def test_verdicts_against_prior_state(self, spark):
        history = _lines(spark, ["job 12 done", "job 13 done",
                                 "node up fine"])
        prior = templates.position_profiles(history)
        batch = _lines(spark, ["job 99 done",       # known shape
                               "disk failure now",  # brand-new shape
                               "node up fine",      # known, but rare
                               ""])                 # zero-token
        out = {r["text"]: r for r in
               anomaly.novel_line_flags(batch, prior,
                                        max_lines=2).collect()}
        job = out["job 99 done"]
        # assigned against history ∪ batch: the id position varies
        assert job["template"] == "job <*> done"
        assert job["template_lines"] == 3 and not job["is_rare"]
        assert not job["is_new"]
        disk = out["disk failure now"]
        assert disk["is_new"] and disk["is_rare"]
        assert disk["template"] == "disk failure now"
        node = out["node up fine"]
        # seen before (not new) but still only 2 lines ever (<= max 2)
        assert not node["is_new"] and node["is_rare"]
        assert node["template_lines"] == 2
        empty = out[""]
        assert empty["template"] is None
        assert empty["is_new"] and empty["is_rare"]

    def test_common_within_batch_is_not_rare(self, spark):
        # a message that floods in for the first time IS new but NOT
        # rare: assignment runs against prior ∪ batch
        prior = templates.position_profiles(_lines(spark, ["boot ok"]))
        batch = _lines(spark, [f"oom killed pid {i}" for i in range(5)])
        rows = anomaly.novel_line_flags(batch, prior,
                                        max_lines=1).collect()
        assert all(r["is_new"] and not r["is_rare"] for r in rows)
        assert all(r["template"] == "oom killed pid <*>" for r in rows)


