"""Extra presets (HDFS / HPC / Spark-log styles from the reference's
loghub examples) + astimezone + reformat_timestamp=False behavior, on
both the pure oracle and the vectorized engine."""

import datetime

import pandas as pd
import pytest

from log2seq_spark.rules import (LineEngine, RuleProgram, HeaderRule,
                                 date, time_of_day, hostname, statement)
from log2seq_spark.rules.presets import (hdfs_program, hpc_program,
                                         spark_log_program, default_actions)
from parsed_frame import parse_frame

HDFS_LINE = ("081109 203615 148 INFO dfs.DataNode$PacketResponder: "
             "PacketResponder 1 for block blk_38865049064139660 terminating")
HPC_LINE = ("134681 node-246 unix.hw state_change.unavailable 1077804742 1 "
            "Component State Change: Component alt0 is in the unavailable "
            "state (HWID=1973)")
SPARK_LINE = ("17/06/09 20:10:40 INFO executor.CoarseGrainedExecutorBackend: "
              "Started daemon with process name: 30991@mesos-slave-07")


class TestHdfs:
    def test_oracle(self):
        eng = LineEngine(hdfs_program())
        d = eng.parse_line(HDFS_LINE)
        assert d["timestamp"] == datetime.datetime(2008, 11, 9, 20, 36, 15)
        assert d["processid"] == 148
        assert d["level"] == "INFO"
        assert d["component"] == "dfs.DataNode$PacketResponder"
        assert d["words"][0] == "PacketResponder"

    def test_vectorized_matches(self):
        out = parse_frame(hdfs_program(), [HDFS_LINE])
        row = out.iloc[0]
        assert pd.Timestamp(row["ts"]) == pd.Timestamp(2008, 11, 9, 20, 36, 15)
        assert int(row["processid"]) == 148
        assert row["level"] == "INFO"
        eng = LineEngine(hdfs_program())
        assert row["words"] == eng.parse_line(HDFS_LINE)["words"]


class TestHpc:
    def test_oracle_keeps_raw_timestamp(self):
        eng = LineEngine(hpc_program())
        d = eng.parse_line(HPC_LINE)
        assert d["logid"] == 134681
        assert d["node"] == "node-246"
        assert d["component"] == "unix.hw"
        assert d["state"] == "state_change.unavailable"
        # reformat_timestamp=False: the epoch stays as the picked value
        assert d["timestamp"] == datetime.datetime(
            2004, 2, 26, 14, 12, 22, tzinfo=datetime.timezone.utc)
        assert d["flag"] == "1"

    def test_ignore_failure(self):
        eng = LineEngine(hpc_program())
        assert eng.parse_line("!!!") is None

    def test_vectorized_attrs(self):
        out = parse_frame(hpc_program(), [HPC_LINE, "!!!"])
        row = out.iloc[0]
        assert int(row["logid"]) == 134681
        assert row["node"] == "node-246"
        # vectorized reformat=False keeps the raw matched string
        assert row["timestamp"] == "1077804742"
        assert out.iloc[1]["rule_id"] == -1


class TestSparkLog:
    def test_rule1(self):
        eng = LineEngine(spark_log_program())
        d = eng.parse_line(SPARK_LINE)
        assert d["rule_id"] == 0
        assert d["timestamp"] == datetime.datetime(2017, 6, 9, 20, 10, 40)
        assert d["level"] == "INFO"
        assert d["component"] == "executor.CoarseGrainedExecutorBackend"

    def test_fallback_catches_everything(self):
        eng = LineEngine(spark_log_program())
        d = eng.parse_line("free-form continuation line )(!")
        assert d["rule_id"] == 1
        assert d["message"] == "free-form continuation line )(!"
        assert "timestamp" not in d

    def test_vectorized_cascade(self):
        out = parse_frame(spark_log_program(), [SPARK_LINE, "free-form line"])
        assert out.iloc[0]["rule_id"] == 0
        assert out.iloc[1]["rule_id"] == 1
        assert out.iloc[1]["message"] == "free-form line"


class TestAstimezone:
    def test_oracle_and_vectorized(self):
        rule = HeaderRule(fields=(date(), time_of_day(), hostname("host"),
                                  statement()),
                          astimezone_sec=9 * 3600)
        prog = RuleProgram((rule,), default_actions())
        eng = LineEngine(prog)
        # aware input: +00:00 → +09:00 shifts the wall clock
        d = eng.parse_line("2020-05-02 10:00:00Z myhost msg here")
        assert d["timestamp"] == datetime.datetime(
            2020, 5, 2, 19, 0, 0,
            tzinfo=datetime.timezone(datetime.timedelta(hours=9)))
        # naive input treated as UTC (documented divergence)
        d2 = eng.parse_line("2020-05-02 10:00:00 myhost msg here")
        assert d2["timestamp"].hour == 19

        out = parse_frame(prog, ["2020-05-02 10:00:00Z myhost msg here",
                                 "2020-05-02 10:00:00 myhost msg here"])
        assert out.iloc[0]["ts"].hour == 19
        assert out.iloc[1]["ts"].hour == 19
        assert out.iloc[0]["tz_sec"] == 9 * 3600
