"""Syslog PRI decoding tests (RFC 3164/5424 <PRI> prefix): code-table
lookups, invalid-PRI rejection, null propagation, and composition with
the header cascade over the stripped remainder."""

from pyspark.sql import functions as F

from log2seq_spark.functions.syslog import pri_expr


def _with_pri(df):
    return df.select("*", pri_expr(F.col("text")).alias("pri"))


def _decode(spark, *lines):
    df = spark.createDataFrame([(t,) for t in lines], "text string")
    return {r["text"]: r["pri"].asDict() for r in
            _with_pri(df).collect() if r["text"] is not None}


class TestPriDecode:
    def test_known_codes(self, spark):
        got = _decode(spark, "<34>Oct 11 22:14:15 host su: fail",
                      "<0>kernel panic", "<165>local msg", "<191>edge")
        a = got["<34>Oct 11 22:14:15 host su: fail"]
        assert (a["pri"], a["facility"], a["severity"]) == (34, 4, 2)
        assert (a["facility_name"], a["severity_name"]) == ("auth", "crit")
        assert a["rest"] == "Oct 11 22:14:15 host su: fail"
        assert _pick(got["<0>kernel panic"]) == (0, 0, "kern", "emerg")
        assert _pick(got["<165>local msg"]) == (20, 5, "local4", "notice")
        assert _pick(got["<191>edge"]) == (23, 7, "local7", "debug")

    def test_invalid_pri_treated_as_absent(self, spark):
        # >191 means facility >23 — not a real code table entry
        got = _decode(spark, "<192>too big", "<999>way big",
                      "no pri at all", "<>empty", "<12x>junk")
        for text, d in got.items():
            assert d["pri"] is None, text
            assert d["facility_name"] is None
            assert d["rest"] == text            # line passes through intact

    def test_null_text(self, spark):
        df = spark.createDataFrame([(None,)], "text string")
        r = _with_pri(df).collect()[0]["pri"]
        assert r["pri"] is None and r["rest"] is None

    def test_composes_with_header_cascade(self, spark):
        # PRI strip -> parse the remainder with the default preset: the
        # intended composition (pri.rest feeds with_parsed)
        from log2seq_spark.functions.udf import with_parsed
        from log2seq_spark.rules.presets import default_program
        df = spark.createDataFrame(
            [("<34>Jan  1 12:34:56 host1 su[7]: auth failure",)],
            "text string")
        stripped = _with_pri(df).select(F.col("pri.rest").alias("text"),
                                       F.col("pri.severity_name"))
        parsed = with_parsed(stripped, default_program(default_year=2023),
                             text_col="text", ts_col=None)
        r = parsed.select("severity_name", "parsed.host",
                          "parsed.words").collect()[0]
        assert r["severity_name"] == "crit"
        assert r["host"] == "host1"
        assert list(r["words"]) == ["su", "7", "auth", "failure"]

    def test_grok_5424pri_pattern(self, spark):
        # the grok dictionary's SYSLOG5424PRI matches the prefix as a
        # dummy so a grok cascade can skip it
        from log2seq_spark.rules.engine import LineEngine
        from log2seq_spark.rules.grok import grok_program
        prog = grok_program(
            "%{SYSLOG5424PRI}%{SYSLOGTIMESTAMP:timestamp} "
            "%{SYSLOGHOST:host} %{GREEDYDATA:message}",
            defaults=(("year", 2023),))
        r = LineEngine(prog).parse_line(
            "<34>Jan  1 12:34:56 host1 su[7]: auth failure")
        assert r["host"] == "host1"
        assert r["words"] == ["su", "7", "auth", "failure"]


def _pick(d):
    return (d["facility"], d["severity"], d["facility_name"],
            d["severity_name"])
