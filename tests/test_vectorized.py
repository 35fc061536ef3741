"""Equality of the vectorized pandas engine vs the pure-Python oracle —
on every golden fixture line and on randomized preset-shaped lines."""

import datetime
import random

import numpy as np
import pandas as pd
import pytest

from log2seq_spark.rules import (LineEngine, ParseFailure, split, fix, fix_ip,
                                 remove, fix_partial, fix_parenthesis,
                                 remove_partial, conditional_split,
                                 compile_actions, tokenize_statement)
from log2seq_spark.rules.presets import default_program, apache_errorlog_program
from log2seq_spark.functions import BatchParser

from parsed_frame import parse_frame, tokenize_lists


GOLDEN_STATEMENTS = [
    "system[12345]: host 2001:0db8:1234::1 (interface:eth0) disconnected",
    " ", "", "a -> b", "::", ":::", "a  b   c", "x",
    "source 192.0.2.1.80 initialized.",
    'comment added: "This is a comment description" "This is second desc".',
    "%KERNEL-4-EVENT-7: host h1-i2.example.org scored -0.035 value (20.0%)",
    "2000 Mar 4 12:34:56.789: host: :: and 127.0.0.1 duplicated timestamp given.",
    "ver 1.2.3 mac de:ad:be:ef:00:11 ok",
    "tests: src :: is not link-local",
    "parsing sample.txt done.",
    "ip 10.0.0.0/8 blocked (rate=3.5) [warn] id=42;x",
]

ACTION_SETS = [
    default_program().actions,
    [split(" "), fix_ip(), split(":")],
    [split(" >"), remove("[^a-zA-Z0-9]+")],
    [split(" "), fix([r"\d+\.\d+\.\d+", r"([0-9a-f]{2}:){5}[0-9a-f]{2}"]), split(":")],
    [split(" "),
     fix_partial(r'^(?P<ipaddr>(\d{1,3}\.){3}\d{1,3})\.(?P<port>\d{1,5})$',
                 fix_groups=["ipaddr", "port"]),
     split(".")],
    [fix_parenthesis(['"', '"']), fix_parenthesis(['"', '"']), split(' .:"')],
    [fix_parenthesis(['"', '"'], recursive=True), split(' .:"')],
    [split(" "),
     remove_partial(r'^.*[^:](?P<colon>:)$', remove_groups=["colon"]),
     remove_partial(r'^.*[^.](?P<dot>\.)$', remove_groups=["dot"]),
     fix(r'^\d{2}:\d{2}:\d{2}\.\d{3}$'), fix_ip(), split(":")],
    [split(" ()"),
     remove_partial(r'^.*[^:](?P<colon>:)$', remove_groups=["colon"]),
     conditional_split(r'^%[A-Z]+-\d+(-[A-Z]+-\d+)?$', r'%-')],
]


def _random_lines(n=300, seed=7):
    rng = random.Random(seed)
    frags = ["system", "kernel", "sshd", "error", "ok", "1.2.3", "de:ad:be:ef:00:11",
             "192.0.2.7", "2001:db8::1", "10.0.0.0/8", "12:34:56", "::", "a-b",
             '"quoted text"', "(x:y)", "[pid]", "%SYS-5-RELOAD-2:", "path/to/file.txt",
             "port.8080", "192.0.2.1.443", "=", "a=b;c", "#", "", " ", "  "]
    seps = [" ", "  ", ": ", ", ", "=", "|", " > "]
    lines = []
    for _ in range(n):
        k = rng.randint(0, 9)
        parts = [rng.choice(frags) for _ in range(k)]
        sep = rng.choice(seps)
        lines.append(sep.join(parts))
    return lines


class TestTokenizerEquality:
    @pytest.mark.parametrize("ai", range(len(ACTION_SETS)))
    def test_golden_lines_all_action_sets(self, ai):
        actions = ACTION_SETS[ai]
        compiled = compile_actions(actions)
        vw, vs = tokenize_lists(actions, GOLDEN_STATEMENTS)
        for i, line in enumerate(GOLDEN_STATEMENTS):
            ew, es = tokenize_statement(compiled, line)
            assert vw[i] == ew, (ai, line)
            assert vs[i] == es, (ai, line)
            assert len(vs[i]) == len(vw[i]) + 1
            rebuilt = vs[i][0] + "".join(w + s for w, s in zip(vw[i], vs[i][1:]))
            assert rebuilt == line

    def test_randomized_default_actions(self):
        lines = _random_lines()
        actions = default_program().actions
        compiled = compile_actions(actions)
        vw, vs = tokenize_lists(actions, lines)
        for i, line in enumerate(lines):
            ew, es = tokenize_statement(compiled, line)
            assert vw[i] == ew, line
            assert vs[i] == es, line

    def test_null_statement(self):
        w, s = tokenize_lists(default_program().actions, [None, "", "a b"])
        assert w[0] is None and s[0] is None
        assert w[1] == [] and s[1] == [""]
        assert w[2] == ["a", "b"]


HEADER_LINES = [
    "Apr  1 02:23:45 host-name.example.org message here",
    "Jun 30 11:11:11.012345+09:00 2001:db8::beef something",
    "Jul 12 22:22:22-06:00 host something",
    "2020 May  2 22:22:22 192.0.2.1 message there",
    "2112-09-03 11:22:33 host something failure",
    "2112-09-03 01:02:03.987654+09:00 host something",
    "2112-09-03 11:22:33.012345 host something failure",
    "Jan  1 12:34:56 host-device1 system[12345]: host 2001:0db8:1234::1 "
    "(interface:eth0) disconnected",
    "GARBAGE no header at all !!",
    "", "   ",
    "Sep 31 00:00:00 h bad-calendar-day message",
]


class TestBatchParserEquality:
    def test_default_program_vs_oracle(self):
        program = default_program()
        oracle = LineEngine(program, default_year=2024)
        out = parse_frame(program, HEADER_LINES,
                          default_year=pd.Series([2024] * len(HEADER_LINES)))
        for i, line in enumerate(HEADER_LINES):
            row = out.iloc[i]
            try:
                exp = oracle.parse_line(line)
            except ParseFailure:
                assert row["rule_id"] == -1
                assert row["error"].startswith("header format mismatch")
                continue
            except ValueError:
                # bad calendar component: oracle (like the reference) blows
                # up; the vectorized engine reports an error row instead
                assert row["error"] is not None
                continue
            if exp is None:  # empty line
                assert row["rule_id"] == -2
                continue
            assert row["rule_id"] == exp["rule_id"]
            assert row["message"] == exp["message"]
            assert row["words"] == exp["words"]
            assert row["symbols"] == exp["symbols"]
            if "host" in exp:
                assert row["host"] == exp["host"]
            ets = exp["timestamp"]
            wall = ets.replace(tzinfo=None)
            assert pd.Timestamp(row["ts"]).to_pydatetime() == wall, line
            if ets.tzinfo is not None:
                assert row["tz_sec"] == ets.utcoffset().total_seconds()
            else:
                assert np.isnan(row["tz_sec"])

    def test_assembly_failure_fails_line_like_oracle(self):
        # a rule that MATCHES but cannot assemble its timestamp (year-less
        # syslog line, no default, no year_from_ts feed) must fail the
        # whole line — the reference's LogParseFailure propagates out of
        # the cascade (header.py:73-114), no half-parsed record, no retry
        # of later rules. The vectorized path used to emit the record
        # with an error annotation instead.
        program = default_program()
        line = "Jan  1 12:34:56 host1 app[1]: hi"
        with pytest.raises(ParseFailure, match="year"):
            LineEngine(program, default_year=None).parse_line(line)
        out = parse_frame(program, [line], default_year=None)
        row = out.iloc[0]
        assert row["rule_id"] == -1
        assert row["message"] is None and row["words"] is None
        assert row["host"] is None               # no attrs either
        assert "timestamp part missing" in row["error"]

    def test_apache_program_vs_oracle(self):
        program = apache_errorlog_program()
        oracle = LineEngine(program)
        bp = BatchParser(program)
        lines = [
            "[Wed Oct 11 14:32:52 2000] [error] [client 127.0.0.1] "
            "client denied by server configuration: /export/home/live/ap/htdocs/test",
            "[Fri Sep 09 10:42:29.902022 2011] [core:error] "
            "[pid 35708:tid 4328636416] [client 72.15.99.187] "
            "File does not exist: /usr/local/apache2/htdocs/favicon.ico",
            "[Mon Dec 05 08:10:12.123456 2016] [mpm_event:notice] "
            "[pid 1:tid 2] AH00489: Apache configured",
            "[Mon Dec 05 08:10:12.123456 2016] [authz_core:error] "
            "[pid 1:tid 2] [client 1.2.3.4] AH01630: client denied",
        ]
        out = parse_frame(program, lines)
        schema_names = [n for n, _ in bp.attr_schema]
        assert {"severityname", "modulename", "processid", "threadid", "host"} \
            <= set(schema_names)
        for i, line in enumerate(lines):
            exp = oracle.parse_line(line)
            row = out.iloc[i]
            assert row["rule_id"] == exp["rule_id"]
            assert row["message"] == exp["message"]
            assert row["words"] == exp["words"]
            for key in ("severityname", "modulename", "host"):
                if key in exp:
                    assert row[key] == exp[key], (key, line)
            for key in ("processid", "threadid"):
                if key in exp:
                    assert int(row[key]) == exp[key]
            assert pd.Timestamp(row["ts"]).to_pydatetime() == \
                exp["timestamp"].replace(tzinfo=None)

    def test_mixed_scale_batch(self):
        program = default_program()
        oracle = LineEngine(program, default_year=2024)
        lines = (HEADER_LINES * 50) + _random_header_lines(500)
        out = parse_frame(program, lines,
                          default_year=pd.Series([2024.0] * len(lines)))
        n_checked = 0
        for i, line in enumerate(lines):
            try:
                exp = oracle.parse_line(line)
            except (ParseFailure, ValueError):
                assert out.iloc[i]["error"] is not None
                continue
            if exp is None:
                continue
            row = out.iloc[i]
            assert row["words"] == exp["words"], line
            assert row["symbols"] == exp["symbols"], line
            n_checked += 1
        assert n_checked > 400


def _random_header_lines(n, seed=13):
    rng = random.Random(seed)
    months = ["Jan", "Mar", "Jul", "Dec"]
    hosts = ["h1", "host-2.example.org", "192.0.2.9", "2001:db8::2"]
    msgs = ["session opened for user root", "error: failed password (attempt:3)",
            "link up eth0 10.0.0.0/24", "restart 12:00:01 done.",
            'config "a=b" applied']
    out = []
    for _ in range(n):
        style = rng.random()
        if style < 0.5:
            out.append(f"{rng.choice(months)} {rng.randint(1, 28):2d} "
                       f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:"
                       f"{rng.randint(0, 59):02d} {rng.choice(hosts)} {rng.choice(msgs)}")
        elif style < 0.9:
            out.append(f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} "
                       f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:"
                       f"{rng.randint(0, 59):02d} {rng.choice(hosts)} {rng.choice(msgs)}")
        else:
            out.append("!! unparseable " + str(rng.random()))
    return out
