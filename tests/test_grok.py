"""Grok front-end tests: expression compilation, error surface, engine
goldens, grok-vs-item-rule equivalence, Spark vectorized parity, CLI.

Grok rules are ordinary HeaderRules (full_format + user fields), so
these tests pin the COMPILER; execution is the machinery already
parity-tested against the reference library."""

import datetime
import io
import re

import pytest

from log2seq_spark.rules.engine import LineEngine
from log2seq_spark.rules.grok import GROK_PATTERNS, grok_program, grok_rule
from log2seq_spark.rules.spec import RuleDefinitionError


class TestExpansion:
    def test_nested_references_resolve(self):
        # IPORHOST -> IPV4 -> literal fragment, all non-capturing
        prog = grok_program("%{IPORHOST:host}: %{GREEDYDATA:message}")
        pat = prog.header_rules[0].fields[0].user_pattern
        assert "%{" not in pat
        assert "(?P<" not in pat
        eng = LineEngine(prog)
        for host in ("10.0.0.1", "web-01.example.com"):
            assert eng.parse_line(f"{host}: up")["host"] == host
        with pytest.raises(Exception):
            eng.parse_line("not a host!: up")

    def test_unknown_pattern_raises(self):
        with pytest.raises(RuleDefinitionError, match="unknown grok"):
            grok_program("%{NO_SUCH_PATTERN:x} %{GREEDYDATA:message}")

    def test_cycle_raises(self):
        with pytest.raises(RuleDefinitionError, match="nesting exceeds"):
            grok_program("%{A:x} %{GREEDYDATA:message}",
                         pattern_definitions={"A": "%{B}", "B": "%{A}"})

    def test_nested_semantic_rejected(self):
        with pytest.raises(RuleDefinitionError, match="semantic"):
            grok_program("%{A:x} %{GREEDYDATA:message}",
                         pattern_definitions={"A": "x%{WORD:leak}y"})

    def test_builtin_patterns_all_expand_and_compile(self):
        for name in GROK_PATTERNS:
            rule = grok_rule(f"%{{{name}}} %{{GREEDYDATA:message}}")
            re.compile(rule.fields[0].user_pattern)


class TestCompileErrors:
    def test_no_references(self):
        with pytest.raises(RuleDefinitionError, match="no %"):
            grok_rule("just literal text")

    def test_missing_message(self):
        with pytest.raises(RuleDefinitionError, match="statement field"):
            grok_rule("%{LOGLEVEL:sev}")

    def test_duplicate_semantics(self):
        with pytest.raises(RuleDefinitionError, match="duplicate"):
            grok_rule("%{WORD:a} %{WORD:a} %{GREEDYDATA:message}")

    def test_int_hint_needs_digits_only(self):
        with pytest.raises(RuleDefinitionError, match="digits-only"):
            grok_rule("%{NUMBER:x:int} %{GREEDYDATA:message}")

    def test_unsupported_type_hint(self):
        with pytest.raises(RuleDefinitionError, match="type hint"):
            grok_rule("%{NUMBER:x:float} %{GREEDYDATA:message}")

    def test_timestamp_semantic_restricted(self):
        with pytest.raises(RuleDefinitionError, match="TIMESTAMP_ISO8601"):
            grok_rule("%{TIME:timestamp} %{GREEDYDATA:message}")

    def test_placeholder_collision_in_literal(self):
        with pytest.raises(RuleDefinitionError, match="<N>"):
            grok_rule("literal <0> %{GREEDYDATA:message}")


class TestEngineGolden:
    def test_syslog_timestamp_assembles(self):
        prog = grok_program(
            "%{SYSLOGTIMESTAMP:timestamp} %{HOSTNAME:host} "
            "%{GREEDYDATA:message}",
            defaults=(("year", 2023),))
        r = LineEngine(prog).parse_line(
            "Jan  1 12:34:56 host1 app[1]: INFO hi")
        assert r["timestamp"] == datetime.datetime(2023, 1, 1, 12, 34, 56)
        assert r["host"] == "host1"
        # default statement actions tokenize exactly like the preset
        assert r["words"] == ["app", "1", "INFO", "hi"]
        assert r["symbols"] == ["", "[", "]: ", " ", ""]

    def test_iso_timestamp_tz_and_fraction(self):
        prog = grok_program(
            "%{TIMESTAMP_ISO8601:timestamp} %{LOGLEVEL:severity} "
            "pid=%{POSINT:pid:int} %{GREEDYDATA:message}")
        r = LineEngine(prog).parse_line(
            "2024-03-04T05:06:07.123+02:00 WARN pid=991 disk low")
        assert r["timestamp"] == datetime.datetime(
            2024, 3, 4, 5, 6, 7, 123000,
            tzinfo=datetime.timezone(datetime.timedelta(hours=2)))
        assert r["severity"] == "WARN"
        assert r["pid"] == 991 and isinstance(r["pid"], int)

    def test_dummy_reference_matched_not_extracted(self):
        prog = grok_program("[%{LOGLEVEL}] (%{WORD:unit}) "
                            "%{GREEDYDATA:message}")
        r = LineEngine(prog).parse_line("[ERROR] (kernel) panic at 0xff")
        assert r["unit"] == "kernel"
        assert "timestamp" not in r          # reformat off, nothing to build
        assert not any(k in r for k in ("severity", "loglevel"))

    def test_dummy_alternation_does_not_leak(self):
        # LOGLEVEL is a top-level alternation; unwrapped it would turn
        # the whole template into "...|INFO|..." and match garbage
        prog = grok_program("[%{LOGLEVEL}] %{GREEDYDATA:message}")
        eng = LineEngine(prog)
        assert eng.parse_line("[WARN] ok")["message"] == "ok"
        with pytest.raises(Exception):
            eng.parse_line("WARN without brackets")

    def test_literal_regex_chars_escaped(self):
        prog = grok_program("(a+b) [x] %{GREEDYDATA:message}")
        r = LineEngine(prog).parse_line("(a+b) [x] rest")
        assert r["message"] == "rest"
        with pytest.raises(Exception):
            LineEngine(prog).parse_line("aab x rest")   # '+' must be literal

    def test_space_runs_match_whitespace_runs(self):
        # the engine's full_format convention: " " -> \s+
        prog = grok_program("%{WORD:a} %{GREEDYDATA:message}")
        r = LineEngine(prog).parse_line("go \t  now")
        assert r["a"] == "go" and r["message"] == "now"

    def test_custom_pattern_definitions(self):
        prog = grok_program(
            "%{REQID:req} %{GREEDYDATA:message}",
            pattern_definitions={"REQID": r"req-%{POSINT}"})
        r = LineEngine(prog).parse_line("req-778 handled")
        assert r["req"] == "req-778"

    def test_cascade_first_match_wins(self):
        prog = grok_program([
            "%{TIMESTAMP_ISO8601:timestamp} %{GREEDYDATA:message}",
            "%{SYSLOGTIMESTAMP:timestamp} %{GREEDYDATA:message}",
        ], defaults=(("year", 2022),))
        eng = LineEngine(prog)
        assert eng.parse_line("2024-01-02T03:04:05 iso")["rule_id"] == 0
        assert eng.parse_line("Mar  3 04:05:06 syslog")["rule_id"] == 1

    def test_equivalent_to_item_built_rule(self):
        # the grok syslog rule and the hand-built item rule must produce
        # byte-identical records over matching lines
        from log2seq_spark.rules.presets import default_actions
        from log2seq_spark.rules.spec import (HeaderRule, RuleProgram,
                                              digit, group, hostname,
                                              month_abbr, statement,
                                              time_of_day)
        items = RuleProgram(
            header_rules=(HeaderRule(
                fields=(group([month_abbr(), digit("day"), time_of_day()],
                              separator=" "),
                        hostname("host"), statement()),
                defaults=(("year", 2023),)),),
            actions=default_actions())
        grok = grok_program(
            "%{SYSLOGTIMESTAMP:timestamp} %{HOSTNAME:host} "
            "%{GREEDYDATA:message}", defaults=(("year", 2023),))
        e1, e2 = LineEngine(items), LineEngine(grok)
        for line in ("Jan  1 12:34:56 host1 app[1]: ok go",
                     "Dec 31 23:59:59 10.9.8.7 kern: x=1, y=[2]",
                     "Feb  2 01:02:03 a b c d"):
            assert e1.parse_line(line) == e2.parse_line(line)


class TestSparkParity:
    def test_vectorized_matches_engine(self, spark):
        prog = grok_program(
            "%{TIMESTAMP_ISO8601:timestamp} %{LOGLEVEL:severity} "
            "pid=%{POSINT:pid:int} %{IPORHOST:src} %{GREEDYDATA:message}")
        lines = [
            f"2024-03-0{1 + i % 9}T0{i % 10}:06:07 "
            f"{['INFO', 'WARN', 'error'][i % 3]} pid={i} "
            f"{['10.0.0.%d' % i, 'node-%d.local' % i][i % 2]} "
            f"event {i} at 0x{i:x}, unit=[u{i % 4}]"
            for i in range(40)
        ] + ["no match at all", ""]
        from log2seq_spark.functions.udf import with_parsed
        df = spark.createDataFrame([(t,) for t in lines], "text string")
        rows = (with_parsed(df, prog, ts_col=None)
                .select("text", "parsed.*").collect())
        eng = LineEngine(prog)
        by_text = {r["text"]: r for r in rows}
        for t in lines:
            got = by_text[t]
            if t == "" or t == "no match at all":
                assert got["message"] is None
                continue
            want = eng.parse_line(t)
            assert got["ts"] == want["timestamp"].replace(tzinfo=None)
            assert got["severity"] == want["severity"]
            assert got["pid"] == want["pid"]
            assert got["src"] == want["src"]
            assert got["message"] == want["message"]
            assert list(got["words"]) == want["words"]
            assert list(got["symbols"]) == want["symbols"]


class TestCLI:
    def test_parse_with_grok_flag(self, spark, capsys, monkeypatch):
        from log2seq_spark.__main__ import main
        monkeypatch.setattr("sys.stdin", io.StringIO(
            "Jan  1 12:34:56 host1 app[1]: ok one\n"
            "GARBAGE\n"))
        code = main(["parse", "--year", "2023", "--grok",
                     "%{SYSLOGTIMESTAMP:timestamp} %{HOSTNAME:host} "
                     "%{GREEDYDATA:message}", "-t", "words"])
        cap = capsys.readouterr()
        assert code == 0
        assert cap.out.splitlines() == ["app 1 ok one"]
        assert "1 ok, 1 failed" in cap.err

    def test_grok_compile_error_is_startup_error(self, spark, capsys,
                                                 monkeypatch):
        from log2seq_spark.__main__ import main
        monkeypatch.setattr("sys.stdin", io.StringIO("x\n"))
        code = main(["parse", "--grok", "%{NOPE:x} %{GREEDYDATA:message}"])
        assert code == 2

    def test_pipeline_with_grok_cascade(self, spark, tmp_path, capsys):
        # the pipeline's parse stage accepts a grok cascade like any
        # other program; both fixture header formats must route
        from log2seq_spark.__main__ import main
        turns, out = str(tmp_path / "turns"), str(tmp_path / "pipe")
        assert main(["generate", "--out", turns, "--convs", "30"]) == 0
        capsys.readouterr()
        code = main([
            "pipeline", "--input", turns, "--out", out, "--buckets", "2",
            "--grok", "%{SYSLOGTIMESTAMP:timestamp} %{HOSTNAME:host} "
                      "%{GREEDYDATA:message}",
            "--grok", "%{DATESTAMP:timestamp} %{HOSTNAME:host} "
                      "%{GREEDYDATA:message}",
        ])
        err = capsys.readouterr().err
        assert code == 0
        m = re.search(r"'n_ok': (\d+), 'n_fail': (\d+)", err)
        n_ok, n_fail = int(m.group(1)), int(m.group(2))
        assert n_ok > 0
        # the two-rule grok cascade covers both generator header formats
        # as completely as the default preset does
        assert n_fail / (n_ok + n_fail) < 0.05


class TestGrokFuzz:
    """Compositional fuzz: random grok expressions assembled from the
    dictionary, lines rendered from KNOWN field values — so the expected
    extraction is ground truth by construction, not an oracle replay.
    Asserts (a) the pure-Python engine recovers exactly the planted
    values, (b) the vectorized BatchParser agrees with the engine row by
    row (match and failure alike), covering the grok compiler surface
    the fixed goldens cannot enumerate."""

    N_PROGRAMS = 120

    _LEVELS = ["INFO", "warn", "Error", "debug", "CRITICAL", "notice"]
    _MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
               "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]

    def _pool(self, rng):
        def ip():
            return ".".join(str(rng.randrange(256)) for _ in range(4))

        def uuid():
            h = "%032x" % rng.getrandbits(128)
            return "-".join((h[:8], h[8:12], h[12:16], h[16:20], h[20:]))

        # (dict name, sampler, wrap-safe) — wrap-safe means the sample
        # can sit inside [..] (..) <..> decorations without the pattern
        # being able to eat the closing bracket
        return [
            ("WORD", lambda: rng.choice(["alpha", "Beta9", "x_1", "Z"]), True),
            ("POSINT", lambda: str(rng.randrange(100000)), True),
            ("INT", lambda: rng.choice(["-12", "+4", "900"]), True),
            ("IPV4", ip, True),
            ("HOSTNAME", lambda: rng.choice(
                ["db-1.example.org", "n1", "a.b-c.d", "10.2.3.4"]), True),
            ("LOGLEVEL", lambda: rng.choice(self._LEVELS), True),
            ("UUID", uuid, True),
            ("USERNAME", lambda: rng.choice(["alice", "bob_2", "x.y-z"]), True),
            ("NOTSPACE", lambda: rng.choice(["a=b!", "#5%", "q:r/s"]), False),
            ("BASE16NUM", lambda: rng.choice(["0xDEAD", "ff00", "0X1a2b"]), True),
        ]

    def _timestamp(self, rng):
        """(grok ref, rendered text, expected datetime, rule kwargs)"""
        y, mo, d = 2024, rng.randrange(1, 13), rng.randrange(1, 29)
        h, mi, s = rng.randrange(24), rng.randrange(60), rng.randrange(60)
        kind = rng.choice(["iso", "syslog", "datestamp"])
        if kind == "iso":
            frac = rng.choice(["", ".123"])
            tz = rng.choice(["", "Z", "+09:00"])
            txt = f"{y:04d}-{mo:02d}-{d:02d}T{h:02d}:{mi:02d}:{s:02d}{frac}{tz}"
            tzi = {"": None, "Z": datetime.timezone.utc,
                   "+09:00": datetime.timezone(datetime.timedelta(hours=9))}[tz]
            want = datetime.datetime(y, mo, d, h, mi, s,
                                     123000 if frac else 0, tzinfo=tzi)
            return "%{TIMESTAMP_ISO8601:timestamp}", txt, want, {}
        if kind == "syslog":
            day = f"{d:2d}" if rng.random() < 0.5 else str(d)
            txt = f"{self._MONTHS[mo - 1]} {day} {h:02d}:{mi:02d}:{s:02d}"
            want = datetime.datetime(y, mo, d, h, mi, s)
            return ("%{SYSLOGTIMESTAMP:timestamp}", txt, want,
                    {"defaults": (("year", y),)})
        txt = f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}"
        return ("%{DATESTAMP:timestamp}", txt, datetime.datetime(
            y, mo, d, h, mi, s), {})

    def _random_expression(self, rng):
        """→ (expression, rule_kwargs, line_maker) where line_maker()
        returns (line, expected-attrs dict, expected timestamp or None,
        statement)."""
        pool = self._pool(rng)
        glues = [" ", " - ", " | ", "  ", " :: "]
        parts, makers = [], []   # template parts / per-line samplers
        kwargs = {}
        ts_want = None
        if rng.random() < 0.7:
            ref, txt, ts_want, kwargs = self._timestamp(rng)
            parts.append(ref)
            makers.append(txt)          # plain pre-rendered text
        n_fields = rng.randrange(1, 5)
        for i in range(n_fields):
            name, sample, wrap_safe = pool[rng.randrange(len(pool))]
            dummy = rng.random() < 0.15
            as_int = (name == "POSINT" and not dummy and rng.random() < 0.5)
            sem = None if dummy else f"f{i}"
            ref = ("%{" + name + "}" if dummy else
                   "%{" + name + ":" + sem + (":int" if as_int else "") + "}")
            if wrap_safe and rng.random() < 0.25:
                pre, post = rng.choice([("[", "]"), ("(", ")"), ("<", ">")])
                ref = pre + ref + post
            parts.append(ref)
            makers.append((sample, sem, as_int))
        expr = parts[0]
        seps = []
        for p in parts[1:]:
            g = rng.choice(glues)
            seps.append(g)
            expr += g + p
        stmt_glue = rng.choice(glues)
        expr += stmt_glue + "%{GREEDYDATA:message}"

        def line_maker():
            attrs = {}
            rendered = []
            for m in makers:
                if isinstance(m, tuple):
                    sample, sem, as_int = m
                    v = sample()
                    if sem is not None:
                        attrs[sem] = int(v) if as_int else v
                    rendered.append(v)
                else:
                    rendered.append(m)
            # re-wrap decorated fields: rebuild from the template by
            # replacing each %{...} reference left to right
            line = expr
            for v in rendered:
                line = re.sub(r"%\{[^}]*\}", v.replace("\\", "\\\\"),
                              line, count=1)
            stmt = " ".join(rng.choice(["ok", "failed", "x=1", "(a)", "9.9"])
                            for _ in range(rng.randrange(1, 4)))
            line = re.sub(r"%\{[^}]*\}", stmt, line, count=1)
            return line, attrs, stmt

        return expr, kwargs, line_maker, ts_want

    def test_random_grok_programs_recover_planted_values(self):
        import random

        from parsed_frame import parse_frame

        rng = random.Random(20260818)
        n_ok = 0
        for _ in range(self.N_PROGRAMS):
            expr, kwargs, line_maker, ts_want = self._random_expression(rng)
            try:
                prog = grok_program(expr, **kwargs)
            except RuleDefinitionError:
                # duplicate-semantic or similar compile rejections are
                # themselves valid behavior; the generator avoids them,
                # so reaching here is a bug
                raise
            eng = LineEngine(prog)
            lines, expected = [], []
            for _ in range(5):
                line, attrs, stmt = line_maker()
                if rng.random() < 0.15:     # failure-path agreement
                    line = "~~" + line
                    expected.append(None)
                else:
                    expected.append((attrs, stmt))
                lines.append(line)
            batch = parse_frame(prog, lines)
            for i, (line, exp) in enumerate(zip(lines, expected)):
                try:
                    rec = eng.parse_line(line)
                except Exception:   # noqa: BLE001 — failure parity
                    rec = None
                brow = batch.iloc[i]
                if rec is None:
                    # an uncorrupted line must always parse; a corrupted
                    # one may legitimately fail — either way the batch
                    # path must agree it failed
                    assert exp is None, (expr, line)
                    assert brow["rule_id"] == -1 and brow["message"] is None
                    continue
                # corrupted lines MAY still parse (a tolerant pattern
                # like NOTSPACE absorbs the "~~" prefix); ground-truth
                # checks only apply to uncorrupted ones
                attrs, stmt = exp if exp is not None else ({}, None)
                if exp is not None:
                    for k, v in attrs.items():
                        assert rec[k] == v, (expr, line, k, rec.get(k))
                    assert rec["message"] == stmt, (expr, line)
                    if ts_want is not None:
                        assert rec["timestamp"] == ts_want, (expr, line)
                # batch ≡ engine on every extracted surface
                assert brow["rule_id"] == 0
                assert brow["message"] == rec["message"], (expr, line)
                for k in attrs:
                    got = brow[k]
                    want = rec[k]
                    assert got == want, (expr, line, k, got, want)
                if "timestamp" in rec:
                    want_wall = rec["timestamp"].replace(tzinfo=None)
                    assert brow["ts"].to_pydatetime() == want_wall, (expr, line)
                assert list(brow["words"]) == rec["words"], (expr, line)
                n_ok += 1
        # the fuzz must exercise the success path heavily
        assert n_ok > 350, n_ok
