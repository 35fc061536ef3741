"""Head-to-head parity with the ACTUAL reference library on real loghub
corpora: the same rule config, every line, byte-identical words/symbols
and equal header fields. The strongest form of the north star's
"matches the reference's own test suite semantics"."""

import sys

import pandas as pd
import pytest

sys.path.insert(0, "/root/reference")

from log2seq_spark.rules import (RuleProgram, HeaderRule, LineEngine,
                                 statement, digit, hostname, user_field,
                                 time_of_day, month_abbr, string, group)
from log2seq_spark.rules.presets import default_actions, apache_errorlog_program
from parsed_frame import parse_frame


def _reference_openssh_parser():
    import datetime
    from log2seq import LogParser
    from log2seq import preset
    from log2seq.header import (MonthAbbreviation, Digit, Time, Hostname,
                                UserItem, Statement, HeaderParser)
    rules = [MonthAbbreviation(), Digit("day"), Time(), Hostname("host"),
             UserItem("component", r"[a-zA-Z0-9()._-]+"),
             Digit("processid", optional=True), Statement()]
    hp = HeaderParser(rules, separator=" :[]", defaults={"year": 2024})
    return LogParser(hp, preset.default_statement_parser())


def _our_openssh_program():
    rule = HeaderRule(
        fields=(month_abbr(), digit("day"), time_of_day(), hostname("host"),
                user_field("component", r"[a-zA-Z0-9()._-]+"),
                digit("processid", optional=True), statement()),
        separator=" :[]", defaults=(("year", 2024),))
    return RuleProgram((rule,), default_actions())


@pytest.fixture(scope="module")
def ssh_lines():
    with open("/root/reference/example/loghub_OpenSSH/SSH_2k.log",
              errors="replace") as fh:
        return [ln.rstrip("\r\n") for ln in fh]


class TestOpenSSHCorpusParity:
    def test_full_corpus_identical(self, ssh_lines):
        ref = _reference_openssh_parser()
        out = parse_frame(_our_openssh_program(), ssh_lines)

        n_ok = n_fail = 0
        for i, line in enumerate(ssh_lines):
            row = out.iloc[i]
            try:
                exp = ref.process_line(line)
            except Exception:
                exp = None
            if exp is None:
                assert row["rule_id"] < 0 or row["error"] is not None, line
                n_fail += 1
                continue
            assert row["message"] == exp["message"], line
            assert list(row["words"]) == exp["words"], line
            assert list(row["symbols"]) == exp["symbols"], line
            assert row["host"] == exp["host"], line
            assert row["component"] == exp["component"], line
            if "processid" in exp:
                assert int(row["processid"]) == exp["processid"], line
            else:
                assert pd.isna(row["processid"]), line
            ets = exp["timestamp"]
            assert pd.Timestamp(row["ts"]).to_pydatetime() == \
                ets.replace(tzinfo=None), line
            n_ok += 1
        assert n_ok > 1900, (n_ok, n_fail)


class TestApacheCorpusParity:
    def test_apache_2k_log(self):
        path = "/root/reference/example/loghub_Apache/Apache_2k.log"
        try:
            with open(path, errors="replace") as fh:
                lines = [ln.rstrip("\r\n") for ln in fh][:500]
        except FileNotFoundError:
            pytest.skip("corpus not present")
        from log2seq.preset import apache_errorlog_parser
        ref = apache_errorlog_parser()
        ours = LineEngine(apache_errorlog_program())
        n_ok = 0
        for line in lines:
            try:
                exp = ref.process_line(line)
            except Exception:
                exp = None
            try:
                got = ours.parse_line(line)
            except Exception:
                got = None
            if exp is None:
                assert got is None or got.get("error"), line
                continue
            assert got is not None, line
            assert got["words"] == exp["words"], line
            assert got["symbols"] == exp["symbols"], line
            for k in ("severityname", "host", "modulename"):
                if k in exp:
                    assert got.get(k) == exp[k], (k, line)
            n_ok += 1
        assert n_ok > 100


def _load_ref_parser(name):
    """Import a reference example parser module by dataset name."""
    import importlib.util, os
    path = f"/root/reference/example/loghub_{name}/parser.py"
    spec = importlib.util.spec_from_file_location(f"ref_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.parser


def _corpus(name):
    with open(f"/root/reference/example/loghub_{name}/{name}_2k.log",
              errors="replace") as fh:
        return [ln.rstrip("\r\n") for ln in fh]


class TestLoghubPresetParity:
    """Our hdfs/hpc/spark presets vs the reference's own example parsers
    over their full 2k-line corpora."""

    @pytest.mark.parametrize("name,program_fn,keys,min_ok", [
        ("HDFS", "hdfs_program", ("processid", "level", "component"), 1500),
        ("HPC", "hpc_program",
         ("logid", "node", "component", "state", "flag"), 1500),
        ("Spark", "spark_log_program", ("level", "component"), 1500),
        ("BGL", "bgl_program",
         ("label", "host", "type", "component", "level"), 1500),
        ("Windows", "windows_program", ("level", "component"), 1500),
        ("Linux", "linux_program", ("host", "component", "processid"), 1500),
        ("Proxifier", "proxifier_program", ("env",), 1500),
        ("Android", "android_program",
         ("pid", "tid", "level", "component"), 1500),
        ("Hadoop", "hadoop_program", ("level", "process", "component"), 1500),
        ("HealthApp", "healthapp_program", ("component", "processid"), 1500),
        ("Mac", "mac_program", ("host", "component", "processid"), 1500),
        ("OpenStack", "openstack_program",
         ("processid", "level", "host", "addr"), 1500),
        ("Thunderbird", "thunderbird_program",
         ("label", "host", "component", "processid"), 1500),
        ("Zookeeper", "zookeeper_program", ("level", "component"), 1500),
    ])
    def test_corpus(self, name, program_fn, keys, min_ok):
        from log2seq_spark.rules import presets
        ref = _load_ref_parser(name)
        ours = LineEngine(getattr(presets, program_fn)())
        n_ok = 0
        for line in _corpus(name):
            try:
                exp = ref.process_line(line)
            except Exception:
                exp = None
            try:
                got = ours.parse_line(line)
            except Exception:
                got = None
            if exp is None:
                assert got is None or got.get("error"), (name, line)
                continue
            assert got is not None, (name, line)
            assert got["words"] == exp["words"], (name, line)
            assert got["symbols"] == exp["symbols"], (name, line)
            for k in keys:
                if k in exp:
                    assert got.get(k) == exp[k], (k, name, line)
            if "timestamp" in exp and exp.get("timestamp") is not None \
                    and "timestamp" in got:
                assert got["timestamp"] == exp["timestamp"], (name, line)
            n_ok += 1
        assert n_ok > min_ok, (name, n_ok)


class TestTopLevelApiParity:
    """The package's top-level drop-in surface (init_parser / LogParser /
    KEY_* / exceptions) against the actual reference library, line for
    line (reference _common.py doc example included)."""

    LINES = [
        "Jan  1 12:34:56 host-device1 system[12345]: host "
        "2001:0db8:1234::1 (interface:eth0) disconnected",
        "Feb 28 01:02:03 10.0.0.1 sshd[9]: Failed password for root "
        "from 192.168.1.1 port 22 ssh2",
        "Dec 31 23:59:59 web-3 cron: job finished in 1.5 sec",
    ]

    def test_process_line_matches_reference(self):
        import log2seq
        import log2seq_spark
        ref = log2seq.init_parser()
        ours = log2seq_spark.init_parser()
        for line in self.LINES:
            assert ours.process_line(line) == ref.process_line(line), line

    def test_process_header_and_statement_match_reference(self):
        import log2seq
        import log2seq_spark
        ref = log2seq.init_parser()
        ours = log2seq_spark.init_parser()
        line = self.LINES[0]
        assert ours.process_header(line) == ref.process_header(line)
        stmt = ref.process_header(line)[log2seq.KEY_STATEMENT]
        assert tuple(ours.process_statement(stmt)) == \
            tuple(ref.process_statement(stmt))

    def test_verbose_kwarg_matches_reference_output(self, capsys):
        """The drop-in surface accepts ``verbose=True`` on all three
        process_* methods (reference _common.py:85,118,133) and prints
        byte-identical rule/action progress for the default preset."""
        import io
        import contextlib
        import log2seq
        import log2seq_spark

        def captured(parser, line):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                out = parser.process_line(line, verbose=True)
            return out, buf.getvalue()

        ref = log2seq.init_parser()
        ours = log2seq_spark.init_parser()
        for line in self.LINES:
            got, got_text = captured(ours, line)
            exp, exp_text = captured(ref, line)
            assert got == exp, line
            assert got_text == exp_text, line
        # header/statement variants accept the kwarg too
        line = self.LINES[1]
        ours.process_header(line, verbose=True)
        stmt = ours.process_header(line)[log2seq_spark.KEY_STATEMENT]
        ours.process_statement(stmt, verbose=True)
        capsys.readouterr()

    def test_empty_line_and_failure_semantics(self):
        import log2seq_spark
        p = log2seq_spark.init_parser()
        assert p.process_line("") is None
        assert p.process_line("\n") is None
        with pytest.raises(log2seq_spark.LogParseFailure):
            p.process_line("GARBAGE with no recognizable header")

    def test_key_constants_match_reference(self):
        import log2seq
        import log2seq_spark
        for k in ("KEY_TIMESTAMP", "KEY_STATEMENT", "KEY_WORDS",
                  "KEY_SYMBOLS"):
            assert getattr(log2seq_spark, k) == getattr(log2seq, k)

    def test_load_parser_script_convention(self, tmp_path):
        import log2seq_spark
        script = tmp_path / "userparser.py"
        script.write_text(
            "from log2seq_spark.rules.presets import default_program\n"
            "program = default_program()\n")
        prog = log2seq_spark.load_parser_script(str(script))
        out = log2seq_spark.init_parser(prog).process_line(self.LINES[1])
        assert out["host"] == "10.0.0.1" and out["words"][0] == "sshd"
