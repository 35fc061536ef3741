"""CLI golden tests — ported from the reference CLI test suite
(``/root/reference/tests/test_main.py:24-53``) plus the archive /
encoding / statement surfaces (reference ``__main__.py:16-47,79-84``).

Runs ``main()`` in-process against the shared session-scoped Spark
fixture (cmd_parse detects the pre-existing session and leaves it
running)."""

import gzip
import io
import os
import tarfile

import pytest

from log2seq_spark.__main__ import main

LINES = ("Jan  1 12:34:56 host system[1]: ok one\n"
         "GARBAGE no header at all\n"
         "Feb  2 01:02:03 host app[2]: ok two\n")


@pytest.fixture()
def run_cli(spark, capsys, monkeypatch):
    def _run(args, stdin_text=""):
        monkeypatch.setattr("sys.stdin", io.StringIO(stdin_text))
        code = main(["parse"] + args)
        cap = capsys.readouterr()
        return code, cap.out, cap.err
    return _run


def test_exit_2_on_unknown_encoding_before_any_session(
        monkeypatch, capsys, tmp_path):
    import log2seq_spark.__main__ as cli

    def no_session(*args, **kwargs):
        raise AssertionError("a Spark session was started")
    monkeypatch.setattr(cli, "_cli_spark", no_session)
    log = tmp_path / "x.log"
    log.write_text(LINES)
    assert main(["parse", str(log), "--encoding", "bogus"]) == 2
    assert ("cannot read input: unknown encoding bogus"
            in capsys.readouterr().err)


def _state_templates(spark, state_dir):
    """(template, n_lines, n_groups) of the newest committed epoch of a
    ``--state-dir`` template state."""
    from log2seq_spark.operators.templates import templates_from_profiles
    from log2seq_spark.plans.epochs import committed_ids
    last = committed_ids(state_dir)[-1]
    return templates_from_profiles(
        spark.read.parquet(f"{state_dir}/epoch={last}"))


class TestReferenceParity:
    def test_stdout_stderr_split(self, run_cli):
        # successes go to stdout; failures + summary go to stderr.
        code, out, err = run_cli(["-t", "words"], LINES)
        assert code == 0
        assert out.splitlines() == ["system 1 ok one", "app 2 ok two"]
        assert "parse failed:" in err
        assert "2 ok, 1 failed" in err

    def test_failures_only_suppresses_stdout(self, run_cli):
        code, out, err = run_cli(["--failures-only"], LINES)
        assert code == 0
        assert out == ""
        assert "2 ok, 1 failed" in err

    def test_exit_1_when_nothing_parses(self, run_cli):
        code, out, err = run_cli([], "GARBAGE1\nGARBAGE2\n")
        assert code == 1
        assert "0 ok, 2 failed" in err

    def test_exit_2_on_unloadable_parser(self, run_cli):
        code, out, err = run_cli(["-p", "/no/such/parser.py"], "x\n")
        assert code == 2

    def test_exit_2_on_missing_input_file(self, run_cli):
        code, out, err = run_cli(["/no/such/input.log"])
        assert code == 2
        assert "cannot read input" in err

    def test_max_failures_caps_stderr_detail(self, run_cli):
        code, out, err = run_cli(
            ["--max-failures", "1"],
            "G1\nG2\nG3\nJan  1 00:00:00 h a[1]: ok\n")
        assert code == 0
        assert err.count("parse failed:") == 1
        assert "suppressed" in err
        assert "1 ok, 3 failed" in err

    def test_verbose_rule_trace(self, run_cli):
        # reference __main__.py --verbose: per-line rule trace — which
        # header rule matched and the token state after each statement
        # action (reference _common.py:103-106, statement.py:44-54
        # formats); routed to stderr so stdout stays pipeable
        code, out, err = run_cli(["-v", "--year", "2024"], LINES)
        assert code == 0
        assert "header rule 0: match" in err
        assert "Statement: system[1]: ok one" in err
        # action trace lines use the reference class names and the
        # #fixed# / 'unknown' part markers
        assert "Split: 'system', '1', ':', 'ok', 'one'" in err
        # the failing line traces every rule as mismatch before the
        # parse-failed report
        assert "header rule 0: mismatch" in err
        assert "parse failed:" in err
        # stdout carries only the parsed results
        assert "header rule" not in out

    def test_verbose_statement_mode(self, run_cli):
        code, out, err = run_cli(["-s", "-v", "-t", "words"], "a(b) c\n")
        assert code == 0
        assert "Statement: a(b) c" in err
        assert "Split:" in err

    def test_show_input_prefixes_lines(self, run_cli):
        code, out, err = run_cli(["-t", "words", "-i"],
                                 "Jan  1 12:34:56 host app[1]: ok one\n")
        assert code == 0
        assert out.splitlines() == ["Jan  1 12:34:56 host app[1]: ok one",
                                    "app 1 ok one"]


class TestExtendedSources:
    def test_tar_gz_archive(self, run_cli, tmpdir_path):
        # two member files inside a .tar.gz; must be read as tar, not gzip
        tar_path = os.path.join(tmpdir_path, "logs.tar.gz")
        with tarfile.open(tar_path, "w:gz") as tar:
            for name, text in [("a.log", "Jan  1 12:34:56 h x[1]: one\n"),
                               ("b.log", "Jan  2 12:34:56 h y[2]: two\n")]:
                p = os.path.join(tmpdir_path, name)
                with open(p, "w") as f:
                    f.write(text)
                tar.add(p, arcname=name)
        code, out, err = run_cli(["-t", "words", tar_path])
        assert code == 0
        assert sorted(out.splitlines()) == ["x 1 one", "y 2 two"]
        assert "2 ok, 0 failed" in err

    def test_encoding_latin1(self, run_cli, tmpdir_path):
        p = os.path.join(tmpdir_path, "latin.log")
        with open(p, "w", encoding="latin-1") as f:
            f.write("Jan  1 12:34:56 host app[1]: caf\xe9 ok\n")
        code, out, err = run_cli(["-t", "words", "--encoding", "latin-1", p])
        assert code == 0
        assert "caf\xe9" in out
        assert "1 ok, 0 failed" in err

    def test_gz_file_distributed_path(self, run_cli, tmpdir_path):
        p = os.path.join(tmpdir_path, "x.log.gz")
        with gzip.open(p, "wt") as f:
            f.write("Jan  1 12:34:56 host app[1]: hello\n")
        code, out, err = run_cli(["-t", "words", p])
        assert code == 0
        assert out.splitlines() == ["app 1 hello"]

    def test_statement_mode(self, run_cli):
        code, out, err = run_cli(["-s", "-t", "words"],
                                 "open ('file.txt') mode=r\n")
        assert code == 0
        # statement-only tokenization: no header expected, no failure
        assert "1 ok, 0 failed" in err
        assert out.splitlines() == ["open file.txt mode r"]

    def test_statement_mode_object_format(self, run_cli):
        code, out, err = run_cli(["-s"], "a: b\n")
        assert code == 0
        words = out.strip()
        assert words.startswith("(") and "'a'" in words and "'b'" in words

    def test_catalog_table_input(self, spark, run_cli):
        # --input-kind table resolves through the session catalog — the
        # Iceberg entry point when a catalog is configured; a view here
        spark.createDataFrame(
            [("Jan  1 12:34:56 host app[7]: from table",)], "text string"
        ).createOrReplaceTempView("cli_turns_view")
        code, out, err = run_cli(["--input", "cli_turns_view",
                                  "--input-kind", "table", "-t", "words"])
        assert code == 0
        assert out.splitlines() == ["app 7 from table"]

    def test_pipeline_exit_2_on_unloadable_parser(self, spark, capsys):
        code = main(["pipeline", "--input", "/tmp/none", "--out", "/tmp/o",
                     "-p", "/no/such/parser.py"])
        assert code == 2
        assert "cannot load parser script" in capsys.readouterr().err

    def test_output_file(self, run_cli, tmpdir_path):
        dest = os.path.join(tmpdir_path, "out.txt")
        code, out, err = run_cli(["-t", "words", "-o", dest],
                                 "Jan  1 12:34:56 host app[1]: ok one\n")
        assert code == 0
        assert out == ""
        with open(dest) as f:
            assert f.read().splitlines() == ["app 1 ok one"]


def _tar(path, members):
    """A tar archive at ``path`` holding ``members`` ((name, str or
    bytes) pairs) in that archive order."""
    with tarfile.open(path, "w:gz" if path.endswith("gz") else "w") as tar:
        for name, text in members:
            body = text.encode() if isinstance(text, str) else text
            info = tarfile.TarInfo(name)
            info.size = len(body)
            tar.addfile(info, io.BytesIO(body))
    return path


class TestDistributedReader:
    """Tar archives, .xz files and non-UTF-8 encodings are read on the
    executors (the logtext source), one read per file and archive
    member; output keeps argument order, then archive order."""

    def test_distributed_matches_driver_side_on_tar(self, run_cli,
                                                    tmpdir_path):
        tar_path = _tar(os.path.join(tmpdir_path, "logs.tar.gz"),
                        [("a.log", "Jan  1 12:34:56 h x[1]: one\n"),
                         ("b.log", "Jan  2 12:34:56 h y[2]: two\n")])
        code, out, err = run_cli(["-t", "words", tar_path])
        assert code == 0
        assert out.splitlines() == ["x 1 one", "y 2 two"]
        assert "# processed 2 lines: 2 ok, 0 failed" in err

    def test_tar_members_print_in_archive_order(self, run_cli,
                                                tmpdir_path):
        # archive order, not member-name order (reference parity)
        tar_path = _tar(os.path.join(tmpdir_path, "ba.tar"),
                        [("b.log", "Jan  2 12:34:56 h bb[2]: bfirst\n"),
                         ("a.log", "Jan  1 12:34:56 h aa[1]: asecond\n")])
        code, out, err = run_cli(["-t", "words", tar_path])
        assert code == 0
        assert out.splitlines() == ["bb 2 bfirst", "aa 1 asecond"]

    def test_distributed_mixed_plain_and_gz(self, run_cli, tmpdir_path):
        a = os.path.join(tmpdir_path, "a.log")
        with open(a, "w") as f:
            f.write("Jan  1 12:34:56 h x[1]: one\n")
        b = os.path.join(tmpdir_path, "b.log.gz")
        with gzip.open(b, "wt") as f:
            f.write("Jan  2 12:34:56 h y[2]: two\n")
        code, out, err = run_cli(["-t", "words", a, b])
        assert code == 0
        assert out.splitlines() == ["x 1 one", "y 2 two"]

    def test_distributed_preserves_argument_order(self, run_cli,
                                                  tmpdir_path):
        """Multi-file output follows the user's argument order (like the
        reference CLI), not the lexicographic path order — z.log given
        first prints first, on either reader."""
        z = os.path.join(tmpdir_path, "z.log")
        with open(z, "w") as f:
            f.write("Jan  1 12:34:56 h zz[1]: zfirst\n")
        a = os.path.join(tmpdir_path, "a.log")
        with open(a, "w") as f:
            f.write("Jan  2 12:34:56 h aa[2]: asecond\n")
        t = _tar(os.path.join(tmpdir_path, "m.tar"),
                 [("m.log", "Jan  3 12:34:56 h mm[3]: mthird\n")])
        code, out, _ = run_cli(["-t", "words", z, a])
        assert code == 0
        assert out.splitlines() == ["zz 1 zfirst", "aa 2 asecond"]
        code, out, _ = run_cli(["-t", "words", z, t, a])
        assert code == 0
        assert out.splitlines() == ["zz 1 zfirst", "mm 3 mthird",
                                    "aa 2 asecond"]

    def test_utf16_file(self, run_cli, tmpdir_path):
        p = os.path.join(tmpdir_path, "u16.log")
        with open(p, "w", encoding="utf-16") as f:
            f.write("Jan  1 12:34:56 h app[1]: caf\xe9 one\n"
                    "Jan  2 12:34:56 h app[2]: two\n")
        code, out, err = run_cli(["-t", "words", "--encoding", "utf-16", p])
        assert code == 0
        assert out.splitlines() == ["app 1 caf\xe9 one", "app 2 two"]
        assert "# processed 2 lines: 2 ok, 0 failed" in err

    def test_undecodable_bytes_become_replacement_chars(self, run_cli,
                                                        tmpdir_path):
        # a latin-1 byte in a UTF-8 read raised UnicodeDecodeError on the
        # driver-side tar path; every reader now replaces it
        t = _tar(os.path.join(tmpdir_path, "bad.tar"),
                 [("bad.log", b"Jan  1 12:34:56 h app[1]: caf\xe9 one\n")])
        code, out, err = run_cli(["-t", "words", t])
        assert code == 0
        assert out.splitlines() == ["app 1 caf\ufffd one"]


class TestCleanCommand:
    """`clean` subcommand — the corpus-cleaning recipe
    (operators/corpus.clean_corpus) surfaced as a CLI over a documents
    parquet table."""

    def _write_docs(self, spark, tmpdir_path, rows):
        src = os.path.join(tmpdir_path, "docs_in")
        spark.createDataFrame(rows, "doc_id string, text string") \
             .write.mode("overwrite").parquet(src)
        return src

    def test_verdicts_and_tally(self, spark, capsys, tmpdir_path):
        good = ("the quick brown fox jumped over the lazy dog "
                "and that is fine")
        src = self._write_docs(spark, tmpdir_path, [
            ("d1", good),
            ("d2", good),          # exact dup of d1 (d1 is the keeper)
            ("d3", ""),            # empty
            ("d4", "!!! ??? ###"),  # fails the quality gate
        ])
        dest = os.path.join(tmpdir_path, "docs_clean")
        code = main(["clean", "--input", src, "--out", dest,
                     "--no-scrub", "--no-line-dedup"])
        err = capsys.readouterr().err
        assert code == 0
        got = {r["doc_id"]: (r["kept"], r["drop_reason"])
               for r in spark.read.parquet(dest).collect()}
        assert got == {"d1": (True, None), "d2": (False, "exact_dup"),
                       "d3": (False, "empty"),
                       "d4": (False, "low_quality")}
        assert "# kept: 1" in err and "# exact_dup: 1" in err
        assert "# empty: 1" in err and "# low_quality: 1" in err

    def test_kept_only_and_scrub(self, spark, capsys, tmpdir_path):
        src = self._write_docs(spark, tmpdir_path, [
            ("d1", "please contact bob@example.com for the details "
                   "and that is all there is to say about it"),
            ("d2", "###"),
        ])
        dest = os.path.join(tmpdir_path, "docs_kept")
        code = main(["clean", "--input", src, "--out", dest,
                     "--kept-only"])
        err = capsys.readouterr().err
        assert code == 0
        rows = spark.read.parquet(dest).collect()
        assert [r["doc_id"] for r in rows] == ["d1"]
        assert "<email>" in rows[0]["clean_text"]
        assert "bob@example.com" not in rows[0]["clean_text"]
        # the drop tally reports the full verdicts even though dropped
        # rows never reach the sink
        assert "# kept: 1" in err and "# low_quality: 1" in err

    def test_quality_gate_disabled(self, spark, capsys, tmpdir_path):
        src = self._write_docs(spark, tmpdir_path, [("d1", "### ### ###")])
        dest = os.path.join(tmpdir_path, "docs_nogate")
        code = main(["clean", "--input", src, "--out", dest,
                     "--quality-min", "-1", "--no-line-dedup"])
        capsys.readouterr()
        assert code == 0
        rows = spark.read.parquet(dest).collect()
        assert rows[0]["kept"] is True and rows[0]["drop_reason"] is None


class TestTemplatesCommand:
    def test_text_input(self, spark, capsys, tmpdir_path):
        p = os.path.join(tmpdir_path, "t.log")
        with open(p, "w") as f:
            f.write("connect from h1\nconnect from h2\nsession closed\n")
        code = main(["templates", "--input", p])
        out = capsys.readouterr().out
        assert code == 0
        lines = out.strip().splitlines()
        assert lines[0] == "2\t1\tconnect from <*>"
        assert "1\t1\tsession closed" in lines

    def test_archive_and_xz_input_read_as_lines(self, spark, capsys,
                                                tmpdir_path):
        # tar and .xz inputs mine the same lines as a plain file, not
        # tar headers or compressed bytes
        import lzma
        text = "connect from h1\nconnect from h2\nsession closed\n"
        plain = os.path.join(tmpdir_path, "tp.log")
        with open(plain, "w") as f:
            f.write(text)
        xz = os.path.join(tmpdir_path, "tp.log.xz")
        with lzma.open(xz, "wt") as f:
            f.write(text)
        tgz = _tar(os.path.join(tmpdir_path, "tp.tar.gz"),
                   [("tp.log", text)])
        outs = []
        for path in (plain, tgz, xz):
            assert main(["templates", "--input", path]) == 0
            outs.append(capsys.readouterr().out)
        assert outs[0].splitlines() == ["2\t1\tconnect from <*>",
                                        "1\t1\tsession closed"]
        assert outs[1] == outs[0] and outs[2] == outs[0]

    def test_tokens_col_parquet(self, spark, capsys, tmpdir_path):
        src = os.path.join(tmpdir_path, "wdocs")
        rows = [(["job", "1", "done"],), (["job", "2", "done"],)]
        (spark.createDataFrame(rows, "words array<string>")
              .write.mode("overwrite").parquet(src))
        code = main(["templates", "--input", src, "--input-kind",
                     "parquet", "--tokens-col", "words"])
        out = capsys.readouterr().out
        assert code == 0
        # numeric-head routing keeps 'job' as head; position 2 varies
        assert out.strip().splitlines() == ["2\t1\tjob <*> done"]

    def test_state_dir_incremental_equals_batch(self, spark, capsys,
                                                tmpdir_path):
        """--state-dir: shard-by-shard mining folds into the epoch
        state; the second run prints the CUMULATIVE templates
        (== batch-mining the concatenation), and the newest committed
        epoch holds the same templates."""
        a = os.path.join(tmpdir_path, "tsA.log")
        b = os.path.join(tmpdir_path, "tsB.log")
        st = os.path.join(tmpdir_path, "tstate")
        with open(a, "w") as f:
            f.write("conn from 10.0.0.1 closed\ndisk full on /var\n")
        with open(b, "w") as f:
            f.write("conn from 10.0.0.9 closed\nconn from 8.8.8.8 closed\n"
                    "17 packets dropped\n42 packets dropped\n")
        assert main(["templates", "--input", a, "--state-dir", st]) == 0
        err = capsys.readouterr().err
        assert "# state: epoch=0" in err
        assert main(["templates", "--input", b, "--state-dir", st]) == 0
        got = capsys.readouterr().out.strip().splitlines()
        # == mine_templates over shard A + shard B in one batch
        assert got == ["3\t1\tconn from <*> closed",
                       "2\t1\t<*> packets dropped",
                       "1\t1\tdisk full on /var"]
        live = {(r["template"], r["n_lines"], r["n_groups"])
                for r in _state_templates(spark, st).collect()}
        assert ("conn from <*> closed", 3, 1) in live
        assert len(live) == 3

    def test_state_dir_randomized_interleaving_equals_batch(
            self, spark, capsys, tmpdir_path):
        """CLI-level invariant: ANY interleaving of `templates
        --state-dir` folds and `rare --state-dir` screen+folds over
        random shards leaves state identical to batch-mining the
        concatenation — the associativity the epoch protocol rests on,
        exercised through the real command surface."""
        import random
        rng = random.Random(7)
        st = os.path.join(tmpdir_path, "rnd_state")
        all_lines = []
        for s in range(5):
            lines = [f"svc{rng.randint(0, 5)} handled item "
                     f"{rng.randint(0, 999)} fine"
                     for _ in range(rng.randint(5, 30))]
            all_lines += lines
            p = os.path.join(tmpdir_path, f"rnd{s}.log")
            with open(p, "w") as f:
                f.write("\n".join(lines) + "\n")
            if rng.random() < 0.5:
                assert main(["templates", "--input", p,
                             "--state-dir", st]) == 0
            else:
                assert main(["rare", "--input", p,
                             "--state-dir", st]) == 0
            capsys.readouterr()
        from log2seq_spark.operators.templates import mine_templates
        batch = {(r["template"], r["n_lines"], r["n_groups"])
                 for r in mine_templates(
                     spark.createDataFrame([(l,) for l in all_lines],
                                           "text string")).collect()}
        live = {(r["template"], r["n_lines"], r["n_groups"])
                for r in _state_templates(spark, st).collect()}
        assert live == batch

    def test_state_dir_rejects_tokenization_drift(self, spark, capsys,
                                                  tmpdir_path):
        """Folding a differently-tokenized corpus into existing state
        would silently mix position spaces — refused with exit 2."""
        a = os.path.join(tmpdir_path, "tdA.log")
        st = os.path.join(tmpdir_path, "tdstate")
        with open(a, "w") as f:
            f.write("conn from 10.0.0.1 closed\n")
        assert main(["templates", "--input", a, "--state-dir", st]) == 0
        capsys.readouterr()
        src = os.path.join(tmpdir_path, "td_words")
        (spark.createDataFrame([(["conn", "up"],)],
                               "words array<string>")
         .write.mode("overwrite").parquet(src))
        code = main(["templates", "--input", src, "--input-kind",
                     "parquet", "--tokens-col", "words",
                     "--state-dir", st])
        err = capsys.readouterr().err
        assert code == 2 and "templates:" in err


class TestDedupCommand:
    def test_decisions_and_tally(self, spark, capsys, tmpdir_path):
        src = os.path.join(tmpdir_path, "ddocs")
        base = "the quick brown fox jumps over the lazy sleeping dog"
        rows = [("d1", base), ("d2", base),                    # exact dup
                ("d3", base.replace("jumps", "leaps")),        # near dup
                ("d4", "entirely different content here today")]
        (spark.createDataFrame(rows, "doc_id string, text string")
              .write.mode("overwrite").parquet(src))
        dest = os.path.join(tmpdir_path, "ddec")
        # one word changed in a 10-word doc = 5 shared / 11 total
        # 3-gram shingles -> jaccard 0.4545; threshold below that
        code = main(["dedup", "--input", src, "--out", dest,
                     "--threshold", "0.4"])
        err = capsys.readouterr().err
        assert code == 0
        got = {r["doc_id"]: r["decision"]
               for r in spark.read.parquet(dest).collect()}
        assert got == {"d1": "keep", "d2": "drop_exact",
                       "d3": "drop_near", "d4": "keep"}
        assert "# keep: 2" in err and "# drop_exact: 1" in err
        assert "# drop_near: 1" in err

    def test_exact_mode_skips_near(self, spark, capsys, tmpdir_path):
        src = os.path.join(tmpdir_path, "edocs")
        base = "the quick brown fox jumps over the lazy sleeping dog"
        rows = [("d1", base), ("d3", base.replace("jumps", "leaps"))]
        (spark.createDataFrame(rows, "doc_id string, text string")
              .write.mode("overwrite").parquet(src))
        dest = os.path.join(tmpdir_path, "edec")
        code = main(["dedup", "--input", src, "--out", dest,
                     "--mode", "exact"])
        capsys.readouterr()
        assert code == 0
        got = {r["doc_id"]: r["decision"]
               for r in spark.read.parquet(dest).collect()}
        assert got == {"d1": "keep", "d3": "keep"}

    def test_incremental_exact_across_shards(self, spark, capsys,
                                             tmpdir_path):
        """--index-dir: shard 2 screens against shard 1's published
        index without re-reading shard 1; generations are immutable
        gen=N dirs and cross-shard dups attribute to the HISTORICAL
        keeper."""
        s1 = os.path.join(tmpdir_path, "ix_s1")
        s2 = os.path.join(tmpdir_path, "ix_s2")
        idx = os.path.join(tmpdir_path, "ix_idx")
        (spark.createDataFrame(
             [("a1", "alpha content"), ("a2", "beta content")],
             "doc_id string, text string")
         .write.mode("overwrite").parquet(s1))
        (spark.createDataFrame(
             [("b1", "alpha content"),       # seen in shard 1
              ("b2", "gamma content"),       # fresh
              ("b3", "gamma content")],      # in-batch dup of b2
             "doc_id string, text string")
         .write.mode("overwrite").parquet(s2))
        o1 = os.path.join(tmpdir_path, "ix_o1")
        o2 = os.path.join(tmpdir_path, "ix_o2")
        assert main(["dedup", "--mode", "exact", "--input", s1,
                     "--out", o1, "--index-dir", idx]) == 0
        err1 = capsys.readouterr().err
        assert "# keep: 2" in err1 and "delta gen=1 (+2 entries" in err1
        assert main(["dedup", "--mode", "exact", "--input", s2,
                     "--out", o2, "--index-dir", idx]) == 0
        err2 = capsys.readouterr().err
        # O(batch-novelty) publish: shard 2 adds ONE new content
        assert "delta gen=2 (+1 entries" in err2
        got = {r["doc_id"]: (r["decision"], r["keep_id"])
               for r in spark.read.parquet(o2).collect()}
        assert got == {"b1": ("drop_seen", "a1"),
                       "b2": ("keep", "b2"),
                       "b3": ("drop_batch", "b2")}
        assert sorted(os.listdir(os.path.join(idx, "delta"))) == \
            ["gen=1", "gen=2"]
        # segment union = the full index: 3 distinct contents
        assert spark.read.parquet(
            os.path.join(idx, "delta", "gen=1"),
            os.path.join(idx, "delta", "gen=2")).count() == 3

    def test_incremental_near_across_shards(self, spark, capsys,
                                            tmpdir_path):
        s1 = os.path.join(tmpdir_path, "nx_s1")
        s2 = os.path.join(tmpdir_path, "nx_s2")
        idx = os.path.join(tmpdir_path, "nx_idx")
        base = "the quick brown fox jumps over the lazy sleeping dog"
        (spark.createDataFrame([("a1", base)],
                               "doc_id string, text string")
         .write.mode("overwrite").parquet(s1))
        (spark.createDataFrame(
             [("b1", base.replace("jumps", "leaps")),  # near-dup of a1
              ("b2", "entirely different content here today")],
             "doc_id string, text string")
         .write.mode("overwrite").parquet(s2))
        o1 = os.path.join(tmpdir_path, "nx_o1")
        o2 = os.path.join(tmpdir_path, "nx_o2")
        assert main(["dedup", "--mode", "near", "--input", s1,
                     "--out", o1, "--index-dir", idx]) == 0
        capsys.readouterr()
        assert main(["dedup", "--mode", "near", "--input", s2,
                     "--out", o2, "--index-dir", idx]) == 0
        err2 = capsys.readouterr().err
        assert "# drop_near: 1" in err2 and "# keep: 1" in err2
        got = {r["doc_id"]: (r["decision"], r["keep_id"])
               for r in spark.read.parquet(o2).collect()}
        assert got == {"b1": ("drop_near", "a1"), "b2": ("keep", None)}

    def test_incremental_ignores_uncommitted_generation(self, spark,
                                                        capsys,
                                                        tmpdir_path):
        """A gen dir without _SUCCESS (crashed writer) is invisible: the
        next run re-publishes over it instead of trusting partial
        data."""
        s1 = os.path.join(tmpdir_path, "cx_s1")
        idx = os.path.join(tmpdir_path, "cx_idx")
        (spark.createDataFrame([("a1", "alpha")],
                               "doc_id string, text string")
         .write.mode("overwrite").parquet(s1))
        # no _SUCCESS marker
        os.makedirs(os.path.join(idx, "delta", "gen=1"))
        o1 = os.path.join(tmpdir_path, "cx_o1")
        assert main(["dedup", "--mode", "exact", "--input", s1,
                     "--out", o1, "--index-dir", idx]) == 0
        err = capsys.readouterr().err
        assert "delta gen=1 (+1 entries" in err  # started from scratch
        assert spark.read.parquet(
            os.path.join(idx, "delta", "gen=1")).count() == 1

    def test_incremental_randomized_equals_one_batch(self, spark,
                                                     capsys,
                                                     tmpdir_path):
        """Randomized CLI-level invariant: screening K shards in id
        order through --index-dir (with compaction firing mid-stream)
        yields exactly one keep per distinct content — the earliest
        doc — and the final segment union equals indexing the whole
        corpus at once."""
        import random
        from log2seq_spark.operators import dedup as dd
        rng = random.Random(11)
        docs = [(i, f"content {rng.randrange(25)}") for i in range(80)]
        shards = [docs[i * 20:(i + 1) * 20] for i in range(4)]
        idx = os.path.join(tmpdir_path, "rx_idx")
        keeps = []
        for s, rows in enumerate(shards):
            src = os.path.join(tmpdir_path, f"rx_s{s}")
            (spark.createDataFrame(rows, "doc_id long, text string")
             .write.mode("overwrite").parquet(src))
            out = os.path.join(tmpdir_path, f"rx_o{s}")
            assert main(["dedup", "--mode", "exact", "--input", src,
                         "--out", out, "--index-dir", idx,
                         "--compact-every", "2"]) == 0
            capsys.readouterr()
            keeps += [r["doc_id"] for r in spark.read.parquet(out)
                      .filter("decision = 'keep'").collect()]
        first_seen = {}
        for i, t in docs:
            first_seen.setdefault(t, i)
        assert sorted(keeps) == sorted(first_seen.values())
        from log2seq_spark.plans.epochs import index_segments
        segments, _, _ = index_segments(idx, spark)
        got = {r["text_hash"]: r["keep_id"]
               for r in spark.read.parquet(*segments).collect()}
        scratch = {r["text_hash"]: r["keep_id"]
                   for r in dd.exact_dedup_index(
                       spark.createDataFrame(
                           docs, "doc_id long, text string")).collect()}
        assert got == scratch

    def test_incremental_compaction(self, spark, capsys, tmpdir_path):
        """--compact-every folds live deltas into a base generation;
        later shards screen against the base exactly as they did
        against the deltas, and superseded segments are gone."""
        idx = os.path.join(tmpdir_path, "kx_idx")
        outs = []
        for s, rows in enumerate([
                [("a1", "alpha"), ("a2", "beta")],
                [("b1", "gamma")],
                [("c1", "alpha"),   # dup of shard-0 content, post-compact
                 ("c2", "delta")]]):
            src = os.path.join(tmpdir_path, f"kx_s{s}")
            (spark.createDataFrame(rows, "doc_id string, text string")
             .write.mode("overwrite").parquet(src))
            out = os.path.join(tmpdir_path, f"kx_o{s}")
            outs.append(out)
            assert main(["dedup", "--mode", "exact", "--input", src,
                         "--out", out, "--index-dir", idx,
                         "--compact-every", "2"]) == 0
        err = capsys.readouterr().err
        assert "compacted -> base gen=3 (4 entries)" in err
        got = {r["doc_id"]: (r["decision"], r["keep_id"])
               for r in spark.read.parquet(outs[2]).collect()}
        assert got == {"c1": ("drop_seen", "a1"), "c2": ("keep", "c2")}
        # shard 3 triggered the fold: base holds everything, deltas gone
        assert os.path.isdir(os.path.join(idx, "base", "gen=3"))
        assert os.listdir(os.path.join(idx, "delta")) == []
        # a fourth shard reads the base alone
        src = os.path.join(tmpdir_path, "kx_s3")
        (spark.createDataFrame([("d1", "gamma")],
                               "doc_id string, text string")
         .write.mode("overwrite").parquet(src))
        out = os.path.join(tmpdir_path, "kx_o3")
        assert main(["dedup", "--mode", "exact", "--input", src,
                     "--out", out, "--index-dir", idx]) == 0
        assert spark.read.parquet(out).collect()[0]["decision"] == \
            "drop_seen"


class TestDedupIndexGuards:
    """``dedup --index-dir`` follows the ``plans/epochs.py`` shard
    protocol of ``substr --index-dir``: a ``{"mode": ...}`` stamp and a
    claim-then-publish replay guard (the ``tests/test_substrdedup.py``
    guard tests, for dedup)."""

    BASE = "the quick brown fox jumps over the lazy sleeping dog"
    ROWS = {"exact": [("a1", "alpha"), ("a2", "beta"), ("a3", "alpha")],
            "near": [("a1", BASE), ("a2", BASE.replace("jumps", "leaps")),
                     ("a3", "entirely different content here today")]}
    WANT = {"exact": {"a1": ("keep", "a1"), "a2": ("keep", "a2"),
                      "a3": ("drop_batch", "a1")},
            "near": {"a1": ("keep", None), "a2": ("drop_near", "a1"),
                     "a3": ("keep", None)}}

    def _shard(self, spark, tmpdir_path, name, rows):
        p = os.path.join(tmpdir_path, name)
        (spark.createDataFrame(rows, "doc_id string, text string")
         .write.mode("overwrite").parquet(p))
        return p

    def _dedup(self, src, out, idx, mode="exact", *extra):
        return main(["dedup", "--mode", mode, "--input", src,
                     "--out", out, "--index-dir", idx, *extra])

    def _verdicts(self, spark, out):
        return {r["doc_id"]: (r["decision"], r["keep_id"])
                for r in spark.read.parquet(out).collect()}

    @pytest.mark.parametrize("mode", ["exact", "near"])
    def test_replay_after_publish_skips_and_matches(self, spark, capsys,
                                                    tmpdir_path, mode):
        from log2seq_spark.plans.epochs import index_segments
        idx = os.path.join(tmpdir_path, "rp_idx")
        src = self._shard(spark, tmpdir_path, "rp_s", self.ROWS[mode])
        outs = [os.path.join(tmpdir_path, f"rp_o{i}") for i in range(2)]
        for out in outs:
            assert self._dedup(src, out, idx, mode) == 0
        assert "already committed" in capsys.readouterr().err
        for out in outs:    # the shard never matches its own entries
            assert self._verdicts(spark, out) == self.WANT[mode]
        segments, _, _ = index_segments(idx, spark)
        assert segments == [f"{idx}/delta/gen=1"]   # no second delta

    def test_replay_after_compaction_refuses(self, spark, capsys,
                                             tmpdir_path):
        idx = os.path.join(tmpdir_path, "rc_idx")
        out = os.path.join(tmpdir_path, "rc_o")
        srcs = [self._shard(spark, tmpdir_path, f"rc_s{i}",
                            [(f"c{i}", f"content {i}")]) for i in range(2)]
        for src in srcs:    # compact_every=1 -> compaction after 2nd
            assert self._dedup(src, out, idx, "exact",
                               "--compact-every", "1") == 0
        capsys.readouterr()
        assert self._dedup(srcs[0], out, idx) == 2
        assert "compacted" in capsys.readouterr().err

    def test_garbage_claim_refuses(self, spark, capsys, tmpdir_path):
        import hashlib
        idx = os.path.join(tmpdir_path, "gc_idx")
        src = self._shard(spark, tmpdir_path, "gc_s", [("d", "a b c")])
        os.makedirs(os.path.join(idx, "_shards"))
        with open(os.path.join(idx, "_shards",
                               hashlib.md5(src.encode()).hexdigest()),
                  "w") as f:
            f.write("garb\x00age")
        assert self._dedup(src, os.path.join(tmpdir_path, "gc_o"),
                           idx) == 2
        assert "unreadable shard claim" in capsys.readouterr().err

    def test_mode_drift_refused(self, spark, capsys, tmpdir_path):
        idx = os.path.join(tmpdir_path, "md_idx")
        out = os.path.join(tmpdir_path, "md_o")
        assert self._dedup(self._shard(spark, tmpdir_path, "md_s1",
                                       self.ROWS["exact"]),
                           out, idx, "exact") == 0
        capsys.readouterr()
        src2 = self._shard(spark, tmpdir_path, "md_s2", self.ROWS["near"])
        assert self._dedup(src2, out, idx, "near") == 2
        err = capsys.readouterr().err
        assert "incompatible" in err and "Traceback" not in err
        assert len(err.strip().splitlines()) == 1

    def test_stampless_index_with_segments_refused(self, spark, capsys,
                                                   tmpdir_path):
        idx = os.path.join(tmpdir_path, "sl_idx")
        out = os.path.join(tmpdir_path, "sl_o")
        assert self._dedup(self._shard(spark, tmpdir_path, "sl_s1",
                                       [("a", "alpha")]), out, idx) == 0
        # an index written before dedup stamped its mode
        os.remove(os.path.join(idx, "_params.json"))
        capsys.readouterr()
        src2 = self._shard(spark, tmpdir_path, "sl_s2", [("b", "beta")])
        assert self._dedup(src2, out, idx) == 2
        assert "no _params.json" in capsys.readouterr().err

    @pytest.mark.parametrize("crash", ["verdict_write", "after_publish"])
    def test_rerun_after_crash_gives_first_verdicts(
            self, spark, capsys, tmpdir_path, monkeypatch, crash):
        """A run killed before its verdicts land, or right after its
        delta committed, is rerun to the verdicts of an uninterrupted
        run, and the index holds one delta for the shard."""
        import log2seq_spark.__main__ as cli
        from log2seq_spark.plans import epochs
        from log2seq_spark.plans.epochs import index_segments
        idx = os.path.join(tmpdir_path, "kc_idx")
        src = self._shard(spark, tmpdir_path, "kc_s", self.ROWS["exact"])
        out = os.path.join(tmpdir_path, "kc_o")

        commit = epochs.IndexShard.commit

        def killed(*args, **kwargs):
            raise RuntimeError("killed")

        def commit_then_killed(*args, **kwargs):
            commit(*args, **kwargs)
            killed()
        if crash == "verdict_write":
            monkeypatch.setattr(cli, "_write_with_tally", killed)
        else:
            monkeypatch.setattr(epochs.IndexShard, "commit",
                                commit_then_killed)
        with pytest.raises(RuntimeError, match="killed"):
            self._dedup(src, out, idx)
        monkeypatch.undo()
        assert self._dedup(src, out, idx) == 0
        capsys.readouterr()
        assert self._verdicts(spark, out) == self.WANT["exact"]
        segments, _, _ = index_segments(idx, spark)
        assert segments == [f"{idx}/delta/gen=1"]


class TestParseInputRobustness:
    """Review regressions: glob expansion on every reader path, plain
    .xz, missing-input validation for table/parquet kinds, and the
    parquet round-trip with colliding column names."""

    def test_glob_expands_for_gz_and_qmark(self, run_cli, tmpdir_path):
        # globs expand driver-side before the reader is chosen (here
        # the logtext source, for the non-UTF-8 encoding); '?' patterns
        # count as globs too
        p1 = os.path.join(tmpdir_path, "g1.log.gz")
        with gzip.open(p1, "wt") as f:
            f.write("Jan  1 12:34:56 host app[1]: gz line\n")
        code, out, err = run_cli(
            [os.path.join(tmpdir_path, "g?.log.gz"),
             "--encoding", "latin-1", "-t", "words"])
        assert code == 0
        assert out.splitlines() == ["app 1 gz line"]

    def test_glob_matching_nothing_exits_2(self, run_cli, tmpdir_path):
        code, out, err = run_cli(
            [os.path.join(tmpdir_path, "nope*.log")])
        assert code == 2
        assert "cannot read input" in err

    def test_plain_xz(self, run_cli, tmpdir_path):
        # Hadoop has no XZ codec: spark.read.text would return the raw
        # compressed bytes as mojibake "lines"
        import lzma
        p = os.path.join(tmpdir_path, "x.log.xz")
        with lzma.open(p, "wt") as f:
            f.write("Jan  1 12:34:56 host app[1]: xz line\n")
        code, out, err = run_cli([p, "-t", "words"])
        assert code == 0
        assert out.splitlines() == ["app 1 xz line"]

    def test_comma_in_file_name(self, run_cli, tmpdir_path):
        # the logtext source takes its paths as a JSON list, so a comma
        # in a file name does not split it in two
        import lzma
        p = os.path.join(tmpdir_path, "a,b.log.xz")
        with lzma.open(p, "wt") as f:
            f.write("Jan  1 12:34:56 host app[1]: comma line\n")
        code, out, err = run_cli([p, "-t", "words"])
        assert code == 0
        assert out.splitlines() == ["app 1 comma line"]

    def test_parquet_kind_without_input_exits_2(self, run_cli):
        code, out, err = run_cli(["--input-kind", "parquet"])
        assert code == 2
        assert "no input given" in err

    def test_parquet_roundtrip_with_ts_column(self, spark, run_cli,
                                              tmpdir_path):
        # the turns table carries ts and the parsed struct has a ts
        # field: a bare select("*", "parsed.*") emitted duplicate
        # columns and the advertised parquet-in/parquet-out path always
        # crashed — colliding parsed fields get a parsed_ prefix
        from log2seq_spark.sources.transcripts import transcripts
        inp = os.path.join(tmpdir_path, "turns_rt")
        outp = os.path.join(tmpdir_path, "parsed_rt.parquet")
        transcripts(spark, 10, seed=3, partitions=2).write.parquet(inp)
        code, out, err = run_cli(
            ["--input", inp, "--input-kind", "parquet", "-o", outp])
        assert code == 0
        got = spark.read.parquet(outp)
        assert "ts" in got.columns and "parsed_ts" in got.columns
        assert got.count() > 0


class TestMultilineFlag:
    TRACE = ("Jan  1 12:34:56 host1 app[1]: ERROR boom\n"
             "  at com.example.A(file.java:10)\n"
             "  at com.example.B(file.java:20)\n"
             "Jan  1 12:34:57 host1 app[1]: INFO ok\n")

    def test_stdin_collapse(self, run_cli):
        code, out, err = run_cli(
            ["--year", "2023", "--multiline-start", "^[A-Z][a-z]{2} ",
             "-t", "words"], self.TRACE)
        assert code == 0
        lines = out.splitlines()
        assert len(lines) == 2                       # 4 phys -> 2 records
        assert lines[0].startswith("app 1 ERROR boom at com.example.A")
        assert lines[0].endswith("at com.example.B file.java 20")
        assert lines[1] == "app 1 INFO ok"
        assert "# processed 2 lines: 2 ok, 0 failed" in err

    def test_custom_sep(self, run_cli):
        # '|' is a statement separator, so the sep lands in SYMBOLS
        # (visible in object format), never in the words
        code, out, err = run_cli(
            ["--year", "2023", "--multiline-start", "^[A-Z][a-z]{2} ",
             "--multiline-sep", " || "], self.TRACE)
        assert code == 0
        assert "||" in out.splitlines()[0]
        wcode, wout, _ = run_cli(
            ["--year", "2023", "--multiline-start", "^[A-Z][a-z]{2} ",
             "--multiline-sep", " || ", "-t", "words"], self.TRACE)
        assert wcode == 0 and "||" not in wout

    def test_distributed_per_member(self, run_cli, tmpdir_path):
        # records are assembled per archive member; one never leaks
        # into the next member
        arch = _tar(os.path.join(tmpdir_path, "ml.tar.gz"),
                    [(m, f"Jan  1 12:00:00 host1 app[1]: {head}\n"
                         "  continuation\n")
                     for m, head in (("a.log", "ERROR one"),
                                     ("b.log", "WARN two"))])
        code, out, err = run_cli(
            ["--year", "2023", "--multiline-start",
             "^[A-Z][a-z]{2} ", "-t", "words", arch])
        assert code == 0
        assert out.splitlines() == ["app 1 ERROR one continuation",
                                    "app 1 WARN two continuation"]
        assert "# processed 2 lines: 2 ok, 0 failed" in err

    def test_records_stop_at_file_boundary(self, run_cli, tmpdir_path):
        # a continuation line at the start of file 2 opens an orphan
        # record of its own; it does not join file 1's last record
        a = os.path.join(tmpdir_path, "mla.log")
        with open(a, "w") as f:
            f.write("Jan  1 12:00:00 host1 app[1]: ERROR one\n"
                    "  cont one\n")
        b = os.path.join(tmpdir_path, "mlb.log")
        with open(b, "w") as f:
            f.write("  orphan cont\n"
                    "Jan  1 12:00:01 host1 app[1]: WARN two\n")
        code, out, err = run_cli(
            ["--year", "2023", "--multiline-start", "^[A-Z][a-z]{2} ",
             "-t", "words", a, b])
        assert code == 0
        assert out.splitlines() == ["app 1 ERROR one cont one",
                                    "app 1 WARN two"]
        assert "parse failed: '  orphan cont'" in err
        assert "# processed 3 lines: 2 ok, 1 failed" in err


class TestTemplatesMultiline:
    def test_records_are_the_mining_unit(self, spark, capsys, tmpdir_path):
        import os
        from log2seq_spark.__main__ import main
        log = os.path.join(tmpdir_path, "trace.log")
        with open(log, "w") as f:
            for j in (1, 2):
                f.write(f"2024-01-01 00:00:0{j} ERROR job {j} failed\n"
                        f"  at com.example.A(file.java:1{j})\n"
                        f"  at com.example.B(file.java:2{j})\n")
        capsys.readouterr()
        assert main(["templates", "--input", log,
                     "--multiline-start", r"^\d{4}-", "--top", "5"]) == 0
        out = capsys.readouterr().out.splitlines()
        # two 3-line traces -> ONE record template with n_lines=2;
        # without assembly this mines 'at <*>' 4x as its own template
        assert len(out) == 1
        n_lines, n_groups, template = out[0].split("\t")
        assert n_lines == "2" and "failed at" in template

    def test_table_input_rejected(self, spark, capsys):
        from log2seq_spark.__main__ import main
        code = main(["templates", "--input", "t", "--input-kind", "table",
                     "--multiline-start", r"^\d{4}-"])
        assert code == 2
        assert "per-file line order" in capsys.readouterr().err


class TestAnomalyCommands:
    """CLI surfaces over operators/anomaly.py: drift, rare, bursts."""

    def _write_log(self, tmpdir_path, name, lines):
        p = os.path.join(tmpdir_path, name)
        with open(p, "w") as f:
            f.write("".join(l + "\n" for l in lines))
        return p

    def test_drift_new_and_stable(self, spark, capsys, tmpdir_path):
        a = self._write_log(tmpdir_path, "a.log",
                            ["connect from h1", "connect from h2"])
        b = self._write_log(tmpdir_path, "b.log",
                            ["connect from h3", "connect from h4",
                             "disk failure on sda", "disk failure on sdb"])
        capsys.readouterr()
        assert main(["drift", "--input-a", a, "--input-b", b]) == 0
        rows = {l.split("\t")[3]: l.split("\t")
                for l in capsys.readouterr().out.splitlines()}
        assert rows["disk failure on <*>"][0] == "new"
        assert rows["disk failure on <*>"][1:3] == ["0", "2"]
        assert rows["connect from <*>"][0] == "stable"

    def test_drift_status_filter(self, spark, capsys, tmpdir_path):
        a = self._write_log(tmpdir_path, "fa.log",
                            ["session closed x1", "session closed x2"])
        b = self._write_log(tmpdir_path, "fb.log",
                            ["session closed y1", "session closed y2",
                             "node up ok"])
        capsys.readouterr()
        assert main(["drift", "--input-a", a, "--input-b", b,
                     "--status", "new"]) == 0
        out = capsys.readouterr().out.splitlines()
        assert [l.split("\t")[0] for l in out] == ["new"]
        assert out[0].endswith("node up ok")

    def test_rare_prints_rare_lines(self, spark, capsys, tmpdir_path):
        p = self._write_log(tmpdir_path, "r.log",
                            ["login ok user u1", "login ok user u2",
                             "login ok user u3", "kernel panic now"])
        capsys.readouterr()
        assert main(["rare", "--input", p]) == 0
        out = capsys.readouterr().out.splitlines()
        assert out == ["1\tkernel panic now"]

    def test_rare_out_parquet_with_tally(self, spark, capsys, tmpdir_path):
        p = self._write_log(tmpdir_path, "ro.log",
                            ["job 1 done", "job 2 done", "weird singleton"])
        dest = os.path.join(tmpdir_path, "rare_out")
        capsys.readouterr()
        assert main(["rare", "--input", p, "--out", dest,
                     "--rare-only"]) == 0
        err = capsys.readouterr().err
        rows = spark.read.parquet(dest).collect()
        assert [r["text"] for r in rows] == ["weird singleton"]
        # tally covers the FULL frame even under --rare-only
        assert "# True: 1" in err and "# False: 2" in err

    def test_rare_state_dir_new_and_rare_vs_history(self, spark, capsys,
                                                    tmpdir_path):
        """--state-dir: shard B screens against shard A's mined state —
        a line common WITHIN B is neither new nor rare once its group
        was seen in A; a never-seen group is new; the batch folds in
        (epoch advances) so shard C would screen against A∪B."""
        a = self._write_log(tmpdir_path, "rsA.log",
                            ["login ok user u1", "login ok user u2"])
        b = self._write_log(tmpdir_path, "rsB.log",
                            ["login ok user u3", "login ok user u4",
                             "kernel panic now"])
        st = os.path.join(tmpdir_path, "rstate")
        assert main(["templates", "--input", a, "--state-dir", st]) == 0
        capsys.readouterr()
        assert main(["rare", "--input", b, "--state-dir", st]) == 0
        cap = capsys.readouterr()
        assert "# state: epoch=1" in cap.err
        # only the panic line surfaces: new group AND rare (1 line
        # across history ∪ batch); the login lines' template covers 4
        assert cap.out.splitlines() == ["new+rare\t1\tkernel panic now"]
        # the fold committed: template state now covers A ∪ B
        live = {(r["template"], r["n_lines"])
                for r in _state_templates(spark, st).collect()}
        assert ("login ok user <*>", 4) in live

    def test_rare_state_dir_screen_only_and_out(self, spark, capsys,
                                                tmpdir_path):
        """--screen-only leaves the state untouched; --out writes
        verdict parquet with is_new and tallies the verdict column."""
        a = self._write_log(tmpdir_path, "soA.log",
                            ["conn from h1 up", "conn from h2 up"])
        b = self._write_log(tmpdir_path, "soB.log",
                            ["conn from h3 up", "totally novel shape"])
        st = os.path.join(tmpdir_path, "sostate")
        dest = os.path.join(tmpdir_path, "so_out")
        assert main(["rare", "--input", a, "--state-dir", st]) == 0
        capsys.readouterr()
        assert main(["rare", "--input", b, "--state-dir", st,
                     "--screen-only", "--out", dest]) == 0
        err = capsys.readouterr().err
        assert "# state:" not in err          # nothing committed
        assert "# common: 1" in err and "# new+rare: 1" in err
        got = {r["text"]: (r["is_new"], r["is_rare"])
               for r in spark.read.parquet(dest).collect()}
        assert got["conn from h3 up"] == (False, False)
        assert got["totally novel shape"] == (True, True)
        from log2seq_spark.plans.epochs import committed_ids
        assert committed_ids(st) == [0]   # B was not folded in

    def test_rare_state_dir_rejects_tokenization_drift(self, spark,
                                                       capsys,
                                                       tmpdir_path):
        a = self._write_log(tmpdir_path, "rdA.log", ["conn up ok"])
        st = os.path.join(tmpdir_path, "rdstate")
        assert main(["templates", "--input", a, "--state-dir", st]) == 0
        capsys.readouterr()
        src = os.path.join(tmpdir_path, "rd_words")
        (spark.createDataFrame([(["conn", "up"],)],
                               "words array<string>")
         .write.mode("overwrite").parquet(src))
        code = main(["rare", "--input", src, "--input-kind", "parquet",
                     "--tokens-col", "words", "--state-dir", st])
        err = capsys.readouterr().err
        assert code == 2 and "rare:" in err

    def test_bursts_flags_spike(self, spark, capsys, tmpdir_path):
        import pyspark.sql.functions as F
        secs = [1, 2, 11, 12, 13] + [31] * 12
        src = os.path.join(tmpdir_path, "events_pq")
        (spark.createDataFrame([(s,) for s in secs], "sec long")
              .select(F.timestamp_seconds("sec").alias("ts"))
              .write.mode("overwrite").parquet(src))
        capsys.readouterr()
        assert main(["bursts", "--input", src, "--window", "10 seconds",
                     "--trailing", "2", "--mult", "2",
                     "--bursts-only"]) == 0
        out = capsys.readouterr().out.splitlines()
        assert len(out) == 1
        ws, n, base, verdict = out[0].split("\t")
        assert (ws, n, verdict) == ("30", "12", "BURST")
        assert base == "3/1"


class TestOutliersCommand:
    def test_flags_spike_with_tally(self, spark, capsys, tmpdir_path):
        src = os.path.join(tmpdir_path, "vals_pq")
        vals = [("t", v) for v in
                [9.0, 10.0, 10.0, 10.0, 11.0, 10.0, 9.5, 10.5, 10.0,
                 10000.0]] + [("u", 5.0), ("u", 5.1), ("u", 4.9)]
        (spark.createDataFrame(vals, "event_type string, value double")
              .write.mode("overwrite").parquet(src))
        capsys.readouterr()
        assert main(["outliers", "--input", src,
                     "--key-col", "event_type"]) == 0
        cap = capsys.readouterr()
        out = cap.out.splitlines()
        assert len(out) == 1
        key, val, z = out[0].split("\t")
        assert (key, val) == ("t", "10000.0")
        assert float(z) > 3.5
        assert "# t: 1 outliers / 10 rows" in cap.err
        assert "# u: 0 outliers / 3 rows" in cap.err


class TestFillCommand:
    def test_fills_hourly_gaps(self, spark, capsys, tmpdir_path):
        import datetime as dt
        src = os.path.join(tmpdir_path, "series_pq")
        out = os.path.join(tmpdir_path, "filled_pq")
        rows = [("a", dt.datetime(2024, 1, 1, 0, 5), 10.0),
                ("a", dt.datetime(2024, 1, 1, 3, 40), 40.0),
                ("b", dt.datetime(2024, 1, 1, 1, 0), 7.0)]
        (spark.createDataFrame(rows, "k string, ts timestamp, value double")
              .write.mode("overwrite").parquet(src))
        capsys.readouterr()
        assert main(["fill", "--input", src, "--out", out,
                     "--key-col", "k"]) == 0
        err = capsys.readouterr().err
        assert "# a: filled 2 of 4 grid rows" in err
        assert "# b: filled 0 of 1 grid rows" in err
        got = {(r["k"], r["ts"].hour): r
               for r in spark.read.parquet(out).collect()}
        assert got[("a", 1)]["value_locf"] == 10.0
        assert got[("a", 2)]["value_interp"] == pytest.approx(30.0)


class TestAnnCommand:
    def _embs(self, spark, tmpdir_path, name, ids):
        import math
        # i/20 keeps every angle inside [0, 3) rad — no unit-circle wrap,
        # so cosine similarity is monotone in |i - j|
        rows = [(i, [math.cos(i / 20.0), math.sin(i / 20.0)]) for i in ids]
        path = os.path.join(tmpdir_path, name)
        (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
              .write.mode("overwrite").parquet(path))
        return path

    def test_build_query_append_query(self, spark, capsys, tmpdir_path):
        """build → query, then append a batch → the same query now
        surfaces the appended neighbors (stamped cell space reused)."""
        base = self._embs(spark, tmpdir_path, "annA", range(0, 60, 2))
        extra = self._embs(spark, tmpdir_path, "annB", range(1, 60, 2))
        idx = os.path.join(tmpdir_path, "ann_idx")
        assert main(["ann", "build", "--input", base, "--index-dir", idx,
                     "--k-cells", "4"]) == 0
        assert "# cells=4" in capsys.readouterr().err
        assert main(["ann", "query", "--index-dir", idx, "--input", base,
                     "--query-id", "0", "--k", "3", "--n-probe", "4"]) == 0
        before = [l.split("\t")[0]
                  for l in capsys.readouterr().out.splitlines()]
        assert before == ["0", "2", "4"]     # evens only so far
        assert main(["ann", "append", "--input", extra,
                     "--index-dir", idx]) == 0
        capsys.readouterr()
        assert main(["ann", "query", "--index-dir", idx, "--input", base,
                     "--query-id", "0", "--k", "3", "--n-probe", "4"]) == 0
        after = [l.split("\t")[0]
                 for l in capsys.readouterr().out.splitlines()]
        assert after == ["0", "1", "2"]      # appended odds now probed

    def _appended_index(self, spark, tmpdir_path, idx):
        """A 2-cell index built from ids 0..19 plus three appended
        batches, so every cell holds several undersized files; returns
        the ``ann query`` output over it."""
        base = self._embs(spark, tmpdir_path, "anncA", range(0, 20))
        assert main(["ann", "build", "--input", base, "--index-dir", idx,
                     "--k-cells", "2"]) == 0
        for lo in (20, 40, 60):
            extra = self._embs(spark, tmpdir_path, f"annc{lo}",
                               range(lo, lo + 20))
            assert main(["ann", "append", "--input", extra,
                         "--index-dir", idx]) == 0
        return self._query(idx)

    @staticmethod
    def _query(idx):
        import contextlib
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            assert main(["ann", "query", "--index-dir", idx,
                         "--query-vec", "1.0,0.0", "--k", "4",
                         "--n-probe", "2"]) == 0
        return buf.getvalue()

    def test_compact_folds_append_files(self, spark, capsys, tmpdir_path,
                                        path_forms):
        """Three appends leave several small files per cell; compact
        bin-packs them into one file per cell, and the query answer and
        the rows are unchanged. It goes through the Hadoop FileSystem,
        so a ``file://`` index dir compacts like a plain one."""
        import re
        for idx, local in path_forms(tmpdir_path):
            before = self._appended_index(spark, tmpdir_path, idx)
            n_rows = spark.read.parquet(idx).count()
            capsys.readouterr()
            assert main(["ann", "compact", "--index-dir", idx]) == 0
            m = re.search(r"# compacted: (\d+) -> (\d+) files",
                          capsys.readouterr().err)
            assert m and int(m.group(1)) > int(m.group(2)) == 2
            assert self._query(idx) == before
            assert spark.read.parquet(idx).count() == n_rows
            # the stamp survives; no staging or manifest is left behind
            assert "_ivf_centroids.json" in os.listdir(local)
            for cell in (d for d in os.listdir(local)
                         if d.startswith("centroid=")):
                assert not [n for n in os.listdir(os.path.join(local, cell))
                            if n.startswith((".compact-", "_COMPACT"))]

    def test_interrupted_compact_finished_by_rerun(self, spark, capsys,
                                                   tmpdir_path,
                                                   monkeypatch):
        """A compaction stopped after a cell's swap manifest is written
        is finished by the next `ann compact`: same answer, every
        vector exactly once."""
        from pyspark.sql import functions as F

        from log2seq_spark.operators import layout
        idx = os.path.join(tmpdir_path, "annx_idx")
        before = self._appended_index(spark, tmpdir_path, idx)
        n_rows = spark.read.parquet(idx).count()

        def crash(*_a, **_k):
            raise RuntimeError("stopped after the manifest write")
        monkeypatch.setattr(layout, "_finish_swap", crash)
        with pytest.raises(RuntimeError, match="manifest write"):
            main(["ann", "compact", "--index-dir", idx])
        monkeypatch.undo()
        pending = [d for d in os.listdir(idx) if os.path.exists(
            os.path.join(idx, d, layout._MANIFEST))]
        assert len(pending) == 1
        # the staged copy is invisible until the swap finishes
        assert spark.read.parquet(idx).count() == n_rows
        assert main(["ann", "compact", "--index-dir", idx]) == 0
        assert not os.path.exists(
            os.path.join(idx, pending[0], layout._MANIFEST))
        assert self._query(idx) == before
        back = spark.read.parquet(idx)
        assert back.count() == n_rows
        assert back.groupBy("vec_id").count().filter(
            F.col("count") > 1).count() == 0

    def test_append_to_unstamped_dir_exits_2(self, spark, capsys,
                                             tmpdir_path):
        bare = self._embs(spark, tmpdir_path, "annBare", range(5))
        for argv in (["ann", "append", "--input", bare,
                      "--index-dir", bare],
                     ["ann", "compact", "--index-dir", bare]):
            code = main(argv)
            err = capsys.readouterr().err
            assert code == 2 and "_ivf_centroids" in err

    def test_query_vec_and_missing_args(self, spark, capsys, tmpdir_path):
        base = self._embs(spark, tmpdir_path, "annQ", range(10))
        idx = os.path.join(tmpdir_path, "annq_idx")
        assert main(["ann", "build", "--input", base, "--index-dir", idx,
                     "--k-cells", "2"]) == 0
        capsys.readouterr()
        assert main(["ann", "query", "--index-dir", idx,
                     "--query-vec", "1.0,0.0", "--k", "2",
                     "--n-probe", "2"]) == 0
        out = capsys.readouterr().out.splitlines()
        assert [l.split("\t")[0] for l in out] == ["0", "1"]
        assert main(["ann", "build", "--index-dir", idx]) == 2   # no input
        assert main(["ann", "query", "--index-dir", idx]) == 2   # no vector


class TestBpeCommand:
    """`bpe train` / `bpe encode` — the tokenizer lifecycle
    (operators/bpe.py) over a documents parquet table."""

    def _docs(self, spark, tmpdir_path, rows):
        src = os.path.join(tmpdir_path, "bpe_docs")
        spark.createDataFrame(rows, "doc_id string, text string") \
             .write.mode("overwrite").parquet(src)
        return src

    def test_train_then_encode_roundtrip(self, spark, capsys, tmpdir_path):
        src = self._docs(spark, tmpdir_path, [
            ("d1", "lower lower lowest"),
            ("d2", "lower slower slowest"),
            ("d3", "low slow lowest"),
        ])
        merges_path = os.path.join(tmpdir_path, "merges.json")
        assert main(["bpe", "train", "--input", src,
                     "--merges", merges_path, "--n-merges", "8"]) == 0
        err = capsys.readouterr().err
        assert "# merges:" in err
        import json
        merges = json.load(open(merges_path))
        assert 0 < len(merges) <= 8
        assert all(len(m) == 2 for m in merges)

        dest = os.path.join(tmpdir_path, "bpe_out")
        assert main(["bpe", "encode", "--input", src,
                     "--merges", merges_path, "--out", dest]) == 0
        err = capsys.readouterr().err
        assert "bpe_tokens:" in err
        got = {r["doc_id"]: r for r in spark.read.parquet(dest).collect()}
        assert set(got) == {"d1", "d2", "d3"}
        for doc_id, text in [("d1", "lower lower lowest"),
                             ("d2", "lower slower slowest"),
                             ("d3", "low slow lowest")]:
            r = got[doc_id]
            # pieces reconstruct the token stream; count column agrees
            assert "".join(r["bpe_pieces"]) == text.replace(" ", "")
            assert r["n_bpe_tokens"] == len(r["bpe_pieces"])

    def test_encode_exit_2_on_bad_merges(self, spark, capsys, tmpdir_path):
        src = self._docs(spark, tmpdir_path, [("d1", "ok")])
        dest = os.path.join(tmpdir_path, "out")
        assert main(["bpe", "encode", "--input", src,
                     "--merges", os.path.join(tmpdir_path, "nope.json"),
                     "--out", dest]) == 2
        bad = os.path.join(tmpdir_path, "bad.json")
        with open(bad, "w") as f:
            f.write('[["a","b","c"]]')
        assert main(["bpe", "encode", "--input", src,
                     "--merges", bad, "--out", dest]) == 2
        assert main(["bpe", "encode", "--input", src,
                     "--merges", bad]) == 2   # no --out


class TestHeavyCommand:
    """`heavy` subcommand — exact heavy hitters over a column or its
    whitespace tokens (operators/heavy.py)."""

    def test_tokenized_and_raw(self, spark, capsys, tmpdir_path):
        src = os.path.join(tmpdir_path, "hv_docs")
        rows = [("d1", "x x x x y"), ("d2", "x x y z"), ("d3", "w")]
        spark.createDataFrame(rows, "doc_id string, text string") \
             .write.mode("overwrite").parquet(src)
        # tokens: x*6 y*2 z*1 w*1 (n=10); k=3 -> count > 3.33 -> only x
        assert main(["heavy", "--input", src, "--col", "text",
                     "--tokenize", "-k", "3"]) == 0
        out = capsys.readouterr().out.splitlines()
        assert out == ["6\tx"]
        # raw column values: 3 distinct docs, k=2 -> count > 1.5 -> none
        assert main(["heavy", "--input", src, "--col", "doc_id",
                     "-k", "2"]) == 0
        assert capsys.readouterr().out == ""


class TestShardsCommand:
    """`shards` subcommand — deterministic training-shard export with
    per-shard census + optional curriculum phases (operators/shards.py)."""

    def _docs(self, spark, tmpdir_path):
        src = os.path.join(tmpdir_path, "sh_docs")
        rows = [(i, f"doc {i} text", float(i % 5)) for i in range(40)]
        spark.createDataFrame(rows, "doc_id long, text string, score double") \
             .write.mode("overwrite").parquet(src)
        return src

    def test_write_and_census(self, spark, capsys, tmpdir_path):
        src = self._docs(spark, tmpdir_path)
        dest = os.path.join(tmpdir_path, "sh_out")
        assert main(["shards", "--input", src, "--out", dest,
                     "--n-shards", "4"]) == 0
        err = capsys.readouterr().err
        assert "# total: 40 docs in 4 shards" in err
        back = spark.read.parquet(dest)
        assert back.count() == 40
        assert set(back.columns) >= {"doc_id", "text", "shard",
                                     "interleave_key"}

    def test_census_only_and_curriculum(self, spark, capsys, tmpdir_path):
        src = self._docs(spark, tmpdir_path)
        assert main(["shards", "--input", src, "--census-only",
                     "--n-shards", "2", "--curriculum", "score",
                     "--phases", "2"]) == 0
        err = capsys.readouterr().err
        assert "# total: 40 docs in 2 shards" in err

    def test_missing_out_is_startup_error(self, spark, capsys, tmpdir_path):
        src = self._docs(spark, tmpdir_path)
        assert main(["shards", "--input", src]) == 2
        assert "--out is required" in capsys.readouterr().err


class TestChunkCommand:
    """`chunk` subcommand — sliding-token-window doc splitting
    (operators/chunking.py)."""

    def test_export_and_tally(self, spark, capsys, tmpdir_path):
        src = os.path.join(tmpdir_path, "ck_docs")
        rows = [(0, " ".join(f"t{i}" for i in range(10))), (1, "short doc")]
        spark.createDataFrame(rows, "doc_id long, text string") \
             .write.mode("overwrite").parquet(src)
        dest = os.path.join(tmpdir_path, "ck_out")
        assert main(["chunk", "--input", src, "--out", dest,
                     "--chunk-tokens", "4", "--overlap", "1"]) == 0
        err = capsys.readouterr().err
        # doc0: windows at 0,3,6 -> 3 chunks (4,4,4); doc1: 1 chunk
        assert "# total: 4 chunks from 2 docs" in err
        back = spark.read.parquet(dest)
        assert back.count() == 4
        assert back.filter("doc_id = 0 AND chunk_idx = 1") \
                   .first()["chunk_text"] == "t3 t4 t5 t6"

    def test_bad_overlap_is_startup_error(self, spark, capsys, tmpdir_path):
        src = os.path.join(tmpdir_path, "ck_docs2")
        spark.createDataFrame([(0, "a b")], "doc_id long, text string") \
             .write.mode("overwrite").parquet(src)
        assert main(["chunk", "--input", src,
                     "--out", os.path.join(tmpdir_path, "ck_o2"),
                     "--chunk-tokens", "4", "--overlap", "4"]) == 2
        assert "overlap" in capsys.readouterr().err


class TestDedupBloomSidecar:
    """The exact incremental index's Bloom membership sidecar: written
    at each publish, a superset of the index at all times, resized at
    compaction, and NEVER a correctness dependency (corrupt sidecar →
    plain-join fallback)."""

    def _shard(self, spark, tmpdir_path, name, rows):
        p = os.path.join(tmpdir_path, name)
        (spark.createDataFrame(rows, "doc_id long, text string")
         .write.mode("overwrite").parquet(p))
        return p

    def test_sidecar_written_and_superset(self, spark, capsys,
                                          tmpdir_path):
        from log2seq_spark.operators import bloom, dedup as dd
        idx = os.path.join(tmpdir_path, "bs_idx")
        s1 = self._shard(spark, tmpdir_path, "bs_s1",
                         [(i, f"c {i % 7}") for i in range(20)])
        out1 = os.path.join(tmpdir_path, "bs_o1")
        assert main(["dedup", "--mode", "exact", "--input", s1,
                     "--out", out1, "--index-dir", idx]) == 0
        capsys.readouterr()
        side = bloom.load_bloom(spark, f"{idx}/_bloom")
        from log2seq_spark.plans.epochs import index_segments
        segments, _, _ = index_segments(idx, spark)
        hashes = spark.read.parquet(*segments).select("text_hash")
        n_all = hashes.count()
        n_in = hashes.where(
            bloom.might_contain_expr("text_hash", side)).count()
        assert n_in == n_all            # superset: no false negatives

    def test_corrupt_sidecar_falls_back_correctly(self, spark, capsys,
                                                  tmpdir_path):
        idx = os.path.join(tmpdir_path, "cx_idx")
        s1 = self._shard(spark, tmpdir_path, "cx_s1",
                         [(i, f"c {i % 5}") for i in range(15)])
        s2 = self._shard(spark, tmpdir_path, "cx_s2",
                         [(100 + i, f"c {i % 9}") for i in range(15)])
        out1 = os.path.join(tmpdir_path, "cx_o1")
        out2 = os.path.join(tmpdir_path, "cx_o2")
        assert main(["dedup", "--mode", "exact", "--input", s1,
                     "--out", out1, "--index-dir", idx]) == 0
        # clobber the sidecar meta — load must fail, screen must fall
        # back to the plain join and still decide correctly
        with open(os.path.join(idx, "_bloom", "_bloom_meta.json"),
                  "w") as f:
            f.write("{not json")
        assert main(["dedup", "--mode", "exact", "--input", s2,
                     "--out", out2, "--index-dir", idx]) == 0
        capsys.readouterr()
        dec = {r["doc_id"]: r["decision"]
               for r in spark.read.parquet(out2).collect()}
        # "c 0".."c 4" were seen in shard 1; "c 5".."c 8" are novel
        for i in range(15):
            expect_seen = (i % 9) < 5
            if expect_seen:
                assert dec[100 + i] == "drop_seen"
        # sidecar was re-written (merged over a fresh build) and loads
        from log2seq_spark.operators import bloom
        assert bloom.load_bloom(spark, f"{idx}/_bloom")["k"] >= 1

    def test_sidecar_resized_at_compaction(self, spark, capsys,
                                           tmpdir_path):
        from log2seq_spark.operators import bloom
        idx = os.path.join(tmpdir_path, "rs_idx")
        small_m = 1 << 10
        for s in range(3):
            src = self._shard(spark, tmpdir_path, f"rs_s{s}",
                              [(s * 100 + i, f"c {s * 100 + i}")
                               for i in range(30)])
            out = os.path.join(tmpdir_path, f"rs_o{s}")
            assert main(["dedup", "--mode", "exact", "--input", src,
                         "--out", out, "--index-dir", idx,
                         "--compact-every", "2",
                         "--bloom-bits", str(small_m)]) == 0
            capsys.readouterr()
        side = bloom.load_bloom(spark, f"{idx}/_bloom")
        # 90 distinct contents; compaction resizes m to the 2x-capacity
        # formula, well above the deliberately tiny initial 1024 bits
        assert side["m_bits"] > small_m
        from log2seq_spark.plans.epochs import index_segments
        segments, _, _ = index_segments(idx, spark)
        hashes = spark.read.parquet(*segments).select("text_hash")
        assert hashes.where(bloom.might_contain_expr(
            "text_hash", side)).count() == hashes.count()

    def test_sidecar_bootstrap_covers_preexisting_index(self, spark,
                                                        capsys,
                                                        tmpdir_path):
        """Enabling the sidecar on an index built WITHOUT one (or after
        a corrupt save) must bootstrap from the full index — a
        delta-only seed would be a subset and short-circuit seen
        hashes to 'novel' on the following shard."""
        from log2seq_spark.operators import bloom
        idx = os.path.join(tmpdir_path, "bb_idx")
        s1 = self._shard(spark, tmpdir_path, "bb_s1",
                         [(i, f"old {i}") for i in range(12)])
        out1 = os.path.join(tmpdir_path, "bb_o1")
        assert main(["dedup", "--mode", "exact", "--input", s1,
                     "--out", out1, "--index-dir", idx,
                     "--bloom-bits", "0"]) == 0      # no sidecar yet
        s2 = self._shard(spark, tmpdir_path, "bb_s2",
                         [(100 + i, f"new {i}") for i in range(12)])
        out2 = os.path.join(tmpdir_path, "bb_o2")
        assert main(["dedup", "--mode", "exact", "--input", s2,
                     "--out", out2, "--index-dir", idx]) == 0
        # sidecar must now cover shard 1's hashes too
        side = bloom.load_bloom(spark, f"{idx}/_bloom")
        from log2seq_spark.plans.epochs import index_segments
        segments, _, _ = index_segments(idx, spark)
        hashes = spark.read.parquet(*segments).select("text_hash")
        assert hashes.where(bloom.might_contain_expr(
            "text_hash", side)).count() == hashes.count()
        # and a replay of shard 1 screens correctly THROUGH the sidecar
        out3 = os.path.join(tmpdir_path, "bb_o3")
        s3 = self._shard(spark, tmpdir_path, "bb_s3",
                         [(200 + i, f"old {i}") for i in range(12)])
        assert main(["dedup", "--mode", "exact", "--input", s3,
                     "--out", out3, "--index-dir", idx]) == 0
        capsys.readouterr()
        dec = {r["decision"] for r in spark.read.parquet(out3).collect()}
        assert dec == {"drop_seen"}

    def test_near_mode_sidecar_verdicts_unchanged(self, spark, capsys,
                                                  tmpdir_path):
        """Near (MinHash) incremental mode with the bucket-key sidecar
        on vs off must produce identical verdicts shard by shard."""
        import random
        rng = random.Random(31)
        def mk(seed_base, n):
            rows = []
            for i in range(n):
                t = " ".join(f"w{rng.randrange(12)}"
                             for _ in range(rng.randrange(5, 12)))
                rows.append((seed_base + i, t))
            return rows
        shards = [mk(0, 25), mk(100, 25)]
        outs = {"on": [], "off": []}
        for variant, bits in (("on", 1 << 16), ("off", 0)):
            idx = os.path.join(tmpdir_path, f"nm_idx_{variant}")
            rng = random.Random(31)          # same docs both variants
            shards = [mk(0, 25), mk(100, 25)]
            for s, rows in enumerate(shards):
                src = os.path.join(tmpdir_path, f"nm_{variant}_s{s}")
                (spark.createDataFrame(rows, "doc_id long, text string")
                 .write.mode("overwrite").parquet(src))
                out = os.path.join(tmpdir_path, f"nm_{variant}_o{s}")
                assert main(["dedup", "--mode", "near", "--input", src,
                             "--out", out, "--index-dir", idx,
                             "--bloom-bits", str(bits)]) == 0
                capsys.readouterr()
                outs[variant] += sorted(
                    (r["doc_id"], r["decision"], r["keep_id"])
                    for r in spark.read.parquet(out).collect())
        assert outs["on"] == outs["off"]
        from log2seq_spark.operators import bloom
        side = bloom.load_bloom(
            spark, os.path.join(tmpdir_path, "nm_idx_on", "_bloom"))
        assert side["m_bits"] == 1 << 16
