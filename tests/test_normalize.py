"""Unicode hygiene: NFC normalization + control/zero-width stripping."""

import pytest
from pyspark.sql import functions as F

from log2seq_spark.operators import scrub


def _docs(spark, rows):
    return spark.createDataFrame([(i, t) for i, t in enumerate(rows)],
                                 "doc_id long, text string")


class TestNormalizeText:
    def test_nfc_composes_decomposed_accents(self, spark):
        decomposed = "café"            # e + combining acute
        out = scrub.normalize_text(_docs(spark, [decomposed, "café"]))
        rows = sorted(out.collect(), key=lambda r: r["doc_id"])
        assert rows[0]["norm_text"] == "café"
        assert rows[0]["changed"] is True
        assert rows[1]["norm_text"] == "café"
        assert rows[1]["changed"] is False

    def test_controls_and_zero_width_stripped(self, spark):
        dirty = "a\x01b​c﻿d"
        out = scrub.normalize_text(_docs(spark, [dirty])).first()
        assert out["norm_text"] == "abcd"
        assert out["n_controls"] == 3
        assert out["changed"] is True

    def test_whitespace_survives(self, spark):
        keep = "line1\nline2\ttabbed\r"
        out = scrub.normalize_text(_docs(spark, [keep])).first()
        assert out["norm_text"] == keep
        assert out["n_controls"] == 0
        assert out["changed"] is False

    def test_null_text_passes_through(self, spark):
        df = spark.createDataFrame([(1, None)], "doc_id long, text string")
        out = scrub.normalize_text(df).first()
        assert out["norm_text"] is None


class TestNormalizeStats:
    def test_census(self, spark):
        docs = _docs(spark, ["café",       # nfc-changed, 4 cp after
                             "ok\x00\x01",       # 2 controls, 2 cp after
                             "plain"])           # untouched, 5 cp
        rows = {r["kind"]: r for r in
                scrub.normalize_stats(docs).collect()}
        c = rows["controls"]
        assert (c["n_matches"], c["n_docs"], c["n_after"]) == (2, 1, 0)
        n = rows["nfc"]
        assert n["n_matches"] == 2     # accent doc + control doc changed
        assert n["n_docs"] == 3
        assert n["n_after"] == 4 + 2 + 5


class TestCleanCorpusNormalize:
    def test_normalize_stage_rescues_exact_dedup(self, spark):
        from log2seq_spark.operators.corpus import clean_corpus
        # same visible text, one NFC-composed, one decomposed + a
        # zero-width space: without normalization they hash apart
        composed = "café menu listing for today"
        decomposed = "café menu listing​ for today"
        docs = spark.createDataFrame(
            [(1, composed), (2, decomposed)], "doc_id long, text string")
        plain = clean_corpus(docs, do_line_dedup=False, quality_min=None)
        assert all(r["kept"] for r in plain.collect())
        normed = clean_corpus(docs, do_normalize=True,
                              do_line_dedup=False, quality_min=None)
        rows = {r["doc_id"]: r for r in normed.collect()}
        assert rows[1]["kept"]
        assert not rows[2]["kept"]
        assert rows[2]["drop_reason"] == "exact_dup"
        assert rows[2]["clean_text"] == composed

    def test_cli_normalize_flag(self, spark, tmp_path):
        import subprocess, sys, os
        src = str(tmp_path / "docs")
        out = str(tmp_path / "clean")
        spark.createDataFrame(
            [(1, "café shared body text"),
             (2, "café shared body text")],
            "doc_id long, text string").write.parquet(src)
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = {**os.environ, "PYTHONPATH": root}
        r = subprocess.run(
            [sys.executable, "-m", "log2seq_spark", "clean",
             "--input", src, "--out", out, "--normalize",
             "--no-line-dedup", "--quality-min", "-1"],
            capture_output=True, text=True, env=env, cwd=root)
        assert r.returncode == 0, r.stderr[-800:]
        assert "# exact_dup: 1" in r.stderr
