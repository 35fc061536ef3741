"""End-to-end Spark pipeline tests on the deterministic synthetic
transcripts: per-turn byte-exact equality vs the pure oracle, routing /
aggregate counts vs an independent oracle computation, and the
checkpoint-manifest resume contract."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from log2seq_spark.rules import LineEngine, ParseFailure
from log2seq_spark.rules.presets import default_program
from log2seq_spark.sources.transcripts import transcripts
from log2seq_spark.plans import pipeline as pl
from log2seq_spark.plans.pipeline import (PipelineConfig, run_pipeline,
                                          enriched_turns)
from log2seq_spark.plans import manifest as mf

N_CONVS = 120  # ≈ 1.3k turns with the skewed length mix


@pytest.fixture(scope="module")
def turns(spark):
    df = transcripts(spark, N_CONVS, seed=42, partitions=8).cache()
    df.count()
    yield df
    df.unpersist()


def _oracle_rows(turns_df):
    """Single-process reimplementation over the collected turns."""
    program = default_program()
    rows = turns_df.select("conv_id", "turn_idx", "text", "ts").collect()
    engines = {}
    out = {}
    for r in rows:
        year = r["ts"].year
        eng = engines.get(year)
        if eng is None:
            eng = LineEngine(program, default_year=year)
            engines[year] = eng
        try:
            # NULL text reads as an empty line, as in the Arrow parse
            parsed = eng.parse_line(r["text"] or "")
        except ParseFailure:
            parsed = {"error": "fail"}
        out[(r["conv_id"], r["turn_idx"])] = (r["text"], parsed)
    return out


def _check_vs_oracle(rows, oracle):
    """Assert parsed rows (``parsed.*`` keyed by conv_id, turn_idx)
    equal the oracle turn by turn; returns the number of parsed turns."""
    assert len(rows) == len(oracle)
    n_ok = 0
    for row in rows:
        text, exp = oracle[(row["conv_id"], row["turn_idx"])]
        if exp is None:               # empty line
            assert row["rule_id"] == -2, text
            assert row["message"] is None and row["error"] is None
            continue
        if "words" not in exp:
            assert row["rule_id"] == -1 and row["words"] is None, text
            assert row["error"] is not None, text
            continue
        assert row["rule_id"] == exp["rule_id"], text
        assert row["message"] == exp["message"], text
        assert row["words"] == exp["words"], text
        assert row["symbols"] == exp["symbols"], text
        assert row["host"] == exp.get("host"), text
        assert row["error"] is None, text
        # byte-exact reconstruction per turn
        w, s = row["words"], row["symbols"]
        assert len(s) == len(w) + 1
        rebuilt = s[0] + "".join(a + b for a, b in zip(w, s[1:]))
        assert rebuilt == row["message"]
        assert row["ts"] == exp["timestamp"].replace(tzinfo=None), text
        n_ok += 1
    return n_ok


class TestPipelineEquality:
    def test_generator_shape(self, turns):
        n = turns.count()
        assert n > 500
        assert turns.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        assert turns.select("conv_id").distinct().count() == N_CONVS

    def test_per_turn_equality_vs_oracle(self, spark, turns):
        got = enriched_turns(spark, turns, PipelineConfig(out_dir="unused")) \
            .select("conv_id", "turn_idx", "parsed.*").collect()
        assert _check_vs_oracle(got, _oracle_rows(turns)) > 0.9 * len(got)

    def test_routing_and_aggregates(self, spark, turns, tmpdir_path):
        cfg = PipelineConfig(out_dir=tmpdir_path, n_buckets=8, partitions=8)
        res = run_pipeline(spark, turns, cfg, resume=False)
        n = turns.count()
        assert res.metrics["n_rows"] == n
        assert res.metrics["n_ok"] + res.metrics["n_fail"] + res.metrics["n_empty"] == n

        routed = spark.read.parquet(os.path.join(tmpdir_path, "routed"))
        assert routed.count() == n
        # quarantine = failures + empties
        nq = routed.filter(F.col("sink") == "quarantine").count()
        assert nq == res.metrics["n_fail"] + res.metrics["n_empty"]
        # sink counts table agrees with routed data
        sc = spark.read.parquet(os.path.join(tmpdir_path, "agg_sink_counts"))
        lhs = {(r["sink"], r["bucket"]): r["n_rows"] for r in sc.collect()}
        rhs = {(r["sink"], r["bucket"]): r["cnt"]
               for r in routed.groupBy("sink", "bucket")
                              .agg(F.count("*").alias("cnt")).collect()}
        assert lhs == rhs
        # token counts: total equals sum over words
        tc = spark.read.parquet(os.path.join(tmpdir_path, "agg_token_counts"))
        assert tc.agg(F.sum("n")).first()[0] == res.metrics["n_tokens"]
        # oracle cross-check of ok/fail counters
        oracle = _oracle_rows(turns)
        exp_ok = sum(1 for _, (t, p) in oracle.items()
                     if p is not None and "words" in p)
        assert res.metrics["n_ok"] == exp_ok

    def test_resume_skips_completed_buckets(self, spark, turns, tmpdir_path):
        cfg = PipelineConfig(out_dir=tmpdir_path, n_buckets=8, partitions=8)
        # simulate a prior partial run: only buckets {0..3} committed
        first = turns.withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int"))
        subset = first.filter("bucket < 4").drop("bucket")
        res1 = run_pipeline(spark, subset, cfg, resume=True)
        assert set(res1.buckets_processed) <= set(range(4))

        # full rerun resumes: completed buckets skipped, rest processed
        res2 = run_pipeline(spark, turns, cfg, resume=True)
        assert set(res2.buckets_skipped) == set(res1.buckets_processed)
        assert not (set(res2.buckets_processed) & set(res1.buckets_processed))

        # final state identical to a one-shot run in a fresh dir
        fresh = tmpdir_path + "_fresh"
        run_pipeline(spark, turns,
                     PipelineConfig(out_dir=fresh, n_buckets=8, partitions=8),
                     resume=False)
        a = spark.read.parquet(os.path.join(tmpdir_path, "routed"))
        b = spark.read.parquet(os.path.join(fresh, "routed"))
        assert a.count() == b.count()
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0

        # manifest carries per-bucket lineage + metrics
        recs = mf.read_manifest(tmpdir_path)
        assert all("lineage_id" in r and "n_rows" in r for r in recs)
        total = sum(r["n_rows"] for r in recs)
        assert total == turns.count()

    def test_stale_lineage_not_counted(self, spark, turns, tmpdir_path):
        # run lineage A over the full table, then lineage B (different
        # input_id) over ~half the rows into the SAME out_dir: B's
        # aggregates and routed read-back must not absorb A's leftovers.
        cfg_a = PipelineConfig(out_dir=tmpdir_path, n_buckets=8,
                               partitions=8, input_id="inputA")
        run_pipeline(spark, turns, cfg_a, resume=True)
        half = turns.filter(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
        n_half = half.count()
        assert 0 < n_half < turns.count()
        cfg_b = PipelineConfig(out_dir=tmpdir_path, n_buckets=8,
                               partitions=8, input_id="inputB")
        res_b = run_pipeline(spark, half, cfg_b, resume=True)
        assert res_b.metrics["n_rows"] == n_half
        routed = spark.read.parquet(os.path.join(tmpdir_path, "routed"))
        assert routed.count() == n_half
        sc = spark.read.parquet(os.path.join(tmpdir_path, "agg_sink_counts"))
        assert sc.agg(F.sum("n_rows")).first()[0] == n_half


class TestArrowParseOracle:
    def test_with_parsed_matches_line_engine(self, spark, turns):
        """The one production parse path (mapInArrow) against the
        ``rules.engine`` oracle, turn by turn, including one turn each
        of NULL, empty, control-character and non-ASCII text."""
        import datetime as dt
        from log2seq_spark.functions.udf import with_parsed
        ts = dt.datetime(2024, 3, 1)
        odd = spark.createDataFrame(
            [("odd", 0, "user", None, "none", ts),
             ("odd", 1, "user", "", "none", ts),
             ("odd", 2, "user", "Jan  1 12:00:00 h a\x01b\tc\x7f d",
              "none", ts),
             ("odd", 3, "user", "Jan  2 01:02:03 host1 ユーザー が ログイン",
              "none", ts)],
            turns.schema)
        df = turns.unionByName(odd)
        got = (with_parsed(df, default_program())
               .select("conv_id", "turn_idx", "parsed.*").collect())
        _check_vs_oracle(got, _oracle_rows(df))
        odd_rows = {r["turn_idx"]: r for r in got if r["conv_id"] == "odd"}
        assert odd_rows[0]["rule_id"] == odd_rows[1]["rule_id"] == -2
        assert odd_rows[2]["words"] == ["a\x01b\tc\x7f", "d"]
        assert odd_rows[3]["words"] == ["ユーザー", "が", "ログイン"]

    def test_with_tokens_matches_tokenize_statement(self, spark):
        """Statement mode (mapInArrow) against ``rules.engine``'s
        ``tokenize_statement``: NULL gives null lists; empty, control
        character, NBSP and non-ASCII statements give the oracle's
        words and symbols."""
        from log2seq_spark.functions.udf import with_tokens
        from log2seq_spark.rules import compile_actions, tokenize_statement
        from log2seq_spark.rules.presets import default_actions
        stmts = [None, "", " ", "a\x0Bb c", "x\x01y\x1f z\x7f",
                 "a\xa0b c\xa0", "ユーザー が ログイン", "café ١٢٣ 10.0.0.1",
                 "host 2001:db8::1 (eth0) up."]
        df = spark.createDataFrame(list(enumerate(stmts)),
                                   "i long, text string").repartition(3)
        got = {r["i"]: r["tok"] for r in
               with_tokens(df, default_actions(), "text", "tok").collect()}
        assert got[0]["words"] is None and got[0]["symbols"] is None
        compiled = compile_actions(default_actions())
        for i, text in enumerate(stmts[1:], start=1):
            words, symbols = tokenize_statement(compiled, text)
            assert got[i]["words"] == words, text
            assert got[i]["symbols"] == symbols, text
        assert got[1]["words"] == [] and got[1]["symbols"] == [""]


class TestSkewHandling:
    def test_salted_repartition_splits_monster_conversation(
            self, spark, tmpdir_path, monkeypatch):
        """North-rule skew clause: one pathologically long conversation
        must NOT serialize onto one task. The chunk salt in
        enriched_turns splits it across partitions, bounding the largest
        partition, while per-turn parse results stay keyed-identical."""
        import pandas as pd
        monster = pd.DataFrame({
            "conv_id": "monster", "turn_idx": range(20_000),
            "role": "user", "tool": None,
            "text": [f"Jan  1 12:00:{i % 60:02d} h{i % 7} app[{i}]: INFO m{i}"
                     for i in range(20_000)]})
        small = pd.DataFrame({
            "conv_id": [f"c{i}" for i in range(100) for _ in range(5)],
            "turn_idx": list(range(5)) * 100,
            "role": "assistant", "tool": None,
            "text": "Jan  1 12:00:00 h0 app[1]: INFO ok"})
        pdf = pd.concat([monster, small], ignore_index=True)
        pdf["ts"] = pd.Timestamp("2024-01-01")
        turns = spark.createDataFrame(pdf)

        cfg = PipelineConfig(out_dir=os.path.join(tmpdir_path, "skew"),
                             n_buckets=8, partitions=16)
        monkeypatch.setattr(pl, "TURN_CHUNK", 1024)
        df = enriched_turns(spark, turns, cfg)
        sizes = (df.groupBy(F.spark_partition_id().alias("pid"))
                   .count().toPandas())
        # 20k monster turns / 1024-chunk salt ≈ 20 chunks over 16
        # partitions: the largest partition must hold well under the
        # whole conversation (unsalted it would hold all 20_500-ish rows
        # of its hash bucket)
        assert int(sizes["count"].max()) < 8_000, sizes.to_dict()
        assert int(sizes["count"].sum()) == 20_500
        # correctness is salt-independent: keyed per-turn results equal
        # an unsalted (single-chunk) run
        a = {(r["conv_id"], r["turn_idx"]): r["words"]
             for r in df.select("conv_id", "turn_idx", "parsed.words")
                        .collect()}
        monkeypatch.setattr(pl, "TURN_CHUNK", 10**9)
        b = {(r["conv_id"], r["turn_idx"]): r["words"]
             for r in enriched_turns(spark, turns, cfg)
                        .select("conv_id", "turn_idx", "parsed.words")
                        .collect()}
        assert a == b


def test_tokens_heavy_k_bounded_aggregate(spark, turns, tmpdir_path):
    """tokens_heavy_k switches AGG_TOKEN to exact per-(bucket, sink)
    heavy hitters: the written table must equal the full token-count
    table filtered to tokens above 1/k of their sink's volume."""
    import os

    from pyspark.sql import functions as F
    from log2seq_spark.plans.pipeline import PipelineConfig, run_pipeline
    # k=20 → tokens above 5% of their sink: the severity words (WARN,
    # INFO, …) sit at ~6-9% per sink in the synthetic corpus, so the
    # heavy table is non-empty while almost all tokens are pruned
    k = 20
    cfg = PipelineConfig(out_dir=os.path.join(tmpdir_path, "hk"),
                         n_buckets=4, partitions=8, tokens_heavy_k=k)
    run_pipeline(spark, turns, cfg, resume=False)
    got = {(r["bucket"], r["sink"], r["token"], r["n"])
           for r in spark.read.parquet(
               os.path.join(tmpdir_path, "hk", "agg_token_counts"))
           .collect()}
    # expected: full counts over the routed ok rows, HAVING n*k > total
    routed = (spark.read.parquet(os.path.join(tmpdir_path, "hk", "routed"))
              .filter(F.col("ok"))
              .select("bucket", "sink", F.explode("words").alias("token")))
    full = routed.groupBy("bucket", "sink", "token") \
                 .agg(F.count("*").alias("n"))
    totals = routed.groupBy("bucket", "sink") \
                   .agg(F.count("*").alias("tot"))
    want = {(r["bucket"], r["sink"], r["token"], r["n"])
            for r in full.join(totals, ["bucket", "sink"])
                         .filter(F.col("n") * k > F.col("tot"))
                         .collect()}
    assert got == want
    assert got  # the skewed synthetic corpus has hot tokens per sink


def test_empty_input_pipeline(spark, tmpdir_path):
    """A zero-row turns frame must complete cleanly with zeroed metrics
    (regression guard: the stats-collect path must not assume rows)."""
    from log2seq_spark.plans.pipeline import PipelineConfig, run_pipeline
    from log2seq_spark.sources.transcripts import transcripts
    empty = transcripts(spark, 1, seed=1, partitions=1).limit(0)
    cfg = PipelineConfig(out_dir=tmpdir_path + "/out", n_buckets=4,
                         partitions=4, input_id="empty-test")
    res = run_pipeline(spark, empty, cfg, resume=False)
    assert res.metrics == {"n_rows": 0, "n_ok": 0, "n_fail": 0,
                           "n_empty": 0, "n_tokens": 0}
    assert res.buckets_processed == []


def test_foreign_routed_files_on_resume_raise(spark, tmpdir_path, turns):
    """Non-parquet data files under routed/ (here: the same rows as ORC,
    as an older build's orc sink wrote them) are a real failure on a
    fully resumed rerun and must raise — a broad except
    AnalysisException around the routed read-back would turn it into a
    silent zero-metric success."""
    import shutil
    from log2seq_spark.plans.pipeline import PipelineConfig, run_pipeline
    out = tmpdir_path + "/out"
    cfg = PipelineConfig(out_dir=out, n_buckets=4, partitions=4,
                         input_id="mix-test")
    run_pipeline(spark, turns.limit(200), cfg, resume=False)
    routed = os.path.join(out, "routed")
    (spark.read.parquet(routed).write.partitionBy("sink", "bucket")
          .orc(tmpdir_path + "/orc"))
    shutil.rmtree(routed)
    shutil.move(tmpdir_path + "/orc", routed)
    # fully-resumed rerun: nothing is rewritten, so the routed dir still
    # holds only the orc data files and the parquet read-back must fail
    with pytest.raises(Exception):
        run_pipeline(spark, turns.limit(200), cfg, resume=True)


class TestShortMessageRouting:
    def test_short_message_routes_unrouted_not_crash(self, spark):
        # ANSI mode (Spark 4's default, live in this session) makes
        # element_at THROW on a <3-word parsed message — one short but
        # perfectly parseable line must route to 'unrouted', not kill
        # the whole job (or permanently poison a streaming replay)
        from datetime import datetime
        rows = [
            ("c1", 0, "user", "Jan  1 12:34:56 host1 hi",
             None, datetime(2024, 1, 1, 12, 34, 56)),
            ("c1", 1, "assistant", "Jan  1 12:34:57 host1 app[2]: INFO ok",
             None, datetime(2024, 1, 1, 12, 34, 57)),
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, "
                  "text string, tool string, ts timestamp")
        cfg = PipelineConfig(out_dir="/tmp/unused-short", n_buckets=2,
                             partitions=2)
        got = {r["turn_idx"]: (r["sink"], r["severity"])
               for r in enriched_turns(spark, df, cfg).collect()}
        assert got[0] == ("unrouted", None)   # 1-word message, parsed ok
        assert got[1][1] == "INFO"            # 3+ words still routed


class TestSyntheticSkew:
    def test_zipf_tail_crosses_turn_chunk(self, spark):
        # the 1% huge bucket must actually produce conversations longer
        # than the pipeline's TURN_CHUNK (4096), or the chunk-salted
        # repartition path is never exercised by any fixture or bench —
        # the old generator reused the bucket-selector hash as the
        # length, pinning "huge" to 3899-3998 turns
        from log2seq_spark.sources.transcripts import conversations
        conv = conversations(spark, 1200, seed=42)
        mx = conv.agg(F.max("conv_len")).first()[0]
        assert mx > pl.TURN_CHUNK, mx


class TestLineageSwitch:
    def test_manifest_wiped_with_data_on_lineage_switch(self, spark,
                                                        tmpdir_path):
        # switching lineages on a shared out_dir wipes the data dirs;
        # the OTHER lineage's manifest records must go too, or a later
        # run of that lineage "resumes" against deleted output and
        # reports success with zero rows
        from log2seq_spark.sources.transcripts import transcripts
        turns = transcripts(spark, 40, seed=21, partitions=2)
        out = tmpdir_path + "/lsw"
        c1 = PipelineConfig(out_dir=out, n_buckets=4, partitions=4,
                            input_id="L1")
        c2 = PipelineConfig(out_dir=out, n_buckets=4, partitions=4,
                            input_id="L2")
        r1 = run_pipeline(spark, turns, c1, resume=True)
        assert r1.metrics["n_rows"] > 0
        run_pipeline(spark, turns, c2, resume=True)   # wipes L1 data
        r1b = run_pipeline(spark, turns, c1, resume=True)
        assert r1b.buckets_processed == [0, 1, 2, 3]
        assert r1b.metrics["n_rows"] == r1.metrics["n_rows"]


def _commit_files(local):
    """Visible names under ``<out_dir>/manifest/``."""
    mdir = os.path.join(local, "manifest")
    return sorted(n for n in os.listdir(mdir) if not n.startswith("."))


def _layout(local):
    """Directory tree of an out_dir, without data file names (those
    carry a per-write uuid) or hidden files; manifest files are named."""
    out = set()
    for root, dirs, files in os.walk(local):
        rel = os.path.relpath(root, local)
        out.add(rel)
        if rel == "manifest":
            out.update(os.path.join(rel, f) for f in files
                       if not f.startswith("."))
    return out


class TestUriPathManifest:
    """The resume protocol over a plain out_dir and a file:// out_dir.
    Both go through the Hadoop FileSystem API and give one layout: a
    run commits ONE file ``manifest/<lineage>-<first bucket>.jsonl``
    with a JSON line per bucket."""

    def test_full_run_resume_and_lineage_switch(self, spark, turns,
                                                tmpdir_path, path_forms):
        layouts = []
        for out_dir, local in path_forms(tmpdir_path):
            cfg = PipelineConfig(out_dir=out_dir, n_buckets=8, partitions=8)
            res1 = run_pipeline(spark, turns, cfg, resume=True)
            assert sorted(res1.buckets_processed) == list(range(8))
            assert res1.metrics["n_rows"] == turns.count()

            # one commit file for the run, no appended jsonl
            assert _commit_files(local) == [f"{res1.lineage_id}-000000.jsonl"]
            assert not os.path.exists(os.path.join(local, "manifest.jsonl"))

            recs = mf.read_manifest(out_dir, spark=spark)
            assert sorted(r["bucket"] for r in recs) == list(range(8))
            assert all(r["lineage_id"] == res1.lineage_id and "n_rows" in r
                       for r in recs)
            assert sum(r["n_rows"] for r in recs) == turns.count()
            layouts.append(_layout(local))

            # rerun resumes: everything skipped, output intact
            res2 = run_pipeline(spark, turns, cfg, resume=True)
            assert res2.buckets_processed == []
            assert sorted(res2.buckets_skipped) == list(range(8))
            routed = spark.read.parquet(os.path.join(local, "routed"))
            assert routed.count() == turns.count()

            # lineage switch wipes data AND the manifest dir through the
            # FS API, then reprocesses everything
            cfg_b = PipelineConfig(out_dir=out_dir, n_buckets=8,
                                   partitions=8, input_id="inputB")
            res3 = run_pipeline(spark, turns, cfg_b, resume=True)
            assert sorted(res3.buckets_processed) == list(range(8))
            assert _commit_files(local) == [f"{res3.lineage_id}-000000.jsonl"]
        assert layouts[0] == layouts[1]

    def test_uri_path_spark_resolution(self, spark, tmpdir_path,
                                       monkeypatch, path_forms):
        # with an active session, spark= may be omitted; with none at
        # all, state I/O raises with remediation instead of falling back
        # to the driver's local filesystem
        forms = path_forms(tmpdir_path)
        for out_dir, _ in forms:
            assert mf.completed_buckets(out_dir, "abc") == set()
        from pyspark.sql import SparkSession
        monkeypatch.setattr(SparkSession, "getActiveSession",
                            staticmethod(lambda: None))
        for out_dir, _ in forms:
            with pytest.raises(ValueError, match="no active SparkSession"):
                mf.completed_buckets(out_dir, "abc")
            with pytest.raises(ValueError, match="no active SparkSession"):
                mf.append_bucket_records(out_dir, "abc", [{"bucket": 0}])

    def test_recommit_same_bucket_is_idempotent(self, spark, tmpdir_path,
                                                path_forms):
        rec = {"bucket": 3, "n_rows": 10, "n_ok": 9, "n_fail": 1,
               "n_empty": 0, "n_tokens": 50}
        for out_dir, local in path_forms(tmpdir_path):
            mf.append_bucket_records(out_dir, "deadbeefdeadbeef", [rec],
                                     spark=spark)
            mf.append_bucket_records(out_dir, "deadbeefdeadbeef", [rec],
                                     spark=spark)
            assert _commit_files(local) == ["deadbeefdeadbeef-000003.jsonl"]
            assert mf.completed_buckets(out_dir, "deadbeefdeadbeef",
                                        spark=spark) == {3}
            recs = mf.read_manifest(out_dir, spark=spark)
            assert len(recs) == 1 and recs[0]["n_rows"] == 10

    def test_older_jsonl_layout_reprocessed_once(self, spark, turns,
                                                 tmpdir_path):
        # an out_dir from the older layout (records appended to
        # manifest.jsonl) has no commit file: the first rerun
        # reprocesses every bucket and removes the old file, the next
        # one resumes
        cfg = PipelineConfig(out_dir=tmpdir_path, n_buckets=8, partitions=8)
        res1 = run_pipeline(spark, turns, cfg, resume=True)
        recs = mf.read_manifest(tmpdir_path, spark=spark)
        shutil.rmtree(os.path.join(tmpdir_path, "manifest"))
        legacy = os.path.join(tmpdir_path, "manifest.jsonl")
        with open(legacy, "w") as fh:
            fh.writelines(json.dumps(r, sort_keys=True) + "\n" for r in recs)

        res2 = run_pipeline(spark, turns, cfg, resume=True)
        assert sorted(res2.buckets_processed) == list(range(8))
        assert ({k: res2.metrics[k] for k in pl.COUNTERS}
                == {k: res1.metrics[k] for k in pl.COUNTERS})
        assert not os.path.exists(legacy)
        assert mf.read_manifest(tmpdir_path, spark=spark) == recs

        res3 = run_pipeline(spark, turns, cfg, resume=True)
        assert sorted(res3.buckets_skipped) == list(range(8))
