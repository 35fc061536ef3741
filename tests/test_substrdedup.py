"""Exact duplicate-substring detection / scrub (substrdedup.py):
hand-built span cases, a randomized pure-Python-model equivalence
(house style), and plan-shape gates (no crossJoin; the gram aggregate
partial-aggregates before its exchange)."""

import random

import pytest
from pyspark.sql import functions as F

from log2seq_spark.operators import substrdedup as sd


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


# ---------------------------------------------------------------- model

def _model_spans(rows, k, min_count, keep_first=True):
    """Direct Python replay of duplicate_spans semantics."""
    toks = {i: t.split() for i, t in rows}
    occ = {}
    for i, ts in sorted(toks.items()):
        for p in range(len(ts) - k + 1):
            occ.setdefault(tuple(ts[p:p + k]), []).append((i, p + 1))
    dup = {}
    for g, places in occ.items():
        if len(places) < min_count:
            continue
        first = min(places)
        for place in places:
            if keep_first and place == first:
                continue
            dup.setdefault(place[0], set()).add(place[1])
    spans = {}
    for i, ps in dup.items():
        n = len(toks[i])
        merged = []
        for p in sorted(ps):
            e = min(p + k - 1, n)
            if merged and p <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([p, e])
        spans[i] = [tuple(m) for m in merged]
    return spans


def _model_scrub(rows, k, min_count):
    spans = _model_spans(rows, k, min_count, keep_first=True)
    out = {}
    for i, t in rows:
        ts = t.split()
        drop = set()
        for s, e in spans.get(i, []):
            drop.update(range(s, e + 1))
        kept = [w for j, w in enumerate(ts, start=1) if j not in drop]
        out[i] = (" ".join(kept), len(drop))
    return out


# ---------------------------------------------------------------- units

class TestDuplicateSpans:
    def test_shared_run_flagged_once_kept(self, spark):
        # 6-token run shared by two docs; k=3 -> every window inside it
        # duplicates; doc a (first occurrence) keeps it, doc b loses it
        run = "x1 x2 x3 x4 x5 x6"
        docs = _docs(spark, [("a", f"alpha {run} beta"),
                             ("b", f"gamma delta {run} epsilon zeta")])
        spans = {(r["doc_id"], r["start"], r["end"])
                 for r in sd.duplicate_spans(docs, k=3).collect()}
        # doc b: run occupies tokens 3..8 -> duplicated windows start
        # at 3..6, covers merge to [3, 8]
        assert spans == {("b", 3, 8)}

    def test_keep_first_false_flags_both(self, spark):
        run = "x1 x2 x3 x4"
        docs = _docs(spark, [("a", f"{run} tail0"),
                             ("b", f"h1 {run}")])
        spans = {(r["doc_id"], r["start"], r["end"])
                 for r in sd.duplicate_spans(docs, k=4,
                                             keep_first=False).collect()}
        assert spans == {("a", 1, 4), ("b", 2, 5)}

    def test_within_doc_repeat(self, spark):
        # duplication inside ONE document counts too (min_count global
        # occurrences, not distinct docs)
        docs = _docs(spark, [("a", "p q r s MID p q r s")])
        spans = {(r["doc_id"], r["start"], r["end"])
                 for r in sd.duplicate_spans(docs, k=4).collect()}
        assert spans == {("a", 6, 9)}

    def test_adjacent_covers_merge(self, spark):
        # two disjoint duplicated grams with adjacent covers merge into
        # one span; separated ones stay apart
        docs = _docs(spark, [
            ("a", "a1 a2 b1 b2 SEPARATOR0 c1 c2"),
            ("b", "a1 a2 b1 b2 SEPARATOR1 c1 c2"),
        ])
        spans = sorted((r["doc_id"], r["start"], r["end"])
                       for r in sd.duplicate_spans(docs, k=2).collect())
        assert spans == [("b", 1, 4), ("b", 6, 7)]

    def test_short_docs_emit_nothing(self, spark):
        docs = _docs(spark, [("a", "only two"), ("b", "only two"),
                             ("c", ""), ("d", "   ")])
        assert sd.duplicate_spans(docs, k=3).count() == 0

    def test_whitespace_runs_do_not_mint_grams(self, spark):
        # double spaces / tabs collapse: same tokens -> duplicated
        docs = _docs(spark, [("a", "w1  w2\tw3   w4"),
                             ("b", "w1 w2 w3 w4")])
        spans = {(r["doc_id"], r["start"], r["end"])
                 for r in sd.duplicate_spans(docs, k=4).collect()}
        assert spans == {("b", 1, 4)}


class TestScrub:
    def test_one_copy_survives(self, spark):
        run = " ".join(f"t{i}" for i in range(8))
        docs = _docs(spark, [("a", f"{run} ua"),
                             ("b", f"ub {run}"),
                             ("c", f"uc0 uc1 {run}")])
        out = {r["doc_id"]: (r["text"], r["n_dropped_tokens"])
               for r in sd.scrub_duplicate_spans(docs, k=8).collect()}
        assert out["a"] == (f"{run} ua", 0)         # first occurrence
        assert out["b"] == ("ub", 8)
        assert out["c"] == ("uc0 uc1", 8)

    def test_untouched_doc_roundtrips_normalized(self, spark):
        docs = _docs(spark, [("a", "lone  doc\twith   gaps")])
        out = sd.scrub_duplicate_spans(docs, k=2).collect()[0]
        assert out["text"] == "lone doc with gaps"
        assert out["n_dropped_tokens"] == 0

    def test_columns_preserved(self, spark):
        docs = spark.createDataFrame(
            [("a", "x y", 7), ("b", "x z", 8)],
            "doc_id string, text string, extra int")
        out = sd.scrub_duplicate_spans(docs, k=2)
        assert set(out.columns) == {"doc_id", "text", "extra",
                                    "n_dropped_tokens"}
        assert out.where("extra = 7").count() == 1


class TestModelEquivalence:
    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_random_corpus(self, spark, seed):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]   # small vocab -> real dups
        rows = []
        for i in range(30):
            n = rng.randint(0, 25)
            rows.append((f"d{i:02d}",
                         " ".join(rng.choice(vocab) for _ in range(n))))
        k, mc = rng.choice([(3, 2), (4, 2), (3, 3)])
        docs = _docs(spark, rows)

        got_spans = {}
        for r in sd.duplicate_spans(docs, k=k, min_count=mc).collect():
            got_spans.setdefault(r["doc_id"], []).append(
                (r["start"], r["end"]))
        got_spans = {i: sorted(v) for i, v in got_spans.items()}
        assert got_spans == _model_spans(rows, k, mc)

        got_scrub = {r["doc_id"]: (r["text"], r["n_dropped_tokens"])
                     for r in sd.scrub_duplicate_spans(
                         docs, k=k, min_count=mc).collect()}
        assert got_scrub == _model_scrub(rows, k, mc)


class TestConfirmMode:
    """confirm=True re-verifies 64-bit-hash duplicate candidates by
    gram TEXT (collision insurance at >~1e9 distinct grams). Absent a
    hash collision — unconstructible on purpose — it must be a strict
    no-op, on every policy knob."""

    @pytest.mark.parametrize("seed", [11, 12])
    def test_confirm_equals_unconfirmed(self, spark, seed):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(10)]
        rows = [(f"d{i:02d}",
                 " ".join(rng.choice(vocab)
                          for _ in range(rng.randint(0, 22))))
                for i in range(25)]
        docs = _docs(spark, rows)
        for keep_first in (True, False):
            base = sorted(map(tuple, sd.duplicate_positions(
                docs, k=3, min_count=2,
                keep_first=keep_first).collect()))
            conf = sorted(map(tuple, sd.duplicate_positions(
                docs, k=3, min_count=2, keep_first=keep_first,
                confirm=True).collect()))
            assert base == conf
        s0 = {r["doc_id"]: (r["text"], r["n_dropped_tokens"])
              for r in sd.scrub_duplicate_spans(
                  docs, k=3, min_count=2).collect()}
        s1 = {r["doc_id"]: (r["text"], r["n_dropped_tokens"])
              for r in sd.scrub_duplicate_spans(
                  docs, k=3, min_count=2, confirm=True).collect()}
        assert s0 == s1


class TestPlanShape:
    def test_no_cartesian_and_partial_agg(self, spark):
        docs = _docs(spark, [("a", "x y z w"), ("b", "x y z w")])
        plan = sd.duplicate_spans(docs, k=2)._jdf.queryExecution() \
                 .executedPlan().toString()
        assert "Cartesian" not in plan and "NestedLoop" not in plan
        # the gram aggregate must partial-aggregate before its exchange
        # (count + min(struct) are both combinable)
        assert "partial_count" in plan or "partial_min" in plan


class TestSubstrCLI:
    """`substr` subcommand — scrub_duplicate_spans surfaced over a
    documents parquet table (house pattern: main() in-process)."""

    def test_scrub_roundtrip_and_tally(self, spark, capsys,
                                       tmpdir_path):
        import os
        from log2seq_spark.__main__ import main
        run = " ".join(f"t{i}" for i in range(6))
        src = os.path.join(tmpdir_path, "docs_in")
        spark.createDataFrame(
            [("d1", f"{run} solo1"), ("d2", f"pre {run}"),
             ("d3", "wholly original text here")],
            "doc_id string, text string") \
            .write.mode("overwrite").parquet(src)
        dest = os.path.join(tmpdir_path, "docs_scrubbed")
        code = main(["substr", "--input", src, "--out", dest,
                     "--k", "6"])
        err = capsys.readouterr().err
        assert code == 0
        got = {r["doc_id"]: (r["text"], r["n_dropped_tokens"],
                             r["scrub_status"])
               for r in spark.read.parquet(dest).collect()}
        assert got["d1"] == (f"{run} solo1", 0, "clean")
        assert got["d2"] == ("pre", 6, "scrubbed")
        assert got["d3"] == ("wholly original text here", 0, "clean")
        assert "# clean: 2" in err and "# scrubbed: 1" in err


class TestAgainstIndex:
    """Incremental screen vs persisted gram index: with history ids
    ordering below batch ids, incremental ≡ batch recompute over
    history ∪ batch restricted to batch docs; updated index ≡
    from-scratch index (house invariant for every *_against_index)."""

    def _gen(self, seed, n_hist, n_batch):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(10)]
        mk = lambda: " ".join(rng.choice(vocab)
                              for _ in range(rng.randint(0, 20)))
        hist = [(f"a{i:03d}", mk()) for i in range(n_hist)]
        batch = [(f"z{i:03d}", mk()) for i in range(n_batch)]
        return hist, batch

    @pytest.mark.parametrize("seed", [11, 12])
    def test_incremental_equals_batch_recompute(self, spark, seed):
        hist, batch = self._gen(seed, 25, 15)
        k, mc = 3, 2
        hist_df, batch_df = _docs(spark, hist), _docs(spark, batch)
        idx = sd.substr_index(hist_df, k=k)

        inc = {r["doc_id"]: (r["text"], r["n_dropped_tokens"])
               for r in sd.scrub_against_index(
                   batch_df, idx, k=k, min_count=mc).collect()}
        full = {r["doc_id"]: (r["text"], r["n_dropped_tokens"])
                for r in sd.scrub_duplicate_spans(
                    _docs(spark, hist + batch), k=k,
                    min_count=mc).collect()
                if r["doc_id"].startswith("z")}
        assert inc == full

        # the batch's own index is a delta segment: history ∪ delta
        # re-aggregated equals the index of the concatenation
        got_idx = {(r["gh"], r["n_occ"]) for r in
                   idx.unionByName(sd.substr_index(batch_df, k=k))
                      .groupBy("gh").agg(F.sum("n_occ").alias("n_occ"))
                      .collect()}
        want_idx = {(r["gh"], r["n_occ"]) for r in
                    sd.substr_index(_docs(spark, hist + batch),
                                    k=k).collect()}
        assert got_idx == want_idx

    def test_history_gram_scrubs_every_batch_copy(self, spark):
        run = "h1 h2 h3 h4"
        idx = sd.substr_index(_docs(spark, [("a0", run)]), k=4)
        batch = _docs(spark, [("z0", f"{run} tailz"),
                              ("z1", f"lead {run}")])
        out = {r["doc_id"]: (r["text"], r["n_dropped_tokens"])
               for r in sd.scrub_against_index(batch, idx,
                                               k=4).collect()}
        # history holds the keeper -> both batch copies go
        assert out == {"z0": ("tailz", 4), "z1": ("lead", 4)}

    def test_novel_gram_keeps_batch_first(self, spark):
        idx = sd.substr_index(_docs(spark, [("a0", "old stuff only")]),
                              k=3)
        run = "n1 n2 n3"
        batch = _docs(spark, [("z0", f"{run} t0"), ("z1", f"{run} t1")])
        out = {r["doc_id"]: r["text"]
               for r in sd.scrub_against_index(batch, idx,
                                               k=3).collect()}
        assert out == {"z0": f"{run} t0", "z1": "t1"}


class TestSubstrIndexCLI:
    def test_sharded_equals_batch_and_compacts(self, spark, capsys,
                                               tmpdir_path):
        import os
        from log2seq_spark.__main__ import main
        rng = random.Random(7)
        vocab = [f"w{i}" for i in range(8)]
        mk = lambda: " ".join(rng.choice(vocab)
                              for _ in range(rng.randint(0, 15)))
        shards = [[(f"s{s}d{i:02d}", mk()) for i in range(12)]
                  for s in range(3)]
        idx = os.path.join(tmpdir_path, "gidx")
        outs = []
        for s, rows in enumerate(shards):
            src = os.path.join(tmpdir_path, f"in{s}")
            spark.createDataFrame(rows, "doc_id string, text string") \
                 .write.mode("overwrite").parquet(src)
            dest = os.path.join(tmpdir_path, f"out{s}")
            code = main(["substr", "--input", src, "--out", dest,
                         "--k", "3", "--index-dir", idx,
                         "--compact-every", "2"])
            assert code == 0
            outs.append(dest)
        err = capsys.readouterr().err
        assert "delta gen=1" in err and "compacted -> base" in err

        got = {}
        for dest in outs:
            for r in spark.read.parquet(dest).collect():
                got[r["doc_id"]] = (r["text"], r["n_dropped_tokens"])
        # shard ids order s0 < s1 < s2, so arrival order == id order
        # and the incremental run must equal one batch scrub
        all_rows = [r for sh in shards for r in sh]
        batch = {r["doc_id"]: (r["text"], r["n_dropped_tokens"])
                 for r in sd.scrub_duplicate_spans(
                     spark.createDataFrame(
                         all_rows, "doc_id string, text string"),
                     k=3).collect()}
        assert got == batch


class TestHypothesisModelEquivalence:
    """Property fuzz: arbitrary ASCII docs (mixed whitespace runs,
    tiny vocab for real collisions) — Spark spans/scrub must equal the
    pure-Python model on every draw. One Spark job per example is too
    slow, so each example is a whole corpus and examples are few."""

    def test_fuzz_corpora(self, spark):
        import re
        from hypothesis import given, settings, strategies as st

        token = st.sampled_from(["a", "bb", "c1", "dd", "e"])
        ws = st.sampled_from([" ", "  ", "\t", " \t ", "\n"])
        doc = st.lists(st.tuples(ws, token), min_size=0,
                       max_size=18).map(
            lambda ps: "".join(w + t for w, t in ps))
        corpus = st.lists(doc, min_size=1, max_size=12)

        @settings(max_examples=25, deadline=None)
        @given(texts=corpus, k=st.integers(2, 4))
        def check(texts, k):
            rows = [(f"d{i:02d}", t) for i, t in enumerate(texts)]
            # model tokenizes exactly like tokens_expr: ASCII \s+ split
            model_rows = [(i, " ".join(re.split(r"\s+", t)).strip())
                          for i, t in rows]
            df = _docs(spark, rows)
            got_spans = {}
            for r in sd.duplicate_spans(df, k=k).collect():
                got_spans.setdefault(r["doc_id"], []).append(
                    (r["start"], r["end"]))
            got_spans = {i: sorted(v) for i, v in got_spans.items()}
            assert got_spans == _model_spans(model_rows, k, 2)
            got = {r["doc_id"]: (r["text"], r["n_dropped_tokens"])
                   for r in sd.scrub_duplicate_spans(df, k=k).collect()}
            assert got == _model_scrub(model_rows, k, 2)

        check()


class TestSubstrReplayGuard:
    def _write(self, spark, tmpdir_path, name, rows):
        import os
        src = os.path.join(tmpdir_path, name)
        spark.createDataFrame(rows, "doc_id string, text string") \
             .write.mode("overwrite").parquet(src)
        return src

    def test_replay_after_publish_skips_and_matches(self, spark,
                                                    capsys,
                                                    tmpdir_path):
        import os
        from log2seq_spark.__main__ import main
        idx = os.path.join(tmpdir_path, "ridx")
        run = "r1 r2 r3"
        src = self._write(spark, tmpdir_path, "in0",
                          [("a0", f"{run} x0"), ("a1", f"{run} x1")])
        out1 = os.path.join(tmpdir_path, "o1")
        assert main(["substr", "--input", src, "--out", out1,
                     "--k", "3", "--index-dir", idx]) == 0
        first = {r["doc_id"]: (r["text"], r["n_dropped_tokens"])
                 for r in spark.read.parquet(out1).collect()}
        assert first["a0"] == (f"{run} x0", 0)   # keeper survives

        # replay the SAME input (simulates a crash after the delta
        # committed): output must be identical — the shard's own delta
        # is excluded from the screen — and no second delta publishes
        out2 = os.path.join(tmpdir_path, "o2")
        assert main(["substr", "--input", src, "--out", out2,
                     "--k", "3", "--index-dir", idx]) == 0
        err = capsys.readouterr().err
        assert "already committed" in err
        second = {r["doc_id"]: (r["text"], r["n_dropped_tokens"])
                  for r in spark.read.parquet(out2).collect()}
        assert second == first
        from log2seq_spark.__main__ import _index_segments
        segments, _, _ = _index_segments(spark, idx)
        assert len(segments) == 1            # no double publish

    def test_replay_after_compaction_refuses(self, spark, capsys,
                                             tmpdir_path):
        import os
        from log2seq_spark.__main__ import main
        idx = os.path.join(tmpdir_path, "cidx")
        srcs = [self._write(spark, tmpdir_path, f"cin{i}",
                            [(f"c{i}d", f"t{i}a t{i}b t{i}c")])
                for i in range(2)]
        for src in srcs:   # compact_every=1 -> compaction after 2nd
            assert main(["substr", "--input", src,
                         "--out", os.path.join(tmpdir_path, "co"),
                         "--k", "3", "--index-dir", idx,
                         "--compact-every", "1"]) == 0
        capsys.readouterr()
        rc = main(["substr", "--input", srcs[0],
                   "--out", os.path.join(tmpdir_path, "co2"),
                   "--k", "3", "--index-dir", idx])
        assert rc == 2
        assert "compacted" in capsys.readouterr().err


class TestTurnBoilerplate:
    def test_system_prompt_scrubbed_except_first(self, spark):
        import datetime as dt
        sysrun = "you are a helpful agent follow the rules below"  # 9 toks
        rows = []
        for c in ("c1", "c2", "c3"):
            rows.append((c, 0, "system", sysrun, None,
                         dt.datetime(2026, 1, 1)))
            rows.append((c, 1, "user", f"question from {c} here",
                         None, dt.datetime(2026, 1, 1, 0, 1)))
        turns = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, "
                  "text string, tool string, ts timestamp")
        out = sd.scrub_turn_boilerplate(turns, k=9)
        got = {(r["conv_id"], r["turn_idx"]):
               (r["text"], r["n_dropped_tokens"], r["role"])
               for r in out.collect()}
        assert got[("c1", 0)] == (sysrun, 0, "system")   # keeper
        assert got[("c2", 0)] == ("", 9, "system")
        assert got[("c3", 0)] == ("", 9, "system")
        for c in ("c1", "c2", "c3"):                     # untouched
            assert got[(c, 1)][1] == 0
        assert set(out.columns) == {"conv_id", "turn_idx", "role",
                                    "text", "tool", "ts",
                                    "n_dropped_tokens"}

    def test_turn_order_decides_keeper_within_conv(self, spark):
        run = "b1 b2 b3 b4"
        turns = spark.createDataFrame(
            [("c1", 2, f"{run} late"), ("c1", 10, f"{run} later")],
            "conv_id string, turn_idx int, text string")
        got = {r["turn_idx"]: r["n_dropped_tokens"]
               for r in sd.scrub_turn_boilerplate(turns, k=4).collect()}
        # zero-padded key: turn 2 < turn 10 (plain string '10' < '2'
        # would invert this)
        assert got == {2: 0, 10: 4}

    def test_collision_guard(self, spark):
        turns = spark.createDataFrame(
            [("c", 0, "x", "y")],
            "conv_id string, turn_idx int, __sb_tid string, text string")
        with pytest.raises(ValueError):
            sd.scrub_turn_boilerplate(turns)


class TestTornClaim:
    def test_garbage_claim_refuses(self, spark, capsys, tmpdir_path):
        import hashlib, os
        from log2seq_spark import fsio
        from log2seq_spark.__main__ import main
        idx = os.path.join(tmpdir_path, "tidx")
        src = os.path.join(tmpdir_path, "tin")
        spark.createDataFrame([("d", "a b c")],
                              "doc_id string, text string") \
             .write.mode("overwrite").parquet(src)
        claim = (f"{idx}/_shards/"
                 f"{hashlib.md5(src.encode()).hexdigest()}")
        fsio.write_text(spark, claim, "garb\x00age")
        rc = main(["substr", "--input", src,
                   "--out", os.path.join(tmpdir_path, "to"),
                   "--k", "3", "--index-dir", idx])
        assert rc == 2
        assert "unreadable shard claim" in capsys.readouterr().err


class TestParamsStamp:
    def test_k_drift_refused(self, spark, capsys, tmpdir_path):
        import os
        from log2seq_spark.__main__ import main
        idx = os.path.join(tmpdir_path, "pidx")
        src = os.path.join(tmpdir_path, "pin")
        spark.createDataFrame([("d", "a b c d e")],
                              "doc_id string, text string") \
             .write.mode("overwrite").parquet(src)
        assert main(["substr", "--input", src,
                     "--out", os.path.join(tmpdir_path, "po"),
                     "--k", "3", "--index-dir", idx]) == 0
        capsys.readouterr()
        src2 = os.path.join(tmpdir_path, "pin2")
        spark.createDataFrame([("e", "f g h i j")],
                              "doc_id string, text string") \
             .write.mode("overwrite").parquet(src2)
        rc = main(["substr", "--input", src2,
                   "--out", os.path.join(tmpdir_path, "po2"),
                   "--k", "4", "--index-dir", idx])
        assert rc == 2
        assert "incompatible" in capsys.readouterr().err


class TestSubstrTurnsCLI:
    def test_turns_mode_and_index_conflict(self, spark, capsys,
                                           tmpdir_path):
        import os
        from log2seq_spark.__main__ import main
        src = os.path.join(tmpdir_path, "turns_in")
        run = "same system prompt text here"
        spark.createDataFrame(
            [("c1", 0, run), ("c2", 0, run), ("c1", 1, "unique one")],
            "conv_id string, turn_idx int, text string") \
            .write.mode("overwrite").parquet(src)
        dest = os.path.join(tmpdir_path, "turns_out")
        assert main(["substr", "--input", src, "--out", dest,
                     "--turns", "--k", "5"]) == 0
        err = capsys.readouterr().err
        assert "# clean: 2" in err and "# scrubbed: 1" in err
        got = {(r["conv_id"], r["turn_idx"]): r["n_dropped_tokens"]
               for r in spark.read.parquet(dest).collect()}
        assert got == {("c1", 0): 0, ("c2", 0): 5, ("c1", 1): 0}
        # --turns + --index-dir refused
        rc = main(["substr", "--input", src, "--out", dest,
                   "--turns", "--index-dir",
                   os.path.join(tmpdir_path, "x")])
        assert rc == 2


class TestTopRuns:
    def test_counts_examples_and_order(self, spark, capsys):
        run_a = "a1 a2 a3"            # 3 occurrences, 2 docs
        run_b = "b1 b2 b3"            # 2 occurrences, 2 docs
        docs = _docs(spark, [
            ("d0", f"{run_a} mid0 {run_a}"),
            ("d1", f"{run_a} mid1 {run_b}"),
            ("d2", f"pad2a pad2b {run_b}"),
        ])
        rows = sd.top_duplicated_runs(docs, k=3, top=10).collect()
        got = [(r["n_occ"], r["n_docs"], r["example"]) for r in rows]
        assert got[0] == (3, 2, run_a)
        assert (2, 2, run_b) in got
        assert got == sorted(got, key=lambda t: -t[0])[:len(got)]

    def test_empty_corpus(self, spark):
        docs = _docs(spark, [("d", "all tokens unique here")])
        assert sd.top_duplicated_runs(docs, k=3).count() == 0

    def test_cli_report_mode(self, spark, capsys, tmpdir_path):
        import os
        from log2seq_spark.__main__ import main
        src = os.path.join(tmpdir_path, "topin")
        spark.createDataFrame(
            [("x", "r1 r2 r3 pad"), ("y", "lead r1 r2 r3")],
            "doc_id string, text string") \
            .write.mode("overwrite").parquet(src)
        assert main(["substr", "--input", src, "--top", "3",
                     "--k", "3"]) == 0
        cap = capsys.readouterr()
        assert "2\t2\tr1 r2 r3" in cap.out
        assert "# 1 duplicated runs" in cap.err
        # --out required otherwise
        assert main(["substr", "--input", src, "--k", "3"]) == 2


class TestReviewHardening:
    def test_stampless_index_with_segments_refused(self, spark,
                                                   capsys,
                                                   tmpdir_path):
        import os
        from log2seq_spark import fsio
        from log2seq_spark.__main__ import main
        idx = os.path.join(tmpdir_path, "sidx")
        src = os.path.join(tmpdir_path, "sin")
        spark.createDataFrame([("d", "a b c d")],
                              "doc_id string, text string") \
             .write.mode("overwrite").parquet(src)
        assert main(["substr", "--input", src,
                     "--out", os.path.join(tmpdir_path, "so"),
                     "--k", "3", "--index-dir", idx]) == 0
        # simulate a pre-stamp index: delete the stamp, keep segments
        fsio.delete(spark, f"{idx}/_params.json")
        capsys.readouterr()
        spark.createDataFrame([("e", "x y z")],
                              "doc_id string, text string") \
             .write.mode("overwrite").parquet(src + "2")
        rc = main(["substr", "--input", src + "2",
                   "--out", os.path.join(tmpdir_path, "so2"),
                   "--k", "3", "--index-dir", idx])
        assert rc == 2
        assert "no _params.json" in capsys.readouterr().err

    def test_top_with_turns_and_index_conflict(self, spark, capsys,
                                               tmpdir_path):
        import os
        from log2seq_spark.__main__ import main
        src = os.path.join(tmpdir_path, "ttin")
        run = "system preamble tokens here"
        spark.createDataFrame(
            [("c1", 0, run), ("c2", 0, run)],
            "conv_id string, turn_idx int, text string") \
            .write.mode("overwrite").parquet(src)
        assert main(["substr", "--input", src, "--top", "3",
                     "--turns", "--k", "4"]) == 0
        cap = capsys.readouterr()
        assert "2\t2\tsystem preamble tokens here" in cap.out
        assert main(["substr", "--input", src, "--top", "3",
                     "--k", "4", "--index-dir",
                     os.path.join(tmpdir_path, "ti")]) == 2

    def test_turn_key_null_and_width_safety(self, spark):
        from pyspark.sql import functions as F
        from log2seq_spark.operators.substrdedup import turn_key_expr
        rows = [(None, 5), (None, 5), ("a", None), ("a", None),
                ("a", 1000000000), ("a", 1000000001), ("a", 2)]
        df = spark.createDataFrame(rows, "conv_id string, turn_idx long")
        keys = [r[0] for r in
                df.select(turn_key_expr().alias("k")).collect()]
        # identical pairs share a key; DISTINCT pairs never collide
        assert keys[0] == keys[1] and keys[2] == keys[3]
        assert len(set(keys)) == 5
        # ordering: turn 2 sorts before turn 1000000000 under the pad
        assert keys[6] < keys[4] < keys[5]
