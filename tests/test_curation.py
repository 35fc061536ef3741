"""Corpus-curation operators: quality-filter funnel, domain-mixture
balancing, preference-pair construction, int8-quantized ANN, training
shards + curriculum phases."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from log2seq_spark.operators import (chunking, funnel, mixture, preference,
                                     shards, similarity)


def _docs(spark):
    rows = [
        (1, "the cat and the dog sat of the mat in a box", "en"),
        (2, "tiny", "en"),                       # too_short (1 token)
        (3, "!!! ??? ;;; ### $$$ %%% &&& ***", "und"),  # punct-heavy
        (4, "der hund und die katze ist nicht ein haus und der baum", "de"),
        (5, "a b c d e f g h i j", "en"),        # token_len < 2
        (6, "the quick brown fox jumps over the lazy dog and the cat", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


class TestFunnel:
    def test_first_fail_attribution_and_census(self, spark):
        df = spark.createDataFrame(
            [(1, 10, 0.1), (2, 1, 0.1), (3, 10, 0.9), (4, 2, 0.9)],
            "id long, n long, p double")
        stages = [("short", F.col("n") >= 5), ("punct", F.col("p") <= 0.5)]
        ann = funnel.annotate_funnel(df, stages).collect()
        got = {r["id"]: r["drop_reason"] for r in ann}
        # id 4 fails BOTH stages -> attributed to the FIRST (short)
        assert got == {1: None, 2: "short", 3: "punct", 4: "short"}
        cen = {r["stage"]: r for r in funnel.funnel_census(df, stages).collect()}
        assert (cen["short"]["n_in"], cen["short"]["n_dropped"],
                cen["short"]["n_out"]) == (4, 2, 2)
        assert (cen["punct"]["n_in"], cen["punct"]["n_dropped"],
                cen["punct"]["n_out"]) == (2, 1, 1)
        assert (cen["kept"]["n_in"], cen["kept"]["n_dropped"],
                cen["kept"]["n_out"]) == (1, 0, 1)
        # disjoint-drop invariant: drops + kept == input count
        assert sum(r["n_dropped"] for r in cen.values()) \
            + cen["kept"]["n_out"] == df.count()

    def test_null_predicate_fails(self, spark):
        df = spark.createDataFrame([(1, None), (2, 5)], "id long, n long")
        stages = [("gate", F.col("n") >= 3)]
        got = {r["id"]: r["drop_reason"]
               for r in funnel.annotate_funnel(df, stages).collect()}
        assert got == {1: "gate", 2: None}

    def test_apply_matches_census_kept(self, spark):
        from log2seq_spark.operators import textstats
        feats = textstats.lang_id(textstats.quality_features(_docs(spark)))
        stages = funnel.standard_quality_funnel(feats)
        cen = funnel.funnel_census(feats, stages)
        kept = cen.filter(F.col("stage") == "kept").first()["n_out"]
        surv = funnel.annotate_funnel(feats, stages).filter(
            F.col("drop_reason").isNull())
        assert surv.count() == kept

    def test_duplicate_stage_names_raise(self, spark):
        df = spark.range(1)
        with pytest.raises(ValueError):
            funnel.annotate_funnel(
                df, [("a", F.lit(True)), ("a", F.lit(False))])

    def test_column_collisions_raise(self, spark):
        df = spark.range(3).withColumn("drop_reason", F.lit("x"))
        with pytest.raises(ValueError):
            funnel.annotate_funnel(df, [("a", F.lit(True))])
        sh = spark.range(3).withColumn("shard", F.lit(0)) \
                           .withColumnRenamed("id", "doc_id")
        with pytest.raises(ValueError):
            shards.assign_shards(sh, 4)
        up = spark.createDataFrame([(1, "en", 2)],
                                   "doc_id long, lang string, epoch int")
        with pytest.raises(ValueError):
            mixture.upsample_to_budget(up, "lang", {"en": 1.0}, 10)


class TestMixture:
    def test_rates_binding_domain(self, spark):
        df = spark.createDataFrame(
            [(i, "en" if i < 80 else ("de" if i < 90 else "zh"))
             for i in range(100)], "doc_id long, lang string")
        rates = {r["domain"]: r for r in mixture.mixture_rates(
            df, "lang", {"en": 0.5, "de": 0.5}).collect()}
        # de is binding (10 docs / 0.5 weight) -> rate 1.0
        assert rates["de"]["rate"] == pytest.approx(1.0)
        # en thinned to match: 80 * rate == 10  -> rate = 0.125
        assert rates["en"]["rate"] == pytest.approx(0.125)
        assert rates["zh"]["rate"] == 0.0       # untargeted -> dropped
        assert rates["en"]["threshold"] == 1250

    def test_balance_deterministic_and_proportionalish(self, spark):
        df = spark.createDataFrame(
            [(i, "en" if i % 4 else "de") for i in range(400)],
            "doc_id long, lang string")
        kept1 = mixture.balance_mixture(df, "lang", {"en": 0.5, "de": 0.5})
        kept2 = mixture.balance_mixture(df, "lang", {"en": 0.5, "de": 0.5})
        a = {(r["doc_id"]) for r in kept1.collect()}
        assert a == {(r["doc_id"]) for r in kept2.collect()}
        counts = dict(kept1.groupBy("lang").count().collect())
        assert counts["de"] == 100               # binding, kept whole
        # en target == de target -> ~100 kept (bucket resolution)
        assert abs(counts["en"] - 100) <= 10

    def test_upsample_epochs(self, spark):
        df = spark.createDataFrame(
            [(i, "de" if i < 10 else "en") for i in range(110)],
            "doc_id long, lang string")
        up = mixture.upsample_to_budget(
            df, "lang", {"de": 0.5, "en": 0.5}, budget_docs=200)
        counts = dict(up.groupBy("lang").count().collect())
        # de: r = 100/10 = 10 -> exactly 10 full epochs of 10 docs
        assert counts["de"] == 100
        # en: r = 100/100 = 1 -> 1 full epoch, no fractional
        assert counts["en"] == 100
        assert "epoch" in up.columns
        eps = dict(up.filter(F.col("lang") == "de")
                     .groupBy("epoch").count().collect())
        assert eps == {e: 10 for e in range(1, 11)}

    def test_upsample_cap(self, spark):
        df = spark.createDataFrame([(i, "de") for i in range(5)],
                                   "doc_id long, lang string")
        up = mixture.upsample_to_budget(df, "lang", {"de": 1.0},
                                        budget_docs=1000, max_repeats=4)
        assert up.count() == 20                  # capped at 4 epochs
        # the cap is inspectable, never silent
        plan = mixture.upsample_plan(df, "lang", {"de": 1.0}, 1000,
                                     max_repeats=4).first()
        assert plan["capped"] is True
        assert plan["repeats"] == 4.0
        assert plan["r_uncapped"] == pytest.approx(200.0)


class TestPreference:
    def _turns(self, spark):
        rows = []
        # two conversations answering the SAME masked prompt
        # ("question 7 about x" / "question 9 about x" mask-equal)
        rows += [("c1", 1, "user", "question 7 about x"),
                 ("c1", 2, "assistant", "short answer"),
                 ("c2", 1, "user", "question 9 about x"),
                 ("c2", 2, "assistant", "a much longer and better answer"),
                 # unrelated prompt, single candidate -> no pair
                 ("c3", 1, "user", "other prompt"),
                 ("c3", 2, "assistant", "lone response"),
                 # first turn with no prompt -> dropped
                 ("c4", 1, "assistant", "orphan")]
        return spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string")

    def test_pairs_best_vs_worst(self, spark):
        pairs = preference.preference_pairs(self._turns(spark)).collect()
        assert len(pairs) == 1
        p = pairs[0]
        assert p["n_candidates"] == 2
        assert p["chosen_conv_id"] == "c2"       # 6 tokens beats 2
        assert p["rejected_conv_id"] == "c1"
        assert p["gap"] == pytest.approx(4.0)

    def test_margin_gate(self, spark):
        pairs = preference.preference_pairs(
            self._turns(spark), margin=5.0).collect()
        assert pairs == []

    def test_tie_breaks_deterministic(self, spark):
        rows = [("a", 1, "user", "same prompt"),
                ("a", 2, "assistant", "xx yy"),
                ("b", 1, "user", "same prompt"),
                ("b", 2, "assistant", "zz ww")]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string")
        p1 = preference.preference_pairs(df).first()
        p2 = preference.preference_pairs(df.repartition(7)).first()
        assert p1 == p2
        assert p1["gap"] == 0.0                  # tie broken by md5
        assert p1["chosen_md5"] != p1["rejected_md5"]


class TestQuantizedANN:
    def _embs(self, spark, n=60, dim=8):
        rows = [(i, [math.sin(0.7 * i + j) for j in range(dim)])
                for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_quantize_roundtrip_error_bounded(self, spark):
        embs = self._embs(spark)
        qz = similarity.quantize_embeddings(embs).collect()
        for r in qz:
            assert len(r["q8"]) == len(r["embedding"])
            assert all(-127 <= c <= 127 for c in r["q8"])
            for c, v in zip(r["q8"], r["embedding"]):
                assert abs(c * r["q8_scale"] - v) <= r["q8_scale"] / 2 + 1e-12

    def test_zero_vector(self, spark):
        embs = spark.createDataFrame([(0, [0.0, 0.0, 0.0])],
                                     "vec_id long, embedding array<double>")
        r = similarity.quantize_embeddings(embs).first()
        assert r["q8_scale"] == 0.0 and list(r["q8"]) == [0, 0, 0]

    def test_topk_matches_brute(self, spark):
        embs = self._embs(spark)
        query = [math.sin(0.7 * 3 + j) for j in range(8)]  # near vec 3
        brute = similarity.cosine_topk(embs, query, k=10)
        quant = similarity.quantized_topk(embs, query, k=10, rescore=40)
        b = [r["vec_id"] for r in brute.collect()]
        q = [r["vec_id"] for r in quant.collect()]
        # rescore pool of 40/60 makes the exact top-10 recoverable
        assert q == b
        # and scores are the EXACT float cosines (rescored)
        bs = {r["vec_id"]: r["cosine"] for r in brute.collect()}
        for r in quant.collect():
            assert r["cosine"] == pytest.approx(bs[r["vec_id"]], abs=1e-9)

    def test_rescore_validation(self, spark):
        with pytest.raises(ValueError):
            similarity.quantized_topk(self._embs(spark), [1.0] * 8,
                                      k=10, rescore=5)


class TestSemanticDedup:
    def _embs(self, spark):
        # two tight groups near orthogonal axes + one lone vector
        rows = [(0, [1.0, 0.0, 0.0]), (1, [0.99, 0.01, 0.0]),
                (2, [0.98, 0.0, 0.02]),
                (10, [0.0, 1.0, 0.0]), (11, [0.0, 0.99, 0.01]),
                (20, [0.5, 0.5, 0.7])]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    CENTS = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]

    def test_pairs_only_within_cells(self, spark):
        pairs = similarity.semantic_duplicates(
            self._embs(spark), self.CENTS, threshold=0.9).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        # group-0 pairs and group-1 pair; NEVER a cross-cell pair even
        # though e.g. cos(20, 0) is well-defined — 20 lands in one cell
        assert (0, 1) in got and (0, 2) in got and (1, 2) in got
        assert (10, 11) in got
        assert not any((a < 10) != (b < 10) for a, b in got)
        for r in pairs:
            assert r["cosine"] >= 0.9
            assert r["id_a"] < r["id_b"]

    def test_assignment_tie_and_threshold(self, spark):
        # high threshold -> the lone diagonal vector pairs with nothing
        pairs = similarity.semantic_duplicates(
            self._embs(spark), self.CENTS, threshold=0.999).collect()
        ids = {x for r in pairs for x in (r["id_a"], r["id_b"])}
        assert 20 not in ids

    def test_drop_list(self, spark):
        pairs = similarity.semantic_duplicates(
            self._embs(spark), self.CENTS, threshold=0.9)
        # SemDeDup pruning: the larger id of every pair is dropped, so
        # the lowest id of each dup family survives
        drops = {r["id_b"] for r in pairs.collect()}
        assert drops == {1, 2, 11}


class TestChunking:
    def _py_chunks(self, text, chunk, overlap):
        toks = [t for t in text.split() if t]
        if not toks:
            return []
        stride = chunk - overlap
        out = []
        i = 0
        while True:
            w = toks[i * stride:i * stride + chunk]
            out.append(" ".join(w))
            if i * stride + chunk >= len(toks):
                break
            i += 1
        return out

    def test_matches_pure_python_windows(self, spark):
        texts = ["a b c d e f g h i j", "one two three", "x", "",
                 "  spaced   out  tokens  here   now ",
                 " ".join(f"t{i}" for i in range(23))]
        df = spark.createDataFrame(list(enumerate(texts)),
                                   "doc_id long, text string")
        got = {}
        for r in chunking.chunk_documents(df, chunk_tokens=8,
                                          overlap=3).collect():
            got.setdefault(r["doc_id"], {})[r["chunk_idx"]] = (
                r["chunk_text"], r["n_tokens"], r["n_chunks"])
        for i, text in enumerate(texts):
            ref = self._py_chunks(text, 8, 3)
            if not ref:
                assert i not in got          # empty doc -> no chunks
                continue
            assert len(got[i]) == len(ref)
            for ci, ctext in enumerate(ref):
                assert got[i][ci][0] == ctext
                assert got[i][ci][1] == len(ctext.split())
                assert got[i][ci][2] == len(ref)

    def test_overlap_reconstruction(self, spark):
        # consecutive windows share exactly `overlap` tokens
        df = spark.createDataFrame(
            [(0, " ".join(str(i) for i in range(20)))],
            "doc_id long, text string")
        rows = sorted(chunking.chunk_documents(
            df, chunk_tokens=8, overlap=3).collect(),
            key=lambda r: r["chunk_idx"])
        for a, b in zip(rows, rows[1:]):
            ta, tb = a["chunk_text"].split(), b["chunk_text"].split()
            assert ta[-3:] == tb[:3]

    def test_census_and_validation(self, spark):
        df = spark.createDataFrame(
            [(i, " ".join("w" * 1 for _ in range(n)))
             for i, n in enumerate([4, 10, 16])],
            "doc_id long, text string")
        cen = {r["chunk_idx"]: r for r in chunking.chunk_census(
            df, chunk_tokens=8, overlap=3).collect()}
        # n=4 -> 1 chunk; n=10 -> 2 (8 + last 5); n=16 with stride 5 ->
        # windows at 0,5,10 -> 3 chunks (8, 8, 6)
        assert cen[0]["n_docs"] == 3
        assert cen[1]["n_docs"] == 2
        assert cen[2]["n_docs"] == 1
        assert cen[2]["n_tokens"] == 6
        with pytest.raises(ValueError):
            chunking.chunk_documents(df, chunk_tokens=4, overlap=4)
        with pytest.raises(ValueError):
            chunking.chunk_documents(df, chunk_tokens=0)
        with pytest.raises(ValueError):
            chunking.chunk_census(df, chunk_tokens=4, overlap=4)
        with pytest.raises(ValueError):
            chunking.chunk_census(df, chunk_tokens=0)

    def test_census_equals_chunk_documents_aggregate(self, spark):
        # the census's closed-form window sizes must agree with an
        # aggregate over the materialized chunk_documents windows on a
        # boundary-heavy corpus (empty doc, < window, == window,
        # == window+1, mid-stride, exact multiple, whitespace runs)
        import pyspark.sql.functions as F
        sizes = [0, 1, 7, 8, 9, 12, 13, 20, 25, 26, 40]
        df = spark.createDataFrame(
            [(i, "  ".join(f"t{j}" for j in range(n)) + ("  " if i % 2
                                                         else ""))
             for i, n in enumerate(sizes)],
            "doc_id long, text string")
        for ct, ov in ((8, 3), (13, 0), (5, 4)):
            ref = sorted(tuple(r) for r in chunking.chunk_documents(
                df, chunk_tokens=ct, overlap=ov)
                .groupBy("chunk_idx")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("n_tokens").cast("bigint").alias("n_tokens"),
                     F.min("doc_id").alias("first_doc"),
                     F.max("doc_id").alias("last_doc")).collect())
            got = sorted(tuple(r) for r in chunking.chunk_census(
                df, chunk_tokens=ct, overlap=ov).collect())
            assert got == ref


class TestPlanShapes:
    """Physical-plan assertions for the curation operators — the shape
    that survives 100x data, not just the answer."""

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_funnel_annotation_is_map_only(self, spark):
        docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        p = self._plan(funnel.annotate_funnel(
            docs, [("s", F.length("text") > 0)]))
        assert "Exchange" not in p          # coalesced CASE at the scan

    def test_mixture_join_is_broadcast(self, spark):
        docs = spark.createDataFrame([(i, "en") for i in range(20)],
                                     "doc_id long, lang string")
        p = self._plan(mixture.balance_mixture(docs, "lang", {"en": 1.0}))
        assert "BroadcastHashJoin" in p     # #domains-row rate table
        assert "SortMergeJoin" not in p

    def test_shard_census_single_shuffle(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(20)],
                                     "doc_id long")
        p = self._plan(shards.shard_census(docs, 4))
        assert p.count("Exchange") == 1     # one hash aggregate

    def test_quantized_topk_no_global_sort(self, spark):
        embs = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(30)],
            "vec_id long, embedding array<double>")
        p = self._plan(similarity.quantized_topk(
            embs, [1.0, 0.5], k=5, rescore=10))
        assert "TakeOrderedAndProject" in p  # bounded heap, never a sort


def _py_shard(doc_id, n_shards, seed=0):
    h = hashlib.md5(f"{seed}#{doc_id}".encode()).hexdigest()
    return int(h[:8], 16) % n_shards, h


class TestShards:
    def _docs(self, spark, n=200):
        return spark.createDataFrame(
            [(i, i % 7 + 1) for i in range(n)], "doc_id long, toks long")

    def test_assignment_matches_reference_md5(self, spark):
        df = shards.assign_shards(self._docs(spark, 50), 8)
        for r in df.collect():
            s, k = _py_shard(r["doc_id"], 8)
            assert (r["shard"], r["interleave_key"]) == (s, k)

    def test_census_order_boundaries(self, spark):
        df = self._docs(spark)
        cen = {r["shard"]: r
               for r in shards.shard_census(df, 4, token_col="toks")
               .collect()}
        by_shard = {}
        for i in range(200):
            s, k = _py_shard(i, 4)
            by_shard.setdefault(s, []).append((k, i))
        for s, members in by_shard.items():
            members.sort()
            assert cen[s]["n_docs"] == len(members)
            assert cen[s]["first_doc"] == members[0][1]
            assert cen[s]["last_doc"] == members[-1][1]
            assert cen[s]["n_tokens"] == sum(i % 7 + 1 for _, i in members)
        assert sum(r["n_docs"] for r in cen.values()) == 200

    def test_write_shards_layout_and_order(self, spark, tmpdir_path):
        df = self._docs(spark, 60)
        shards.write_shards(df, tmpdir_path, 4)
        out = spark.read.parquet(tmpdir_path)
        assert out.count() == 60
        assert sorted(r["shard"] for r in
                      out.select("shard").distinct().collect()) == [0, 1, 2, 3]
        # rows within each shard file are in interleave order
        import glob
        for d in glob.glob(f"{tmpdir_path}/shard=*"):
            part = spark.read.parquet(d)
            keys = [r["interleave_key"] for r in part.collect()]
            # single file per shard dir -> read order == written order
            files = glob.glob(f"{d}/*.parquet")
            if len(files) == 1:
                assert keys == sorted(keys)

    def test_curriculum_phases_easy_to_hard(self, spark):
        df = spark.createDataFrame(
            [(i, float(i % 10)) for i in range(100)],
            "doc_id long, score double")
        p = shards.curriculum_phases(df, "score", n_phases=4)
        rows = p.collect()
        assert {r["phase"] for r in rows} == {0, 1, 2, 3}
        # ranks are a permutation of 1..n and phases are rank cuts
        ranks = sorted(r["curriculum_rank"] for r in rows)
        assert ranks == list(range(1, 101))
        for r in rows:
            assert r["phase"] == (r["curriculum_rank"] - 1) * 4 // 100
        # ordering: every phase-0 score <= every phase-3 score
        s0 = max(r["score"] for r in rows if r["phase"] == 0)
        s3 = min(r["score"] for r in rows if r["phase"] == 3)
        assert s0 <= s3

    def test_curriculum_descending_and_ties(self, spark):
        df = spark.createDataFrame(
            [(i, 1.0) for i in range(10)], "doc_id long, score double")
        p = shards.curriculum_phases(df, "score", n_phases=2,
                                     ascending=False)
        got = {r["doc_id"]: r["curriculum_rank"] for r in p.collect()}
        # all-tied scores -> rank order falls back to doc_id
        assert got == {i: i + 1 for i in range(10)}

    def test_phase_census(self, spark):
        df = spark.createDataFrame(
            [(i, float(i), i % 3 + 1) for i in range(40)],
            "doc_id long, score double, toks long")
        cen = {r["phase"]: r for r in shards.phase_census(
            df, "score", n_phases=4, token_col="toks").collect()}
        assert all(cen[p]["n_docs"] == 10 for p in range(4))
        assert cen[0]["first_doc"] == 0 and cen[0]["last_doc"] == 9
        assert cen[3]["first_doc"] == 30 and cen[3]["last_doc"] == 39

    def test_validation(self, spark):
        df = self._docs(spark, 5)
        with pytest.raises(ValueError):
            shards.assign_shards(df, 0)
        with pytest.raises(ValueError):
            shards.curriculum_phases(df, "toks", n_phases=0)
