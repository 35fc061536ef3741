"""Hashed n-gram linear classifier (operators/classifier.py): pure
Python model equality, join-path ≡ expression-path, gram-less docs,
real-weights path, partitioning invariance."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from log2seq_spark.operators import classifier


CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "The QUICK quick brown"),
    (3, "single"),
    (4, ""),
    (5, "pack my box with five dozen liquor jugs"),
]


def _docs(spark, rows=CORPUS):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _md5_60(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _pure_classify(rows, dim=1024, seed="clf-v1"):
    out = {}
    for i, t in rows:
        w = [x.lower() for x in t.split() if x]
        grams = [w[j] + "\x1f" + w[j + 1] for j in range(len(w) - 1)]
        ws = []
        for g in grams:
            b = _md5_60(g) % dim
            ws.append(_md5_60(f"{seed}|{b}") / float(1 << 60) - 0.5)
        z = sum(ws) / len(ws) if ws else 0.0
        out[i] = (len(grams), round(1.0 / (1.0 + math.exp(-z)), 6))
    return out


class TestClassifier:
    def test_matches_pure_model(self, spark):
        got = {r["doc_id"]: (r["clf_ngrams"], r["clf_score"])
               for r in classifier.classify(_docs(spark)).collect()}
        want = _pure_classify(CORPUS)
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == want[k][0]
            assert got[k][1] == pytest.approx(want[k][1], abs=2e-6)

    def test_gramless_docs_score_half(self, spark):
        got = {r["doc_id"]: r for r in
               classifier.classify(_docs(spark)).collect()}
        for d in (3, 4):  # one token / empty: no bigrams
            assert got[d]["clf_ngrams"] == 0
            assert got[d]["clf_score"] == 0.5

    def test_join_path_equals_expression_path(self, spark):
        dim = 64
        # materialize the pseudo model as a real (bucket, weight) table
        wt = spark.range(dim).select(
            F.col("id").alias("bucket"),
            classifier.pseudo_weight(F.col("id"), "clf-v1")
            .alias("weight"))
        docs = _docs(spark)
        a = sorted(map(tuple, classifier.classify(
            docs, dim=dim).collect()))
        b = sorted(map(tuple, classifier.classify(
            docs, dim=dim, weights=wt).collect()))
        assert a == b

    def test_real_weights_missing_buckets_are_zero(self, spark):
        # a weights table covering NO buckets -> z=0 -> score 0.5
        wt = spark.createDataFrame([], "bucket bigint, weight double")
        got = classifier.classify(_docs(spark), weights=wt).collect()
        assert all(r["clf_score"] == 0.5 for r in got)

    def test_partitioning_invariance(self, spark):
        docs = _docs(spark)
        a = sorted(map(tuple, classifier.classify(docs).collect()))
        b = sorted(map(tuple, classifier.classify(
            docs.repartition(7)).collect()))
        assert a == b

    def test_seed_changes_scores(self, spark):
        docs = _docs(spark, [(1, "the quick brown fox jumps")])
        a = classifier.classify(docs, seed="clf-v1").first()["clf_score"]
        b = classifier.classify(docs, seed="other").first()["clf_score"]
        assert a != b


