"""Bigram LM with stupid backoff (operators/lm.py): hand-computed
scores on a tiny corpus, partitioning invariance, shard-merge ≡ batch
training, the vocab-pruning ≡ manual-<unk> invariant, and empty-doc /
off-corpus edge cases."""

import math

import pytest
from pyspark.sql import functions as F

from log2seq_spark.operators import lm


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


CORPUS = [
    (1, "the cat sat"),
    (2, "the cat ran"),
    (3, "the dog sat"),
    (4, "a cat sat"),
]


def _pure_model(texts):
    """Reference bigram counts computed in plain Python."""
    from collections import Counter
    bi = Counter()
    for t in texts:
        w = [x.lower() for x in t.split() if x]
        prev = lm.BOS
        for c in w:
            bi[(prev, c)] += 1
            prev = c
    ctx = Counter()
    uni = Counter()
    for (p, c), n in bi.items():
        ctx[p] += n
        uni[c] += n
    return bi, ctx, uni, sum(uni.values())


def _pure_score(text, bi, ctx, uni, total, alpha=0.4):
    w = [x.lower() for x in text.split() if x]
    if not w:
        return None
    lp = 0.0
    prev = lm.BOS
    for c in w:
        if (prev, c) in bi:
            p = bi[(prev, c)] / ctx[prev]
        else:
            p = alpha * uni.get(c, 0.5) / total
        lp += math.log(p)
        prev = c
    return lp / len(w)


class TestBigramLM:
    def test_counts_match_pure_model(self, spark):
        docs = _docs(spark, CORPUS)
        big = lm.train_bigram_lm(docs)
        got = {(r["prev"], r["cur"]): r["n"] for r in big.collect()}
        bi, ctx, uni, total = _pure_model([t for _, t in CORPUS])
        assert got == dict(bi)
        gc = {r["prev"]: r["n_ctx"]
              for r in lm.context_counts(big).collect()}
        assert gc == dict(ctx)
        gu = {r["cur"]: r["n_tok"]
              for r in lm.unigram_counts(big).collect()}
        assert gu == dict(uni)

    def test_scores_match_pure_model(self, spark):
        docs = _docs(spark, CORPUS)
        big = lm.train_bigram_lm(docs)
        out = lm.perplexity(docs, big).collect()
        bi, ctx, uni, total = _pure_model([t for _, t in CORPUS])
        for r in out:
            want = _pure_score(dict(CORPUS)[r["doc_id"]],
                               bi, ctx, uni, total)
            assert r["avg_logprob"] == pytest.approx(want, abs=1e-4)
            assert r["perplexity"] == pytest.approx(
                math.exp(-want), abs=2e-4)
            assert r["lm_tokens"] == len(dict(CORPUS)[r["doc_id"]].split())

    def test_off_corpus_and_empty_docs(self, spark):
        train = _docs(spark, CORPUS)
        big = lm.train_bigram_lm(train)
        score = _docs(spark, [(10, "the cat sat"),
                              (11, "zzz qqq"),       # fully unseen
                              (12, ""),                # empty
                              (13, "   ")])            # whitespace only
        out = {r["doc_id"]: r for r in
               lm.perplexity(score, big).collect()}
        bi, ctx, uni, total = _pure_model([t for _, t in CORPUS])
        assert out[10]["avg_logprob"] == pytest.approx(
            _pure_score("the cat sat", bi, ctx, uni, total), abs=1e-4)
        # unseen tokens hit the 0.5-pseudocount backoff, never NULL/inf
        want11 = _pure_score("zzz qqq", bi, ctx, uni, total)
        assert out[11]["avg_logprob"] == pytest.approx(want11, abs=1e-4)
        for d in (12, 13):
            assert out[d]["lm_tokens"] == 0
            assert out[d]["avg_logprob"] is None
            assert out[d]["perplexity"] is None

    def test_partitioning_invariance(self, spark):
        docs = _docs(spark, CORPUS)
        a = lm.perplexity(docs, lm.train_bigram_lm(docs))
        b = lm.perplexity(docs.repartition(7),
                          lm.train_bigram_lm(docs.repartition(3)))
        assert sorted(map(tuple, a.collect())) == \
            sorted(map(tuple, b.collect()))

    def test_shard_merge_equals_batch(self, spark):
        docs = _docs(spark, CORPUS)
        s1 = docs.filter(F.col("doc_id") <= 2)
        s2 = docs.filter(F.col("doc_id") > 2)
        merged = (lm.train_bigram_lm(s1)
                  .unionByName(lm.train_bigram_lm(s2))
                  .groupBy("prev", "cur").agg(F.sum("n").alias("n")))
        batch = lm.train_bigram_lm(docs)
        assert sorted(map(tuple, merged.collect())) == \
            sorted(map(tuple, batch.collect()))

    def test_vocab_pruning_equals_manual_unk(self, spark):
        rows = [(i, t) for i, t in enumerate(
            ["the cat sat on the mat",
             "the dog sat on a log",
             "a cat and a dog ran",
             "rare1 the rare2 cat rare3"])]
        docs = _docs(spark, rows)
        kept = {"the", "cat", "sat", "a", "dog"}
        vocab = spark.createDataFrame([(t,) for t in sorted(kept)],
                                      "token string")
        # manual twin: replace non-vocab tokens with <unk> in the text
        manual = [(i, " ".join(w if w in kept else lm.UNK
                               for w in t.split()))
                  for i, t in rows]
        mdocs = _docs(spark, manual)
        a = lm.perplexity(docs, lm.train_bigram_lm(docs, vocab=vocab),
                          vocab=vocab)
        b = lm.perplexity(mdocs, lm.train_bigram_lm(mdocs))
        ga = {r["doc_id"]: (r["lm_tokens"], r["avg_logprob"])
              for r in a.collect()}
        gb = {r["doc_id"]: (r["lm_tokens"], r["avg_logprob"])
              for r in b.collect()}
        assert ga == gb
