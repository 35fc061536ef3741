"""Conversation-level near-dup: ordered rendering + MinHash bucketing
catches re-ingested conversations that turn-level keys miss."""

import pytest
from pyspark.sql import functions as F

from log2seq_spark.operators import dedup


def _conv(cid, texts):
    return [(cid, i, t) for i, t in enumerate(texts)]


@pytest.fixture(scope="module")
def turns(spark):
    base = ["please summarize the incident report from last night",
            "the incident started at two am when the parser crashed",
            "thanks can you also list the affected hosts",
            "hosts affected were web three web seven and the db primary"]
    fork = base[:3] + ["actually never mind that will be all for today"]
    other = ["completely different conversation about quarterly revenue",
             "revenue grew in all regions except the southern one",
             "please prepare the slide deck for the board meeting"]
    rows = (_conv("a", base) + _conv("a2", base)      # exact re-ingest
            + _conv("f", fork)                        # edited tail
            + _conv("x", other))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string")


class TestConversationDedup:
    def test_rendering_restores_turn_order(self, spark, turns):
        # feed the turns shuffled; rendering must still be idx-ordered
        rendered = {r["conv_id"]: r["text"]
                    for r in dedup.conversation_texts(
                        turns.orderBy(F.rand(7))).collect()}
        assert rendered["a"] == rendered["a2"]
        assert rendered["a"].startswith("please summarize")
        assert rendered["a"].endswith("db primary")
        assert rendered["x"].count("\n") == 2

    def test_reingested_and_forked_conversations_bucket(self, turns):
        buckets = dedup.minhash_near_duplicates(
            dedup.conversation_texts(turns), "text", "conv_id").collect()
        assert buckets  # at least one shared band
        # every bucket is the a/a2/f family; x never buckets
        fam = set()
        for b in buckets:
            assert b["keep_id"] in ("a", "a2", "f")
            fam.add((b["band"], b["band_hash"]))
        # the exact re-ingest shares ALL bands with the original:
        # at least one bucket holds >= 2 docs
        assert any(b["n_docs"] >= 2 for b in buckets)

    def test_unrelated_conversation_never_buckets(self, spark, turns):
        sigs = dedup.minhash_band_signatures(
            dedup.conversation_texts(turns), "text", "conv_id")
        x_bands = {(r["band"], r["band_hash"]) for r in
                   sigs.filter(F.col("_id") == "x").collect()}
        rest = {(r["band"], r["band_hash"]) for r in
                sigs.filter(F.col("_id") != "x").collect()}
        assert not (x_bands & rest)
