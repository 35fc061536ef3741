"""Deletion-neighborhood fuzzy matching (FastSS/SymSpell blocking)."""

import re

import pytest
from pyspark.sql import functions as F

from log2seq_spark.operators import fuzzyjoin


def _strs(spark, rows, col="s"):
    return spark.createDataFrame([(s,) for s in rows], f"{col} string")


class TestDeletionVariants:
    def test_d1(self, spark):
        out = (_strs(spark, ["abc"])
               .select(fuzzyjoin.deletion_variants(F.col("s"), 1)
                       .alias("v")).first()["v"])
        assert sorted(out) == ["ab", "abc", "ac", "bc"]

    def test_d2_and_short_strings(self, spark):
        rows = (_strs(spark, ["ab", "a", ""])
                .select("s", fuzzyjoin.deletion_variants(F.col("s"), 2)
                        .alias("v")).collect())
        got = {r["s"]: sorted(r["v"]) for r in rows}
        assert got["ab"] == ["", "a", "ab", "b"]
        assert got["a"] == ["", "a"]
        assert got[""] == [""]


class TestFuzzySelfPairs:
    def test_within_distance_complete(self, spark):
        # every ed<=1 pair must be found (completeness is the contract)
        vocab = ["kitten", "mitten", "mittens", "sitting", "kitte",
                 "banana", "bananas"]
        out = {(r["s_a"], r["s_b"]): r["dist"]
               for r in fuzzyjoin.fuzzy_self_pairs(
                   _strs(spark, vocab), "s", max_dist=1).collect()}
        assert out == {("kitten", "mitten"): 1,   # substitution
                       ("mitten", "mittens"): 1,  # insertion
                       ("kitte", "kitten"): 1,    # deletion
                       ("banana", "bananas"): 1}

    def test_d2_transitive_reach(self, spark):
        out = {(r["s_a"], r["s_b"]): r["dist"]
               for r in fuzzyjoin.fuzzy_self_pairs(
                   _strs(spark, ["kitten", "mittens", "kitchen"]),
                   "s", max_dist=2).collect()}
        assert out[("kitten", "mittens")] == 2
        assert out[("kitchen", "kitten")] == 2
        assert ("kitchen", "mittens") not in out  # ed=4

    def test_duplicates_and_nulls_collapse(self, spark):
        df = spark.createDataFrame(
            [("abc",), ("abc",), (None,), ("abd",)], "s string")
        out = fuzzyjoin.fuzzy_self_pairs(df, "s").collect()
        assert [(r["s_a"], r["s_b"], r["dist"]) for r in out] \
            == [("abc", "abd", 1)]

    def test_max_len_raises(self, spark):
        df = _strs(spark, ["x" * 100, "y"])
        with pytest.raises(Exception, match="max_len"):
            fuzzyjoin.fuzzy_self_pairs(df, "s", max_len=64).collect()

    def test_max_bucket_raises_loudly(self, spark):
        # 30 strings that all share the deletion variant "a"
        df = _strs(spark, [f"a{c}" for c in "bcdefghijklmnopqrstuvwxyz"]
                   + ["ab2", "ac2", "ad2", "a"])
        with pytest.raises(Exception, match="max_bucket") as err:
            fuzzyjoin.fuzzy_self_pairs(df, "s", max_bucket=5).collect()
        # the message names a member string of the over-cap bucket
        sample = re.search(r"which holds e\.g\. (\S+)", str(err.value))
        assert sample and sample.group(1) in {
            r["s"] for r in df.collect()}


def _levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class TestFuzzCompleteness:
    """The FastSS blocking claims NO false negatives — fuzz it against
    brute-force DP Levenshtein over a small alphabet (maximal near-
    collision density), for both supported distances."""

    @pytest.mark.parametrize("max_dist,seed", [(1, 3), (1, 4), (2, 5)])
    def test_matches_bruteforce_exactly(self, spark, max_dist, seed):
        import random
        rng = random.Random(seed)
        vocab = list({"".join(rng.choice("abc")
                              for _ in range(rng.randint(0, 7)))
                      for _ in range(60)})
        want = {(a, b): _levenshtein(a, b)
                for i, a in enumerate(vocab) for b in vocab[i + 1:]
                if 0 < _levenshtein(a, b) <= max_dist}
        want = {(min(a, b), max(a, b)): d for (a, b), d in want.items()}
        got = {(r["s_a"], r["s_b"]): r["dist"]
               for r in fuzzyjoin.fuzzy_self_pairs(
                   _strs(spark, vocab), "s", max_dist=max_dist,
                   max_bucket=None).collect()}
        assert got == want

