"""Exact distributed heavy hitters (operators/heavy.py): equality with
the full GROUP BY … HAVING aggregate, partitioning invariance, and the
Misra–Gries candidate-superset guarantee."""

import random

import pytest
from pyspark.sql import functions as F

from log2seq_spark.operators import heavy


def _exact_heavy(rows, k):
    from collections import Counter
    c = Counter(rows)
    n = len(rows)
    return {(t, m) for t, m in c.items() if m * k > n}


def _zipfy_rows(seed, n=20_000, vocab=400):
    rng = random.Random(seed)
    # a few planted hot keys + a zipf-ish tail
    rows = []
    for i in range(n):
        r = rng.random()
        if r < 0.18:
            rows.append("hot_a")
        elif r < 0.30:
            rows.append("hot_b")
        elif r < 0.37:
            rows.append("hot_c")
        else:
            rows.append(f"tok_{rng.randrange(vocab)}")
    return rows


class TestHeavyHitters:
    def test_matches_full_aggregate(self, spark):
        rows = _zipfy_rows(7)
        df = spark.createDataFrame([(t,) for t in rows], "token string")
        got = {(r.token, r.n)
               for r in heavy.heavy_hitters(df, "token", k=10).collect()}
        assert got == _exact_heavy(rows, 10)
        assert any(t == "hot_a" for t, _ in got)

    @pytest.mark.parametrize("parts", [1, 3, 8])
    def test_partitioning_invariance(self, spark, parts):
        rows = _zipfy_rows(11, n=8_000)
        df = (spark.createDataFrame([(t,) for t in rows], "token string")
                   .repartition(parts))
        got = {(r.token, r.n)
               for r in heavy.heavy_hitters(df, "token", k=8).collect()}
        assert got == _exact_heavy(rows, 8)

    def test_candidate_superset(self, spark):
        # the MG pass alone must contain every true heavy hitter,
        # whatever the partition layout
        rows = _zipfy_rows(23, n=12_000)
        df = (spark.createDataFrame([(t,) for t in rows], "token string")
                   .repartition(5))
        cand = {r.token for r in
                heavy._mg_partition_candidates(df, "token", 12).collect()}
        true_heavy = {t for t, _ in _exact_heavy(rows, 12)}
        assert true_heavy <= cand
        # and the summary is genuinely bounded: <= partitions * k rows
        assert len(cand) <= 5 * 12

    def test_sorted_stream_adversarial_order(self, spark):
        # sorted input maximizes MG counter churn (every light key
        # arrives in a run); the exact recount must still win through
        rows = sorted(_zipfy_rows(31, n=10_000))
        df = (spark.createDataFrame([(t,) for t in rows], "token string")
                   .coalesce(2))
        got = {(r.token, r.n)
               for r in heavy.heavy_hitters(df, "token", k=6).collect()}
        assert got == _exact_heavy(rows, 6)

    def test_nulls_ignored(self, spark):
        rows = ["a"] * 6 + ["b"] * 2 + ["c"]
        df = spark.createDataFrame([(t,) for t in rows] + [(None,)] * 50,
                                   "token string")
        got = {(r.token, r.n)
               for r in heavy.heavy_hitters(df, "token", k=3).collect()}
        # n = 9 non-null rows; only 'a' (6 > 9/3) qualifies
        assert got == {("a", 6)}

    def test_k_validation(self, spark):
        df = spark.createDataFrame([("a",)], "token string")
        with pytest.raises(ValueError):
            heavy.heavy_hitters(df, "token", k=1)

    def test_answer_bounded_by_k(self, spark):
        # fewer than k items can each strictly exceed n/k
        rows = [f"t{i % 4}" for i in range(400)]
        df = spark.createDataFrame([(t,) for t in rows], "token string")
        out = heavy.heavy_hitters(df, "token", k=5).collect()
        assert len(out) < 5
        assert {(r.token, r.n) for r in out} == _exact_heavy(rows, 5)


class TestGroupedHeavyHitters:
    def test_matches_per_group_aggregate(self, spark):
        import random
        from collections import Counter
        rng = random.Random(17)
        rows = []
        for g in ("alpha", "beta", "gamma"):
            hot = f"hot_{g}"
            for _ in range(2500):
                r = rng.random()
                rows.append((g, hot if r < 0.3
                             else f"t{rng.randrange(60)}"))
        df = (spark.createDataFrame(rows, "sink string, token string")
                   .repartition(5))
        k = 8
        got = {(r.sink, r.token, r.n) for r in
               heavy.heavy_hitters(df, "token", k=k,
                                   group_cols=["sink"]).collect()}
        want = set()
        by_g: dict = {}
        for g, t in rows:
            by_g.setdefault(g, []).append(t)
        for g, toks in by_g.items():
            n = len(toks)
            for t, c in Counter(toks).items():
                if c * k > n:
                    want.add((g, t, c))
        assert got == want
        assert any(t.startswith("hot_") for _, t, _ in got)

    def test_null_group_keys_ignored(self, spark):
        rows = [("a", "x")] * 5 + [(None, "x")] * 9 + [("a", "y")]
        df = spark.createDataFrame(rows, "sink string, token string")
        got = {(r.sink, r.token, r.n) for r in
               heavy.heavy_hitters(df, "token", k=2,
                                   group_cols=["sink"]).collect()}
        # only group 'a' (6 rows): x=5 > 6/2
        assert got == {("a", "x", 5)}

    def test_multi_group_cols(self, spark):
        rows = [(1, "s1", "x")] * 4 + [(1, "s1", "y")] + \
               [(2, "s1", "y")] * 3 + [(2, "s2", "z")] * 2
        df = spark.createDataFrame(rows,
                                   "bucket int, sink string, token string")
        got = {tuple(r) for r in
               heavy.heavy_hitters(df, "token", k=2,
                                   group_cols=["bucket", "sink"])
                    .collect()}
        assert got == {(1, "s1", "x", 4), (2, "s1", "y", 3),
                       (2, "s2", "z", 2)}


class TestMgSummaries:
    def test_global_summary_guarantees(self, spark):
        from collections import Counter
        rows = _zipfy_rows(41, n=15_000)
        df = (spark.createDataFrame([(t,) for t in rows], "token string")
                   .repartition(6))
        k = 10
        # partition summaries folded with mg_update: the weighted
        # merge of per-partition summaries stays a valid MG summary
        summary: dict = {}
        for r in heavy._mg_partition_summaries(df, "token", k).collect():
            summary = heavy.mg_update(summary, r["token"], r["w"], k)
        assert len(summary) <= k
        true = Counter(rows)
        n = len(rows)
        for item, w in summary.items():
            # stored weight is a lower bound, error <= n/(k+1)
            assert w <= true[item]
            assert true[item] - w <= n // (k + 1) + 1
        # every item above n/(k+1) must be present
        for item, c in true.items():
            if c > n / (k + 1):
                assert item in summary
