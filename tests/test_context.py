"""Conversation-context assembly (operators/context.py): pure-Python
model equality, budget/turn caps, suffix (not subset) semantics,
per-conversation isolation, partitioning invariance, digest stability."""

import hashlib

import pytest
from pyspark.sql import functions as F

from log2seq_spark.operators import context


def _turns(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")


def _pure_assemble(rows, max_turns, max_tokens, sep="\n"):
    by_conv = {}
    for c, i, r, t in rows:
        by_conv.setdefault(c, []).append((i, r, t))
    out = {}
    for c, ts in by_conv.items():
        ts.sort()
        for pos, (i, r, t) in enumerate(ts):
            hist = ts[max(0, pos - max_turns):pos]
            ntoks = [len([w for w in x[2].split() if w]) for x in hist]
            kept = []
            budget = max_tokens
            for (j, rr, tt), n in zip(reversed(hist), reversed(ntoks)):
                if n <= budget:
                    budget -= n
                    kept.append((j, rr, tt, n))
                else:
                    break
            kept.reverse()
            out[(c, i)] = (len(kept), sum(k[3] for k in kept),
                           sep.join(f"{k[1]}: {k[2]}" for k in kept))
    return out


ROWS = [
    ("a", 1, "user", "hello there my friend"),          # 4 toks
    ("a", 2, "assistant", "hi"),                        # 1
    ("a", 3, "user", "one two three four five six"),    # 6
    ("a", 4, "assistant", "ok"),                        # 1
    ("a", 5, "user", "short"),                          # 1
    ("b", 1, "user", "solo conversation"),
    ("b", 2, "tool", ""),
    ("b", 3, "assistant", "done"),
]


class TestAssembleContext:
    def test_matches_pure_model(self, spark):
        for mt, mtok in [(8, 512), (2, 512), (8, 5), (3, 7), (1, 1)]:
            got = {(r["conv_id"], r["turn_idx"]):
                   (r["n_ctx_turns"], r["ctx_tokens"], r["context_text"])
                   for r in context.assemble_context(
                       _turns(spark, ROWS), max_turns=mt,
                       max_tokens=mtok).collect()}
            assert got == _pure_assemble(ROWS, mt, mtok), (mt, mtok)

    def test_suffix_not_subset(self, spark):
        # history toks: [5, 10, 1]; budget 6 keeps ONLY the trailing 1
        # (the 5 would fit a knapsack, but context must be contiguous)
        rows = [("c", 1, "u", "a b c d e"),
                ("c", 2, "u", "a b c d e f g h i j"),
                ("c", 3, "u", "x"),
                ("c", 4, "u", "target")]
        out = {r["turn_idx"]: r for r in context.assemble_context(
            _turns(spark, rows), max_turns=8, max_tokens=6).collect()}
        assert out[4]["n_ctx_turns"] == 1
        assert out[4]["context_text"] == "u: x"

    def test_first_turn_empty_context(self, spark):
        out = {(r["conv_id"], r["turn_idx"]): r
               for r in context.assemble_context(
                   _turns(spark, ROWS)).collect()}
        for c in ("a", "b"):
            assert out[(c, 1)]["n_ctx_turns"] == 0
            assert out[(c, 1)]["context_text"] == ""
            assert out[(c, 1)]["ctx_tokens"] == 0

    def test_partitioning_invariance(self, spark):
        t = _turns(spark, ROWS)
        a = sorted(map(tuple, context.assemble_context(t).collect()))
        b = sorted(map(tuple, context.assemble_context(
            t.repartition(7)).collect()))
        assert a == b

    def test_digest_detects_order_and_content(self, spark):
        t = _turns(spark, ROWS)
        ctx = context.assemble_context(t, max_turns=3, max_tokens=8)
        dig = {r["conv_id"]: r for r in
               context.context_digest(ctx).collect()}
        pure = _pure_assemble(ROWS, 3, 8)
        for c in ("a", "b"):
            items = sorted((i, v) for (cc, i), v in pure.items()
                           if cc == c)
            want = hashlib.md5(
                "\x1e".join(v[2] for _, v in items).encode()).hexdigest()
            assert dig[c]["ctx_md5"] == want
            assert dig[c]["n_turns"] == len(items)
            assert dig[c]["total_ctx_tokens"] == sum(
                v[1] for _, v in items)
