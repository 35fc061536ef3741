"""Distributed byte-pair-encoding (BPE) tokenizer training + encoding
— the real sub-word tokenizer a training-data pipeline budgets with,
upgrading the regex estimate in :mod:`textstats`
(``bpe_ish_token_count``) to learned merges (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units").

Scale shape: the corpus-size-dependent step is aggregating the
word-frequency table — one distributed shuffle on the word, after which
everything operates on DISTINCT words (Zipf-bounded: ~millions of rows
for a 100 TB corpus, vs trillions of tokens). The merge loop then runs
through one of two interchangeable engines with identical output
(equality-tested):

* ``driver`` — when distinct words fit (``max_driver_words`` gate, the
  same size-gating convention as the union-find in
  :mod:`dedup` and the k-means in :mod:`similarity`), the word table
  collects and the exact sequential loop runs in-process. This is the
  shape production tokenizer trainers use: the word-count dict is the
  working set, not the corpus.
* ``distributed`` — each merge iteration is one adjacent-pair count
  aggregate over the word table + a 1-row argmax + one vectorized
  merge application (higher-order fold, JVM-side). O(n_merges) Spark
  jobs; for word tables too large to collect.

Determinism: ties on pair count break to the lexicographically
smallest (a, b), so training is reproducible across partitionings and
engines.

Encoding replays the ranked merge list sequentially (one greedy
leftmost pass per merge — the training transformation itself) via an
Arrow-batched pandas UDF with a per-batch word cache, so repeated
words (Zipf again) encode once per batch. ``encode(word)`` reproduces
the trainer's final pieces for every training word by construction
(asserted in tests anyway), and concatenating pieces reconstructs the
word exactly.

Not SQL-expressible (iterative argmax), so this surfaces through unit
tests + the pure-Python-model equivalence rather than a DuckDB oracle
row — the driver records the weaker rows-only check for such ops.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udf import _drop_zip_finders
from .textstats import tokens_expr


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The distributed step: ``(word, wn)`` frequency table over
    whitespace-tokenized text (empties dropped) — one explode + one
    map-side-combinable count aggregate; everything downstream is
    bounded by DISTINCT words, not corpus size."""
    return (docs.select(F.explode(tokens_expr(F.col(text_col)))
                          .alias("word"))
                .groupBy("word").agg(F.count("*").alias("wn")))


# ---------------------------------------------------------------------------
# pure-Python reference model (also the driver-engine implementation)
# ---------------------------------------------------------------------------

def train_from_counts(counts: dict, n_merges: int,
                      min_count: int = 2) -> list:
    """Exact sequential BPE merge loop over a ``{word: count}`` dict.
    Returns the ranked merge list ``[(a, b), ...]`` (≤ ``n_merges``
    entries; stops early when the best pair's count drops below
    ``min_count``). Greedy leftmost application within each merge."""
    words = {w: tuple(w) for w in counts}
    merges: list = []
    for _ in range(n_merges):
        pairs: dict = {}
        for w, pieces in words.items():
            wn = counts[w]
            for i in range(len(pieces) - 1):
                p = (pieces[i], pieces[i + 1])
                pairs[p] = pairs.get(p, 0) + wn
        if not pairs:
            break
        # deterministic argmax: max count, then smallest (a, b)
        best = min(pairs, key=lambda p: (-pairs[p], p))
        if pairs[best] < min_count:
            break
        merges.append(best)
        words = {w: _apply_merge(p, best) for w, p in words.items()}
    return merges


def _apply_merge(pieces: Sequence[str], pair: tuple) -> tuple:
    """Greedy leftmost application of one merge to a symbol sequence:
    ('a','a','a') under ('a','a') -> ('aa','a')."""
    a, b = pair
    out: list = []
    for t in pieces:
        if out and out[-1] == a and t == b:
            out[-1] = a + b
        else:
            out.append(t)
    return tuple(out)


def encode_word(word: str, merges: list) -> tuple:
    """Encode one word by applying the ranked merges sequentially, one
    greedy-leftmost pass each — EXACTLY the transformation the training
    loop performed, so training words reproduce their final training
    segmentation by construction (and unseen words segment as training
    would have segmented them). A symbol-set guard skips merges whose
    parts are absent, so the common cost is O(|word|) set probes, not
    O(n_merges × |word|)."""
    pieces = tuple(word)
    have = set(pieces)
    for a, b in merges:
        if len(pieces) < 2 or a not in have or b not in have:
            continue
        nxt = _apply_merge(pieces, (a, b))
        if nxt != pieces:
            pieces = nxt
            have = set(pieces)
    return pieces


# ---------------------------------------------------------------------------
# Spark engines
# ---------------------------------------------------------------------------

def _distributed_train(wc: DataFrame, n_merges: int,
                       min_count: int = 2) -> list:
    """Merge loop over a word-count DataFrame that never collects the
    word table: per iteration one adjacent-pair sum aggregate, one
    1-row argmax collect, one JVM-side fold applying the merge.

    Each iteration ends in ``localCheckpoint(eager=True)``, which
    replaces the logical plan with the materialized RDD. ``persist``
    is NOT enough here: it caches the DATA but leaves the ever-nesting
    ``aggregate``-lambda plan in place, and Catalyst re-analyzes the
    whole accumulated tree every iteration — measured on this rig the
    loop was ~0.5 s/iteration for the first handful of merges and
    blew past 10 minutes before reaching 24 (the round-5 bench row
    caught it). With the checkpoint the plan depth is constant and
    every iteration costs the same."""
    # ``DataFrame.unpersist`` cannot free a localCheckpoint (it is not
    # registered with the CacheManager), so track the checkpointed RDD
    # ids via the SparkContext registry and unpersist a superseded
    # iteration's copy explicitly — otherwise a long merge loop holds
    # up to n_merges cached copies of the word table and the last one
    # outlives the (shared) session's bench run.
    sc = wc.sparkSession.sparkContext

    def _persisted_ids() -> set:
        it = sc._jsc.sc().getPersistentRDDs().keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    def _unpersist_ids(ids: set) -> None:
        reg = sc._jsc.sc().getPersistentRDDs()
        for rid in ids:
            opt = reg.get(rid)
            if not opt.isEmpty():
                opt.get().unpersist(False)

    before = _persisted_ids()
    cur = (wc.select(F.split("word", "").alias("p"), "wn")
             .localCheckpoint(eager=True))
    cur_ids = _persisted_ids() - before
    merges: list = []
    try:
        for _ in range(n_merges):
            n = F.size("p")
            pairs = (cur.filter(n >= 2)
                        .select(F.explode(F.arrays_zip(
                            F.slice("p", 1, n - 1).alias("a"),
                            F.slice("p", 2, n - 1).alias("b")))
                            .alias("pr"), "wn")
                        .groupBy(F.col("pr.a").alias("a"),
                                 F.col("pr.b").alias("b"))
                        .agg(F.sum("wn").alias("n")))
            best = (pairs.orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
                         .limit(1).collect())
            if not best or best[0]["n"] < min_count:
                break
            a, b = best[0]["a"], best[0]["b"]
            merges.append((a, b))
            # greedy leftmost fold: append t, or replace the last
            # element when (last, t) == (a, b)
            merged = F.aggregate(
                "p", F.array().cast("array<string>"),
                lambda acc, t: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (t == F.lit(b)),
                    F.concat(F.slice(acc, 1, F.size(acc) - 1),
                             F.array(F.lit(a + b))))
                 .otherwise(F.concat(acc, F.array(t))))
            prev_ids = cur_ids
            before = _persisted_ids()
            cur = (cur.select(merged.alias("p"), "wn")
                      .localCheckpoint(eager=True))
            cur_ids = _persisted_ids() - before
            # the new eager checkpoint has materialized; free the
            # previous iteration's copy NOW rather than waiting for
            # the ContextCleaner
            _unpersist_ids(prev_ids)
    finally:
        _unpersist_ids(cur_ids)
    return merges


def bpe_train(docs: DataFrame, text_col: str = "text",
              n_merges: int = 200, min_count: int = 2,
              max_driver_words: int = 1_000_000,
              engine: str = "auto") -> list:
    """Learn a ranked BPE merge list from a corpus. The corpus scan is
    always distributed (:func:`word_counts`); the merge loop picks its
    engine by the distinct-word count (only word/count rows — never
    corpus rows — reach the driver, the same bounded-collect convention
    as k-means centroids in :mod:`similarity`):

    * ``<= max_driver_words`` (or ``engine='driver'``): exact
      in-process loop over the collected frequency dict.
    * otherwise (or ``engine='distributed'``): per-merge Spark
      aggregates; identical output, no driver materialization.
    """
    if engine not in ("auto", "driver", "distributed"):
        raise ValueError(f"unknown engine {engine!r}")
    wc = word_counts(docs, text_col)
    if engine == "auto":
        engine = ("driver" if wc.count() <= max_driver_words
                  else "distributed")
    if engine == "driver":
        counts = {r["word"]: r["wn"] for r in wc.collect()}
        return train_from_counts(counts, n_merges, min_count)
    return _distributed_train(wc, n_merges, min_count)


def bpe_encode(docs: DataFrame, merges: list, text_col: str = "text",
               out_col: str = "bpe_pieces") -> DataFrame:
    """``docs`` plus ``out_col: array<string>`` — the BPE segmentation
    of the whitespace-tokenized text under the (broadcast) ranked merge
    list, words joined in order. Arrow-batched pandas UDF with a
    per-batch distinct-word cache: Zipf-repeated words encode once.
    ``F.flatten`` of per-word pieces preserves the token stream order,
    so ``size(out_col)`` is the corpus's true BPE token count."""
    from pyspark.sql.functions import pandas_udf

    ranked = [tuple(p) for p in merges]

    @pandas_udf("array<string>")
    def enc(texts: pd.Series) -> pd.Series:
        _drop_zip_finders()
        cache: dict = {}

        def one(text):
            if text is None:
                return []
            out: list = []
            for w in text.split():
                got = cache.get(w)
                if got is None:
                    got = cache[w] = encode_word(w, ranked)
                out.extend(got)
            return out

        return texts.map(one)

    return docs.withColumn(out_col, enc(F.col(text_col)))
