"""Bloom-filter semi-join prefiltering, built entirely from JVM-side
expressions — no Python touches a row on either the build or the probe.

Why this is a first-class operator at 10^12 turns: the pipeline's
membership checks (benchmark decontamination dedup.py:585, dedup
against an index dedup.py exact/minhash index paths, keep/drop lists)
all reduce to "filter a huge table by membership in a smaller set".
When the set fits a broadcast-join hash table, Spark's broadcast join
is the right tool and this module is unnecessary. The gap is the
middle regime — a membership set of 10^8–10^10 keys (an eval-suite
shingle vocabulary, a cross-epoch dedup index) whose exact hash table
is tens of GB per executor, but whose Bloom filter at 1% FPP is
~1.2 bytes/key. A Bloom prefilter turns the full-corpus shuffle join
into: (map-only filter that discards ~(1-FPP) of non-members) →
(exact confirm join over the tiny surviving fraction). False positives
are removed by the confirm join, so results are EXACTLY equal to the
plain join — the filter only moves work off the shuffle.

Spark's Catalyst injects the same trick for some shuffle joins
(runtime bloom filters), but not across the job boundary these
pipelines need: the membership set is built in one job (or one epoch)
and probed by many later jobs. This module makes the filter a
first-class, persistable value.

Build: k seeded ``xxhash64`` positions per value (seed = 0..k-1 hashed
together with the value), each mapped to (word = pos div 64,
bit = pos mod 64); one ``bit_or`` hash aggregate over word index —
map-side combinable, output ≤ m/64 rows regardless of input size.
The collected filter is a plain ``list[int]`` (+ m, k), trivially
JSON/parquet-persistable for cross-job reuse.

Probe, two interchangeable shapes (equality-tested against each other):

* ``might_contain_expr`` — embeds the word array as a literal and
  tests ``getbit(element_at(words, pos div 64), pos mod 64)`` for all
  k positions. Map-only, whole-stage-codegen'd, zero shuffle. Right
  up to a few MB of filter (the literal lives in the serialized plan
  every task receives — functionally a broadcast, but re-shipped per
  plan, so keep it small).
* ``might_contain_join`` — keeps the filter distributed as its
  (word, bits) rows and broadcast-joins the probe's exploded
  (word, bit) positions against it, keeping rows where all k
  positions hit. Right when the filter is tens of MB to GBs: the
  bitmap ships once per executor as a broadcast hash table instead
  of once per task inside the plan.

No reference counterpart (amulog/log2seq has no membership machinery);
this is north-rule scale infrastructure for the enrich/route stages.
"""

from __future__ import annotations

import math
from typing import List, Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bloom_parameters", "build_bloom", "might_contain_expr",
    "with_might_contain", "might_contain_join", "bloom_words_df",
    "save_bloom", "load_bloom", "merge_blooms",
    "bloom_contamination_report",
]

# literal-embedded probes above this many BITS refuse loudly: an
# oversized literal bloats every serialized task. Use the join probe.
MAX_EXPR_BITS = 1 << 26          # 8 MiB of longs


def bloom_parameters(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard sizing: m = -n·ln p / ln²2 bits (rounded up to a whole
    number of 64-bit words), k = (m/n)·ln 2 hash functions."""
    if n_items <= 0:
        raise ValueError("n_items must be positive")
    if not (0.0 < fpp < 1.0):
        raise ValueError("fpp must be in (0, 1)")
    m = int(math.ceil(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, ((m + 63) // 64) * 64)
    k = max(1, round((m / n_items) * math.log(2)))
    return m, k


def _col(col: Union[str, Column]) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _pos(value: Column, seed: Column, m_bits: int) -> Column:
    # xxhash64 over (value, seed) gives k independent 64-bit hashes;
    # pmod keeps the position non-negative. Null values hash to the
    # seed alone — both build and probe exclude nulls explicitly
    # instead (membership of NULL is not a meaningful question).
    return F.pmod(F.xxhash64(value, seed), F.lit(m_bits))


def _probe(c: Column, words: Column, m_bits: int, k: int) -> Column:
    """``c`` is non-null and all k bits of its positions are set in the
    ``words`` array<bigint>. ``forall`` over the seed array keeps
    ``words`` in the plan ONCE (a per-hash conjunction would serialize
    a literal array k times into every task)."""
    def hit(s):
        p = _pos(c, s, m_bits)
        w = (p / 64).cast("int") + F.lit(1)          # element_at is 1-based
        b = (p % 64).cast("int")
        return F.getbit(F.element_at(words, w), b) == F.lit(1)

    return c.isNotNull() & F.forall(
        F.array(*[F.lit(i) for i in range(k)]), hit)


def build_bloom(df: DataFrame, col: Union[str, Column], *,
                n_items: Optional[int] = None, fpp: float = 0.01,
                m_bits: Optional[int] = None,
                k: Optional[int] = None) -> dict:
    """Aggregate ``df[col]`` into a Bloom filter dict
    ``{"words": list[int], "m_bits": int, "k": int, "n_items": int}``.

    Distributed build: the per-value positions fan out k-way, collapse
    to ≤ m/64 (word, bit_or) rows in ONE map-side-combinable hash
    aggregate, and only those words reach the driver — input size
    never does. ``n_items`` sizes the filter; when omitted it is
    counted (one extra cheap job — pass it when you already know).

    Nulls are skipped (a Bloom filter answers "have I seen this
    value"; NULL is the absence of one)."""
    c = _col(col)
    vals = df.select(c.alias("_v")).where(F.col("_v").isNotNull())
    if m_bits is None or k is None:
        if n_items is None:
            n_items = vals.count()
        n = max(n_items, 1)
        if m_bits is None:
            m_bits, _ = bloom_parameters(n, fpp)
        if k is None:
            # optimal k for the FINAL m (which may be caller-pinned)
            k = max(1, round((m_bits / n) * math.log(2)))
    if m_bits % 64 != 0:
        raise ValueError("m_bits must be a multiple of 64")
    seeds = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("_s")
    rows = (vals.select("_v", seeds)
                .select(_pos(F.col("_v"), F.col("_s"), m_bits).alias("_p"))
                .select((F.col("_p") / 64).cast("bigint").alias("_w"),
                        F.expr("shiftleft(CAST(1 AS BIGINT), "
                               "CAST(_p % 64 AS INT))").alias("_b"))
                .groupBy("_w")
                .agg(F.expr("bit_or(_b)").alias("_bits"))
                .collect())
    words = [0] * (m_bits // 64)
    for r in rows:
        words[r["_w"]] = r["_bits"]
    return {"words": words, "m_bits": m_bits, "k": k,
            "n_items": n_items if n_items is not None else -1}


def might_contain_expr(col: Union[str, Column], bloom: dict) -> Column:
    """Boolean Column: value is possibly in the set (no false
    negatives; false positives at ~the build FPP). Pure codegen'd
    expression — ``getbit(element_at(words, w+1), b)`` for all k
    positions — so the probe is a map-only Filter with zero shuffle."""
    m_bits, k = bloom["m_bits"], bloom["k"]
    if m_bits > MAX_EXPR_BITS:
        raise ValueError(
            f"filter has {m_bits} bits (> {MAX_EXPR_BITS}); a literal "
            "this large would bloat every task — use might_contain_join")
    c = _col(col)
    # ONE Literal node of array<bigint>: F.lit over a numpy int64
    # array. F.lit over a plain Python list builds CreateArray with
    # m/64 child Literals instead, and CreateArray RE-MATERIALIZES the
    # array on every evaluation — measured O(m) PER ROW (a 300k-word
    # filter probed 500k rows in 116s; this shape: 2.3s, flat in m).
    import numpy as _np
    words = F.lit(_np.asarray(bloom["words"], dtype=_np.int64))
    return _probe(c, words, m_bits, k)


# above this many WORDS, with_might_contain ships the array as a
# single-row broadcast instead of a plan literal: F.lit of an array
# crosses the Py4J bridge element-by-element (~10k words/s of DRIVER
# time per expression construction — measured 30s at 300k words),
# while a one-row createDataFrame ships in one serialized batch.
EXPR_MAX_WORDS = 1 << 14


def with_might_contain(df: DataFrame, col: Union[str, Column],
                       bloom: dict,
                       out_col: str = "_might_contain") -> DataFrame:
    """``df`` + boolean ``out_col`` (same verdicts as
    ``might_contain_expr``), picking the transport by filter size:

    * small filters: the codegen'd literal expression — zero plan
      changes, zero joins;
    * large filters: the word array rides a SINGLE-ROW broadcast
      (crossJoin) and the probe indexes the broadcast COLUMN — the
      array crosses driver→JVM once as one serialized batch and
      executor-side once per broadcast, never per task and never
      element-by-element through Py4J.

    The probe stays all-JVM either way."""
    if len(bloom["words"]) <= EXPR_MAX_WORDS:
        return df.withColumn(out_col, might_contain_expr(col, bloom))
    spark = df.sparkSession
    one = spark.createDataFrame(
        [( [int(w) for w in bloom["words"]],)],
        "__bloom_words array<bigint>")
    probe = _probe(_col(col), F.col("__bloom_words"), bloom["m_bits"],
                   bloom["k"])
    return (df.crossJoin(F.broadcast(one))
              .withColumn(out_col, probe)
              .drop("__bloom_words"))


def bloom_words_df(spark, bloom: dict) -> DataFrame:
    """The filter as its sparse (word, bits) rows — the distributed
    representation ``might_contain_join`` probes (zero-words omitted;
    a missed lookup means bit clear). Write this as parquet to persist
    a filter too large to JSON."""
    rows = [(i, w) for i, w in enumerate(bloom["words"]) if w != 0]
    return spark.createDataFrame(rows, "word bigint, bits bigint")


def might_contain_join(df: DataFrame, col: Union[str, Column],
                       words_df: DataFrame, m_bits: int, k: int,
                       out_col: str = "_might_contain") -> DataFrame:
    """``df`` + boolean ``out_col``, computed by broadcast-joining the
    k exploded (word, bit) probe positions against the filter's sparse
    (word, bits) rows and requiring all k to hit. No filter literal in
    the plan, so this scales to filters far beyond ``MAX_EXPR_BITS``.

    Verdicts are computed once per DISTINCT probe value (membership is
    a function of the value alone) and joined back on the value — the
    only shuffles are the distinct and that value-keyed join; the
    bitmap itself ships once per executor as a broadcast hash table."""
    c = _col(col)
    seeds = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("_s")
    probes = (df.select(c.alias("__bloom_v")).where(
                  F.col("__bloom_v").isNotNull()).distinct()
                .select("__bloom_v", seeds)
                .select("__bloom_v",
                        _pos(F.col("__bloom_v"), F.col("_s"),
                             m_bits).alias("_p"))
                .select("__bloom_v",
                        (F.col("_p") / 64).cast("bigint").alias("word"),
                        (F.col("_p") % 64).cast("int").alias("_b")))
    hit = (F.col("bits").isNotNull()
           & (F.getbit(F.col("bits"), F.col("_b")) == F.lit(1)))
    verdicts = (probes.join(F.broadcast(words_df), "word", "left")
                      .groupBy("__bloom_v")
                      .agg((F.min(hit.cast("int")) == 1).alias("_all_hit")))
    out = (df.join(verdicts, c == F.col("__bloom_v"), "left")
             .withColumn(out_col, F.coalesce(F.col("_all_hit"),
                                             F.lit(False)))
             .drop("__bloom_v", "_all_hit"))
    return out


def save_bloom(spark, bloom: dict, path: str) -> None:
    """Persist a filter for cross-job reuse (built in one epoch, probed
    by many): the sparse (word, bits) rows as parquet + the (m, k, n)
    parameters in a `_bloom_meta.json` sidecar."""
    import json as _json
    from .. import fsio
    bloom_words_df(spark, bloom).coalesce(1).write.mode(
        "overwrite").parquet(path)
    fsio.write_text(spark, f"{path}/_bloom_meta.json", _json.dumps(
        {"m_bits": bloom["m_bits"], "k": bloom["k"],
         "n_items": bloom["n_items"]}))


def load_bloom(spark, path: str) -> dict:
    """Load a ``save_bloom`` filter back into its dense dict form."""
    import json as _json
    from .. import fsio
    meta = _json.loads(fsio.read_text(spark, f"{path}/_bloom_meta.json"))
    words = [0] * (meta["m_bits"] // 64)
    for r in spark.read.parquet(path).collect():
        words[r["word"]] = r["bits"]
    return {"words": words, "m_bits": meta["m_bits"], "k": meta["k"],
            "n_items": meta.get("n_items", -1)}


def merge_blooms(*blooms: dict) -> dict:
    """Bitwise-OR union of same-parameter filters — the property that
    makes Bloom filters mergeable per-partition, per-epoch, per-shard:
    build one per data increment, OR them into the standing filter
    (e.g. a dedup index's membership sidecar) without touching history.
    The merged FPR is that of a filter holding the union."""
    if not blooms:
        raise ValueError("merge_blooms needs at least one filter")
    m, k = blooms[0]["m_bits"], blooms[0]["k"]
    for b in blooms[1:]:
        if b["m_bits"] != m or b["k"] != k:
            raise ValueError("cannot merge filters with different (m, k)")
    words = [0] * (m // 64)
    for b in blooms:
        for i, w in enumerate(b["words"]):
            words[i] |= w
    n = sum(max(b.get("n_items", 0), 0) for b in blooms)
    return {"words": words, "m_bits": m, "k": k, "n_items": n}


def bloom_contamination_report(train: DataFrame, evalset: DataFrame,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               shingle_n: int = 3,
                               threshold: float = 0.5,
                               fpp: float = 0.01,
                               n_items: Optional[int] = None,
                               broadcast_confirm: bool = True,
                               train_shingles: Optional[DataFrame] = None,
                               eval_shingles: Optional[DataFrame] = None
                               ) -> DataFrame:
    """``dedup.contamination_report`` (dedup.py:585) with the eval
    vocabulary carried as a Bloom filter — EXACTLY the same output
    (equality-tested both shapes): the bloom probe discards the
    non-overlapping majority of training shingles before the exact
    confirm join that removes the filter's false positives.

    Two confirm shapes:

    * ``broadcast_confirm=True`` (default): ONE pass — the probe is
      folded into the broadcast confirm join's condition, so the whole
      report is one distinct + one broadcast join + one aggregate
      (the exact path's plan with the probe added). Right while the
      eval vocabulary still broadcasts; the probe is then belt-and-
      braces, and this shape is the cheap one to equality-test.
    * ``broadcast_confirm=False``: the scale shape — map-only probe
      filter FIRST, then a shuffled semi-join confirm over only the
      ~FPP + true-overlap survivors. Right when the eval vocabulary
      has outgrown a broadcast hash table (~50-100 bytes/shingle as a
      hash table vs ~1.2 bytes/shingle as a bitmap): the corpus-side
      shuffle carries the surviving fraction, not the corpus.

    ``n_items`` sizes the filter without a counting job when the
    caller knows (or over-estimates) the eval vocabulary size —
    oversizing only lowers the FPR. ``train_shingles`` /
    ``eval_shingles`` take a precomputed distinct shingle feed —
    (_id, shingle) / (shingle,) — shared with the other
    decontamination flavors (see dedup.contamination_report)."""
    from .dedup import shingle_rows

    # bit_or is idempotent, so the build can skip the distinct shuffle
    ev_all = (eval_shingles if eval_shingles is not None else
              shingle_rows(evalset, text_col, id_col, shingle_n)
              .select("shingle"))
    bloom = build_bloom(ev_all, "shingle", fpp=fpp, n_items=n_items)
    tr = (train_shingles if train_shingles is not None else
          shingle_rows(train, text_col, id_col, shingle_n)
          .select("_id", "shingle").distinct())
    if broadcast_confirm:
        # probe as a PROJECTED column feeding a plain equi broadcast
        # join — measured ~3× faster than folding the probe into the
        # join condition, which drops its evaluation out of
        # whole-stage codegen into the join's interpreted path
        ev = ev_all.distinct().withColumn("_hit", F.lit(1))
        flagged = with_might_contain(
            tr.select("_id", "shingle"), "shingle", bloom, "_p")
        confirmed = F.when(F.col("_p") & F.col("_hit").isNotNull(), 1)
        report = (flagged.join(F.broadcast(ev), "shingle", "left")
                         .groupBy("_id")
                         .agg(F.count("*").alias("n_shingles"),
                              F.count(confirmed).alias("n_overlap")))
    else:
        cand = (with_might_contain(tr, "shingle", bloom, "_p")
                .where(F.col("_p")).drop("_p"))
        overlaps = (cand.join(ev_all.distinct(), "shingle", "semi")
                        .groupBy("_id")
                        .agg(F.count("*").alias("n_overlap")))
        totals = tr.groupBy("_id").agg(F.count("*").alias("n_shingles"))
        report = totals.join(overlaps, "_id", "left").na.fill(
            {"n_overlap": 0})

    ratio = F.col("n_overlap") / F.col("n_shingles")
    return (report.filter(F.col("n_overlap") > 0)
                  .select(F.col("_id").alias(id_col),
                          "n_shingles", "n_overlap",
                          F.round(ratio, 6).alias("overlap_ratio"),
                          (ratio >= threshold).alias("contaminated")))
