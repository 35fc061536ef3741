"""PII / URL scrubbing for training-data pipelines: mask emails, URLs,
IPv4 addresses and international phone numbers with typed placeholders,
and report per-kind match statistics.

Public precedent: C4 (Raffel et al. 2020) and most open LLM corpus
pipelines (e.g. BigScience ROOTS, Dolma) strip or mask URLs/emails/PII
before training. This is the map-only Spark re-expression: chained
``regexp_replace`` over a narrow projection — no shuffle, no Python, and
the pattern set is restricted to constructs with identical semantics
under Java regex (Spark/JVM) and RE2 (DuckDB) — no backrefs, no
lookaround — so a SQL oracle replays both the masking and the counts
bit-for-bit (same cross-engine discipline as
``textstats.BPE_ISH_PATTERN``).

Scale shape (100 TB): one narrow scan, all work inside whole-stage
codegen; per-kind stats are plain map-side-combinable sums.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udf import _drop_zip_finders

# ordered (kind, pattern, placeholder): URLs first so an address inside
# a query string is consumed by <url> rather than half-masked later
SCRUB_RULES: List[Tuple[str, str, str]] = [
    ("url", r"https?://[^\s]+", "<url>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<email>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<ip>"),
    ("phone", r"\+\d{7,15}", "<phone>"),
]


def scrub_expr(text_col, rules: List[Tuple[str, str, str]] = SCRUB_RULES):
    """Masked text: the rules applied in order, each replacing ALL
    non-overlapping leftmost matches (Java and RE2 agree on this)."""
    out = text_col
    for _, pat, repl in rules:
        out = F.regexp_replace(out, pat, repl)
    return out


def with_scrubbed(docs: DataFrame, text_col: str = "text",
                  out_col: str = "scrubbed",
                  rules: List[Tuple[str, str, str]] = SCRUB_RULES) -> DataFrame:
    """Adds ``out_col`` with the masked text. Map-only."""
    return docs.select("*", scrub_expr(F.col(text_col), rules).alias(out_col))


def scrub_stats(docs: DataFrame, text_col: str = "text",
                rules: List[Tuple[str, str, str]] = SCRUB_RULES) -> DataFrame:
    """Per-kind scrub report: one row per rule kind with

    * ``n_matches`` — total matches in the ORIGINAL text,
    * ``n_docs``    — documents containing >= 1 match,
    * ``n_after``   — matches remaining in the fully scrubbed text
      (the invariant check: 0 unless placeholders overlap a pattern).

    One scan; counts are built-in sums, stacked to rows at the end
    (4 rows — the unpivot costs nothing).
    """
    # stage the scrubbed text ONCE as a bound column: referencing the
    # scrub_expr tree from each per-rule count column would re-run the
    # whole regexp_replace chain per rule (same bound-columns-only
    # discipline as textstats.repetition_stats)
    pre = docs.select(F.col(text_col).alias("_t"),
                      scrub_expr(F.col(text_col), rules).alias("_s"))
    cols = []
    for k, pat, _ in rules:
        n = F.size(F.regexp_extract_all("_t", F.lit(pat), F.lit(0)))
        a = F.size(F.regexp_extract_all("_s", F.lit(pat), F.lit(0)))
        cols += [n.alias(f"_n_{k}"), a.alias(f"_a_{k}")]
    staged = pre.select(*cols)
    aggs = []
    for k, _, _ in rules:
        aggs += [F.sum(f"_n_{k}").alias(f"n_{k}"),
                 F.sum(F.when(F.col(f"_n_{k}") > 0, 1).otherwise(0))
                  .alias(f"d_{k}"),
                 F.sum(f"_a_{k}").alias(f"a_{k}")]
    one = staged.agg(*aggs)
    stack = ", ".join(f"'{k}', n_{k}, d_{k}, a_{k}" for k, _, _ in rules)
    return (one.select(F.expr(
        f"stack({len(rules)}, {stack}) AS (kind, n_matches, n_docs, n_after)"))
        .select("kind",
                F.col("n_matches").cast("long").alias("n_matches"),
                F.col("n_docs").cast("long").alias("n_docs"),
                F.col("n_after").cast("long").alias("n_after")))


# C0 controls (minus \t \n \r) + DEL + zero-width space/joiners + BOM.
# The zero-width characters are embedded LITERALLY (not as \uXXXX
# escapes): Java regex spells them \uXXXX but RE2 needs \x{XXXX}, and a
# literal character means one pattern works in both engines.
CONTROL_PATTERN = ("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F"
                   "​‌‍﻿]")


def strip_controls_expr(text_col):
    """Control/zero-width characters removed — pure ``regexp_replace``,
    engine-portable, codegen'd."""
    return F.regexp_replace(text_col, CONTROL_PATTERN, "")


def nfc_normalize_udf():
    """Arrow-batched NFC normalizer (canonical composition). Unicode
    normalization has no Spark built-in, so this is one of the repo's
    few pandas UDFs — batch-vectorized via ``Series.str.normalize``,
    never per-row Python. DuckDB's ``nfc_normalize`` implements the
    same Unicode canonical composition, so oracles replay it."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        _drop_zip_finders()
        return s.str.normalize("NFC")

    return _nfc


def normalize_text(docs: DataFrame, text_col: str = "text",
                   out_col: str = "norm_text") -> DataFrame:
    """Unicode hygiene for a text column — the cleaning step every
    multilingual corpus runs before hashing or dedup (decomposed
    accents and zero-width characters make visually identical strings
    hash apart, silently defeating exact dedup and decontamination):
    strip control/zero-width characters (JVM regex, codegen), then NFC
    canonical composition (Arrow pandas UDF — no JVM equivalent).

    Adds ``out_col`` (normalized text), ``n_controls`` (characters
    stripped) and ``changed`` (out_col differs from the input). One
    scan, map-only; the single Python hop is the NFC batch UDF.
    """
    t = F.col(text_col)
    staged = docs.select("*", strip_controls_expr(t).alias("__nz_s"))
    normed = nfc_normalize_udf()(F.col("__nz_s"))
    return (staged.select("*", normed.alias(out_col))
                  .withColumn("n_controls",
                              F.length(t) - F.length("__nz_s"))
                  .withColumn("changed", F.col(out_col) != t)
                  .drop("__nz_s"))


def normalize_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Two-row normalization census in the ``scrub_stats`` shape
    ``(kind, n_matches, n_docs, n_after)``:

    * kind='controls': stripped characters / affected docs / controls
      REMAINING post-strip (invariant: 0);
    * kind='nfc': docs changed by the full normalization / total docs /
      total codepoints of the normalized corpus (a drift-sensitive
      content census — any engine or Unicode-table disagreement moves
      it).
    """
    n = normalize_text(docs, text_col)
    agg = n.agg(
        F.sum("n_controls").alias("c_n"),
        F.sum(F.when(F.col("n_controls") > 0, 1).otherwise(0))
         .alias("c_d"),
        F.sum(F.length("norm_text")
              - F.length(strip_controls_expr(F.col("norm_text"))))
         .alias("c_a"),
        F.sum(F.when(F.col("changed"), 1).otherwise(0)).alias("f_n"),
        F.count("*").alias("f_d"),
        F.sum(F.length("norm_text")).alias("f_a"))
    return (agg.select(F.expr(
        "stack(2, 'controls', c_n, c_d, c_a, 'nfc', f_n, f_d, f_a)"
        " AS (kind, n_matches, n_docs, n_after)"))
        .select("kind",
                F.col("n_matches").cast("long").alias("n_matches"),
                F.col("n_docs").cast("long").alias("n_docs"),
                F.col("n_after").cast("long").alias("n_after")))
