"""Quality-filter funnel: an ORDERED chain of boolean gates with a
per-stage drop census — the shape every production training-data
pipeline reports ("how many documents did each filter remove?").

Semantics mirror the reference's first-match-wins rule cascade
(reference ``_common.py:85-116`` applies header rules in order and
stops at the first hit): here each row is attributed to the FIRST
stage whose predicate it fails, so per-stage drop counts are disjoint
and sum (with survivors) to the input count — an invariant the census
asserts structurally rather than by audit.

Scale shape: annotation is ONE narrow projection (a coalesced CASE
over the stage predicates — no shuffle, evaluated at the scan under
whole-stage codegen); the census is one hash aggregate over a
``n_stages + 1``-value key followed by a window over ``n_stages``
rows — constant-size state regardless of corpus size. Nothing here
grows with the number of input rows except the single map-side pass.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import _local_frame

# a funnel stage is (name, keep_predicate); NULL predicate == fail
Stage = Tuple[str, Column]


def annotate_funnel(df: DataFrame,
                    stages: Sequence[Stage],
                    reason_col: str = "drop_reason") -> DataFrame:
    """Add ``reason_col``: the name of the FIRST stage whose predicate
    the row fails (NULL = survives every stage).

    A NULL predicate value counts as a failure — a filter that cannot
    evaluate a document must not silently pass it (same posture as the
    pipeline's quarantine channel for unparseable lines).
    """
    if not stages:
        raise ValueError("funnel needs at least one stage")
    if reason_col in df.columns:
        raise ValueError(
            f"input already has a {reason_col!r} column — withColumn "
            f"would silently overwrite it; pass a different reason_col")
    names = [n for n, _ in stages]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate stage names: {names}")
    branches = [
        F.when(~F.coalesce(cond, F.lit(False)), F.lit(name))
        for name, cond in stages
    ]
    return df.withColumn(reason_col, F.coalesce(
        *branches, F.lit(None).cast("string")))


def funnel_census(df: DataFrame, stages: Sequence[Stage]) -> DataFrame:
    """Per-stage funnel census ``(stage_idx, stage, n_in, n_dropped,
    n_out)`` in stage order, plus a terminal ``kept`` row
    (``stage_idx = len(stages)``, ``n_dropped = 0``).

    ``n_in`` of stage *k* is the survivor count of stage *k-1*; the
    window that derives it runs over ``n_stages + 1`` rows (a driver-
    size frame), never over the data.
    """
    from pyspark.sql import Window
    ann = annotate_funnel(df, stages, reason_col="__funnel_reason")
    counts = ann.groupBy("__funnel_reason").agg(
        F.count("*").alias("n_dropped"))
    spark = df.sparkSession
    order = _local_frame(
        spark,
        [(i, name) for i, name in enumerate(n for n, _ in stages)]
        + [(len(stages), "kept")],
        "stage_idx int, stage string")
    joined = (order.join(
        counts,
        F.coalesce(counts["__funnel_reason"], F.lit("kept"))
        == order["stage"], "left")
        .select("stage_idx", "stage",
                F.coalesce("n_dropped", F.lit(0)).alias("_n")))
    w = Window.orderBy("stage_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1)
    # n_in(k) = grand total - drops before k; grand total = sum over all
    tw = Window.partitionBy()
    n_before = F.coalesce(F.sum("_n").over(w), F.lit(0))
    grand = F.sum("_n").over(tw)
    kept_row = F.col("stage") == "kept"
    return (joined
            .withColumn("n_in", (grand - n_before).cast("bigint"))
            .withColumn("n_dropped",
                        F.when(kept_row, F.lit(0)).otherwise(F.col("_n"))
                         .cast("bigint"))
            .withColumn("n_out", F.when(kept_row, F.col("_n"))
                         .otherwise(F.col("n_in") - F.col("_n"))
                         .cast("bigint"))
            .select("stage_idx", "stage", "n_in", "n_dropped", "n_out")
            .orderBy("stage_idx"))


def standard_quality_funnel(docs: DataFrame,
                            text_col: str = "text",
                            lang: str = "en") -> List[Stage]:
    """The C4/Gopher-flavored default gate chain over
    :func:`textstats.quality_features` + :func:`textstats.lang_id`
    columns (callers must have applied both). Ordered cheapest-signal
    first, language last, mirroring public pipeline write-ups."""
    return [
        ("too_short", F.col("n_tokens") >= 5),
        ("too_long", F.col("n_tokens") <= 100000),
        ("token_len", (F.col("mean_token_len") >= 2)
                      & (F.col("mean_token_len") <= 12)),
        ("punct", F.col("punct_ratio") <= 0.2),
        ("stopword", F.col("stopword_ratio") >= 0.05),
        ("lang", F.col("predicted_lang") == lang),
    ]

