"""End-to-end corpus cleaning recipe — the C4-ish pass a training
pipeline runs as ONE composed plan: PII/URL scrub → corpus-level line
dedup → exact dedup of the cleaned text → quality gate. Each stage is
an existing operator (`scrub`, `dedup`, `textstats`); this module only
sequences them and reports a per-doc verdict, so the whole clean is a
single declarative DataFrame plan Catalyst optimizes end-to-end — no
driver-side loops, no intermediate materialization unless the caller
persists.

Public precedent for the stage order: C4 (Raffel et al. 2020 §2.2)
masks/filters lines, dedups lines across the corpus, then drops exact
duplicates; quality heuristics (length/punct/stopword gates) follow
Gopher (Rae et al. 2021) / C4 rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup, scrub, textstats


def clean_corpus(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", *,
                 do_normalize: bool = False,
                 do_scrub: bool = True,
                 do_line_dedup: bool = True,
                 quality_min: float | None = 0.5) -> DataFrame:
    """One row per input doc: (``id_col``, clean_text, kept,
    drop_reason) where ``drop_reason`` ∈ (null, 'empty', 'exact_dup',
    'low_quality'), applied in that precedence after scrubbing and
    line dedup. ``clean_text`` is the post-scrub, post-line-dedup text
    for every doc, including dropped ones (audits want to see WHAT was
    dropped).

    Document identity is the composite (``id_col``, post-scrub content
    hash), NOT the id alone: an id repeated with different payloads is
    two separate documents (keyed by id alone, their lines would
    interleave into one garbled row), and null ids are ordinary values
    throughout. Rows identical in BOTH id and payload collapse to one
    logical doc and share a verdict (there is no per-row identity to
    tell them apart).
    Keeper election (line dedup and exact dedup) orders real ids before
    null ids, lowest id first, content hash as the tiebreak.

    Stages (each optional):

    0. ``do_normalize`` — Unicode hygiene first
       (:func:`~log2seq_spark.operators.scrub.normalize_text`: strip
       control/zero-width chars + NFC), so visually identical strings
       hash identically in every later dedup stage. Off by default
       because it inserts the one Arrow pandas-UDF hop into an
       otherwise pure-JVM plan — turn it on for multilingual or
       web-scraped corpora, where its absence silently weakens dedup.
    1. :func:`~log2seq_spark.operators.scrub.with_scrubbed` — mask
       emails/URLs/IPs/phones (map-only).
    2. :func:`~log2seq_spark.operators.dedup.drop_duplicate_lines` —
       corpus-level C4 line dedup of the scrubbed text.
    3. exact dedup of the CLEANED text (scrubbing + line dedup make
       more docs identical — e.g. docs differing only in a masked URL
       or a shared boilerplate footer — so deduping after cleaning
       collapses strictly more), lowest id kept.
    4. quality gate: :func:`~log2seq_spark.operators.textstats.\
quality_features` score on the cleaned text ``>= quality_min``.

    Scale shape: stages 1 and 4 are map-only; stage 3 is one hash
    aggregate + one equi-join on the 32-char hash. Stage 2 costs the
    standalone line-dedup shuffles PLUS two identity-keyed exchanges
    the composite keying adds: one aggregate to one-row-per-identity
    (text carried as a value, not a key) and one join shipping each
    identity's cleaned text back to its input rows. Everything is
    hash-partitioned on ids or 32-char hashes; nothing quadratic.
    """
    cur = docs.select(F.col(id_col), F.col(text_col))
    if do_normalize:
        cur = (scrub.normalize_text(cur, text_col, out_col="_normed")
                    .select(id_col, F.col("_normed").alias(text_col)))
    if do_scrub:
        cur = (scrub.with_scrubbed(cur, text_col, out_col="_scrubbed")
                    .select(id_col, F.col("_scrubbed").alias(text_col)))

    # composite row identity (see docstring): the leading null flag
    # makes struct-min elect "lowest REAL id" (bare struct ordering
    # sorts null fields first, which would hand every keeper to a
    # null-id doc — diverging from exact_duplicates' null-ignoring min)
    cur = cur.withColumn(
        "_ck", F.struct(F.col(id_col).isNull().alias("z"),
                        F.col(id_col).alias("i"),
                        dedup._nullsafe_text_hash(text_col).alias("h")))

    if do_line_dedup:
        # one row per identity, text shipped as a VALUE (first()), not
        # as part of a distinct key — distinct on (_ck, text) would
        # shuffle every document's full text inside the exchange key
        keyed = cur.groupBy("_ck").agg(
            F.first(text_col).alias(text_col))
        cleaned = (dedup.drop_duplicate_lines(keyed, text_col, "_ck")
                   .select(F.col("_ck").alias("_ck2"),
                           F.col("clean_text").alias("_ldtext")))
        # join back by identity so input multiplicity survives (struct
        # equality is element-wise null-safe, verified by unit test)
        cur = (cur.drop(text_col)
                  .join(cleaned, F.col("_ck").eqNullSafe(F.col("_ck2")))
                  .drop("_ck2")
                  .withColumnRenamed("_ldtext", text_col))

    # exact-dup keeper via map-side-combined aggregate + equi-join on
    # the 32-char hash (the exact_duplicates / line_ownership pattern) —
    # NOT a window over the hash: after line dedup, every fully-emptied
    # doc shares md5(""), and a hash-partitioned window would funnel all
    # of them (full rows) into one task at scale
    cur = cur.withColumn("_h", dedup._nullsafe_text_hash(text_col))
    keepers = cur.groupBy("_h").agg(F.min("_ck").alias("_keeper"))
    cur = cur.join(keepers, "_h")

    q = (textstats.quality_features(cur, text_col)
         if quality_min is not None else cur)

    # verdict precedence: empty → exact_dup → low_quality. Emptiness is
    # whitespace-class: trim() strips only spaces, and a doc whose
    # duplicated lines were all removed reassembles to bare newlines —
    # that must classify as empty, not ship to training
    empty = (F.coalesce(
        F.regexp_replace(F.col(text_col), r"\s+", ""), F.lit("")) == "")
    # null-safe identity compare: id != keeper yields NULL for null-id
    # rows and would never flag their duplicates
    is_dup = ~F.col("_ck").eqNullSafe(F.col("_keeper"))
    reason = (F.when(empty, F.lit("empty"))
               .when(is_dup, F.lit("exact_dup")))
    if quality_min is not None:
        reason = reason.when(F.col("quality_score") < quality_min,
                             F.lit("low_quality"))
    return (q.select(F.col(id_col),
                     F.col(text_col).alias("clean_text"),
                     reason.isNull().alias("kept"),
                     reason.alias("drop_reason")))
