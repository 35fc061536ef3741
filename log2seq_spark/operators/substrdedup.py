"""Exact duplicate-substring detection and scrub — the ExactSubstr
family from Lee et al. 2022 ("Deduplicating Training Data Makes
Language Models Better", §4.1), re-expressed at token k-gram
granularity so every step is a built-in Spark relational op instead of
the paper's single-machine suffix array.

Semantics: a position ``p`` in document ``d`` is *duplicated* when the
``k``-token gram starting at ``p`` occurs at least ``min_count`` times
across the whole corpus AND ``(d, p)`` is not the gram's canonical
first occurrence (minimum ``(id, pos)`` lexicographically — one copy of
every duplicated substring always survives, exactly the paper's
retain-one policy). Maximal runs of duplicated positions merge into
spans; the scrub drops the spanned tokens and rebuilds the text.

Why no suffix array: the paper's suffix-array pass finds duplicated
substrings of length >= L over a single flat byte buffer — inherently
sequential construction, >= 8 bytes of index per corpus byte, and no
cluster story. Fixed-k gram hashing finds the same spans for any
duplicated run of >= k tokens (every window inside the run is itself
duplicated, so the merged span recovers the full run, head-aligned to
its first k-window) with three scale-shaped relational steps:

1. gram synthesis — ``transform(sequence(...))`` + ``xxhash64`` over
   token slices, all JVM/codegen, O(n_tokens * k) work, map-only;
2. ONE aggregate shuffled on the 64-bit gram hash (uniform by
   construction — no key skew regardless of text skew) computing
   ``count(*)`` and ``min(struct(id, pos))`` per gram, both map-side
   combinable, so even a corpus-dominating boilerplate gram folds to
   one row per map task before the exchange;
3. a per-document window (partitioned by id — bounded by doc length)
   to merge adjacent duplicated positions into maximal spans.

Nothing is ever all-pairs and nothing is ever collected: output of
step 2 is bounded by the number of *distinct duplicated* grams, and
the position join back is a shuffle equi-join on the same uniform
hash. Winnowing (textstats.winnow_fingerprints) answers "which docs
share substrings" probabilistically; this answers "which exact token
spans are corpus-duplicated, and give me the text with them removed".

Relation to ``dedup.duplicate_window_ownership`` /
``dedup.drop_duplicate_spans`` (the doc-ownership span dedup that
feeds the ``dedup_exact`` oracle's kind='span' rows): that variant
elects one KEEPER DOCUMENT per window content (lowest doc id, window
occurrences inside the keeper all survive — within-doc repetition is
deliberately out of scope there) and operates on normalized text
(lowercased, punctuation stripped). This module is the
OCCURRENCE-granularity policy of the paper: exactly one occurrence of
each duplicated run survives corpus-wide — within-doc boilerplate
repeats are scrubbed too — over raw whitespace tokens (case and
punctuation preserved), with positioned ``(start, end)`` span output
and a ``min_count`` threshold. Use the doc-ownership variant for
cross-doc contamination profiles; use this one to actually shrink a
training corpus the way ExactSubstr does.

No counterpart in the reference (amulog/log2seq stops at
tokenization); this extends the dedup family the LLM-pipeline tier
grades (exact / MinHash / SimHash / n-gram / embedding / substring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import _local_frame
from .textstats import tokens_expr

__all__ = ["gram_positions", "duplicate_positions", "duplicate_spans",
           "scrub_duplicate_spans", "kept_tokens_expr", "substr_index",
           "duplicate_positions_against_index",
           "duplicate_spans_against_index", "scrub_against_index",
           "turn_key_expr", "scrub_turn_boilerplate",
           "top_duplicated_runs"]


def kept_tokens_expr(toks_col, spans_col):
    """Tokens of array column ``toks_col`` whose 1-based position is
    covered by NO ``(start, end)`` inclusive span in ``spans_col`` —
    the single definition of span containment every scrub consumer
    (operator and oracle-feeding entry leg alike) must share."""
    return F.filter(
        toks_col,
        lambda t, i: ~F.exists(
            spans_col, lambda s: (i + 1 >= s["start"])
            & (i + 1 <= s["end"])))


def gram_positions(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k: int = 20,
                   with_text: bool = False) -> DataFrame:
    """One row per token position that starts a full ``k``-gram:
    ``(id_col, n_tok, pos, gh)`` with ``pos`` 1-based and ``gh`` the
    xxhash64 of the k tokens joined by a single space. Tokenization is
    the corpus-wide ``\\s+``-split-empties-dropped contract
    (textstats.tokens_expr), so consecutive spaces/tabs cannot mint
    phantom grams. Docs shorter than ``k`` tokens emit nothing.
    Map-only: explode + hash in one projection, no join; the slice
    hashing is O(n_tok * k) chars inside codegen — the same budget
    winnow_fingerprints already spends. ``with_text`` appends the
    rendered gram as ``gtext`` (payload through every downstream
    shuffle — reporting only, never the dedup path); text and hash
    come from ONE definition here, so consumers that re-find grams by
    hash can never drift from the renderer."""
    toks = tokens_expr(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("_toks")) \
               .withColumn("_n", F.size("_toks"))
    starts = F.when(F.col("_n") >= k,
                    F.sequence(F.lit(1), F.col("_n") - F.lit(k - 1))) \
              .otherwise(F.array())
    rows = base.select(id_col, F.col("_n").alias("n_tok"), "_toks",
                       F.explode(starts).alias("pos"))
    gtext = F.concat_ws(" ", F.slice("_toks", F.col("pos"), k))
    if with_text:
        return rows.select(id_col, "n_tok", "pos",
                           gtext.alias("gtext"),
                           F.xxhash64(gtext).alias("gh"))
    return rows.select(id_col, "n_tok", "pos",
                       F.xxhash64(gtext).alias("gh"))


def duplicate_positions(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 20,
                        min_count: int = 2,
                        keep_first: bool = True,
                        confirm: bool = False) -> DataFrame:
    """``(id_col, pos, n_tok)`` rows whose k-gram is corpus-duplicated
    (global occurrence count >= ``min_count``). With ``keep_first``
    (the retain-one policy) the gram's canonical first occurrence —
    minimum ``(id, pos)`` — is exempted, so scrubbing every returned
    position still leaves one copy of each duplicated substring in the
    corpus. ``keep_first=False`` returns every duplicated occurrence
    (the "flag all" analysis mode).

    Collision budget: gram identity is the 64-bit ``xxhash64`` of the
    gram text. By the birthday bound, ``G`` distinct grams collide
    somewhere with probability ~``G^2 / 2^65``: negligible below ~1e8
    distinct grams (~3e-4), even odds at ~5e9, and EXPECTED at the
    module's advertised 1e12-token scale — a collision makes a
    non-duplicated span count as duplicated and silently deletes
    unique text. For large corpora pass ``confirm=True``: a second,
    candidates-only aggregate re-groups the 64-bit survivors by their
    actual gram TEXT, so a hash collision can no longer conflate two
    different grams (false scrubs from hashing drop to zero). Cost is
    one extra shuffle whose payload is the gram text of DUPLICATE
    CANDIDATES only — the prefilter keeps the full-corpus pass on the
    8-byte hash, so total cost stays ~the unconfirmed plan unless the
    corpus is mostly duplicated (in which case you want the scrub
    anyway). The incremental against-index path stays 64-bit (the
    published index stores hashes only); size ``k``/``min_count``
    there with the bound above in mind."""
    grams = gram_positions(docs, text_col, id_col, k,
                           with_text=confirm)
    if not confirm:
        # ONE window pass on gh: the earlier groupBy + join-back shape
        # evaluated the tokenize/slice/hash gram subtree TWICE (once per
        # join side) and shuffled every gram row a second time for the
        # join — the same single-subtree reshape as
        # dedup.duplicate_window_ownership (measured 2.6s → 1.6s at
        # 2.8M grams for identical rows). Skew exposure is unchanged: a
        # hyper-duplicated gram concentrated all its occurrences in one
        # join partition before and lands in one (spillable) window
        # partition now.
        from pyspark.sql import Window
        wh = Window.partitionBy("gh")
        joined = (grams
                  .withColumn("_cnt", F.count(F.lit(1)).over(wh))
                  .withColumn("_first",
                              F.min(F.struct(F.col(id_col).alias("i"),
                                             F.col("pos").alias("p")))
                               .over(wh))
                  .where(F.col("_cnt") >= min_count))
    else:
        # phase 1 — hash-only prefilter (count is a superset of any
        # text's count when hashes collide, so no true dup is lost)
        cand = (grams.groupBy("gh")
                     .agg(F.count(F.lit(1)).alias("_c0"))
                     .where(F.col("_c0") >= min_count)
                     .select("gh"))
        # phase 2 — candidates only, keyed by the gram text itself:
        # colliding grams now land in separate groups and re-test
        # min_count on their true occurrence counts
        cg = grams.join(cand, "gh")
        stats = (cg.groupBy("gh", "gtext")
                   .agg(F.count(F.lit(1)).alias("_cnt"),
                        F.min(F.struct(F.col(id_col).alias("i"),
                                       F.col("pos").alias("p")))
                         .alias("_first"))
                   .where(F.col("_cnt") >= min_count))
        joined = cg.join(stats, ["gh", "gtext"])
    if keep_first:
        joined = joined.where(
            ~((F.col(id_col) == F.col("_first.i"))
              & (F.col("pos") == F.col("_first.p"))))
    return joined.select(id_col, "pos", "n_tok")


def duplicate_spans(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 20,
                    min_count: int = 2,
                    keep_first: bool = True,
                    confirm: bool = False) -> DataFrame:
    """Maximal duplicated token spans per document:
    ``(id_col, start, end, n_tok)`` with ``start``/``end`` 1-based
    inclusive token indices. A duplicated position ``p`` covers tokens
    ``[p, p+k-1]``; overlapping / adjacent covers merge. Span merge is
    interval union via a per-doc running maximum of prior cover ends
    (classic gaps-and-islands): a new island starts where ``p`` exceeds
    every earlier cover's end."""
    dup = duplicate_positions(docs, text_col, id_col, k,
                              min_count, keep_first, confirm=confirm)
    return _spans_from_positions(dup, id_col, k)


def _spans_from_positions(dup: DataFrame, id_col: str,
                          k: int) -> DataFrame:
    """Island merge of ``(id_col, pos, n_tok)`` duplicated positions
    into maximal clamped spans (shared by the batch and the
    against-index paths)."""
    w_prev = (Window.partitionBy(id_col).orderBy("pos")
                    .rowsBetween(Window.unboundedPreceding, -1))
    # (pos + k - 1) is this row's cover end; the island test compares
    # pos against max prior end + 1 (adjacent runs merge: a cover
    # ending at e merges with one starting at e+1)
    prev_max_end = F.max(F.col("pos") + F.lit(k - 1)).over(w_prev)
    is_new = (F.coalesce(F.col("pos") > prev_max_end + F.lit(1),
                         F.lit(True))).cast("int")
    w_run = (Window.partitionBy(id_col).orderBy("pos")
                   .rowsBetween(Window.unboundedPreceding, 0))
    islands = dup.withColumn("_isl", F.sum(is_new).over(w_run))
    return (islands.groupBy(id_col, "_isl")
                   .agg(F.min("pos").alias("start"),
                        (F.max("pos") + F.lit(k - 1)).alias("end"),
                        F.first("n_tok").alias("n_tok"))
                   .select(id_col, "start",
                           F.least("end", "n_tok").alias("end"),
                           "n_tok"))


def scrub_duplicate_spans(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 20,
                          min_count: int = 2,
                          spans: DataFrame | None = None,
                          confirm: bool = False) -> DataFrame:
    """``docs`` with duplicated spans removed from ``text_col`` (tokens
    re-joined with single spaces — the tokenizer's inverse up to
    whitespace normalization, same contract as the clean recipe) plus
    ``n_dropped_tokens``. One copy of every duplicated substring
    survives corpus-wide (``keep_first`` policy). Documents with no
    duplicated span pass through with the same single-space
    re-rendering, so output text is uniformly normalized. ``spans``
    lets a caller substitute a precomputed span frame (e.g. the
    against-index screen) for the batch computation. ``confirm=True``
    verifies duplicate candidates by gram TEXT before scrubbing — see
    :func:`duplicate_positions` for the 64-bit collision budget that
    motivates it at >~1e9 distinct grams."""
    if spans is None:
        spans = duplicate_spans(docs, text_col, id_col, k, min_count,
                                keep_first=True, confirm=confirm)
    # per-doc span list is small (bounded by doc length / k); collect
    # it as an array column and drop spanned tokens with one filter
    span_sets = (spans.groupBy(id_col)
                      .agg(F.collect_list(
                          F.struct("start", "end")).alias("_spans")))
    toks = tokens_expr(F.col(text_col))
    out = (docs.join(span_sets, id_col, "left")
               .withColumn("_toks", toks)
               .withColumn("_spans", F.coalesce(
                   "_spans",
                   F.array().cast("array<struct<start:int,end:int>>")))
               .withColumn("_kept",
                           kept_tokens_expr(F.col("_toks"),
                                            F.col("_spans")))
               .withColumn("n_dropped_tokens",
                           F.size("_toks") - F.size("_kept")))
    return (out.withColumn(text_col, F.concat_ws(" ", "_kept"))
               .drop("_toks", "_kept", "_spans"))

# --------------------------------------------------------------- index

def substr_index(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 20,
                 grams: DataFrame | None = None) -> DataFrame:
    """Persistable gram index for incremental scrubbing: one
    ``(gh, n_occ)`` row per distinct k-gram hash with its corpus
    occurrence count. The index is the aggregate's output — bounded by
    distinct grams, never positions — and is what cross-shard
    screening joins against; history text is never re-read. Write it
    bucketed/partitioned on ``gh`` ranges if the deployment wants
    co-located screen joins. ``grams`` substitutes a precomputed
    (ideally persisted) :func:`gram_positions` frame so one ingestion
    can share the tokenize+hash pass between screen and publish."""
    if grams is None:
        grams = gram_positions(docs, text_col, id_col, k)
    return grams.groupBy("gh").agg(F.count(F.lit(1)).alias("n_occ"))


def duplicate_positions_against_index(new_docs: DataFrame,
                                      index: DataFrame,
                                      text_col: str = "text",
                                      id_col: str = "doc_id",
                                      k: int = 20,
                                      min_count: int = 2,
                                      grams: DataFrame | None = None) \
        -> DataFrame:
    """Incremental screen: duplicated ``(id_col, pos, n_tok)`` rows of
    ``new_docs`` given the history summarized by ``index``
    (:func:`substr_index` output). Arrival order is the keeper policy:
    any gram already in the index keeps its history copy, so EVERY
    batch occurrence of it is duplicated; grams new to the corpus
    elect their first batch occurrence exactly like the batch path.
    With history ids ordering below batch ids this equals the batch
    recompute over history ∪ batch restricted to batch docs (the
    invariant the tests assert); under arbitrary id ordering it is the
    arrival-order policy an append-only pipeline wants.

    Shape: the batch's gram stats aggregate (one shuffle on gh) left
    joins the index on the same uniform hash — both sides keyed on gh,
    no broadcast assumption, history positions never touched.
    ``grams`` substitutes a precomputed batch gram frame (see
    :func:`substr_index`)."""
    if grams is None:
        grams = gram_positions(new_docs, text_col, id_col, k)
    bstats = (grams.groupBy("gh")
                   .agg(F.count(F.lit(1)).alias("_bcnt"),
                        F.min(F.struct(F.col(id_col).alias("i"),
                                       F.col("pos").alias("p")))
                         .alias("_bfirst")))
    stats = (bstats.join(index.select("gh",
                                      F.col("n_occ").alias("_hcnt")),
                         "gh", "left")
                   .withColumn("_hcnt", F.coalesce("_hcnt", F.lit(0)))
                   .where(F.col("_bcnt") + F.col("_hcnt")
                          >= min_count))
    joined = grams.join(stats, "gh")
    # exempt the batch-first occurrence only when history holds no copy
    exempt = ((F.col("_hcnt") == 0)
              & (F.col(id_col) == F.col("_bfirst.i"))
              & (F.col("pos") == F.col("_bfirst.p")))
    return joined.where(~exempt).select(id_col, "pos", "n_tok")


def duplicate_spans_against_index(new_docs: DataFrame, index: DataFrame,
                                  text_col: str = "text",
                                  id_col: str = "doc_id", k: int = 20,
                                  min_count: int = 2,
                                  grams: DataFrame | None = None) \
        -> DataFrame:
    """Maximal duplicated spans of ``new_docs`` under the incremental
    (arrival-order) policy — see
    :func:`duplicate_positions_against_index`."""
    dup = duplicate_positions_against_index(new_docs, index, text_col,
                                            id_col, k, min_count,
                                            grams=grams)
    return _spans_from_positions(dup, id_col, k)


def scrub_against_index(new_docs: DataFrame, index: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 20, min_count: int = 2,
                        grams: DataFrame | None = None) -> DataFrame:
    """Incremental scrub of one new shard against a persisted gram
    index: ``new_docs`` with history-or-batch-duplicated spans removed
    (same output contract as :func:`scrub_duplicate_spans`). Absorb
    the shard afterwards by publishing its :func:`substr_index` as a
    new index segment (``substr --index-dir``)."""
    spans = duplicate_spans_against_index(new_docs, index, text_col,
                                          id_col, k, min_count,
                                          grams=grams)
    return scrub_duplicate_spans(new_docs, text_col, id_col, k,
                                 min_count, spans=spans)


def turn_key_expr(conv_col: str = "conv_id",
                  idx_col: str = "turn_idx"):
    """Single-column occurrence key for a (conversation, turn) pair,
    ordering by conversation then turn. Null-safe and width-safe:
    a null conversation id maps to a ``\\x00``-prefixed sentinel
    (``concat_ws`` would silently DROP the null and collide distinct
    turns onto one key), a null turn index to ``\\x00``-prefixed
    ``#null`` (sorting before every real index), and the index is
    zero-padded to 12 digits (covers int64 up to 10^12-scale turn
    counts without the truncation ``lpad`` applies past its width;
    negative indices are outside the transcripts contract). Distinct
    (conv, turn) pairs always get distinct keys."""
    conv = F.coalesce(F.col(conv_col).cast("string"),
                      F.lit("\x00null"))
    idx = F.coalesce(
        F.concat(F.lit("#"),
                 F.lpad(F.col(idx_col).cast("string"), 12, "0")),
        F.lit("\x00#null"))
    return F.concat(conv, idx)


def scrub_turn_boilerplate(turns: DataFrame, conv_col: str = "conv_id",
                           idx_col: str = "turn_idx",
                           text_col: str = "text", k: int = 20,
                           min_count: int = 2) -> DataFrame:
    """Turn-level ExactSubstr scrub over the north-rule transcripts
    table ``(conv_id, turn_idx, role, text, tool, ts)``: agent
    transcripts repeat system prompts / tool preambles verbatim across
    millions of conversations, and this removes every such run of
    >= ``k`` tokens except its canonical first occurrence — the
    occurrence in the lexicographically-first ``(conv_id,
    zero-padded turn_idx)``. All other columns pass through; text is
    re-rendered single-spaced with ``n_dropped_tokens`` appended.

    The per-occurrence key is :func:`turn_key_expr` — distinct
    (conv, turn) pairs get distinct keys (null-safe, width-safe) and
    keeper election orders by conversation then turn. Conversation
    ids containing ``'#'`` could alias keys across conversations —
    acceptable for keeper CHOICE (any deterministic canonical copy
    works) but rename such ids if exact first-conversation semantics
    matter. Same plan shape as :func:`scrub_duplicate_spans` — turns
    are the documents, nothing conversation-global is materialized."""
    if "__sb_tid" in turns.columns:
        raise ValueError("input frame already has internal column "
                         "'__sb_tid'; rename it before "
                         "scrub_turn_boilerplate")
    staged = turns.withColumn("__sb_tid",
                              turn_key_expr(conv_col, idx_col))
    return scrub_duplicate_spans(staged, text_col=text_col,
                                 id_col="__sb_tid", k=k,
                                 min_count=min_count).drop("__sb_tid")


def top_duplicated_runs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 20,
                        min_count: int = 2, top: int = 100) -> DataFrame:
    """The ``top`` most frequent duplicated k-token runs with an
    example rendering: ``(gh, n_occ, n_docs, example)`` ordered by
    ``n_occ`` descending — the "what boilerplate dominates this
    corpus" inspection report (sub-turn complement of
    ``agentqa.boilerplate_turns``, which ranks whole turns).

    Two passes so gram TEXT never rides the big shuffle: pass 1
    aggregates counts over the 64-bit hashes only (the cheap plan
    every other consumer uses); the ``top`` winning hashes — a
    driver-bounded list — then broadcast-filter a second gram pass
    that re-renders the k tokens only for matches, and one tiny
    aggregate picks each winner's example (min by (id, pos), i.e. the
    canonical first occurrence). O(corpus tokens) twice, O(top)
    driver rows, no payload strings shuffled."""
    spark = docs.sparkSession
    grams = gram_positions(docs, text_col, id_col, k)
    # winners collected ONCE; the stats side of the final join is
    # rebuilt from the collected rows (a re-evaluation of the
    # un-persisted aggregate plan would re-run the corpus pass)
    win_rows = (grams.groupBy("gh")
                .agg(F.count(F.lit(1)).alias("n_occ"),
                     F.count_distinct(F.col(id_col)).alias("n_docs"))
                .where(F.col("n_occ") >= min_count)
                .orderBy(F.desc("n_occ"), "gh")
                .limit(top).collect())
    stats = _local_frame(spark, win_rows,
                         "gh bigint, n_occ bigint, n_docs bigint")
    if not win_rows:
        return stats.withColumn("example", F.lit(None).cast("string"))
    winners = [r["gh"] for r in win_rows]
    rendered = (gram_positions(docs, text_col, id_col, k,
                               with_text=True)
                .where(F.col("gh").isin(winners))
                .groupBy("gh")
                .agg(F.min(F.struct(
                    F.col(id_col).alias("i"),
                    F.col("pos").alias("p"),
                    F.col("gtext").alias("t")))["t"]
                    .alias("example")))
    return (stats.join(rendered, "gh", "left")
                 .orderBy(F.desc("n_occ"), "gh"))
