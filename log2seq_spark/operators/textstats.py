"""Text analysis operators: token counting, quality scoring, language-ID
heuristic, document fingerprinting. All built-in-function DataFrame plans
(ANSI-SQL-expressible, so DuckDB oracles replay them exactly)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import normalized_text

# tiny stopword inventories for the n-gram/lexicon language heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "pas"],
    "es": ["el", "la", "los", "y", "es", "una", "que"],
}

EN_STOPWORDS = LANG_MARKERS["en"]


def tokens_expr(text_col):
    """Whitespace tokens of the raw text (empties dropped)."""
    return F.filter(F.split(text_col, r"\s+"), lambda t: t != "")


def lower_tokens_expr(text_col):
    """Lowercased whitespace tokens, empties dropped — the one
    tokenization of the LM, the classifier and BM25 retrieval."""
    return F.transform(tokens_expr(text_col), lambda t: F.lower(t))


# BPE-flavored segmentation classes (GPT-style: letter runs, digit runs
# chunked to <=3, symbol runs). Leftmost-first alternation with disjoint
# classes — identical under Java regex and RE2, so a DuckDB oracle
# replays the count exactly.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+"


def bpe_ish_token_count(text_col):
    """Sub-word-ish token estimate: count of maximal runs matching
    :data:`BPE_ISH_PATTERN` (letters | <=3-digit chunks | symbol runs),
    whitespace skipped."""
    return F.size(F.regexp_extract_all(text_col, F.lit(BPE_ISH_PATTERN), 0))


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc token counting, both flavors a training-data pipeline
    budget uses: whitespace tokens and the BPE-ish sub-word estimate.
    Narrow projection, no shuffle."""
    c = F.col(text_col)
    return docs.select(
        "*",
        F.size(tokens_expr(c)).alias("ws_tokens"),
        bpe_ish_token_count(c).alias("bpe_tokens"))


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features + a composite score in [0, 1]:
    length band, mean token length sanity, punctuation ratio, stopword
    ratio. One narrow projection, no shuffle."""
    toks = tokens_expr(F.col(text_col))
    n_tokens = F.size(toks)
    n_chars = F.length(text_col)
    mean_tok_len = (n_chars - (n_tokens - 1)) / F.greatest(n_tokens, F.lit(1))
    # run-form class: deleting maximal runs equals deleting chars
    # one-by-one, and the per-char form fires the replace machinery
    # once per character (nearly every char matches here)
    n_punct = F.length(F.regexp_replace(text_col, r"[A-Za-z0-9\s]+", ""))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    stop_hits = F.size(F.filter(
        toks, lambda t: F.lower(t).isin(EN_STOPWORDS)))
    stop_ratio = stop_hits / F.greatest(n_tokens, F.lit(1))
    score = (F.when((n_tokens >= 5) & (n_tokens <= 100000), 0.25).otherwise(0.0)
             + F.when((mean_tok_len >= 2) & (mean_tok_len <= 12), 0.25).otherwise(0.0)
             + F.when(punct_ratio <= 0.2, 0.25).otherwise(0.0)
             + F.when(stop_ratio >= 0.05, 0.25).otherwise(0.0))
    return docs.select(
        "*",
        n_tokens.alias("n_tokens"),
        F.round(mean_tok_len, 4).alias("mean_token_len"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        score.alias("quality_score"))


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/C4-style within-document repetition signals (public
    heuristics from Rae et al. 2021 "Scaling Language Models" §A1.1 and
    Raffel et al. 2020 C4 line-dedup):

    * ``dup_trigram_ratio`` — fraction of word 3-grams that are repeats
      of an earlier 3-gram in the same doc (0.0 when < 3 tokens);
    * ``dup_line_ratio`` — fraction of non-empty newline-split lines
      that are exact repeats (0.0 when <= 1 line).

    Pure per-row built-in expressions (sequence/transform/
    array_distinct): narrow projection, no shuffle, no Python — the
    100-TB shape is a map-only pass, and a DuckDB oracle replays both
    ratios exactly.

    The token array and the gram array are materialized in their own
    projection stages before any lambda touches them: a higher-order
    function that captures the raw ``split(...)`` expression re-evaluates
    that capture per ELEMENT (measured 26s → 1.5s on 5k sf0.1 docs,
    O(tokens²·len) vs O(tokens·len)), so the lambdas below may only
    reference bound columns, never expression trees."""
    toks = tokens_expr(F.lower(F.col(text_col)))
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda t: t != "")
    # double-underscore-prefixed internal names: the operator composes
    # after others, so staging columns must not collide with whatever
    # the caller's frame already carries (assert, don't shadow)
    for tmp in ("__reps_toks", "__reps_lines", "__reps_grams"):
        if tmp in docs.columns:
            raise ValueError(f"input frame already has internal column "
                             f"{tmp!r}; rename it before repetition_stats")
    staged = docs.select("*", toks.alias("__reps_toks"),
                         lines.alias("__reps_lines"))
    t = F.col("__reps_toks")
    n = F.size(t)
    grams = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.concat_ws("\x1e", F.element_at(t, i),
                              F.element_at(t, i + 1),
                              F.element_at(t, i + 2)))
    staged = staged.select(
        "*",
        F.when(n >= 3, grams)
         .otherwise(F.array().cast("array<string>")).alias("__reps_grams"))
    g = F.col("__reps_grams")
    tri_ratio = F.when(
        F.size(g) > 0,
        1.0 - F.size(F.array_distinct(g)) / F.size(g)
    ).otherwise(F.lit(0.0))
    ls = F.col("__reps_lines")
    n_lines = F.size(ls)
    line_ratio = F.when(
        n_lines > 1,
        1.0 - F.size(F.array_distinct(ls)) / n_lines
    ).otherwise(F.lit(0.0))
    return (staged.select(
        "*",
        F.round(tri_ratio, 4).alias("dup_trigram_ratio"),
        F.round(line_ratio, 4).alias("dup_line_ratio"))
        .drop("__reps_toks", "__reps_lines", "__reps_grams"))


def lang_id(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Marker-word language heuristic: argmax of per-language marker hits
    (ties → lexicographically greatest lang; zero hits → 'und').

    Shaped as explode → one hash-aggregate with per-language conditional
    sums (the earlier per-row higher-order ``filter``+``isin`` lambdas ran
    interpreted, ~20× slower at bench scale). Marker membership check is
    a tiny literal-array ``array_contains``-style lookup per language."""
    toks = (docs.select(F.col(id_col),
                        F.explode(tokens_expr(F.col(text_col))).alias("_t"))
                .withColumn("_t", F.lower("_t")))
    aggs = []
    for lang, markers in LANG_MARKERS.items():
        aggs.append(F.sum(F.when(F.col("_t").isin(markers), 1).otherwise(0))
                     .alias(f"_h_{lang}"))
    hits = toks.groupBy(id_col).agg(*aggs)
    best = F.array_max(F.array(*[
        F.struct(F.col(f"_h_{lang}").alias("hits"), F.lit(lang).alias("lang"))
        for lang in LANG_MARKERS]))
    pred = F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
    scored = hits.select(F.col(id_col), pred.alias("predicted_lang"))
    return (docs.join(scored, id_col, "left")
                .withColumn("predicted_lang",
                            F.coalesce("predicted_lang", F.lit("und"))))


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical content fingerprint: md5 of the normalized text (the
    rolling-hash analog for exact-after-normalization identity)."""
    return docs.select(
        "*", F.md5(normalized_text(F.col(text_col))).alias("fingerprint"))


def winnow_fingerprints(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        window: int = 4,
                        max_positions: int = 2000) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the public local-fingerprinting algorithm): hash every
    character k-gram of the normalized text, then keep one fingerprint
    per sliding window of ``window`` consecutive hashes. Deterministic
    variant used here: position ``p`` is selected iff its hash equals
    the minimum of the trailing window ``[p-window+1, p]`` (string-min of
    md5 hex — total order identical in every engine, so a SQL oracle
    replays the selection bit-for-bit). Returns DISTINCT
    (``id_col``, ``fp``) rows.

    Shape at scale: explode to one row per k-gram position (bounded by
    ``max_positions`` per doc), a per-doc window min (partitioned by
    doc — no global shuffle skew), then a distinct. Cost is linear in
    total text volume; guarantees any shared substring of length
    ``k + window - 1`` contributes at least one shared fingerprint —
    EXCEPT past the ``max_positions`` cap. The cap bounds per-doc
    fan-out (a single pathological multi-GB doc would otherwise own one
    task), but it narrows the guarantee to the doc's head, so every
    output row carries a ``truncated`` flag: downstream "no shared
    fingerprint ⇒ no shared substring" reasoning must treat
    ``truncated = true`` docs as only head-fingerprinted (no silent
    caps). Pass ``max_positions=None`` to fingerprint full documents."""
    from pyspark.sql import Window
    norm = normalized_text(F.col(text_col))
    full_npos = F.length("_t") - F.lit(k - 1)
    if max_positions is None:
        npos, trunc = full_npos, F.lit(False)
    else:
        npos = F.least(full_npos, F.lit(max_positions))
        trunc = full_npos > F.lit(max_positions)
    # establish the window's doc partitioning BEFORE the k-gram explode:
    # the window below requires hashpartitioning(id_col), and without
    # this the exchange lands AFTER the Generate — shuffling one row per
    # k-gram POSITION (~text-volume rows of (id, pos, md5)) instead of
    # one row per doc. Exploding on the receive side moves ~400× fewer
    # bytes through the shuffle for identical output (measured 13.5s →
    # 2.5s at 20M gram rows; guide §2.3 "shuffle keys and metadata
    # instead of payloads" — here, shuffle the doc, explode after).
    # Partition count stays at the session's shuffle-partition setting.
    base = docs.select(F.col(id_col), norm.alias("_t")) \
               .withColumn("truncated", trunc) \
               .repartition(F.col(id_col))
    positions = F.when(npos >= 1, F.sequence(F.lit(1), npos)) \
                 .otherwise(F.array())
    grams = (base.select(id_col, "_t", "truncated",
                         F.explode(positions).alias("pos"))
                 .select(id_col, "truncated", "pos",
                         F.md5(F.expr(f"substring(_t, pos, {k})")).alias("fp")))
    w = (Window.partitionBy(id_col).orderBy("pos")
               .rowsBetween(-(window - 1), 0))
    sel = grams.withColumn("_wmin", F.min("fp").over(w))
    return (sel.filter(F.col("fp") == F.col("_wmin"))
               .select(id_col, "fp", "truncated").distinct())


def fingerprint_dup_pairs(fps: DataFrame, id_col: str = "doc_id",
                          fp_col: str = "fp", min_shared: int = 5,
                          max_docs_per_fp: int = 50) -> DataFrame:
    """MOSS-style shared-substring candidate pairs over winnowing
    fingerprints (Schleimer et al. SIGMOD 2003 §4 — the public
    plagiarism-detection join): two documents sharing ``min_shared``
    selected fingerprints share at least that many k-gram substrings,
    which whole-document similarity (MinHash / Jaccard over all
    shingles) dilutes away when the docs are otherwise different —
    this is the contamination / quotation / boilerplate detector.

    Shape at scale: inverted-index equi-join on the fingerprint — never
    all-pairs. ``max_docs_per_fp`` drops stop-fingerprints whose
    document frequency exceeds the cap BEFORE the self-join (one
    fingerprint shared by 10⁶ docs would otherwise materialize 10¹²
    candidate rows; a that-common substring carries no pair signal —
    same treatment as :func:`~log2seq_spark.operators.dedup.\
ngram_jaccard_pairs`'s ``max_docs_per_shingle``). The per-pair count
    is a map-side-combinable hash aggregate.

    Returns (id_a, id_b, n_shared_fp) with ``id_a < id_b``.

    The inverted index is a posting-LIST aggregate (one groupBy on the
    fingerprint) followed by a double explode — candidate generation
    needs no self-join: an earlier two-leg join formulation scanned the
    (expensive, window-function) fingerprint subtree once per leg,
    tripling wall-clock when the caller doesn't persist it. The
    document-frequency cap is applied COUNT-FIRST (a map-side-combinable
    count, then a semi-join of the surviving fingerprints) so hot
    stop-fingerprints never materialize a posting array at all — a
    collect-then-filter formulation would buffer a 10⁶-element array on
    one reducer before discarding it. The count pass re-reads the
    (id, fp) rows; callers that feed an expensive subtree should persist
    it (the driver row does).
    """
    base = (fps.select(F.col(id_col).alias("_id"),
                       F.col(fp_col).alias("_fp"))
               .distinct())
    rare = (base.groupBy("_fp").agg(F.count("*").alias("_df"))
                .filter(F.col("_df") <= max_docs_per_fp)
                .select("_fp"))
    posting = (base.join(rare, "_fp")
                   .groupBy("_fp")
                   .agg(F.collect_list("_id").alias("_ids")))
    cand = (posting.select(F.explode("_ids").alias("id_a"), "_ids")
                   .select("id_a", F.explode("_ids").alias("id_b"))
                   .filter(F.col("id_a") < F.col("id_b")))
    return (cand.groupBy("id_a", "id_b")
                .agg(F.count("*").alias("n_shared_fp"))
                .filter(F.col("n_shared_fp") >= min_shared))


