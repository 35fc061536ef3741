"""BM25 keyword retrieval over a document corpus (Robertson & Walker's
Okapi BM25, with the Lucene-style non-negative idf — the standard
sparse-retrieval baseline a training-data pipeline uses for corpus
search, nearest-neighbor sanity checks, and retrieval-augmented data
curation).

Scale shape (100 TB): the ONLY corpus-scale work is one tokenize +
filter-to-query-terms projection — the per-doc token array is filtered
to the (tiny) query vocabulary BEFORE the explode, so the exploded
frame carries at most |query| rows per matching document, not the
corpus token count. Document frequency and corpus stats are then
aggregates over that already-tiny frame (df has ≤ |query| rows) and
broadcast back; the final top-k is an ``orderBy().limit()`` which
compiles to TakeOrdered (per-partition heap + k-row merge), never a
global sort shuffle. All built-in functions — ANSI-SQL-expressible, so
a DuckDB oracle replays scores exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import lower_tokens_expr


def bm25_scores(docs: DataFrame, query: str, *, id_col: str = "doc_id",
                text_col: str = "text", k1: float = 1.2,
                b: float = 0.75) -> DataFrame:
    """Per-document BM25 score for ``query``: ``(id_col, score)``, one
    row per document matching ≥1 query term (non-matching documents
    score 0 and are omitted — at corpus scale that is almost all of
    them, and emitting them would be a full-corpus result).

    ``score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))``
    with ``idf(t) = ln(1 + (N-df+0.5)/(df+0.5))`` (Lucene's shifted
    idf, never negative). Scores are rounded to 6 places so the DuckDB
    oracle replay is hash-stable.
    """
    qterms = sorted({t.lower() for t in query.split() if t})
    if not qterms:
        raise ValueError("bm25: empty query")
    toks = lower_tokens_expr(F.col(text_col))
    # stats over the whole corpus: one 1-row aggregate, broadcast back
    staged = docs.select(F.col(id_col).alias("_bm_id"), toks.alias("_w"))
    stats = staged.agg(F.count("*").alias("_n"),
                       F.avg(F.size("_w")).alias("_avgdl"))
    # filter the token array to query terms BEFORE exploding: the
    # exploded frame is ≤ |query| distinct terms per matching doc
    matched = staged.select(
        "_bm_id", F.size("_w").alias("_dl"),
        F.explode(F.filter("_w", lambda t: t.isin(qterms))).alias("_term"))
    tf = (matched.groupBy("_bm_id", "_dl", "_term")
                 .agg(F.count("*").alias("_tf")))
    dfq = tf.groupBy("_term").agg(F.count("*").alias("_df"))
    idf = F.log(F.lit(1.0) + (F.col("_n") - F.col("_df") + 0.5)
                / (F.col("_df") + 0.5))
    per_term = (tf.join(F.broadcast(dfq), "_term")
                  .crossJoin(F.broadcast(stats))
                  .select("_bm_id",
                          (idf * F.col("_tf") * (k1 + 1.0)
                           / (F.col("_tf") + k1 * (1.0 - b
                              + b * F.col("_dl") / F.col("_avgdl"))))
                          .alias("_s")))
    return (per_term.groupBy("_bm_id")
                    .agg(F.round(F.sum("_s"), 6).alias("score"))
                    .select(F.col("_bm_id").alias(id_col), "score"))


def bm25_topk(docs: DataFrame, query: str, *, id_col: str = "doc_id",
              text_col: str = "text", k1: float = 1.2, b: float = 0.75,
              topk: int = 10) -> DataFrame:
    """Top-k documents for ``query`` by BM25 — ``(id_col, score)``,
    deterministic tie-break on id. TakeOrdered plan: no global sort."""
    scored = bm25_scores(docs, query, id_col=id_col, text_col=text_col,
                         k1=k1, b=b)
    return scored.orderBy(F.col("score").desc(),
                          F.col(id_col).asc()).limit(topk)


def _rank_window(id_col: str, score_col: str, query_col: str | None):
    from pyspark.sql import Window
    part = [query_col] if query_col else []
    return (Window.partitionBy(*part)
                  .orderBy(F.col(score_col).desc(), F.col(id_col).asc()))


def rrf_fuse(rankings: list[DataFrame], id_col: str = "doc_id",
             score_col: str = "score", k: int = 60,
             query_col: str | None = None) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of several ranked candidate lists — the standard score-free hybrid
    of sparse (BM25) and dense (ANN) retrieval:
    ``rrf = Σ_lists 1 / (k + rank)`` with the paper's k = 60.

    Each input is a ``(query_col?, id_col, score_col)`` frame; ranks
    are recomputed per list (dense row_number, deterministic id
    tie-break), so incomparable score scales fuse cleanly. Returns
    ``(query_col?, id_col, rrf, n_lists)`` with ``rrf`` rounded to 9
    decimals (the sum has ≤ #lists terms; rounding removes summation-
    order float noise so the result is engine-replayable).

    Inputs are top-k candidate lists — bounded by construction — so
    with ``query_col=None`` the single-partition rank window holds k
    rows, not a corpus. For corpus-scale eval sweeps, pass
    ``query_col`` and the windows partition per query."""
    part = [query_col] if query_col else []
    ranked = []
    for r in rankings:
        w = _rank_window(id_col, score_col, query_col)
        ranked.append(r.select(*part, id_col,
                               F.row_number().over(w).alias("_rrf_rank")))
    u = ranked[0]
    for r in ranked[1:]:
        u = u.unionByName(r)
    rrf = F.round(F.sum(F.lit(1.0)
                        / (F.lit(float(k)) + F.col("_rrf_rank"))), 9)
    return (u.groupBy(*part, id_col)
             .agg(rrf.alias("rrf"), F.count("*").alias("n_lists")))


def retrieval_metrics(results: DataFrame, truth: DataFrame, k: int = 10,
                      id_col: str = "doc_id", score_col: str = "score",
                      rel_col: str = "rel",
                      query_col: str | None = None) -> DataFrame:
    """Standard ranked-retrieval quality metrics of ``results`` (a
    ranked candidate list) against ``truth`` (graded relevance):
    ``(query_col?, recall_at_k, mrr, ndcg_at_k, n_relevant)``.

    recall@k = relevant retrieved in the top k / all relevant;
    MRR = 1 / rank of the first relevant result;
    nDCG@k = Σ_{r<=k} (2^rel − 1)/log2(r+1), normalized by the ideal
    ordering of the ``truth`` grades (Järvelin & Kekäläinen 2002).

    All three are per-query aggregates over top-k candidate lists:
    the heavy work (the retrieval itself) happened upstream, this is
    a join of two bounded frames + two rank windows, partitioned per
    query when ``query_col`` is given. Sums are rounded to 9 decimals
    for engine-replayable values (≤ k float terms each)."""
    part = [query_col] if query_col else []
    w = _rank_window(id_col, score_col, query_col)
    r = results.select(*part, id_col,
                       F.row_number().over(w).alias("_rank"))
    t = truth.select(*part, id_col, F.col(rel_col).cast("double")
                     .alias("_rel"))
    j = (r.join(t, part + [id_col], "left")
          .withColumn("_rel", F.coalesce("_rel", F.lit(0.0))))
    wt = _rank_window(id_col, "_rel", query_col)
    ideal = t.select(*part, "_rel",
                     F.row_number().over(wt).alias("_irank"))
    gain = lambda rel, rank: ((F.pow(F.lit(2.0), rel) - 1.0)
                              / F.log2(rank.cast("double") + 1.0))
    dcg = (j.filter(F.col("_rank") <= k)
            .groupBy(*part)
            .agg(F.sum(gain(F.col("_rel"), F.col("_rank"))).alias("_dcg"),
                 F.sum(F.when(F.col("_rel") > 0, F.lit(1))
                        .otherwise(F.lit(0))).alias("_hits"),
                 F.min(F.when(F.col("_rel") > 0, F.col("_rank")))
                  .alias("_first")))
    idcg = (ideal.filter((F.col("_irank") <= k) & (F.col("_rel") > 0))
                 .groupBy(*part)
                 .agg(F.sum(gain(F.col("_rel"), F.col("_irank")))
                       .alias("_idcg")))
    nrel = t.filter(F.col("_rel") > 0).groupBy(*part).agg(
        F.count("*").alias("n_relevant"))
    if part:
        m = dcg.join(idcg, part, "left").join(nrel, part, "left")
    else:
        m = dcg.crossJoin(idcg).crossJoin(nrel)  # three 1-row frames
    # zero-relevant queries (no truth rows with _rel > 0): every metric
    # is DEFINED as 0.0 — before this, recall_at_k came out NULL (the
    # left-joined n_relevant was missing, so the division nulled) while
    # mrr/ndcg were coalesced to 0, an inconsistent answer to the same
    # edge case
    n_rel = F.coalesce(F.col("n_relevant"), F.lit(0)).cast("bigint")
    return m.select(
        *part,
        F.when(n_rel > 0,
               F.round(F.col("_hits").cast("double")
                       / n_rel.cast("double"), 9))
         .otherwise(F.lit(0.0)).alias("recall_at_k"),
        F.coalesce(F.round(F.lit(1.0)
                           / F.col("_first").cast("double"), 9),
                   F.lit(0.0)).alias("mrr"),
        F.coalesce(F.round(F.col("_dcg") / F.col("_idcg"), 9),
                   F.lit(0.0)).alias("ndcg_at_k"),
        n_rel.alias("n_relevant"))
