"""FastText-style hashed n-gram linear classifier inference — the
model-based quality filter of modern training-data pipelines (the
public recipe: fastText quality classifiers in LLaMA's and CCNet's
data work, FineWeb-Edu's educational-quality scorer): scoring 10^12
documents under a fixed linear model is map-only work.

Model: tokens → lowercased bigrams → hash-bucketed into ``dim``
features (md5-prefix → bigint, the repo's established engine-portable
hash — Spark ``conv(substring(md5(x),1,15),16,10)`` ≡ DuckDB
``('0x' || substr(md5(x),1,15))::BIGINT``, both exact below 2^60) →
mean of per-bucket weights → sigmoid.

Two weight sources:

* ``weights=`` a ``(bucket, weight)`` DataFrame — the real-model path:
  ``dim`` rows, broadcast-joined against the exploded gram frame.
* ``weights=None`` — deterministic pseudo-weights derived from the
  bucket id + ``seed`` (md5 again, uniform in [-0.5, 0.5)). A fixed
  fake model with real plumbing: the tests assert the join path and
  the expression path agree bit-for-bit, and the DuckDB oracle replays
  the scores exactly.

Scale shape (100 TB): one explode of per-doc bigrams → (optional
broadcast join) → ONE map-side-combinable hash aggregate per doc.
``explode_outer`` keeps gram-less docs (<2 tokens) in the aggregate
with score sigmoid(0)=0.5, no join-back needed. The same
explode-not-array-lambda shape as simhash — the nested
higher-order-function formulation measured ~50× slower there
(interpreted lambdas, no codegen), so it is avoided here from the
start.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import lower_tokens_expr

GRAM_SEP = "\x1f"
TWO_POW_60 = float(1 << 60)


def _md5_60(col):
    """First 15 md5 hex chars as bigint — < 2^60, exact, portable."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def bigram_buckets(docs: DataFrame, *, id_col: str = "doc_id",
                   text_col: str = "text", dim: int = 1024) -> DataFrame:
    """Exploded ``(id_col, bucket)`` — one row per token bigram, bucket
    in [0, dim); docs with <2 tokens keep one null-bucket row so every
    doc reaches the downstream aggregate."""
    toks = lower_tokens_expr(F.col(text_col))
    staged = docs.select(F.col(id_col), toks.alias("_w"))
    n = F.size("_w")
    m = F.greatest(n - 1, F.lit(0))
    grams = F.zip_with(F.slice("_w", 1, m), F.slice("_w", 2, m),
                       lambda a, b: F.concat(a, F.lit(GRAM_SEP), b))
    return (staged.select(id_col, F.explode_outer(grams).alias("_g"))
                  .select(id_col,
                          F.when(F.col("_g").isNotNull(),
                                 F.pmod(_md5_60(F.col("_g")), F.lit(dim)))
                           .alias("bucket")))


def pseudo_weight(bucket_col, seed: str = "clf-v1"):
    """Deterministic weight in [-0.5, 0.5) from (seed, bucket) — the
    fixed fake model (md5-uniform), replayable in ANSI SQL."""
    h = _md5_60(F.concat(F.lit(seed + "|"), bucket_col.cast("string")))
    return h / F.lit(TWO_POW_60) - F.lit(0.5)


def classify(docs: DataFrame, *, id_col: str = "doc_id",
             text_col: str = "text", dim: int = 1024,
             seed: str = "clf-v1",
             weights: DataFrame | None = None) -> DataFrame:
    """Per-doc classifier score: ``(id_col, clf_ngrams, clf_score)``
    with ``clf_score = sigmoid(mean of bucket weights)`` rounded to 6
    places (gram-less docs: 0 grams, score 0.5). One explode + one
    aggregate; the weights join (real-model path) is broadcast."""
    rows = bigram_buckets(docs, id_col=id_col, text_col=text_col, dim=dim)
    if weights is None:
        w = F.when(F.col("bucket").isNotNull(),
                   pseudo_weight(F.col("bucket"), seed))
    else:
        wt = F.broadcast(weights.select(F.col("bucket").alias("_wb"),
                                        F.col("weight").alias("_wv")))
        rows = rows.join(wt, rows["bucket"] == wt["_wb"], "left")
        w = F.when(F.col("bucket").isNotNull(),
                   F.coalesce("_wv", F.lit(0.0)))
    per_doc = (rows.select(id_col, w.alias("_w"))
                   .groupBy(id_col)
                   .agg(F.count("_w").alias("clf_ngrams"),
                        F.sum("_w").alias("_sw")))
    z = F.coalesce(F.col("_sw") / F.greatest("clf_ngrams", F.lit(1)),
                   F.lit(0.0))
    return per_doc.select(
        id_col, "clf_ngrams",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
         .alias("clf_score"))


