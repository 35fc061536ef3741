"""Chat-template rendering + loss-mask spans — the training-sample
"last mile" over the north-rule transcripts shape ``(conv_id, turn_idx,
role, text)``: turn each conversation into ONE rendered training string
plus the character spans where the loss applies (assistant content
only), the exact artifact an SFT data loader consumes.

Rendered format (deterministic, ChatML-ish)::

    <|role|>\\n
    text\\n

per turn, concatenated in turn order. A turn's loss span covers its
*text content only* — never the role header or the trailing newline —
so masking bugs show up as off-by-header offsets, which the digests
catch.

Scale shape (10^12 turns): span computation is a window cumsum over the
conv-partitioned ordering (one shuffle on ``conv_id`` — the same
partitioning the pipeline's salted repartition establishes, so
composition reuses it) and stays fully row-distributed; only the
per-conversation digest aggregates an array, bounded by conversation
length (the same bound :mod:`.context` and :mod:`.agentqa` rely on),
never corpus size. Everything is JVM built-ins — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: loss applies to these roles' text content by default
DEFAULT_LOSS_ROLES = ("assistant",)


def piece_expr(role_col="role", text_col="text"):
    """One turn's rendered piece: ``<|role|>\\n`` + text + ``\\n``."""
    return F.concat(F.lit("<|"), F.col(role_col), F.lit("|>\n"),
                    F.col(text_col), F.lit("\n"))


def turn_spans(turns: DataFrame, *, conv_col: str = "conv_id",
               idx_col: str = "turn_idx", role_col: str = "role",
               text_col: str = "text",
               loss_roles=DEFAULT_LOSS_ROLES) -> DataFrame:
    """→ ``turns`` + ``(piece, start, end, loss)`` where ``[start, end)``
    is the turn's text-content character span inside the conversation's
    rendered string (0-based) and ``loss`` marks roles in
    ``loss_roles``. Pure window cumsum — rows never leave their
    conv-hash partition after the one shuffle."""
    w = (Window.partitionBy(conv_col).orderBy(idx_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    piece = piece_expr(role_col, text_col)
    # offset of this piece = total length of all preceding pieces
    offset = F.coalesce(F.sum(F.length(piece)).over(w), F.lit(0))
    # header '<|' + role + '|>\n' precedes the text content
    start = (offset + F.length(F.col(role_col)) + F.lit(5)).cast("bigint")
    end = start + F.length(F.col(text_col))
    return (turns.withColumn("piece", piece)
                 .withColumn("start", start)
                 .withColumn("end", end)
                 .withColumn("loss", F.col(role_col).isin(list(loss_roles))))


def render_samples(turns: DataFrame, *, conv_col: str = "conv_id",
                   idx_col: str = "turn_idx", role_col: str = "role",
                   text_col: str = "text",
                   loss_roles=DEFAULT_LOSS_ROLES) -> DataFrame:
    """The exportable training sample per conversation —
    ``(conv_col, text, loss_spans:array<array<bigint>>, n_turns)``
    where ``text`` is the rendered string and each ``[start, end)``
    pair covers one loss-bearing turn's content. ``df.write.json(...)``
    on this frame IS the SFT-JSONL export (one sample per line,
    written distributed)."""
    sp = turn_spans(turns, conv_col=conv_col, idx_col=idx_col,
                    role_col=role_col, text_col=text_col,
                    loss_roles=loss_roles)
    seq = F.array_sort(F.collect_list(F.struct(
        F.col(idx_col).alias("_i"), F.col("piece").alias("_p"),
        F.col("start").alias("_s"), F.col("end").alias("_e"),
        F.col("loss").alias("_l"))))
    return (sp.groupBy(conv_col)
              .agg(F.count("*").alias("n_turns"), seq.alias("_seq"))
              .select(conv_col,
                      F.array_join(F.transform(F.col("_seq"),
                                               lambda x: x["_p"]), "")
                       .alias("text"),
                      F.transform(
                          F.filter(F.col("_seq"), lambda x: x["_l"]),
                          lambda x: F.array(x["_s"], x["_e"]))
                       .alias("loss_spans"),
                      "n_turns"))


def render_stats(turns: DataFrame, *, conv_col: str = "conv_id",
                 idx_col: str = "turn_idx", role_col: str = "role",
                 text_col: str = "text",
                 loss_roles=DEFAULT_LOSS_ROLES) -> DataFrame:
    """Per-conversation render digest —
    ``(conv_col, n_turns, total_chars, loss_chars, n_loss_spans,
    render_md5)`` where ``render_md5`` hashes the rendered string AND
    the ``start:end`` loss-span list in turn order (any header/offset/
    mask error anywhere in the conversation changes it)."""
    sp = turn_spans(turns, conv_col=conv_col, idx_col=idx_col,
                    role_col=role_col, text_col=text_col,
                    loss_roles=loss_roles)
    seq = F.array_sort(F.collect_list(F.struct(
        F.col(idx_col).alias("_i"), F.col("piece").alias("_p"),
        F.col("start").alias("_s"), F.col("end").alias("_e"),
        F.col("loss").alias("_l"))))
    rendered = F.array_join(F.transform(seq, lambda x: x["_p"]), "")
    spans = F.array_join(
        F.transform(F.filter(seq, lambda x: x["_l"]),
                    lambda x: F.concat(x["_s"].cast("string"), F.lit(":"),
                                       x["_e"].cast("string"))), ",")
    return (sp.groupBy(conv_col)
              .agg(F.count("*").alias("n_turns"),
                   F.sum(F.length("piece")).cast("bigint")
                    .alias("total_chars"),
                   F.sum(F.when(F.col("loss"),
                                F.col("end") - F.col("start"))
                          .otherwise(0)).cast("bigint").alias("loss_chars"),
                   F.sum(F.col("loss").cast("int")).cast("bigint")
                    .alias("n_loss_spans"),
                   F.md5(F.concat(rendered, F.lit("|"), spans))
                    .alias("render_md5")))
