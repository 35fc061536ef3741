"""Distributed log-template mining: infer message templates by marking
token positions that vary within a group as wildcards.

This is the downstream capability the reference's ecosystem exists for
(log2seq is amulog's preprocessing stage: reference README.rst describes
it as "a preprocessing tool ... for template mining"; amulog consumes
the words/symbols output to mine templates). The classic online
algorithm is Drain (He et al., ICWS 2017): group lines by token count
and leading token, then decide per position whether it is constant or a
variable. The batch re-expression below keeps Drain's grouping key and
replaces its online similarity walk with an exact position-profile
aggregate — deterministic, order-independent, and ANSI-SQL-replayable,
so the DuckDB oracle can verify it bit-for-bit.

Scale shape (100 TB): one posexplode (rows × tokens-per-line, same
fan-out as token counting) feeding ONE hash aggregate whose key space
is bounded by #groups × max-line-length; the per-group collect_list is
bounded by the line length (never by corpus size); the final
template-level aggregate sees at most #groups rows. No joins against
the corpus, no skew-prone wide rows, no Python.

The profile rows (min/max/count per position) are ASSOCIATIVELY
MERGEABLE — ``merge_profiles(profile(A), profile(B)) ==
profile(A ∪ B)`` — so mining is incrementally updatable: keep the tiny
profile table as state, fold each new batch of lines into it (the
``templates --state-dir`` epoch state, ``plans/epochs.py``), and
re-finalize templates from state alone, never re-reading history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WILDCARD = "<*>"


def line_tokens_expr(text_col):
    """Whitespace tokens of a raw line, empties dropped — the ONE
    tokenization shared with :func:`~log2seq_spark.operators.textstats.\
tokens_expr` (raw single-space splitting would turn ``"a  b"`` into a
    phantom empty position and fragment Drain groups; sharing the
    definition keeps template mining and token counting from ever
    tokenizing differently)."""
    from .textstats import tokens_expr
    return tokens_expr(text_col)


def position_profiles(lines: DataFrame, text_col: str = "text",
                      tokens_col: str | None = None,
                      dedup_lines: bool = False) -> DataFrame:
    """Per-(token-count, head, position) profile rows
    ``(_ntok, _head, _pos, _mn, _mx, _nl)`` — the mergeable sufficient
    statistic template mining needs (one corpus scan).

    ``tokens_col`` (an ``array<string>`` column) bypasses tokenization —
    the amulog hand-off path: mine directly over the pipeline's parsed
    ``words`` (reference README.rst positions log2seq as the
    preprocessing stage whose word output feeds template mining).

    A purely numeric head token routes to the shared wildcard group
    (Drain's preprocessing rule, so "17 packets dropped" and "42
    packets dropped" land in one group).

    ``dedup_lines=True`` aggregates identical token arrays FIRST and
    explodes each distinct line once, weighting ``_nl`` by the line's
    multiplicity — identical profile rows (min/max over a multiset are
    its distinct values' min/max; counts sum), but the posexplode fans
    out #distinct-lines × tokens instead of #lines × tokens. Log
    corpora repeat messages by nature (the premise of Drain grouping),
    so this is the right default shape for template mining over raw
    logs — measured 3.3s → 0.9s on a 1M-line / 520-distinct corpus.
    The pre-aggregate is map-side combinable, so a pathological
    all-unique corpus degrades to one extra corpus-sized shuffle, it
    never concentrates (and callers can switch it off).
    """
    # stage the tokens once; size/head then reference the bound column
    # (three sibling expressions in one projection would each re-split)
    toks = (F.col(tokens_col) if tokens_col is not None
            else line_tokens_expr(F.col(text_col)))
    split_stage = lines.select(toks.alias("_w"))
    if dedup_lines:
        split_stage = split_stage.groupBy("_w").agg(
            F.count("*").alias("_lc"))
    else:
        split_stage = split_stage.withColumn("_lc", F.lit(1).cast("long"))
    # try_element_at: ANSI mode (Spark 4 default) makes element_at THROW
    # on an empty array. Zero-token lines (blank/whitespace-only text)
    # currently survive only because Catalyst fuses this projection into
    # the Generate, so _head is never evaluated for rows posexplode
    # drops — an optimizer accident, not a contract. try_ makes the
    # NULL-head explicit; such lines contribute no positions either way.
    head = F.try_element_at(F.col("_w"), F.lit(1))
    head = F.when(head.rlike(r"^[0-9]+$"), F.lit(WILDCARD)).otherwise(head)
    keyed = split_stage.select(F.size("_w").alias("_ntok"),
                               head.alias("_head"),
                               "_w", "_lc")
    pos = keyed.select(
        "_ntok", "_head", "_lc", F.posexplode("_w").alias("_pos", "_tok"))
    # every position of a group sees exactly the group's line count, so
    # n_lines rides the SAME aggregate as the profile (one corpus scan,
    # no second scan + join for group sizes). The wildcard decision only
    # needs "is there more than one distinct token here", which
    # min != max answers with a plain map-side-combinable aggregate —
    # no distinct machinery, so a position holding 10^9 unique ids
    # reduces to two strings per partition instead of shuffling every
    # distinct value to one reducer.
    return (pos.groupBy("_ntok", "_head", "_pos")
               .agg(F.min("_tok").alias("_mn"),
                    F.max("_tok").alias("_mx"),
                    F.sum("_lc").alias("_nl")))


def merge_profiles(*profiles: DataFrame) -> DataFrame:
    """Fold profile tables from disjoint line batches into one profile
    equal to profiling the union of the batches (min/max/count are
    associative — this is the incremental-update step)."""
    u = profiles[0]
    for p in profiles[1:]:
        u = u.unionByName(p)
    return (u.groupBy("_ntok", "_head", "_pos")
             .agg(F.min("_mn").alias("_mn"),
                  F.max("_mx").alias("_mx"),
                  F.sum("_nl").alias("_nl")))


def group_templates(profile: DataFrame) -> DataFrame:
    """Per-(token-count, head-token) group templates
    ``(_ntok, _head, template, _n_lines)`` — the group→template map.
    Besides feeding :func:`templates_from_profiles`, this is the
    broadcast side of per-line template assignment
    (:func:`~log2seq_spark.operators.anomaly.assign_templates`): its
    row count is bounded by #groups, never corpus size."""
    piece = (F.when(F.col("_mn") != F.col("_mx"), F.lit(WILDCARD))
              .otherwise(F.col("_mn")))
    return (profile
            .select("_ntok", "_head", "_nl",
                    F.struct(F.col("_pos"), piece.alias("_piece"))
                     .alias("_pp"))
            .groupBy("_ntok", "_head")
            .agg(F.concat_ws(
                " ", F.transform(F.array_sort(F.collect_list("_pp")),
                                 lambda x: x["_piece"])).alias("template"),
                 F.max("_nl").alias("_n_lines")))


def templates_from_profiles(profile: DataFrame,
                            min_count: int = 1) -> DataFrame:
    """Finalize ``(template, n_lines, n_groups)`` from profile rows —
    touches only the tiny profile table, never the corpus."""
    tmpl = group_templates(profile)
    out = (tmpl.groupBy("template")
               .agg(F.sum("_n_lines").alias("n_lines"),
                    F.count("*").alias("n_groups")))
    if min_count > 1:
        out = out.filter(F.col("n_lines") >= min_count)
    return out


def mine_templates(lines: DataFrame, text_col: str = "text",
                   min_count: int = 1,
                   tokens_col: str | None = None,
                   dedup_lines: bool = False) -> DataFrame:
    """Mine templates from whitespace-tokenized ``text_col`` (empties
    dropped), or from a pre-tokenized ``array<string>`` ``tokens_col``
    (e.g. the pipeline's parsed ``words`` — the amulog hand-off).

    Returns one row per distinct template: ``template`` (tokens joined
    by single spaces, variable positions as ``<*>``), ``n_lines``
    (lines matching it), ``n_groups`` (distinct (token-count, head)
    Drain groups that collapsed onto it).

    A position is a wildcard iff >1 distinct token appears there within
    the (token-count, head-token) group — the exact-profile analog of
    Drain's similarity threshold, with the same group key.
    ``dedup_lines`` — see :func:`position_profiles`.
    """
    return templates_from_profiles(
        position_profiles(lines, text_col, tokens_col=tokens_col,
                          dedup_lines=dedup_lines),
        min_count=min_count)
