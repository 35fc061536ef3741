"""Exact distributed heavy hitters — the "which tokens/templates/hosts
dominate this corpus" primitive a 100 TB log or training-data pipeline
needs without paying a full distinct-key shuffle.

Two passes over the stream, both scale-shaped:

1. **Candidate generation** (Misra–Gries 1982, "Finding repeated
   elements"; weighted/mergeable analysis in Berinde et al. 2010 and
   Agarwal et al. 2012): each input partition keeps at most ``k``
   counters via the decrement-all trick, so only
   ``num_partitions × k`` candidate rows ever shuffle. The union of
   per-partition summaries is a guaranteed superset of every item with
   global frequency > n/k: if count(x) > n/k globally, a
   weighted-average argument gives some partition i with
   count_i(x) > n_i/k, and the Misra–Gries error bound
   (≤ n_i/(k+1) per item) means that partition's summary retains x.
2. **Exact recount**: one more scan counts ONLY the candidates (hash
   semi-join against the broadcast candidate set), plus the stream
   total in the same aggregate, and keeps items with
   ``count * k > n`` — exactly the items a full
   ``GROUP BY … HAVING count(*) > n/k`` would return, so an ANSI-SQL
   oracle replays the result verbatim.

The full aggregation this replaces shuffles every distinct key (for
web-scale token streams: billions of rows, heavy skew on the hot
keys). Here the first pass is map-only (Arrow-batched ``mapInPandas``
— the sequential decrement logic is not expressible in built-in
functions; the Python loop runs per distinct value per Arrow batch,
not per row), the second is a built-in aggregate over a
broadcast-filtered stream whose distinct-key cardinality is bounded by
``num_partitions × k + 1``.

No counterpart in the reference (amulog/log2seq has no frequency
analysis); this extends the aggregate family of SURVEY.md §2.5.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.udf import _drop_zip_finders


def mg_update(counters: dict, item, cnt: int, k: int) -> dict:
    """One weighted Misra–Gries update: add ``cnt`` of ``item`` to a
    ``{item: counter}`` summary bounded at ``k`` entries. The decrement
    branch subtracts the largest amount that keeps every counter >= 0;
    ``dec = min(counters)`` evicts at least one counter, so whenever
    the incoming item retains weight there is room for it."""
    if item in counters:
        counters[item] += cnt
    elif len(counters) < k:
        counters[item] = cnt
    else:
        dec = min(cnt, min(counters.values()))
        counters = {i: c - dec for i, c in counters.items() if c > dec}
        if cnt > dec:
            counters[item] = cnt - dec
    return counters


def _mg_partition_summaries(df: DataFrame, col: str, k: int) -> DataFrame:
    """One weighted Misra–Gries summary per input partition: at most
    ``k`` rows of ``(item, w)`` each, where ``w`` is the surviving
    counter (a lower bound on the item's within-partition count); every
    item whose within-partition frequency exceeds (partition rows)/k is
    guaranteed present. Map-only: no shuffle is induced; the output is
    tiny by construction."""
    import pandas as pd

    def mg(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        _drop_zip_finders()
        counters: dict = {}
        for pdf in batches:
            # value_counts folds the Arrow batch first, so the MG
            # update runs per distinct value per batch, not per row
            for item, cnt in pdf[col].value_counts().items():
                counters = mg_update(counters, item, int(cnt), k)
        yield pd.DataFrame({col: list(counters.keys()),
                            "w": list(counters.values())})

    return df.select(col).mapInPandas(mg, schema=f"{col} string, w long")


def _mg_partition_candidates(df: DataFrame, col: str, k: int) -> DataFrame:
    """Candidate items only (see :func:`_mg_partition_summaries`)."""
    return _mg_partition_summaries(df, col, k).select(col)


def _grouped_mg_candidates(df: DataFrame, group_cols: list,
                           col: str, k: int) -> DataFrame:
    """Per-partition Misra–Gries candidates PER GROUP: at most ``k``
    rows of ``(group…, item)`` per (partition, group) pair. Map-only;
    output bounded by partitions × groups × k."""
    import pandas as pd

    fields = df.select(*group_cols, col).schema
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in fields)

    def mg(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        _drop_zip_finders()
        per_group: dict = {}
        for pdf in batches:
            vc = pdf.groupby(group_cols, dropna=True,
                             sort=False)[col].value_counts()
            for key, cnt in vc.items():
                # key = (group values..., item)
                g, item = key[:-1], key[-1]
                per_group[g] = mg_update(per_group.get(g, {}),
                                         item, int(cnt), k)
        rows = [g + (item,) for g, counters in per_group.items()
                for item in counters]
        yield pd.DataFrame(rows, columns=[f.name for f in fields])

    return df.select(*group_cols, col).mapInPandas(mg, schema=schema)


def heavy_hitters(df: DataFrame, col: str = "token", k: int = 20,
                  group_cols=None) -> DataFrame:
    """Items of string column ``col`` whose exact count strictly
    exceeds n/k, with their exact counts — ``(group…, col, n)`` rows
    identical to ``GROUP BY group…, col HAVING count(*) * k >
    (count of the group's rows)`` but without shuffling the full
    distinct-key space. With ``group_cols`` the guarantee and the
    threshold apply within each group (n = the group's row count) —
    the per-(bucket, sink) hot-token shape the pipeline's aggregate
    phase needs at 10^12 turns. Null items — and, in grouped mode,
    null group keys — are ignored.

    ``k`` bounds both the answer size (fewer than k items per group
    can each exceed n/k) and the per-partition summaries. The
    candidate pass is approximate (superset); the recount pass makes
    the final answer exact, so the operator is deterministic and
    oracle-checkable."""
    if k < 2:
        raise ValueError("heavy_hitters requires k >= 2")
    groups = list(group_cols or [])
    stream = df.select(*groups, col).filter(F.col(col).isNotNull())
    for g in groups:
        stream = stream.filter(F.col(g).isNotNull())
    if groups:
        cand = _grouped_mg_candidates(stream, groups, col, k).distinct()
    else:
        cand = _mg_partition_candidates(stream, col, k).distinct()
    # candidate-only exact counts + the stream total in ONE scan:
    # non-candidate rows collapse into a per-group null bucket whose
    # count still contributes to the group's n. The join is broadcast
    # (the build side is <= partitions * groups * k rows by
    # construction).
    flagged = (stream
               .join(F.broadcast(cand.withColumn("_is_cand", F.lit(True))),
                     groups + [col], "left")
               .select(*groups,
                       F.when(F.col("_is_cand"), F.col(col)).alias(col)))
    counts = flagged.groupBy(*groups, col).agg(F.count("*").alias("n"))
    # window over <= partitions*k + 1 rows per group (global mode: one
    # bounded single partition) — never corpus-sized
    total = F.sum("n").over(Window.partitionBy(*groups))
    return (counts.withColumn("_total", total)
                  .filter(F.col(col).isNotNull()
                          & (F.col("n") * k > F.col("_total")))
                  .drop("_total"))
