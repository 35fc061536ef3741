"""Dump .explain('formatted') for the engine's key plans to
BENCH/plans.txt — evidence of plan quality (pushdown, broadcast joins,
column pruning, no stray shuffles). Planning only: no job runs."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main():
    from log2seq_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(master="local[4]", shuffle_partitions=8,
                      app_name="l2s-explain")
    spark.sparkContext.setLogLevel("ERROR")

    sections = []

    # the flagship pipeline plan over a turns frame
    from log2seq_spark.sources.transcripts import transcripts
    from log2seq_spark.plans.pipeline import PipelineConfig, enriched_turns
    turns = transcripts(spark, 50, seed=42, partitions=4)
    enriched = enriched_turns(spark, turns, PipelineConfig(out_dir="unused"))
    sections.append(("pipeline: enriched_turns", enriched))

    # storage-layout + admission-gate plans (round 4): the Z-value is
    # pure codegen'd bitwise expressions; the gate is ONE aggregate
    from log2seq_spark.operators import expectations as ex
    from log2seq_spark.operators.layout import with_zorder, _Z
    from pyspark.sql import functions as F
    zdf = (with_zorder(turns.select("conv_id", "turn_idx", "ts"),
                       ["turn_idx", "ts"], bits=8)
           .repartitionByRange(8, F.col(_Z)).sortWithinPartitions(_Z))
    sections.append(("layout: zorder_write shuffle+sort plan", zdf))
    checks = ex.transcript_checks() + [ex.unique("conv_id")]
    agg_cols = [F.count(F.lit(1)).alias("__n_rows")]
    for i, c in enumerate(checks):
        agg_cols += [col.alias(f"c{i}{a}") for a, col in c.aggs.items()]
    sections.append(("expectations: all checks in one aggregate",
                     turns.agg(*agg_cols)))

    # session-3 standalone operators (their driver legs appear under the
    # query sections too; these show the bare operator plans)
    import datetime as dt
    from log2seq_spark.operators import (anomaly, eventseq, fuzzyjoin,
                                         gapfill, scrub)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    sections.append(("anomaly: robust_outliers (rank-median x2 + "
                     "broadcast stats join-back)",
                     anomaly.robust_outliers(
                         ev.select("event_type", "value"))))
    buckets = (ev.groupBy("event_type",
                          F.date_trunc("hour", F.col("ts")).alias("h"))
                 .agg(F.sum(F.col("value").cast("decimal(18,2)"))
                       .cast("double").alias("v")))
    sections.append(("gapfill: fill_gaps (per-key spine + one fused "
                     "Window for both fills)",
                     gapfill.fill_gaps(buckets, "event_type", "h", "v")))
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    sections.append(("fuzzyjoin: fuzzy_self_pairs (deletion-variant "
                     "equi-join, bucket-guarded, no product)",
                     fuzzyjoin.fuzzy_self_pairs(cust, "c_name")))
    sections.append(("eventseq: transition_matrix (one lead window + "
                     "types^2 aggregate)", eventseq.transition_matrix(ev)))
    sections.append(("eventseq: funnel_conversions (chained min-ts "
                     "aggregates)", eventseq.funnel_conversions(
                         ev, ["view", "click", "purchase"])))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sections.append(("scrub: normalize_text (map-only, one Arrow hop)",
                     scrub.normalize_text(docs)))

    for name, fn in entrymod.queries().items():
        sections.append((f"query: {name}", fn(spark, SF_DIR)))

    out = io.StringIO()
    for title, df in sections:
        out.write(f"\n{'=' * 72}\n{title}\n{'=' * 72}\n")
        with redirect_stdout(out):
            df.explain("formatted")
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "plans.txt"), "w") as fh:
        fh.write(out.getvalue())
    print("wrote BENCH/plans.txt",
          len(out.getvalue().splitlines()), "lines")
    spark.stop()


if __name__ == "__main__":
    main()
