"""The parse → enrich → route → aggregate pipeline (the engine's flagship
plan; north rule of BASELINE.json).

Plan shape (all DataFrame ops; the parse UDF is the only Python):

1. bucket turns by ``pmod(xxhash64(conv_id), n_buckets)`` (checkpoint /
   resume granularity) and drop buckets already in the manifest;
2. salted repartition on ``(conv_id, turn_idx div chunk)`` — long
   conversations split across partitions so one 10k-turn conversation
   cannot stall a whole executor — then ``sortWithinPartitions(conv_id,
   turn_idx)`` for stable turn order (per-turn checks are keyed, so the
   chunk salt never breaks correctness);
3. one ``mapInArrow`` parse → struct column (text crosses the
   JVM↔Python boundary once);
4. broadcast hash joins against the tiny role/tool/severity dictionaries
   (no shuffle);
5. routing: ``sink = severity_band + '-' + sink_hint`` (quarantine for
   parse failures / empties) — fan-out is ONE scan writing
   ``partitionBy(sink, bucket)`` with dynamic partition overwrite, never
   one scan per sink;
6. aggregates per bucket (sink counts, token counts, template counts) off
   the column-pruned read-back of the routed sink (one heavy pass total);
7. per-bucket manifest records appended last (commit point).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from ..rules.presets import default_program
from ..rules.spec import RuleProgram
from ..session import _local_frame
from ..functions.udf import with_parsed
from ..sources.transcripts import role_dim, tool_dim, severity_dim
from . import manifest as mf

ROUTED = "routed"
AGG_SINK = "agg_sink_counts"
AGG_TOKEN = "agg_token_counts"
AGG_TEMPLATE = "agg_template_counts"
# per-bucket counters: the stats pass, the manifest records and the
# result metrics all carry exactly these keys
COUNTERS = ("n_rows", "n_ok", "n_fail", "n_empty", "n_tokens")
# skew salt: enriched_turns splits conversations into chunks this long
TURN_CHUNK = 4096

# variable masking for template ids: IPs / hex runs / numbers → placeholders.
# Fast-path guard first: every maskable class requires a digit or a colon
# (ip/num/ver need digits; ip6/hex need ':'), so a word with neither is
# returned unchanged after ONE cheap class scan instead of five anchored
# regex evaluations — most log tokens are plain words (measured ~2.5x on
# the mask projection at bench scale; NULL words fall through to ELSE w
# exactly as before).
_MASK = ("transform(words, w -> "
         " CASE WHEN NOT (w rlike '[0-9:]') THEN w"
         "      WHEN w rlike '^(\\\\d{1,3}\\\\.){3}\\\\d{1,3}$' THEN '<ip>'"
         "      WHEN w rlike '^[0-9a-fA-F:]*:[0-9a-fA-F:]+$' THEN '<ip6>'"
         "      WHEN w rlike '^[0-9a-fA-F]{2}(:[0-9a-fA-F]{2})+$' THEN '<hex>'"
         "      WHEN w rlike '^[0-9]+$' THEN '<num>'"
         "      WHEN w rlike '^[0-9]+(\\\\.[0-9]+)+$' THEN '<ver>'"
         "      ELSE w END)")


@dataclass
class PipelineConfig:
    out_dir: str
    n_buckets: int = 64
    partitions: Optional[int] = None
    program: RuleProgram = field(default_factory=default_program)
    input_id: str = "transcripts"
    # token aggregate mode: None writes the full per-(bucket, sink)
    # token counts (a distinct-token-sized shuffle — fine to sf-scale,
    # the 10^12-turn bottleneck); an int k switches AGG_TOKEN to exact
    # per-(bucket, sink) heavy hitters (operators/heavy.py): only
    # tokens above 1/k of their sink's volume, bounded shuffle
    tokens_heavy_k: Optional[int] = None


@dataclass
class PipelineResult:
    lineage_id: str
    buckets_processed: List[int]
    buckets_skipped: List[int]
    metrics: Dict


def write_partitioned(df: DataFrame, dest: str,
                      partition_cols: List[str]) -> None:
    """Partitioned parquet write to ``dest`` with dynamic partition
    overwrite: only the partitions present in ``df`` are replaced, which
    is what heals a crashed run's partial buckets on resume. The mode is
    set per writer, never on the session conf, so unrelated writes in
    the same session keep their own semantics."""
    (df.write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy(*partition_cols)
       .parquet(dest))


def has_data_files(spark: SparkSession, dest: str) -> bool:
    """True when :func:`write_partitioned` left at least one data file
    under ``dest``.

    Positive emptiness detection for the pipeline read-back: a
    partitioned write of zero rows leaves no footers, so schema
    inference on the read-back raises AnalysisException — but so do
    genuinely broken states (a foreign-format or corrupt data file). The
    pipeline must tell these apart by probing, never by treating any
    analysis failure as "empty". Listing goes through the Hadoop
    FileSystem API so it works on whatever filesystem the path lives
    on, not just local disk."""
    fs, path, _ = fsio.hadoop_fs(spark, dest)
    if not fs.exists(path):
        return False
    it = fs.listFiles(path, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith(("_", ".")):
            return True
    return False


def enriched_turns(spark: SparkSession, turns: DataFrame,
                   cfg: PipelineConfig) -> DataFrame:
    """parse + enrich + route; no writes. The returned frame carries
    bucket, sink, severity and the flattened parsed fields."""
    p = cfg.partitions or spark.sparkContext.defaultParallelism
    df = turns.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(cfg.n_buckets)).cast("int"))
    # salted repartition + stable within-partition turn order
    df = (df.repartition(p, "conv_id",
                         (F.col("turn_idx") / TURN_CHUNK).cast("int"))
            .sortWithinPartitions("conv_id", "turn_idx"))
    df = with_parsed(df, cfg.program, text_col="text", ts_col="ts")

    ok = F.col("parsed.message").isNotNull()
    # try_element_at: ANSI mode (Spark 4 default) makes element_at
    # THROW on a <3-word message — a single short-but-parseable line
    # would kill the whole job; null falls through to "unrouted"
    severity = (F.when(ok, F.try_element_at("parsed.words", F.lit(3)))
                 .otherwise(F.lit(None)))
    df = df.withColumn("severity", severity)
    df = (df.join(F.broadcast(role_dim(spark)), "role", "left")
            .join(F.broadcast(tool_dim(spark)), "tool", "left")
            .join(F.broadcast(severity_dim(spark)), "severity", "left"))
    sink = (F.when(~ok, F.lit("quarantine"))
             .when(F.col("severity_band").isNull(), F.lit("unrouted"))
             .otherwise(F.concat_ws("-", "severity_band",
                                    F.coalesce("sink_hint", F.lit("chat")))))
    return df.withColumn("sink", sink)


def run_pipeline(spark: SparkSession, turns: DataFrame,
                 cfg: PipelineConfig, resume: bool = True) -> PipelineResult:
    lineage = mf.lineage_id(cfg.program, cfg.input_id, cfg.n_buckets)
    done = (mf.completed_buckets(cfg.out_dir, lineage, spark=spark)
            if resume else set())

    # a reused out_dir holding another lineage's output (different rule
    # program / input) would otherwise leak its stale (sink, bucket)
    # partitions into this run's read-back aggregates: clear the data
    # dirs when the manifest has no records for the current lineage, and
    # belt-and-braces filter the read-back on a lineage stamp below.
    # The MANIFEST must go too: keeping the other lineage's records
    # while deleting its data would make a later run of that lineage
    # "resume" — skip every bucket — against output that no longer
    # exists and report success with zero rows.
    if not done:
        mf.wipe_outputs(cfg.out_dir, (ROUTED, AGG_SINK, AGG_TOKEN,
                                      AGG_TEMPLATE), spark=spark)

    df = enriched_turns(spark, turns, cfg)
    if done:
        df = df.filter(~F.col("bucket").isin(sorted(done)))
    df = df.select(
        "conv_id", "turn_idx", "role", "tool", "ts",
        F.col("parsed.ts").alias("parsed_ts"),
        F.col("parsed.tz_sec").alias("tz_sec"),
        F.col("parsed.host").alias("host"),
        F.col("parsed.message").alias("message"),
        F.col("parsed.words").alias("words"),
        F.col("parsed.symbols").alias("symbols"),
        F.col("parsed.rule_id").alias("rule_id"),
        F.col("parsed.error").alias("error"),
        # flag columns precomputed at write time (3 booleans/row — ~free
        # to store) so the aggregate read-back never has to decode the
        # message/error string columns just to test nullity
        F.col("parsed.message").isNotNull().alias("ok"),
        # fail/ok/empty PARTITION the rows: a row can carry BOTH a
        # parsed message and a soft error (e.g. 'timestamp part
        # missing'), and flagging fail on error alone double-counted it
        # (n_ok + n_fail + n_empty > n_rows, disagreeing with
        # cmd_parse's ~ok & ~empty definition over the same data)
        (F.col("parsed.message").isNull()
         & (F.coalesce(F.col("parsed.rule_id"), F.lit(-1)) != -2))
        .alias("fail"),
        (F.col("parsed.rule_id") == -2).alias("empty"),
        "severity", "role_group", "tool_family", "sink", "bucket",
        F.lit(lineage).alias("lineage"))

    # ONE heavy pass: parse + enrich + the fan-out write. Aggregates then
    # run off the column-pruned read-back of the routed sink — cheaper
    # and flatter in memory than persist() of the full frame (the memory
    # store materialization was a core-count-independent ~40% of wall).
    # The repartition on the partition columns keeps file counts at
    # one-per-dir-per-task instead of tasks × dirs (measured 7× faster).
    # Partial writes from a crashed run are healed by dynamic partition
    # overwrite — set per-writer so session-global conf is untouched.
    p = cfg.partitions or spark.sparkContext.defaultParallelism
    routed_dir = os.path.join(cfg.out_dir, ROUTED)
    nothing_new = PipelineResult(lineage_id=lineage, buckets_processed=[],
                                 buckets_skipped=sorted(done),
                                 metrics=dict.fromkeys(COUNTERS, 0))
    _t0 = time.monotonic()
    write_partitioned(df.repartition(p, "sink", "bucket"), routed_dir,
                      ["sink", "bucket"])
    wall_route_s = round(time.monotonic() - _t0, 3)
    _t0 = time.monotonic()
    if not has_data_files(spark, routed_dir):
        # zero input rows on a fresh out_dir: the partitioned write emits
        # no footers, so the read-back could not infer a schema. Detected
        # POSITIVELY (no data files under the routed dir) — a broad
        # except AnalysisException here would also swallow real failures
        # (a foreign-format or corrupt file under routed/) as a silent
        # zero-metric success.
        return nothing_new
    df = (spark.read.parquet(routed_dir)
              .filter(F.col("lineage") == lineage))
    if done:
        df = df.filter(~F.col("bucket").isin(sorted(done)))
    # the three aggregate passes share one NARROW cached projection —
    # re-scanning the many-dirs routed sink per pass serialized on file
    # listing/opens (measured eff ~0.5 across core counts). Only the
    # null-flags of message/error and the empty-flag of rule_id are
    # consumed downstream, so booleans ride the cache, not the strings —
    # and they come straight off the routed sink's flag columns, so the
    # scan never decodes the string columns.
    df = df.select("bucket", "sink",
                   F.col("ok").alias("_ok"),
                   "words",
                   F.col("empty").alias("_empty"),
                   F.col("fail").alias("_fail")).persist()

    # ONE stats pass feeds both the sink-counts table and the manifest
    stats = (df.groupBy("bucket", "sink").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("_ok"), 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("_fail"), 1).otherwise(0)).alias("n_fail"),
        F.sum(F.when(F.col("_empty"), 1).otherwise(0)).alias("n_empty"),
        F.sum(F.coalesce(F.size("words"), F.lit(0))).alias("n_tokens"),
    ).collect())
    if not stats:
        df.unpersist()
        # everything was already committed (a fully-resumed rerun)
        return nothing_new
    write_partitioned(_local_frame(spark,
                                   [(r.bucket, r.sink, r.n_rows)
                                    for r in stats],
                                   "bucket bigint, sink string, "
                                   "n_rows bigint")
                      .repartition(8, "bucket"),
                      os.path.join(cfg.out_dir, AGG_SINK), ["bucket"])

    tok_stream = (df.filter(F.col("_ok"))
                    .select("bucket", "sink",
                            F.explode("words").alias("token")))
    if cfg.tokens_heavy_k:
        # bounded-shuffle mode: exact counts of tokens above 1/k of
        # their (bucket, sink) volume — the only token aggregate
        # that survives a 10^12-turn vocabulary
        from ..operators.heavy import heavy_hitters
        tok_agg = heavy_hitters(tok_stream, "token",
                                k=cfg.tokens_heavy_k,
                                group_cols=["bucket", "sink"])
    else:
        tok_agg = (tok_stream.groupBy("bucket", "sink", "token")
                             .agg(F.count("*").alias("n")))
    write_partitioned(
        tok_agg.repartition(min(p, cfg.n_buckets), "bucket"),
        os.path.join(cfg.out_dir, AGG_TOKEN), ["bucket"])

    # mask once into a single separator-joined key; the display form
    # (separator → space) is derived on the few aggregated rows
    tkey = F.concat_ws("\x1e", F.expr(_MASK))
    write_partitioned(
        df.filter(F.col("_ok"))
          .select("bucket", tkey.alias("template_key"))
          .groupBy("bucket", F.md5("template_key").alias("template_id"))
          .agg(F.count("*").alias("n"),
               F.min("template_key").alias("template_key"))
          .withColumn("template",
                      F.regexp_replace("template_key", "\x1e", " "))
          .drop("template_key")
          .repartition(8, "bucket"),
        os.path.join(cfg.out_dir, AGG_TEMPLATE), ["bucket"])

    df.unpersist()

    # per-bucket manifest records (the commit point, written LAST)
    by_bucket: Dict[int, Dict] = {}
    for r in stats:
        rec = by_bucket.setdefault(
            r["bucket"], {"bucket": r["bucket"], **dict.fromkeys(COUNTERS, 0)})
        for k in COUNTERS:
            rec[k] += int(r[k])
    records = sorted(by_bucket.values(), key=lambda x: x["bucket"])
    mf.append_bucket_records(cfg.out_dir, lineage, records, spark=spark)

    totals = {k: int(sum(r[k] for r in records)) for k in COUNTERS}
    # phase walls: the parse→enrich→route fan-out write vs the aggregate
    # passes — the observability a capacity plan needs (profiled ~55%/20%
    # of wall respectively at sf0.1; parse compute rides inside the write
    # job's single heavy pass)
    totals["wall_route_s"] = wall_route_s
    totals["wall_agg_s"] = round(time.monotonic() - _t0, 3)
    return PipelineResult(lineage_id=lineage,
                          buckets_processed=sorted(r["bucket"] for r in records),
                          buckets_skipped=sorted(done),
                          metrics=totals)
