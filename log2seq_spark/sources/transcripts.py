"""Deterministic synthetic transcripts table (FIXTURES.md §1).

Schema = BASELINE.json input_hint:
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``.

Generated entirely with Spark SQL expressions — ``spark.range`` →
hash-derived pseudo-randomness (``xxhash64``) → ``explode(sequence(...))``
— so generation is distributed, seed-deterministic, and wall-clock-free.
Conversation lengths are Zipf-ish (95% short, 4% medium, 1% huge) to
drive the skew-handling path; ~2% of lines match no header rule and ~1%
are empty, exercising the quarantine path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import _local_frame

BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z

ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["bash", "search", "editor", "browser"]
SEVERITIES = ["DEBUG", "INFO", "NOTICE", "WARN", "ERROR", "CRIT"]
PROGRAMS = ["sshd", "kernel", "systemd", "nginx", "agentd", "cron",
            "postfix", "dockerd"]
EVENT_TEXTS = [
    "session opened for user root",
    "connection from 192.0.2.{n} port 22",
    "link up (interface:eth{n})",
    "failed password attempt:{n} from 2001:db8::{n}",
    'config "retry={n}" applied',
    "disk usage {n}% on /var",
    "request completed in {n} ms",
    "route 10.0.{n}.0/24 added via 10.0.0.1",
    "token de:ad:be:ef:00:{n} rotated",
    "checkpoint {n} written to /data/ckpt.{n}",
    "worker {n} restarted after timeout",
    "tool call finished rc={n}",
]


def _pick(col_hash, options, salt: int):
    """Deterministically pick one literal from options by hash."""
    arr = F.array(*[F.lit(o) for o in options])
    return F.element_at(arr, (F.pmod(F.xxhash64(col_hash, F.lit(salt)),
                                     F.lit(len(options))) + 1).cast("int"))


def conversations(spark: SparkSession, n_convs: int, seed: int = 42) -> DataFrame:
    """conv-level frame: conv_id, conv_len, conv_start_epoch."""
    conv = spark.range(n_convs).withColumnRenamed("id", "cid")
    u = F.pmod(F.xxhash64("cid", F.lit(seed)), F.lit(10000))
    # length hashed with its OWN salt: reusing the bucket selector u for
    # the huge branch pinned it to [9900, 9999], so "huge" conversations
    # were only ever 3899-3998 turns — below the pipeline's 4096
    # TURN_CHUNK, and the chunk-salted repartition the Zipf tail exists
    # to exercise never actually split a conversation
    u2 = F.pmod(F.xxhash64("cid", F.lit(seed + 2)), F.lit(10000))
    conv_len = (F.when(u < 9500, 2 + F.pmod(u2, F.lit(19)))
                 .when(u < 9900, 100 + F.pmod(u2, F.lit(401)))
                 .otherwise(2000 + F.pmod(u2, F.lit(8001)))).cast("int")
    start = F.lit(BASE_EPOCH) + F.pmod(F.xxhash64("cid", F.lit(seed + 1)),
                                       F.lit(86400 * 180))
    return conv.select(
        F.format_string("conv-%06d", "cid").alias("conv_id"),
        F.col("cid"),
        conv_len.alias("conv_len"),
        start.alias("conv_start"))


def transcripts(spark: SparkSession, n_convs: int, seed: int = 42,
                partitions: int | None = None) -> DataFrame:
    """The full turns table, row order shuffled (pipeline must restore it)."""
    conv = conversations(spark, n_convs, seed)
    if partitions:
        conv = conv.repartition(partitions, "cid")
    turns = conv.select(
        "conv_id", "cid", "conv_start",
        F.explode(F.sequence(F.lit(0), F.col("conv_len") - 1)).alias("turn_idx"))

    h = F.xxhash64("cid", "turn_idx", F.lit(seed + 2))
    ts = F.timestamp_seconds(F.col("conv_start") + F.col("turn_idx") * 3
                             + F.pmod(h, F.lit(3)))

    role_u = F.pmod(F.xxhash64("cid", "turn_idx", F.lit(seed + 3)), F.lit(100))
    role = (F.when(role_u < 40, "user").when(role_u < 80, "assistant")
             .when(role_u < 85, "system").otherwise("tool"))
    tool = F.when(role == "tool", _pick(h, TOOLS, seed + 4)).otherwise("none")

    # message body: "{prog}[{pid}]: {SEV} {event}"
    n_small = F.pmod(F.xxhash64("cid", "turn_idx", F.lit(seed + 5)), F.lit(250))
    event = F.expr(
        f"replace(element_at(array({','.join(repr(e) for e in EVENT_TEXTS)}), "
        f"cast(pmod(xxhash64(cid, turn_idx, {seed + 6}), "
        f"{len(EVENT_TEXTS)}) + 1 as int)), '{{n}}', cast(n_small as string))")
    body = F.concat(
        _pick(h, PROGRAMS, seed + 7), F.lit("["),
        (F.pmod(h, F.lit(90000)) + 10000).cast("string"), F.lit("]: "),
        _pick(h, SEVERITIES, seed + 8), F.lit(" "), F.col("event"))

    host = F.concat(F.lit("host-"),
                    F.pmod(F.xxhash64("cid", F.lit(seed + 9)), F.lit(50)).cast("string"),
                    F.lit(".example.org"))

    # ~57% syslog-style header, ~40% ISO header, ~2% garbage, ~1% empty
    style_u = F.pmod(F.xxhash64("cid", "turn_idx", F.lit(seed + 10)), F.lit(100))
    syslog_line = F.concat(
        F.date_format(ts, "MMM"), F.lit(" "), F.date_format(ts, "d"), F.lit(" "),
        F.date_format(ts, "HH:mm:ss"), F.lit(" "), host, F.lit(" "), F.col("body"))
    iso_line = F.concat(
        F.date_format(ts, "yyyy-MM-dd HH:mm:ss"), F.lit(" "), host,
        F.lit(" "), F.col("body"))
    garbage = F.concat(F.lit("!!corrupt "), h.cast("string"), F.lit(" <<>>"))
    text = (F.when(style_u < 57, syslog_line)
             .when(style_u < 97, iso_line)
             .when(style_u < 99, garbage)
             .otherwise(F.lit("")))

    out = (turns
           .withColumn("n_small", n_small)
           .withColumn("event", event)
           .withColumn("body", body)
           .select(F.col("conv_id"),
                   F.col("turn_idx").cast("int").alias("turn_idx"),
                   role.alias("role"),
                   text.alias("text"),
                   tool.alias("tool"),
                   ts.alias("ts")))
    # shuffle row order deterministically so the pipeline must restore it
    return (out.withColumn("_shuf", F.xxhash64("conv_id", "turn_idx", F.lit(seed)))
               .repartition(partitions or spark.sparkContext.defaultParallelism,
                            "_shuf")
               .sortWithinPartitions("_shuf")
               .drop("_shuf"))


def role_dim(spark: SparkSession) -> DataFrame:
    rows = [("user", "human", False), ("assistant", "model", True),
            ("system", "control", True), ("tool", "tool", True)]
    return _local_frame(spark, rows,
                        "role string, role_group string, is_automated boolean")


def tool_dim(spark: SparkSession) -> DataFrame:
    rows = [("bash", "shell", "ops"), ("search", "retrieval", "research"),
            ("editor", "files", "ops"), ("browser", "retrieval", "research"),
            ("none", "none", "chat")]
    return _local_frame(spark, rows,
                        "tool string, tool_family string, sink_hint string")


def severity_dim(spark: SparkSession) -> DataFrame:
    rows = [("DEBUG", "low"), ("INFO", "low"), ("NOTICE", "mid"),
            ("WARN", "mid"), ("ERROR", "high"), ("CRIT", "high")]
    return _local_frame(spark, rows, "severity string, severity_band string")


def write_transcripts(spark: SparkSession, path: str, n_convs: int,
                      seed: int = 42, partitions: int | None = None) -> None:
    transcripts(spark, n_convs, seed, partitions).write.mode("overwrite").parquet(path)
