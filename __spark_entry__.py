"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship parse query on sf0.001;
``queries()`` exposes one callable per implemented operator (SURVEY.md §2
+ the training-data operator set); ``oracle_sql()`` gives the DuckDB
replay of each SQL-expressible query. Column names/aliases match between
both sides; aggregates use exact decimal arithmetic before a final cast
to double so cross-engine value hashes agree bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log2seq_spark.rules.presets import default_program, default_actions
from log2seq_spark.functions.udf import with_parsed, with_tokens
from log2seq_spark.session import _local_frame
from log2seq_spark.operators import (anomaly, asof, dedup, heavy, lm,
                                     scrub, similarity, templates,
                                     textstats)

SF_SMOKE = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like _t but spread across cores: the sf tables are single parquet
    files (one scan partition), which serializes compute-heavy operators
    locally. ``repartition(n)`` always shuffles, also on input that is
    already many-partitioned; it runs every time because the scan's
    partition count does not show whether rows are spread (one large
    single-row-group file scans as many splits, nearly all empty). A
    condition on the actual data layout stays open in ROADMAP direction
    1."""
    return _t(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism)


# Shared-intermediate memo: the Jaccard pair feed is consumed by four
# queries and the LSH pair feed by two; a real pipeline materializes
# such an intermediate once and fans out. The memo keys on the Spark
# application id so a cached (localCheckpoint'ed) frame can never leak
# across sessions/contexts. Results are deterministic either way — this
# changes wall-clock, never answers.
_FEED_CACHE: dict = {}


def _feed(spark, key, build):
    k = (spark.sparkContext.applicationId, key)
    df = _FEED_CACHE.get(k)
    if df is None:
        # persist (not localCheckpoint): stays inside the SQL engine —
        # AQE-planned, lazily materialized on first use, tiny pair lists
        # in memory — and consumers after the first read cached blocks
        df = build().persist()
        _FEED_CACHE[k] = df
    return df


def _docfeat_feed(spark, sf_dir):
    """Per-doc quality features + marker-word language ID, persisted
    once per session: ``lang_id`` is the one shuffle-bearing feature
    pass (token explode + hash aggregate), and THREE driver rows need
    it (``textstats_quality``, ``training_selection``, the funnel legs
    of ``stratified_sample_counts``) — sharing the feed runs it once
    per bench pass instead of three times."""
    from log2seq_spark.operators import textstats as _ts
    return _feed(spark, ("docfeats", sf_dir),
                 lambda: _ts.lang_id(_ts.quality_features(
                     _tp(spark, sf_dir, "documents"))))


def _jaccard_pair_feed(spark, sf_dir):
    from log2seq_spark.operators import dedup as _d
    return _feed(spark, ("jaccard", sf_dir),
                 lambda: _d.ngram_jaccard_pairs(
                     _tp(spark, sf_dir, "documents"),
                     shingle_n=3, threshold=0.35))


def _lsh_pair_feed(spark, sf_dir):
    from log2seq_spark.operators import dedup as _d
    return _feed(spark, ("emb-lsh", sf_dir),
                 lambda: _d.embedding_near_duplicates(
                     _tp(spark, sf_dir, "embeddings"), threshold=0.35,
                     n_planes=16, bands=4))


# ---------------------------------------------------------------------------
# parse / tokenize / route (the log2seq core, over driver tables)
# ---------------------------------------------------------------------------

def _synth_line(ev: DataFrame):
    """Deterministic syslog-shaped line from events columns (so a SQL
    oracle can predict every parsed field)."""
    return F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"), F.lit(" host-"),
        F.pmod("user_id", F.lit(50)).cast("string"), F.lit(".example.org "),
        F.col("event_type"), F.lit("["), F.col("event_id").cast("string"),
        F.lit("]: INFO checkpoint "),
        F.pmod("event_id", F.lit(97)).cast("string"), F.lit(" written"))


def _parsed_preset_feed(spark, sf_dir):
    """The default-preset parse of the synthesized syslog lines,
    memoized (parse once, consume many — the same discipline the
    pipeline applies): both the parse driver row and the
    template-mining words leg read this one parsed frame instead of
    re-running the CPU-bound parse UDF per consumer."""
    def _build():
        ev = _t(spark, sf_dir, "events")
        # normalize ingest parallelism before the parse UDF, exactly as
        # the pipeline does: the sf tables arrive as one parquet file ->
        # one partition, which would serialize the (CPU-bound) parse;
        # the raw text shuffle is cheap relative to parsing it (2.5x
        # measured here)
        lines = (ev.select("event_id", _synth_line(ev).alias("text"),
                           "ts")
                   .repartition(spark.sparkContext.defaultParallelism))
        return with_parsed(lines, default_program(), text_col="text",
                           ts_col="ts")
    return _feed(spark, ("parsed_preset", sf_dir), _build)


def q_parse_syslog_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    lines = (ev.select("event_id", _synth_line(ev).alias("text"), "ts")
               .repartition(spark.sparkContext.defaultParallelism))

    def _sel(parsed, tag):
        return parsed.select(
            F.lit(tag).alias("source"),
            "event_id",
            F.col("parsed.host").alias("host"),
            F.col("parsed.message").alias("message"),
            F.date_format("parsed.ts", "yyyy-MM-dd HH:mm:ss")
             .alias("parsed_ts"),
            F.array_join("parsed.words", " ").alias("words_joined"),
            F.array_join("parsed.symbols", "|").alias("symbols_joined"))

    # same row set through BOTH parse front-ends in one driver row: the
    # item-built default preset, and the equivalent grok expression
    # (rules/grok.py — the north rule's "grok/regex parse" surface);
    # both compile to the same vectorized machinery, so every field must
    # come out identical and the oracle replays each under its tag.
    # The preset leg reads the shared memoized parse (_parsed_preset_feed
    # — also consumed by template_mining's words leg), so the CPU-bound
    # preset parse UDF runs once per session, not once per consumer.
    preset = _parsed_preset_feed(spark, sf_dir)
    from log2seq_spark.rules.grok import grok_program
    grok = with_parsed(
        lines,
        grok_program("%{DATESTAMP:timestamp} %{HOSTNAME:host} "
                     "%{GREEDYDATA:message}"),
        text_col="text", ts_col="ts")
    return _sel(preset, "preset").unionByName(_sel(grok, "grok"))


_SQL_PARSE = """
WITH p AS (
  SELECT event_id,
         'host-' || (user_id % 50) || '.example.org' AS host,
         event_type || '[' || event_id || ']: INFO checkpoint '
                    || (event_id % 97) || ' written' AS message,
         strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS parsed_ts,
         event_type || ' ' || event_id || ' INFO checkpoint '
                    || (event_id % 97) || ' written' AS words_joined,
         '|[|]: | | | |' AS symbols_joined
  FROM events
)
SELECT 'preset' AS source, * FROM p
UNION ALL
SELECT 'grok' AS source, * FROM p
"""


def q_tokenize_token_counts(spark, sf_dir):
    """Two legs over one tokenized stream: the full per-token count
    aggregate, and the exact distributed heavy-hitters result
    (``operators/heavy.py`` — Misra–Gries per-partition candidates +
    broadcast-filtered exact recount; identical to the full
    GROUP BY … HAVING but without shuffling the distinct-key space)."""
    # one persisted token feed: the counts branch, the MG candidate
    # pass, and the exact recount would otherwise each re-run the
    # tokenize UDF over the corpus (measured 0.6s -> 3.4s)
    def _build():
        docs = _tp(spark, sf_dir, "documents").select("text")
        return (with_tokens(docs, default_actions(), "text", "_tok")
                .select(F.explode("_tok.words").alias("token")))
    toks = _feed(spark, ("doc_tokens", sf_dir), _build)
    counts = (toks.groupBy("token").agg(F.count("*").alias("n"))
                  .select(F.lit("count").alias("kind"), "token", "n"))
    hh = (heavy.heavy_hitters(toks, "token", k=30)
              .select(F.lit("heavy").alias("kind"), "token", "n"))
    return counts.unionByName(hh)


_SQL_TOKENIZE = """
WITH toks AS (
  SELECT t AS token
  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> ''
)
SELECT 'count' AS kind, token, count(*) AS n FROM toks GROUP BY 2
UNION ALL
SELECT 'heavy' AS kind, token, n FROM (
  SELECT token, count(*) AS n, sum(count(*)) OVER () AS tot
  FROM toks GROUP BY 1
) WHERE n * 30 > tot
"""


def q_route_severity_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    dim = _local_frame(
        spark,
        [("error", "high"), ("purchase", "mid"), ("signup", "mid"),
         ("click", "low"), ("view", "low")],
        "event_type string, band string")
    return (ev.join(F.broadcast(dim), "event_type", "left")
              .groupBy("band")
              .agg(F.count("*").alias("n_events"),
                   F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double").alias("total_value")))


_SQL_ROUTE = """
SELECT CASE event_type WHEN 'error' THEN 'high'
                       WHEN 'purchase' THEN 'mid' WHEN 'signup' THEN 'mid'
                       ELSE 'low' END AS band,
       count(*) AS n_events,
       cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# relational core: aggregate / join / window / sort-limit
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
              .groupBy("l_returnflag", "l_linestatus")
              .agg(F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
                   F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
                   F.sum(dec("l_extendedprice")
                         * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
                    .cast("double").alias("sum_disc_price"),
                   F.count("*").alias("count_order")))


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
       cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_base_price,
       cast(sum(cast(l_extendedprice AS decimal(18,2))
                * cast(1 - l_discount AS decimal(18,2))) AS double) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_topk(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
              .groupBy("o_orderkey")
              .agg(F.sum(rev).cast("double").alias("revenue"))
              .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
              .limit(10))


_SQL_REVENUE = """
SELECT o_orderkey,
       cast(sum(cast(l_extendedprice AS decimal(18,2))
                * cast(1 - l_discount AS decimal(18,2))) AS double) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_topk_per_group(spark, sf_dir):
    """Ranking-window family: top-3 orders by totalprice per
    orderpriority (row_number with a unique tiebreak). At scale this is
    one shuffle on the group key and a bounded per-partition heap — never
    a global sort."""
    from pyspark.sql import Window
    orders = _tp(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (orders.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= 3)
                  .select("o_orderpriority", "rk", "o_orderkey",
                          "o_totalprice"))


_SQL_TOPK_GROUP = """
SELECT o_orderpriority, rk, o_orderkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         cast(row_number() OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice DESC, o_orderkey ASC)
              AS int) AS rk
  FROM orders
)
WHERE rk <= 3
"""


def _synth_turns(spark, sf_dir):
    """Deterministic transcripts-shaped turns synthesized from events
    (conv = user, order = (ts, event_id), varied token counts) — the
    shared input of the seven conversation-operator legs in
    ``q_sessionize``; memoized so the row_number window (the one
    shuffle) runs once, not once per leg."""
    def _build():
        from pyspark.sql import Window
        ev = _t(spark, sf_dir, "events")
        m3 = F.pmod("event_id", F.lit(3))
        role = (F.when(m3 == 0, "user").when(m3 == 1, "assistant")
                 .otherwise("tool"))
        text = F.concat(F.col("event_type"), F.lit(" "),
                        F.expr("repeat('tok ', cast(event_id % 9 AS INT))"),
                        F.lit("e"), F.col("event_id").cast("string"))
        # The window partitions on conv_id (the string) rather than
        # user_id: user_id -> cast(user_id as string) is injective, so
        # the per-partition row_number over (ts, event_id) is
        # IDENTICAL, but the persisted feed's output partitioning is
        # now hashpartitioning(conv_id) — the exact distribution every
        # downstream conversation leg (window/groupBy on conv_id)
        # requires, so their per-leg Exchanges of the full turn corpus
        # collapse into this one (guide §2.4: operations keyed the same
        # way share one exchange). The explicit sortWithinPartitions on
        # (conv_id, turn_idx) likewise lets each leg's window reuse the
        # feed's sort order instead of re-sorting per leg.
        w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
        return (ev.select(F.col("user_id").cast("string").alias("conv_id"),
                          "ts", "event_id", role.alias("role"),
                          text.alias("text"))
                  .withColumn("turn_idx", F.row_number().over(w))
                  .select("conv_id", "turn_idx", "role", "text")
                  .sortWithinPartitions("conv_id", "turn_idx"))
    return _feed(spark, ("synth-turns", sf_dir), _build)


def q_sessionize(spark, sf_dir):
    """Five per-conversation operators in ONE driver row (keeps the
    CORRECTNESS window at 50), schema ``(kind, id, n_a, n_b, digest)``:

    * ``kind='sessions'`` — gap-based sessionization per user
      (n_a = sessions, n_b = events).
    * ``kind='context'`` — conversation-context assembly
      (``operators/context.py``: per turn, the longest suffix of the
      ≤5 preceding turns fitting a 24-token budget), digested per
      conversation (n_a = turns, n_b = total context tokens, digest =
      md5 over every turn's assembled context in turn order — any
      suffix/order/separator error changes it).
    * ``kind='loops'`` — agent-loop detection
      (``operators/agentqa.py::loop_flags``: smallest repeating
      (role, digit-masked-text) cycle of length 1..3 ending at each
      turn), digested per conversation (n_a = turns, n_b = flagged
      turns, digest = md5 over every turn's loop_cycle in order — a
      missed or spurious flag anywhere changes it).
    * ``kind='transitions'`` — role-protocol validation
      (``agentqa.role_transitions``): corpus-wide (prev_role → role)
      counts, id = ``prev>role``, n_a = count, n_b = allowed(0/1).
    * ``kind='segments'`` — greedy turn-boundary segmentation into
      16-token training windows (``agentqa.segment_conversations``,
      a sequential recurrence folded per-conversation with a JVM
      ``aggregate`` HOF); n_a = segments, n_b = total tokens, digest =
      md5 over every turn's segment index in order (any boundary
      shift changes it). Oracle replays the greedy walk with a
      recursive CTE.
    * ``kind='render'`` — chat-template rendering + loss-mask spans
      (``operators/chatformat.py``): n_a = rendered chars, n_b =
      loss-masked chars (assistant content only), digest = md5 over
      the full rendered string plus the ``start:end`` loss-span list
      (any header/offset/mask error changes it).
    * ``kind='boiler'`` — cross-conversation boilerplate templates
      (``agentqa.boilerplate_turns``): id = digit-masked turn
      fingerprint, n_a = distinct convs, n_b = turns, digest = md5
      over (example text, is_boilerplate).
    * ``kind='prefs'`` — preference-pair construction
      (``operators/preference.py``): assistant responses grouped by
      digit-masked prompt fingerprint, best-vs-worst paired with a
      total (score, md5, id) tie-break; id = prompt_key,
      n_a = candidates, n_b = score gap, digest = md5 over both ends'
      (conv, turn, text-md5) — any rank/tie-break drift changes it."""
    from pyspark.sql import Window
    from log2seq_spark.operators import agentqa, chatformat, context
    from log2seq_spark.operators import preference
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6)
    gap = epoch - F.lag(epoch).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0)
    sess = (ev.withColumn("new_session", new_session)
              .groupBy("user_id")
              .agg(F.sum("new_session").alias("n_sessions"),
                   F.count("*").alias("n_events"))
              .select(F.lit("sessions").alias("kind"),
                      F.col("user_id").cast("string").alias("id"),
                      F.col("n_sessions").cast("bigint").alias("n_a"),
                      F.col("n_events").alias("n_b"),
                      F.lit(None).cast("string").alias("digest")))
    ctx = context.assemble_context(_synth_turns(spark, sf_dir),
                                   max_turns=5, max_tokens=24)
    dig = (context.context_digest(ctx)
           .select(F.lit("context").alias("kind"),
                   F.col("conv_id").alias("id"),
                   F.col("n_turns").alias("n_a"),
                   F.col("total_ctx_tokens").cast("bigint").alias("n_b"),
                   F.col("ctx_md5").alias("digest")))
    turns = _synth_turns(spark, sf_dir)
    loops = (agentqa.loop_stats(agentqa.loop_flags(turns, max_cycle=3))
             .select(F.lit("loops").alias("kind"),
                     F.col("conv_id").alias("id"),
                     F.col("n_turns").alias("n_a"),
                     F.col("n_loop_turns").cast("bigint").alias("n_b"),
                     F.col("loop_md5").alias("digest")))
    trans = (agentqa.role_transitions(turns)
             .select(F.lit("transitions").alias("kind"),
                     F.concat_ws(">", "prev_role", "role").alias("id"),
                     F.col("n_turns").alias("n_a"),
                     F.col("is_valid").cast("bigint").alias("n_b"),
                     F.lit(None).cast("string").alias("digest")))
    segs = (agentqa.segment_stats(
                agentqa.segment_conversations(turns, max_tokens=16))
            .select(F.lit("segments").alias("kind"),
                    F.col("conv_id").alias("id"),
                    F.col("n_segments").alias("n_a"),
                    F.col("total_tokens").alias("n_b"),
                    F.col("seg_md5").alias("digest")))
    rend = (chatformat.render_stats(turns)
            .select(F.lit("render").alias("kind"),
                    F.col("conv_id").alias("id"),
                    F.col("total_chars").alias("n_a"),
                    F.col("loss_chars").alias("n_b"),
                    F.col("render_md5").alias("digest")))
    boiler = (agentqa.boilerplate_turns(turns, min_convs=3)
              .select(F.lit("boiler").alias("kind"),
                      F.col("fp").alias("id"),
                      F.col("n_convs").cast("bigint").alias("n_a"),
                      F.col("n_turns").alias("n_b"),
                      F.md5(F.concat_ws(
                          "|", "example",
                          F.col("is_boilerplate").cast("string")))
                       .alias("digest")))
    prefs = (preference.preference_pairs(turns)
             .select(F.lit("prefs").alias("kind"),
                     F.col("prompt_key").alias("id"),
                     F.col("n_candidates").cast("bigint").alias("n_a"),
                     F.col("gap").cast("bigint").alias("n_b"),
                     F.md5(F.concat_ws(
                         "|", "chosen_conv_id",
                         F.col("chosen_turn_idx").cast("string"),
                         "chosen_md5", "rejected_conv_id",
                         F.col("rejected_turn_idx").cast("string"),
                         "rejected_md5")).alias("digest")))
    return (sess.unionByName(dig).unionByName(loops)
                .unionByName(trans).unionByName(segs)
                .unionByName(rend).unionByName(boiler)
                .unionByName(prefs))


_SQL_SESSIONIZE = r"""
WITH RECURSIVE t AS (
    SELECT cast(user_id AS VARCHAR) AS conv_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS turn_idx,
           CASE event_id % 3 WHEN 0 THEN 'user'
                WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
           event_type || ' ' || repeat('tok ', cast(event_id % 9 AS INT))
             || 'e' || event_id AS text
    FROM events
), tok AS (
    SELECT *, len(list_filter(regexp_split_to_array(text, '\s+'),
                              x -> x <> '')) AS ntok
    FROM t
), hist AS (
    SELECT conv_id, turn_idx,
           list(struct_pack(i := turn_idx, r := role,
                            tx := text, n := ntok))
             OVER (PARTITION BY conv_id ORDER BY turn_idx
                   ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS h
    FROM tok
), kept AS (
    SELECT conv_id, turn_idx,
           list_filter(coalesce(h, []), (x, i) ->
              list_aggregate(list_transform(h[i:], y -> y.n), 'sum')
                <= 24) AS k
    FROM hist
), ctx AS (
    SELECT conv_id, turn_idx,
           coalesce(list_aggregate(list_transform(k, y -> y.n), 'sum'), 0)
             AS ctok,
           array_to_string(list_transform(k, y -> y.r || ': ' || y.tx),
                           chr(10)) AS ctext
    FROM kept
), fps AS (
    SELECT conv_id, turn_idx,
           md5(role || chr(31)
               || regexp_replace(text, '[0-9]+', '<*>', 'g')) AS fp
    FROM t
), lagd AS (
    SELECT conv_id, turn_idx, fp,
           lag(fp, 1) OVER w AS l1, lag(fp, 2) OVER w AS l2,
           lag(fp, 3) OVER w AS l3, lag(fp, 4) OVER w AS l4,
           lag(fp, 5) OVER w AS l5
    FROM fps
    WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), cyc AS (
    SELECT conv_id, turn_idx,
           CASE WHEN fp = l1 THEN 1
                WHEN fp = l2 AND l1 = l3 THEN 2
                WHEN fp = l3 AND l1 = l4 AND l2 = l5 THEN 3
                ELSE 0 END AS lc
    FROM lagd
), pieces AS (
    SELECT conv_id, turn_idx, role, text,
           '<|' || role || '|>' || chr(10) || text || chr(10) AS piece
    FROM t
), offs AS (
    SELECT conv_id, turn_idx, role, text, piece,
           coalesce(sum(len(piece)) OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + len(role) + 5 AS sp
    FROM pieces
), walk AS (
    SELECT conv_id, turn_idx, ntok, 0 AS seg, ntok AS run
    FROM tok WHERE turn_idx = 1
    UNION ALL
    SELECT tk.conv_id, tk.turn_idx, tk.ntok,
           CASE WHEN w.run + tk.ntok > 16 THEN w.seg + 1 ELSE w.seg END,
           CASE WHEN w.run + tk.ntok > 16 THEN tk.ntok
                ELSE w.run + tk.ntok END
    FROM walk w
    JOIN tok tk
      ON tk.conv_id = w.conv_id AND tk.turn_idx = w.turn_idx + 1
), prefcand AS (
    SELECT md5(regexp_replace(prev, '[0-9]+', '<*>', 'g')) AS pk,
           conv_id, turn_idx, cast(ntok AS DOUBLE) AS score,
           md5(text) AS rmd5
    FROM (SELECT conv_id, turn_idx, role, text, ntok,
                 lag(text) OVER (PARTITION BY conv_id
                                 ORDER BY turn_idx) AS prev
          FROM tok)
    WHERE role = 'assistant' AND prev IS NOT NULL
), prefr AS (
    SELECT *,
           row_number() OVER (PARTITION BY pk ORDER BY
               score DESC, rmd5 DESC, conv_id DESC, turn_idx DESC) AS rt,
           row_number() OVER (PARTITION BY pk ORDER BY
               score ASC, rmd5 ASC, conv_id ASC, turn_idx ASC) AS rb,
           count(*) OVER (PARTITION BY pk) AS nc
    FROM prefcand
), prefp AS (
    SELECT c.pk, c.nc,
           c.conv_id AS cc, c.turn_idx AS ct, c.rmd5 AS cm,
           c.score AS cs,
           r.conv_id AS rc, r.turn_idx AS rx, r.rmd5 AS rm,
           r.score AS rs
    FROM (SELECT * FROM prefr WHERE rt = 1) c
    JOIN (SELECT * FROM prefr WHERE rb = 1) r USING (pk)
)
SELECT 'sessions' AS kind, cast(user_id AS VARCHAR) AS id,
       cast(sum(new_session) AS BIGINT) AS n_a,
       count(*) AS n_b, cast(NULL AS VARCHAR) AS digest
FROM (
  SELECT user_id,
         CASE WHEN lag(epoch(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) > 1800.0
              THEN 1 ELSE 0 END AS new_session
  FROM events)
GROUP BY user_id
UNION ALL
SELECT 'context' AS kind, conv_id AS id, count(*) AS n_a,
       cast(sum(ctok) AS BIGINT) AS n_b,
       md5(string_agg(coalesce(ctext, ''), chr(30) ORDER BY turn_idx))
         AS digest
FROM ctx
GROUP BY conv_id
UNION ALL
SELECT 'loops' AS kind, conv_id AS id, count(*) AS n_a,
       cast(sum(CASE WHEN lc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       md5(string_agg(cast(lc AS VARCHAR), ',' ORDER BY turn_idx))
         AS digest
FROM cyc
GROUP BY conv_id
UNION ALL
SELECT 'transitions' AS kind, prev_role || '>' || role AS id,
       count(*) AS n_a,
       cast(CASE WHEN prev_role || '>' || role IN
                 ('<start>>user', 'user>assistant', 'assistant>user',
                  'assistant>tool', 'tool>tool', 'tool>assistant')
            THEN 1 ELSE 0 END AS BIGINT) AS n_b,
       cast(NULL AS VARCHAR) AS digest
FROM (
  SELECT coalesce(lag(role) OVER (PARTITION BY conv_id
                                  ORDER BY turn_idx), '<start>')
           AS prev_role, role
  FROM t)
GROUP BY prev_role, role
UNION ALL
SELECT 'segments' AS kind, conv_id AS id,
       cast(max(seg) + 1 AS BIGINT) AS n_a,
       cast(sum(ntok) AS BIGINT) AS n_b,
       md5(string_agg(cast(seg AS VARCHAR), ',' ORDER BY turn_idx))
         AS digest
FROM walk
GROUP BY conv_id
UNION ALL
SELECT 'render' AS kind, conv_id AS id,
       cast(sum(len(piece)) AS BIGINT) AS n_a,
       cast(sum(CASE WHEN role = 'assistant' THEN len(text) ELSE 0 END)
            AS BIGINT) AS n_b,
       md5(string_agg(piece, '' ORDER BY turn_idx) || '|' ||
           coalesce(string_agg(
               CASE WHEN role = 'assistant'
                    THEN cast(sp AS VARCHAR) || ':'
                         || cast(sp + len(text) AS VARCHAR) END,
               ',' ORDER BY turn_idx), '')) AS digest
FROM offs
GROUP BY conv_id
UNION ALL
SELECT 'boiler' AS kind, fp AS id,
       count(DISTINCT conv_id) AS n_a, count(*) AS n_b,
       md5(min(text) || '|' ||
           CASE WHEN count(DISTINCT conv_id) >= 3
                THEN 'true' ELSE 'false' END) AS digest
FROM (
  SELECT conv_id,
         md5(role || chr(31)
             || regexp_replace(text, '[0-9]+', '<*>', 'g')) AS fp,
         text
  FROM t)
GROUP BY fp
UNION ALL
SELECT 'prefs' AS kind, pk AS id, cast(nc AS BIGINT) AS n_a,
       cast(cs - rs AS BIGINT) AS n_b,
       md5(cc || '|' || cast(ct AS VARCHAR) || '|' || cm || '|' ||
           rc || '|' || cast(rx AS VARCHAR) || '|' || rm) AS digest
FROM prefp
WHERE nc >= 2 AND cs - rs >= 0.0 AND (cc <> rc OR ct <> rx)
"""


def q_enrich_events_customers(spark, sf_dir):
    """Broadcast-enrich aggregate, THREE legs in one row (window stays
    at 50), keyed by ``path``:

    * ``path='broadcast'`` — the plain broadcast left join + aggregate.
    * ``path='salted'`` — the SAME join through
      ``operators/skew.py::salted_join`` (explicit hot-key spreading:
      whole-row salt on the probe side, ``n_salt``× replicated build
      side, join on (key, salt)). Equal output to the broadcast leg is
      the operator's contract — the oracle emits both legs from one
      subquery, so any multiplicity bug in the salting shows up as a
      hash mismatch.
    * ``path='skew'`` — ``skew.key_skew_stats`` sizing stats over
      events.event_type (n_users carries 0; total_value carries the
      skew_factor = n / mean-per-key)."""
    from log2seq_spark.operators import skew
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")

    def agg(joined, label, user_col):
        return (joined.groupBy("c_mktsegment")
                .agg(F.count("*").alias("n_events"),
                     F.countDistinct(user_col).alias("n_users"),
                     F.sum(F.col("value").cast("decimal(18,2)"))
                      .cast("double").alias("total_value"))
                .select(F.lit(label).alias("path"), "c_mktsegment",
                        "n_events", "n_users", "total_value"))

    plain = agg(ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey,
                        "left"), "broadcast", "user_id")
    salted = agg(skew.salted_join(
        ev.withColumnRenamed("user_id", "c_custkey"), cust,
        on="c_custkey", n_salt=8, how="left"), "salted", "c_custkey")
    stats = (skew.key_skew_stats(ev, "event_type", top=20, round_to=None)
             .select(F.lit("skew").alias("path"),
                     F.col("event_type").alias("c_mktsegment"),
                     F.col("n").alias("n_events"),
                     F.lit(0).cast("bigint").alias("n_users"),
                     F.col("skew_factor").alias("total_value")))
    return plain.unionByName(salted).unionByName(stats)


_SQL_ENRICH = """
WITH base AS (
  SELECT c_mktsegment,
         count(*) AS n_events,
         count(DISTINCT user_id) AS n_users,
         cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
  FROM events LEFT JOIN customer ON user_id = c_custkey
  GROUP BY c_mktsegment
), kc AS (
  SELECT event_type, count(*) AS n FROM events GROUP BY event_type
)
SELECT 'broadcast' AS path, * FROM base
UNION ALL
SELECT 'salted' AS path, * FROM base
UNION ALL
SELECT 'skew' AS path, event_type AS c_mktsegment, n AS n_events,
       cast(0 AS BIGINT) AS n_users,
       n / (SELECT avg(n) FROM kc) AS total_value
FROM (SELECT * FROM kc ORDER BY n DESC, event_type LIMIT 20)
"""


# ---------------------------------------------------------------------------
# semi-structured / existence joins / cumulative windows / sketches / stats
# ---------------------------------------------------------------------------

def q_json_props_extract(spark, sf_dir):
    """Semi-structured JSON, FOUR legs in one row (window stays at 50),
    schema ``(path, key, n_a, n_b, val)``:

    * ``path='props'`` — typed field extraction out of the JSON
      ``props`` column with ``get_json_object`` (JVM-side Jackson, no
      Python) + aggregate: key = k, n_a = events, val = total value.
    * ``path='tool'`` — tool-call argument hygiene
      (``operators/toolargs.py``) over deterministically synthesized
      tool turns (3 tools; every 13th payload malformed, every 11th
      missing the required ``q`` key): n_a = calls, n_b = well-formed
      payloads, val = sum of the ``$.n`` argument across fully-valid
      calls. The oracle re-derives validity with DuckDB's OWN json
      machinery (json_valid/json_keys), not a replay of Spark's.
    * ``path='ok'`` — per tool, n_a = calls passing required-key
      validation (``validate_required``).
    * ``path='argkey'`` — argument-key census (``arg_key_census``):
      key = tool/arg, n_a = occurrences among well-formed payloads.
    """
    from log2seq_spark.operators import toolargs
    ev = _tp(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    props = (ev.select(k.alias("k"), "value")
             .groupBy("k")
             .agg(F.count("*").alias("n_events"),
                  F.sum(F.col("value").cast("decimal(18,2)"))
                   .cast("double").alias("total_value"))
             .select(F.lit("props").alias("path"),
                     F.col("k").cast("string").alias("key"),
                     F.col("n_events").alias("n_a"),
                     F.lit(0).cast("bigint").alias("n_b"),
                     F.col("total_value").alias("val")))
    m3 = F.pmod("event_id", F.lit(3))
    m7 = F.pmod("event_id", F.lit(7)).cast("string")
    tool = (F.when(m3 == 0, "search").when(m3 == 1, "calc")
             .otherwise("fetch"))
    text = (F.when(F.pmod("event_id", F.lit(13)) == 0, F.lit('{"q":"x"'))
             .when(F.pmod("event_id", F.lit(11)) == 0,
                   F.concat(F.lit('{"n":'), m7, F.lit("}")))
             .otherwise(F.concat(F.lit('{"q":"'), F.col("event_type"),
                                 F.lit('","n":'), m7, F.lit("}"))))
    # the validated frame feeds two aggregates (stats + census); memoize
    # so the JSON parse pass runs once
    va = _feed(spark, ("toolargs", sf_dir),
               lambda: toolargs.validate_required(
                   toolargs.parse_args(
                       ev.select(tool.alias("tool"), text.alias("text"))),
                   {"search": ["q"], "calc": ["q"]}))
    st = toolargs.tool_call_stats(va, numeric_path="$.n")
    tool_leg = st.select(F.lit("tool").alias("path"),
                         F.col("tool").alias("key"),
                         F.col("n_calls").alias("n_a"),
                         F.col("n_valid_json").alias("n_b"),
                         F.col("sum_num").alias("val"))
    ok_leg = st.select(F.lit("ok").alias("path"),
                       F.col("tool").alias("key"),
                       F.col("n_ok").alias("n_a"),
                       F.lit(0).cast("bigint").alias("n_b"),
                       F.lit(0.0).alias("val"))
    census = (toolargs.arg_key_census(va)
              .select(F.lit("argkey").alias("path"),
                      F.concat_ws("/", "tool", "arg_key").alias("key"),
                      F.col("n").alias("n_a"),
                      F.lit(0).cast("bigint").alias("n_b"),
                      F.lit(0.0).alias("val")))
    return props.unionByName(tool_leg).unionByName(ok_leg) \
                .unionByName(census)


_SQL_JSON_PROPS = """
WITH tt AS (
  SELECT CASE event_id % 3 WHEN 0 THEN 'search' WHEN 1 THEN 'calc'
              ELSE 'fetch' END AS tool,
         CASE WHEN event_id % 13 = 0 THEN '{"q":"x"'
              WHEN event_id % 11 = 0 THEN '{"n":' || (event_id % 7) || '}'
              ELSE '{"q":"' || event_type || '","n":'
                   || (event_id % 7) || '}' END AS text
  FROM events
), pa AS (
  SELECT tool, text, json_valid(text) AS v,
         CASE WHEN json_valid(text) THEN json_keys(text) END AS ks,
         CASE tool WHEN 'search' THEN ['q'] WHEN 'calc' THEN ['q']
              ELSE [] END AS req
  FROM tt
), ok AS (
  SELECT *,
         v AND len(list_filter(req,
               k -> NOT list_contains(coalesce(ks, []), k))) = 0 AS aok
  FROM pa
)
SELECT 'props' AS path, CAST(CAST(props->>'k' AS INT) AS VARCHAR) AS key,
       count(*) AS n_a, cast(0 AS BIGINT) AS n_b,
       cast(sum(cast(value AS decimal(18,2))) AS double) AS val
FROM events GROUP BY 2
UNION ALL
SELECT 'tool' AS path, tool AS key, count(*) AS n_a,
       cast(sum(CASE WHEN v THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       sum(CASE WHEN aok
                THEN coalesce(CAST(text->>'$.n' AS DOUBLE), 0.0)
                ELSE 0.0 END) AS val
FROM ok GROUP BY tool
UNION ALL
SELECT 'ok' AS path, tool AS key,
       cast(sum(CASE WHEN aok THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       cast(0 AS BIGINT) AS n_b, 0.0 AS val
FROM ok GROUP BY tool
UNION ALL
SELECT 'argkey' AS path, tool || '/' || k AS key, count(*) AS n_a,
       cast(0 AS BIGINT) AS n_b, 0.0 AS val
FROM (SELECT tool, unnest(ks) AS k FROM pa WHERE ks IS NOT NULL)
GROUP BY 2
"""


def q_variant_props_stats(spark, sf_dir):
    """Spark 4 VARIANT path for semi-structured data: ``parse_json``
    decodes each props document ONCE into the binary variant encoding;
    every subsequent ``try_variant_get`` is a cheap binary probe with a
    typed result (vs ``get_json_object``, which re-parses the JSON text
    per path). At 100 TB with many extracted paths, that single-parse
    property is the difference. Grouped stats over the extracted field:
    k-decade buckets with exact decimal value sums."""
    ev = _tp(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return (ev.select(k.alias("k"), "value")
              .groupBy(F.floor(F.col("k") / 10).alias("k_decade"))
              .agg(F.count("*").alias("n_events"),
                   F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double").alias("total_value")))


_SQL_VARIANT_PROPS = """
SELECT cast(floor(CAST(props->>'k' AS INT) / 10.0) AS BIGINT) AS k_decade,
       count(*) AS n_events,
       cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
FROM events GROUP BY 1
"""


def q_csv_line_parse(spark, sf_dir):
    """Line-format parsing, two formats in one labeled row set (the
    delimited/telemetry half of the semi-structured matrix alongside
    JSON/VARIANT/XML):

    * ``source='csv'`` — events serialized to CSV lines, parsed back
      with a typed ``from_csv`` schema (JVM-side Univocity);
    * ``source='logfmt'`` — the same events serialized to logfmt
      ``key=value`` lines (with a QUOTED value, exercising the
      quote/unescape path), parsed back with
      :func:`log2seq_spark.functions.logfmt.with_logfmt` (pure built-in
      expressions, one regex scan per row);
    * ``source='pri'`` — the logfmt lines prefixed with a syslog
      ``<PRI>`` covering the full valid 0..191 code space, decoded with
      :func:`log2seq_spark.functions.syslog.pri_expr` (RFC 3164/5424
      facility*8+severity); groups on the decoded
      ``facility.severity/type`` names (type is the logfmt-parsed FIRST
      key of the rest, so any prefix-strip residue trips the oracle)
      and aggregates the logfmt-parsed rest — gating the PRI lookup
      tables and the prefix strip together.

    Every leg aggregates the PARSED typed columns — proving each
    round-trip is lossless; the oracle replays the identical aggregate
    under each tag. One narrow projection + one map-side-combined
    shuffle per leg."""
    ev = _tp(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(18,2)")

    csv_line = F.concat_ws(",", F.col("event_id").cast("string"),
                           "event_type", vdec.cast("string"))
    csv = (ev.select(csv_line.alias("line"))
             .select(F.from_csv(
                 "line", "event_id bigint, event_type string, "
                         "v decimal(18,2)").alias("c"))
             .select("c.*"))

    from log2seq_spark.functions.logfmt import with_logfmt
    lf_line = F.concat(
        F.lit("type="), F.col("event_type"),
        F.lit(" id="), F.col("event_id").cast("string"),
        F.lit(' v="'), vdec.cast("string"), F.lit('" note=ok'))
    lf = (with_logfmt(ev.select(lf_line.alias("line")), "line",
                      keys=["type", "id", "v"], unique_keys=True)
          .select(F.col("type").alias("event_type"),
                  F.col("id").cast("bigint").alias("event_id"),
                  F.col("v").cast("decimal(18,2)").alias("v")))

    from log2seq_spark.functions.syslog import pri_expr
    pri_line = F.concat(F.lit("<"),
                        (F.col("event_id") % 192).cast("int").cast("string"),
                        F.lit(">"), lf_line)
    dec = (ev.select(pri_line.alias("line"))
             .select(pri_expr(F.col("line")).alias("p"))
             .select(F.concat_ws(".", "p.facility_name",
                                 "p.severity_name").alias("fs"),
                     F.col("p.rest").alias("line")))
    # group key = facility.severity/type — the logfmt-parsed FIRST key
    # of the rest is folded in, so any prefix-strip residue (which would
    # null the type) trips the oracle, not just the lookup tables
    pri = (with_logfmt(dec, "line", keys=["type", "id", "v"],
                       unique_keys=True)
           .select(F.concat_ws("/", "fs", "type").alias("event_type"),
                   F.col("id").cast("bigint").alias("event_id"),
                   F.col("v").cast("decimal(18,2)").alias("v")))

    def _agg(parsed, tag):
        return (parsed.groupBy("event_type")
                      .agg(F.count("*").alias("n_events"),
                           F.sum("v").cast("double").alias("total_value"),
                           F.max("event_id").alias("max_event_id"))
                      .select(F.lit(tag).alias("source"), "*"))

    return (_agg(csv, "csv").unionByName(_agg(lf, "logfmt"))
            .unionByName(_agg(pri, "pri")))


_SQL_CSV_PARSE = """
WITH a AS (
  SELECT event_type, count(*) AS n_events,
         cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value,
         max(event_id) AS max_event_id
  FROM events GROUP BY event_type
),
pri AS (
  SELECT (['kern','user','mail','daemon','auth','syslog','lpr','news',
           'uucp','cron','authpriv','ftp','ntp','audit','alert','clock',
           'local0','local1','local2','local3','local4','local5',
           'local6','local7'])[(event_id % 192) // 8 + 1]
         || '.' ||
         (['emerg','alert','crit','err','warning','notice','info',
           'debug'])[(event_id % 192) % 8 + 1]
         || '/' || event_type AS event_type,
         event_id, value
  FROM events
)
SELECT 'csv' AS source, * FROM a
UNION ALL
SELECT 'logfmt' AS source, * FROM a
UNION ALL
SELECT 'pri' AS source, event_type, count(*) AS n_events,
       cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value,
       max(event_id) AS max_event_id
FROM pri GROUP BY event_type
"""


def q_xml_event_parse(spark, sf_dir):
    """Schema'd XML parsing (``from_xml``, new in Spark 4): events
    serialized to XML elements (attributes + nested text node), parsed
    back with a typed schema (attributes surface as ``_name`` fields),
    aggregated on the parsed values. Completes the semi-structured
    matrix: JSON path, VARIANT binary, CSV, XML."""
    ev = _tp(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(18,2)")
    xml = F.concat(F.lit('<event id="'), F.col("event_id").cast("string"),
                   F.lit('" type="'), F.col("event_type"),
                   F.lit('"><v>'), vdec.cast("string"),
                   F.lit("</v></event>"))
    parsed = (ev.select(xml.alias("x"))
                .select(F.from_xml(
                    "x", "_id bigint, _type string, v decimal(18,2)")
                    .alias("p"))
                .select("p.*"))
    return (parsed.groupBy(F.col("_type").alias("event_type"))
                  .agg(F.count("*").alias("n_events"),
                       F.sum("v").cast("double").alias("total_value"),
                       F.max("_id").alias("max_event_id")))


# the XML row keeps the single-leg aggregate (no source tag)
_SQL_XML_PARSE = """
SELECT event_type, count(*) AS n_events,
       cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value,
       max(event_id) AS max_event_id
FROM events GROUP BY event_type
"""


def q_anti_join_idle_customers(spark, sf_dir):
    """Left ANTI join: customers with no high-value order (none above
    300k). The filter is pushed below the join build side, and existence
    joins never materialize match rows, so the output stays bounded by
    the left side at any scale; Spark picks broadcast-anti when the
    filtered build side is small."""
    cust = _t(spark, sf_dir, "customer")
    big = (_t(spark, sf_dir, "orders")
           .filter(F.col("o_totalprice") > 300000.0))
    return (cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
                .select("c_custkey", "c_name", "c_mktsegment"))


_SQL_ANTI_JOIN = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000.0)
"""


def q_semi_join_ordered_brands(spark, sf_dir):
    """Left SEMI join: parts that appear in any lineitem, counted per
    brand. The semi join deduplicates the probe side inside the join
    (no distinct pre-pass, no row multiplication from popular parts)."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (part.join(li, part.p_partkey == li.l_partkey, "left_semi")
                .groupBy("p_brand")
                .agg(F.count("*").alias("n_parts")))


_SQL_SEMI_JOIN = """
SELECT p_brand, count(*) AS n_parts
FROM part p
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
GROUP BY p_brand
"""


def q_window_running_revenue(spark, sf_dir):
    """Cumulative window frame + lag: per customer, orders in
    (o_orderdate, o_orderkey) sequence with a running spend total (exact
    decimal accumulation, cast to double at the end) and the previous
    order's price. One shuffle on the partition key; the frame is
    ROWS UNBOUNDED PRECEDING..CURRENT ROW, which Spark evaluates
    incrementally (no per-row rescan)."""
    from pyspark.sql import Window
    orders = _tp(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (orders.select(
        "o_custkey", "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(frame)
         .cast("double").alias("running_spend"),
        F.lag("o_totalprice").over(w).alias("prev_price")))


_SQL_RUNNING = """
SELECT o_custkey, o_orderkey,
       cast(row_number() OVER w AS int) AS order_seq,
       cast(sum(cast(o_totalprice AS decimal(18,2)))
            OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS double) AS running_spend,
       lag(o_totalprice) OVER w AS prev_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_approx_distinct_users(spark, sf_dir):
    """HyperLogLog++ distinct-count sketch vs the exact count, as a
    property oracle: the query returns the exact count plus a boolean
    asserting the sketch landed within 5% of it. The sketch itself is
    deterministic (register maxima are order- and partition-independent)
    but not bit-replayable in another engine, so the oracle checks the
    *bound*, not the estimate — if Spark's estimate ever drifts out of
    tolerance the hash comparison fails. At scale HLL is the point: a
    fixed-size sketch with map-side partial merge replaces the exact
    path's per-group distinct expansion.

    Folded kind='profile' leg
    (``operators/expectations.py::table_profile``, exact_distinct
    mode): the Deequ/TFDV-style per-column census of the events table
    (count / nulls / distinct / min / max rendered as strings) — one
    single-pass aggregate unpivoted to rows, every value
    DuckDB-replayed exactly."""
    from log2seq_spark.operators.expectations import table_profile
    ev = _t(spark, sf_dir, "events")
    est = F.approx_count_distinct("user_id", 0.02)
    exact = F.countDistinct("user_id")
    hll = (ev.groupBy("event_type")
             .agg(exact.alias("n_exact"),
                  ((F.abs(est - exact) / exact) <= 0.05)
                  .alias("within_5pct"))
             .select(F.lit("hll").alias("kind"),
                     F.col("event_type").alias("key"),
                     "n_exact", "within_5pct",
                     *(F.lit(None).cast("long").alias(c)
                       for c in ("n", "n_null", "n_distinct")),
                     F.lit(None).cast("string").alias("min_s"),
                     F.lit(None).cast("string").alias("max_s")))
    cols = ["event_id", "user_id", "event_type", "value"]
    prof = (table_profile(ev, cols, exact_distinct=True)
            .select(F.lit("profile").alias("kind"),
                    F.col("column").alias("key"),
                    F.lit(None).cast("long").alias("n_exact"),
                    F.lit(None).cast("boolean").alias("within_5pct"),
                    "n", "n_null", "n_distinct", "min_s", "max_s"))
    return hll.unionByName(prof)


_SQL_APPROX_DISTINCT = """
SELECT 'hll' AS kind, event_type AS key,
       count(DISTINCT user_id) AS n_exact, TRUE AS within_5pct,
       CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS n_null,
       CAST(NULL AS BIGINT) AS n_distinct,
       CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s
FROM events GROUP BY event_type
UNION ALL
SELECT 'profile', c.col, CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
       p.n, p.z, p.d, p.lo, p.hi
FROM (VALUES ('event_id'), ('user_id'), ('event_type'), ('value')) c(col)
JOIN (
  SELECT 'event_id' AS col, count(*) AS n,
         sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS z,
         count(DISTINCT event_id) AS d,
         cast(min(event_id) AS VARCHAR) AS lo,
         cast(max(event_id) AS VARCHAR) AS hi FROM events
  UNION ALL
  SELECT 'user_id', count(*),
         sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END),
         count(DISTINCT user_id),
         cast(min(user_id) AS VARCHAR), cast(max(user_id) AS VARCHAR)
  FROM events
  UNION ALL
  SELECT 'event_type', count(*),
         sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END),
         count(DISTINCT event_type),
         cast(min(event_type) AS VARCHAR), cast(max(event_type) AS VARCHAR)
  FROM events
  UNION ALL
  SELECT 'value', count(*),
         sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END),
         count(DISTINCT value),
         cast(min(value) AS VARCHAR), cast(max(value) AS VARCHAR)
  FROM events
) p ON p.col = c.col
"""


def q_approx_quantiles_check(spark, sf_dir):
    """Quantile sketch vs exact: ``percentile_approx`` (Greenwald-Khanna,
    the mergeable fixed-memory sketch that replaces a full sort at scale)
    checked against the exact interpolated median, reported as the exact
    value + a 5%-relative-error boolean the oracle pins to TRUE — the
    same property-oracle pattern as the HLL check."""
    ev = _t(spark, sf_dir, "events")
    approx = F.percentile_approx("value", 0.5, 10000)
    exact = F.percentile("value", 0.5)
    return (ev.groupBy("event_type")
              .agg(F.round(exact, 6).alias("median_exact"),
                   ((F.abs(approx - exact) / exact) <= 0.05)
                   .alias("within_5pct")))


_SQL_APPROX_QUANTILES = """
SELECT event_type,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6)
         AS median_exact,
       TRUE AS within_5pct
FROM events GROUP BY event_type
"""


def q_stats_value_by_type(spark, sf_dir):
    """Moment statistics (stddev, Pearson correlation of value vs
    hour-of-day) computed from EXACT decimal power sums, combined into
    doubles only in the final projection — the same closed-form both
    engines evaluate over bit-identical inputs, so the cross-engine hash
    matches where native ``corr()``/``stddev()`` (streaming double
    accumulation, order-dependent) would not. One map-side-combined
    shuffle; the sums are the classic distributable sufficient
    statistics, exactly what a 1000-executor aggregation wants.

    Folded second leg (kind='robust'):
    ``operators/anomaly.py::robust_outliers`` — per-type exact
    median/MAD + modified-z outlier census (Iglewicz–Hoaglin 3.5 cut).
    Medians are rank-selected (avg of the middle one-or-two rows), NOT
    native median(), precisely so the DuckDB replay is the same closed
    form and the value hash is bit-stable; the oracle replays rank
    selection, the 0.6745 scaling, and the strict > threshold verdict.
    """
    ev = _t(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    h = F.hour("ts").cast("bigint")
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v).alias("_sx"),
        F.sum(v * v).alias("_sxx"),
        F.sum(h).alias("_sh"),
        F.sum(h * h).alias("_shh"),
        F.sum(v * h.cast("decimal(18,2)")).alias("_sxh"))
    n = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    sh = F.col("_sh").cast("double")
    shh = F.col("_shh").cast("double")
    sxh = F.col("_sxh").cast("double")
    var = (n * sxx - sx * sx) / (n * (n - F.lit(1.0)))
    corr = ((n * sxh - sx * sh)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * shh - sh * sh)))
    moments = agg.select(
        F.lit("moments").alias("kind"), "event_type", "n",
        F.round(sx / n, 6).alias("mean_value"),
        F.round(F.sqrt(var), 6).alias("stddev_value"),
        F.round(corr, 6).alias("corr_value_hour"),
        *(F.lit(None).cast("double").alias(c) for c in ("med", "mad")),
        F.lit(None).cast("bigint").alias("n_outliers"),
        F.lit(None).cast("double").alias("max_abs_z"))
    ro = anomaly.robust_outliers(ev.select("event_type", "value"),
                                 "value", ("event_type",))
    robust = ro.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.max("med").alias("med"),        # constant within the key
        F.max("mad").alias("mad"),
        F.sum(F.col("is_outlier").cast("bigint")).alias("n_outliers"),
        F.round(F.max(F.abs("robust_z")), 6).alias("max_abs_z"))
    robust = robust.select(
        F.lit("robust").alias("kind"), "event_type", "n",
        *(F.lit(None).cast("double").alias(c)
          for c in ("mean_value", "stddev_value", "corr_value_hour")),
        "med", "mad", "n_outliers", "max_abs_z")
    return moments.unionByName(robust)


_SQL_STATS = """
WITH s AS (
  SELECT event_type, count(*) AS n,
         sum(cast(value AS decimal(18,2))) AS sx,
         sum(cast(value AS decimal(18,2)) * cast(value AS decimal(18,2))) AS sxx,
         sum(cast(extract(hour FROM ts) AS BIGINT)) AS sh,
         sum(cast(extract(hour FROM ts) AS BIGINT)
             * cast(extract(hour FROM ts) AS BIGINT)) AS shh,
         sum(cast(value AS decimal(18,2))
             * cast(extract(hour FROM ts) AS decimal(18,2))) AS sxh
  FROM events GROUP BY event_type),
-- robust leg: rank-selected median/MAD + modified z (same closed form
-- as operators/anomaly.py::robust_outliers / _rank_median)
v AS (SELECT event_type, cast(value AS DOUBLE) AS v FROM events
      WHERE value IS NOT NULL),
r1 AS (SELECT event_type, v,
              row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
              count(*) OVER (PARTITION BY event_type) AS c
       FROM v),
med AS (SELECT event_type, avg(v) AS med FROM r1
        WHERE rn = (c + 1) // 2 OR rn = (c + 2) // 2
        GROUP BY event_type),
d AS (SELECT v.event_type, v.v, med.med, abs(v.v - med.med) AS av
      FROM v JOIN med USING (event_type)),
r2 AS (SELECT event_type, av,
              row_number() OVER (PARTITION BY event_type ORDER BY av) AS rn,
              count(*) OVER (PARTITION BY event_type) AS c
       FROM d),
mad AS (SELECT event_type, avg(av) AS mad FROM r2
        WHERE rn = (c + 1) // 2 OR rn = (c + 2) // 2
        GROUP BY event_type),
z AS (SELECT d.event_type,
             CASE WHEN mad.mad > 0
                  THEN 0.6745 * (d.v - d.med) / mad.mad END AS z,
             d.med, mad.mad
      FROM d JOIN mad USING (event_type)),
rob AS (
  SELECT event_type, count(*) AS n, max(med) AS med, max(mad) AS mad,
         cast(sum(CASE WHEN abs(z) > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers,
         round(max(abs(z)), 6) AS max_abs_z
  FROM z GROUP BY event_type)
SELECT 'moments' AS kind, event_type, n,
       round(cast(sx AS double) / cast(n AS double), 6) AS mean_value,
       round(sqrt((cast(n AS double) * cast(sxx AS double)
                   - cast(sx AS double) * cast(sx AS double))
                  / (cast(n AS double) * (cast(n AS double) - 1.0))),
             6) AS stddev_value,
       round((cast(n AS double) * cast(sxh AS double)
              - cast(sx AS double) * cast(sh AS double))
             / (sqrt(cast(n AS double) * cast(sxx AS double)
                     - cast(sx AS double) * cast(sx AS double))
                * sqrt(cast(n AS double) * cast(shh AS double)
                       - cast(sh AS double) * cast(sh AS double))),
             6) AS corr_value_hour,
       CAST(NULL AS DOUBLE) AS med, CAST(NULL AS DOUBLE) AS mad,
       CAST(NULL AS BIGINT) AS n_outliers, CAST(NULL AS DOUBLE) AS max_abs_z
FROM s
UNION ALL
SELECT 'robust' AS kind, event_type, n,
       CAST(NULL AS DOUBLE) AS mean_value,
       CAST(NULL AS DOUBLE) AS stddev_value,
       CAST(NULL AS DOUBLE) AS corr_value_hour,
       med, mad, n_outliers, max_abs_z
FROM rob
"""


def q_bucketed_join_revenue(spark, sf_dir):
    """Co-located join over BUCKETED tables — the zero-shuffle join
    layout for repeated large-large joins at scale. events and customer
    are written once per sf_dir as parquet tables bucketed (8 buckets,
    same count both sides) and sorted on the join key; the ``merge`` hint
    then plans a sort-merge join whose children are bucket-aligned scans:
    NO Exchange in the join subtree (asserted in tests/test_operators.py;
    the residual in-partition Sort is legacy-conf-gated in Spark 3+ and
    cheap — the shuffle is what bucketing removes). On a cluster this is
    how a 100 TB fact ⋈
    dim-too-big-to-broadcast join avoids reshuffling the fact table every
    query. Data lives under /tmp (external-table path); the in-memory
    catalog entry is rebuilt per session, the files are reused."""
    import os
    import re
    tag = re.sub(r"[^A-Za-z0-9]", "_",
                 os.path.basename(os.path.normpath(sf_dir)))
    base = f"/tmp/log2seq_spark_buckets/{tag}"
    ev_t, cu_t = f"events_b_{tag}", f"customer_b_{tag}"
    if not spark.catalog.tableExists(ev_t):
        (_t(spark, sf_dir, "events")
         .repartition(8, "user_id")
         .write.bucketBy(8, "user_id").sortBy("user_id")
         .option("path", f"{base}/events_b").mode("overwrite")
         .saveAsTable(ev_t))
    if not spark.catalog.tableExists(cu_t):
        (_t(spark, sf_dir, "customer")
         .repartition(8, "c_custkey")
         .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
         .option("path", f"{base}/customer_b").mode("overwrite")
         .saveAsTable(cu_t))
    ev = spark.table(ev_t)
    cu = spark.table(cu_t).hint("merge")
    return (ev.join(cu, ev.user_id == cu.c_custkey)
              .groupBy("c_mktsegment")
              .agg(F.count("*").alias("n_events"),
                   F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double").alias("total_value")))


_SQL_BUCKETED_JOIN = """
SELECT c_mktsegment, count(*) AS n_events,
       cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def q_regional_revenue(spark, sf_dir):
    """TPC-H Q5-style six-table star join: revenue per nation for one
    region and one order year, where the supplier ships from the
    customer's own nation. The dims (region filtered first, then nation)
    broadcast; the three fact-side joins hash-shuffle on their keys with
    the date filter pushed to the orders scan. Exercises Catalyst's join
    reordering + predicate pushdown across region/nation/supplier —
    the dims no other query touches."""
    region = (_t(spark, sf_dir, "region")
              .filter(F.col("r_name") == "ASIA"))
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    orders = (_t(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                      & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))))
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey)
              .join(sup, li.l_suppkey == sup.s_suppkey)
              .filter(F.col("c_nationkey") == F.col("s_nationkey"))
              .join(F.broadcast(nation),
                    F.col("s_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"))
              .groupBy("n_name")
              .agg(F.sum(rev).cast("double").alias("revenue"),
                   F.count("*").alias("n_lineitems")))


_SQL_REGIONAL_REVENUE = """
SELECT n_name,
       cast(sum(cast(l_extendedprice AS decimal(18,2))
                * cast(1 - l_discount AS decimal(18,2))) AS double) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= timestamp '1996-01-01'
  AND o_orderdate < timestamp '1997-01-01'
GROUP BY n_name
"""


def q_sliding_window_counts(spark, sf_dir):
    """Sliding time-window aggregation (``F.window``, 1-hour windows
    every 30 minutes). Each event lands in exactly two windows; Spark
    plans this as an explode over the precomputed window set + one hash
    aggregate. The oracle
    replays window assignment arithmetically (the two 30-minute-aligned
    starts covering each event)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour", "30 minutes"))
              .agg(F.count("*").alias("n_events"),
                   F.countDistinct("user_id").alias("n_users"))
              .select(F.col("window.start").alias("w_start"),
                      F.col("window.end").alias("w_end"),
                      "n_events", "n_users"))


_SQL_SLIDING_WINDOW = """
WITH assigned AS (
  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
           AS w_start,
         ts, user_id
  FROM events
)
SELECT w_start, w_start + INTERVAL 1 HOUR AS w_end,
       count(*) AS n_events, count(DISTINCT user_id) AS n_users
FROM assigned GROUP BY 1
"""


# DuckDB replay of dedup.normalized_text (shared by every shingle oracle)
_NORM = ("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
         " ' +', ' ', 'g'))")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination, BOTH legs in one row (window stays at
    50), schema ``(method, doc_id, eval_id, n_shingles, n_overlap,
    overlap_ratio, contaminated)``:

    * ``method='exact'`` — every 50th document plays the role of a
      held-out eval set; training docs are scored by the fraction of
      their distinct 3-gram shingles that occur anywhere in the eval
      set (``dedup.contamination_report``; eval_id null — the exact
      report is per train doc, not per pair). The eval vocabulary
      broadcasts, so the training shingles take one distinct-shuffle +
      a broadcast join — the corpus is never reshuffled against itself.
    * ``method='fuzzy'`` — ``dedup.fuzzy_contamination``: per
      contaminated (train, eval) PAIR, MinHash-LSH band candidates
      (8 hashes / 4 bands, the same bit-exact signature machinery as
      the minhash row) verified with the exact cross-corpus Jaccard;
      overlap_ratio carries the pair Jaccard, n_shingles/n_overlap the
      train set size and intersection. Catches the paraphrased leakage
      the exact leg's aggregate ratio dilutes. The oracle replays the
      signatures, the band join, AND the Jaccard closed-form.
    * ``method='bloom'`` — ``bloom.bloom_contamination_report``: the
      exact leg recomputed through a Bloom-filter prefilter (seeded
      xxhash64 → bit_or word aggregate → codegen'd getbit probe, all
      JVM-side) + exact confirm join that removes false positives, so
      its rows must EQUAL the exact leg's values — the oracle replays
      the exact CTE relabeled. This is the scale path for eval
      vocabularies too large to ship as a broadcast join hash table
      (~1.2 bytes/shingle of bitmap vs ~50-100 bytes/shingle of hash
      table); the corpus-side filter is a map-only codegen'd stage
      (plan-asserted shuffle-free in tests/test_bloom.py)."""
    docs = _tp(spark, sf_dir, "documents")
    evalset = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    # the exact + bloom legs consume the same distinct shingle feeds —
    # materialize each once and fan out (the _FEED_CACHE discipline)
    tr_sh = _feed(spark, ("decon_train_shingles", sf_dir), lambda: (
        dedup.shingle_rows(train, "text", "doc_id", 3)
             .select("_id", "shingle").distinct()))
    ev_sh = _feed(spark, ("decon_eval_shingles", sf_dir), lambda: (
        dedup.shingle_rows(evalset, "text", "doc_id", 3)
             .select("shingle").distinct()))
    exact = (dedup.contamination_report(train, evalset, threshold=0.5,
                                        train_shingles=tr_sh,
                                        eval_shingles=ev_sh)
             .select(F.lit("exact").alias("method"), "doc_id",
                     F.lit(None).cast("bigint").alias("eval_id"),
                     "n_shingles", "n_overlap", "overlap_ratio",
                     "contaminated"))
    fuzzy = (dedup.fuzzy_contamination(train, evalset, n_hashes=8,
                                       bands=4, shingle_n=3,
                                       threshold=0.5)
             .select(F.lit("fuzzy").alias("method"), "doc_id", "eval_id",
                     F.col("n_train_shingles").alias("n_shingles"),
                     "n_overlap",
                     F.col("jaccard").alias("overlap_ratio"),
                     F.lit(True).alias("contaminated")))
    from log2seq_spark.operators import bloom as _bloom
    # n_items: a cheap docs-count over-estimate (×64 shingles/doc)
    # sizes the filter without the exploded-shingle counting job; a low
    # estimate only raises the FPR — the confirm join keeps output exact
    via_bloom = (_bloom.bloom_contamination_report(train, evalset,
                                                   threshold=0.5, fpp=0.01,
                                                   n_items=max(
                                                       evalset.count(),
                                                       1) * 64,
                                                   train_shingles=tr_sh,
                                                   eval_shingles=ev_sh)
                 .select(F.lit("bloom").alias("method"), "doc_id",
                         F.lit(None).cast("bigint").alias("eval_id"),
                         "n_shingles", "n_overlap", "overlap_ratio",
                         "contaminated"))
    return exact.unionByName(fuzzy).unionByName(via_bloom)


_SQL_DECONTAMINATE = f"""
WITH norm AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id,
         [array_to_string(w[i:i+2], ' ')
          for i in generate_series(1, greatest(len(w) - 2, 1))] AS shingles
  FROM norm
), dsh AS (
  SELECT doc_id, list_distinct(shingles) AS ds
  FROM sh WHERE len(shingles) > 0
), posts AS (
  SELECT doc_id, unnest(ds) AS shingle FROM dsh
), ev AS (
  SELECT DISTINCT shingle FROM posts WHERE doc_id % 50 = 0
), tr AS (
  SELECT doc_id, shingle FROM posts WHERE doc_id % 50 <> 0
), exact AS (
  SELECT 'exact' AS method, tr.doc_id, CAST(NULL AS BIGINT) AS eval_id,
         count(*) AS n_shingles, count(ev.shingle) AS n_overlap,
         round(count(ev.shingle) / count(*), 6) AS overlap_ratio,
         count(ev.shingle) / count(*) >= 0.5 AS contaminated
  FROM tr LEFT JOIN ev ON tr.shingle = ev.shingle
  GROUP BY 2 HAVING count(ev.shingle) > 0
), sig AS (
  SELECT doc_id,
         [list_aggregate([md5(s || '#' || x) for x in shingles], 'min')
          for s in generate_series(1, 8)] AS sig
  FROM sh WHERE len(shingles) > 0
), banded AS (
  SELECT doc_id, band,
         md5(array_to_string(sig[band * 2 + 1 : band * 2 + 2], '|'))
           AS band_hash
  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band)
), cand AS (
  SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
  FROM (SELECT * FROM banded WHERE doc_id % 50 <> 0) t
  JOIN (SELECT * FROM banded WHERE doc_id % 50 = 0) e
    USING (band, band_hash)
), fuzzy AS (
  SELECT 'fuzzy' AS method, c.doc_id, c.eval_id,
         len(a.ds) AS n_shingles,
         len(list_intersect(a.ds, b.ds)) AS n_overlap,
         round(len(list_intersect(a.ds, b.ds)) * 1.0
               / (len(a.ds) + len(b.ds) - len(list_intersect(a.ds, b.ds))),
               6) AS overlap_ratio,
         true AS contaminated
  FROM cand c
  JOIN dsh a ON a.doc_id = c.doc_id
  JOIN dsh b ON b.doc_id = c.eval_id
  WHERE len(list_intersect(a.ds, b.ds)) * 1.0
        / (len(a.ds) + len(b.ds) - len(list_intersect(a.ds, b.ds))) >= 0.5
)
SELECT * FROM exact UNION ALL SELECT * FROM fuzzy
UNION ALL
-- the bloom leg's exact-confirm join removes every false positive, so
-- its rows are definitionally the exact leg's rows relabeled
SELECT 'bloom' AS method, doc_id, eval_id, n_shingles, n_overlap,
       overlap_ratio, contaminated
FROM exact
"""


def q_pack_training_chunks(spark, sf_dir):
    """Training-batch assembly family, THREE legs in one row (window
    stays at 50), schema ``(kind, chunk_id, n_docs, n_tokens,
    first_doc, last_doc)``:

    * ``kind='pack'`` — sequence packing: documents in doc_id order
      concatenated into 2048-token context windows (contiguous fill;
      chunk = where the doc STARTS). The global running token count
      uses the distributed prefix-sum operator (range repartition +
      partition-local window + driver-side offsets — never a
      single-partition global sort; see operators/packing.py). The
      oracle replays it with a plain global window, which is only
      viable at oracle scale.
    * ``kind='shard'`` — deterministic training shards
      (``operators/shards.py``): md5-bucket assignment to 8 shards with
      an md5 interleave order; first/last doc are the shard's ORDER
      boundaries (min_by/max_by on the interleave key), so the oracle
      pins membership AND the global-shuffle order.
    * ``kind='phase'`` — curriculum phases: 4 equal-rank cuts of the
      corpus ordered shortest-doc-first (score = BPE-ish token count,
      id tiebreak); global rank via the same distributed prefix sum.
      first/last doc are the phase's rank boundaries.
    * ``kind='chunk'`` — document chunking
      (``operators/chunking.py``: 32-token sliding windows, overlap 8
      — the doc-SPLITTING twin of packing's doc-CONCATENATION):
      per-window-index census (docs reaching window i, corpus-wide
      token mass of window i, id boundaries). Any off-by-one in the
      stride/window arithmetic moves a count."""
    from log2seq_spark.operators import chunking, packing, shards, textstats
    docs = _tp(spark, sf_dir, "documents")
    # three of the four legs (pack/shard/phase) consume the same per-doc
    # BPE-ish token count — persist the tiny (doc_id, n_tokens) frame so
    # the regexp token pass over the corpus runs once, not three times
    # (the _FEED_CACHE discipline; 2 narrow columns, #docs rows)
    toks = _feed(spark, ("pack_toks", sf_dir), lambda: docs.select(
        "doc_id",
        textstats.bpe_ish_token_count(F.col("text")).alias("n_tokens")))
    out = packing.chunk_summary(toks, "n_tokens", "doc_id", budget=2048)
    pack = out.select(
        F.lit("pack").alias("kind"), "chunk_id", "n_docs",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "first_doc", "last_doc")
    sh = shards.shard_census(toks, 8, token_col="n_tokens").select(
        F.lit("shard").alias("kind"),
        F.col("shard").cast("bigint").alias("chunk_id"),
        "n_docs", "n_tokens", "first_doc", "last_doc")
    ph = shards.phase_census(toks, "n_tokens", n_phases=4,
                             token_col="n_tokens").select(
        F.lit("phase").alias("kind"),
        F.col("phase").cast("bigint").alias("chunk_id"),
        "n_docs", "n_tokens", "first_doc", "last_doc")
    ch = chunking.chunk_census(docs, chunk_tokens=32, overlap=8).select(
        F.lit("chunk").alias("kind"),
        F.col("chunk_idx").cast("bigint").alias("chunk_id"),
        "n_docs", "n_tokens", "first_doc", "last_doc")
    return pack.unionByName(sh).unionByName(ph).unionByName(ch)


_SQL_PACK_CHUNKS = r"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+'))
           AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         cast(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cs
  FROM t
), sh AS (
  SELECT doc_id, n_tokens,
         md5('0#' || doc_id) AS ik,
         cast(('0x' || substr(md5('0#' || doc_id), 1, 8))::BIGINT % 8
              AS BIGINT) AS shard
  FROM t
), ranked AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (ORDER BY n_tokens, doc_id) AS rk,
         count(*) OVER () AS n
  FROM t
), cw AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
           AS n
  FROM documents
), cn AS (
  SELECT doc_id, n,
         CASE WHEN n <= 0 THEN 0
              WHEN n <= 32 THEN 1
              ELSE 1 + cast(ceil((n - 32) / 24.0) AS INT) END AS nc
  FROM cw
), cexp AS (
  SELECT doc_id, u.ci AS chunk_idx,
         least(n - u.ci * 24, 32) AS ctoks
  FROM (SELECT doc_id, n, unnest(list_transform(range(nc),
                                 i -> {'ci': i})) AS u
        FROM cn WHERE nc > 0)
)
SELECT 'pack' AS kind,
       cast(floor((cs - n_tokens) / 2048.0) AS BIGINT) AS chunk_id,
       count(*) AS n_docs,
       cast(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM c GROUP BY 2
UNION ALL
SELECT 'shard' AS kind, shard AS chunk_id, count(*) AS n_docs,
       cast(sum(n_tokens) AS BIGINT) AS n_tokens,
       min_by(doc_id, ik) AS first_doc, max_by(doc_id, ik) AS last_doc
FROM sh GROUP BY 2
UNION ALL
SELECT 'phase' AS kind,
       cast(floor((rk - 1) * 4 / n) AS BIGINT) AS chunk_id,
       count(*) AS n_docs,
       cast(sum(n_tokens) AS BIGINT) AS n_tokens,
       min_by(doc_id, rk) AS first_doc, max_by(doc_id, rk) AS last_doc
FROM ranked GROUP BY 2
UNION ALL
SELECT 'chunk' AS kind, cast(chunk_idx AS BIGINT) AS chunk_id,
       count(*) AS n_docs,
       cast(sum(ctoks) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM cexp GROUP BY 2
"""


def q_session_window_stats(spark, sf_dir):
    """Native session-window aggregation (``F.session_window``) — the
    same operator Structured Streaming uses for stateful sessionization,
    here on a batch frame: per user, dynamic windows that close after 30
    event-time minutes of silence. One shuffle on the grouping key; in
    streaming this becomes watermark-bounded state. Spark's merge rule is
    strict (a gap of exactly 30:00 starts a NEW session; window end =
    last event + gap), which the lag/cumsum oracle replays.

    Folded event-sequence legs (``operators/eventseq.py``):
    kind='funnel' — the ordered view → click → purchase conversion
    census (step i strictly after the key's EARLIEST completion of
    step i-1; per-step chained min-ts aggregates, never a per-key
    event list); kind='transition' — first-order event-type Markov
    transitions per user (one lead window + one #types²-key
    aggregate, exact counts + rounded probabilities). Oracles replay
    the chained min-ts joins and the lead window bit-for-bit."""
    from log2seq_spark.operators import eventseq
    ev = _t(spark, sf_dir, "events")
    sess = (ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
              .agg(F.count("*").alias("n_events"))
              .select("user_id",
                      F.col("session_window.start").alias("session_start"),
                      F.col("session_window.end").alias("session_end"),
                      "n_events"))
    nulls = lambda: (F.lit(None).cast("int").alias("step_idx"),
                     F.lit(None).cast("string").alias("from_type"),
                     F.lit(None).cast("string").alias("to_type"),
                     F.lit(None).cast("double").alias("ratio"))
    sess = sess.select(F.lit("session").alias("kind"), "user_id",
                       "session_start", "session_end", "n_events",
                       *nulls())
    fun = eventseq.funnel_conversions(
        ev, ["view", "click", "purchase"]).select(
        F.lit("funnel").alias("kind"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("timestamp").alias("session_start"),
        F.lit(None).cast("timestamp").alias("session_end"),
        F.col("n_converted").alias("n_events"),
        F.col("step_idx").cast("int").alias("step_idx"),
        F.lit(None).cast("string").alias("from_type"),
        F.col("step_type").alias("to_type"),
        F.col("rate").alias("ratio"))
    tr = eventseq.transition_matrix(ev).select(
        F.lit("transition").alias("kind"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("timestamp").alias("session_start"),
        F.lit(None).cast("timestamp").alias("session_end"),
        F.col("n").alias("n_events"),
        F.lit(None).cast("int").alias("step_idx"),
        "from_type", "to_type", F.col("p").alias("ratio"))
    return sess.unionByName(fun).unionByName(tr)


_SQL_SESSION_WINDOW = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800.0
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
),
-- funnel leg: chained earliest-completion min-ts aggregates
-- (replays operators/eventseq.py::funnel_conversions)
fs0 AS (SELECT user_id, min(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY user_id),
fs1 AS (SELECT e.user_id, min(e.ts) AS t
        FROM events e JOIN fs0 ON e.user_id = fs0.user_id
        WHERE e.event_type = 'click' AND e.ts > fs0.t GROUP BY e.user_id),
fs2 AS (SELECT e.user_id, min(e.ts) AS t
        FROM events e JOIN fs1 ON e.user_id = fs1.user_id
        WHERE e.event_type = 'purchase' AND e.ts > fs1.t
        GROUP BY e.user_id),
fcnt AS (
  SELECT 0 AS step_idx, 'view' AS st,
         (SELECT count(*) FROM fs0) AS n
  UNION ALL SELECT 1, 'click', (SELECT count(*) FROM fs1)
  UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM fs2)
), fr AS (
  SELECT step_idx, st, n,
         CASE WHEN lag(n) OVER (ORDER BY step_idx) IS NULL THEN 1.0
              WHEN lag(n) OVER (ORDER BY step_idx) = 0 THEN 0.0
              ELSE round(cast(n AS DOUBLE)
                         / cast(lag(n) OVER (ORDER BY step_idx)
                                AS DOUBLE), 6) END AS rate
  FROM fcnt
),
-- transition leg: lead window + (from, to) counts
-- (replays operators/eventseq.py::transition_matrix)
tp AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
), tc AS (
  SELECT from_type, to_type, cast(count(*) AS BIGINT) AS n
  FROM tp WHERE to_type IS NOT NULL GROUP BY from_type, to_type
)
SELECT 'session' AS kind, user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       CAST(NULL AS INTEGER) AS step_idx,
       CAST(NULL AS VARCHAR) AS from_type,
       CAST(NULL AS VARCHAR) AS to_type,
       CAST(NULL AS DOUBLE) AS ratio
FROM sess GROUP BY user_id, sid
UNION ALL
SELECT 'funnel', CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS TIMESTAMP), cast(n AS BIGINT), step_idx,
       CAST(NULL AS VARCHAR), st, rate
FROM fr
UNION ALL
SELECT 'transition', CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS TIMESTAMP), n, CAST(NULL AS INTEGER),
       from_type, to_type,
       round(cast(n AS DOUBLE)
             / cast(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
FROM tc
"""


def q_daily_event_spine(spark, sf_dir):
    """Gap-filled daily activity: a generated date spine (``sequence`` +
    explode over the min..max bounds — one 1-row aggregate, no driver
    round-trip) left-joined to per-day aggregates so empty days appear
    as zero. The per-day side packs count(*) plus two exact
    count(DISTINCT) columns into ONE aggregate — Spark's single-pass
    ``expand`` plan, one shuffle, no join of sub-aggregates (folds the
    former ``daily_distinct_users`` query so the multi-distinct
    operator stays inside the driver's 50-query window). The spine side
    is broadcast-sized by construction at any data scale.

    Folded second leg (kind='hourly_fill'):
    ``operators/gapfill.py::fill_gaps`` — counts zero-fill (the daily
    leg) but LEVEL metrics gap-fill to a carried or interpolated
    value, so this leg densifies the per-(event_type, hour) exact
    value sum onto each type's own hourly spine and fills holes by
    LOCF + linear interpolation (at sf0.01 ~6% of hours per type are
    empty; at sf0.001 most are — both oracle scales exercise real
    fills). The DuckDB replay regenerates the per-key spine and both
    window fills (IGNORE NULLS frames) and re-derives the same
    fixed-order interpolation arithmetic, so every filled value is
    hash-checked."""
    from log2seq_spark.operators import gapfill
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id", "event_type")
    bounds = ev.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d"))
    counts = ev.groupBy("d").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("nu"),
        F.countDistinct("event_type").alias("nt"))
    daily = (spine.join(counts, "d", "left")
                  .select("d", F.coalesce("n", F.lit(0)).alias("n_events"),
                          F.coalesce("nu", F.lit(0)).alias("n_users"),
                          F.coalesce("nt", F.lit(0)).alias("n_types")))
    daily = daily.select(
        F.lit("daily").alias("kind"), F.lit(None).cast("string")
         .alias("event_type"), F.col("d").cast("timestamp").alias("ts"),
        "n_events", "n_users", "n_types",
        *(F.lit(None).cast("double").alias(c)
          for c in ("v_obs", "v_locf", "v_interp")),
        F.lit(None).cast("boolean").alias("filled"))
    # hourly exact-decimal value sums per type, then densify + fill
    evh = _t(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h"),
        F.col("value").cast("decimal(18,2)").alias("v"))
    buckets = (evh.groupBy("event_type", "h")
                  .agg(F.sum("v").cast("double").alias("v")))
    filled = gapfill.fill_gaps(buckets, key_col="event_type", ts_col="h",
                               value_col="v", step="1 hour")
    hourly = filled.select(
        F.lit("hourly_fill").alias("kind"), "event_type",
        F.col("h").alias("ts"),
        *(F.lit(None).cast("bigint").alias(c)
          for c in ("n_events", "n_users", "n_types")),
        F.col("v").alias("v_obs"),
        F.col("value_locf").alias("v_locf"),
        F.round("value_interp", 6).alias("v_interp"),
        "filled")
    return daily.unionByName(hourly)


_SQL_DAILY_SPINE = """
WITH b AS (SELECT min(ts::DATE) AS lo, max(ts::DATE) AS hi FROM events),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM b
), c AS (
  SELECT ts::DATE AS d, count(*) AS n, count(DISTINCT user_id) AS nu,
         count(DISTINCT event_type) AS nt
  FROM events GROUP BY 1
),
-- hourly_fill leg: per-type hourly exact sums densified onto each
-- type's own spine, LOCF + linear interpolation (replays
-- operators/gapfill.py::fill_gaps expression-for-expression)
hb AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         cast(sum(cast(value AS decimal(18,2))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), hbounds AS (
  SELECT event_type, min(h) AS lo, max(h) AS hi FROM hb GROUP BY 1
), hspine AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
  FROM hbounds
), hj AS (
  SELECT s.event_type, s.h, hb.v
  FROM hspine s LEFT JOIN hb USING (event_type, h)
), hw AS (
  SELECT event_type, h, v,
         last_value(v IGNORE NULLS) OVER w_prev AS locf,
         last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
           OVER w_prev AS pts,
         first_value(v IGNORE NULLS) OVER w_next AS nxt,
         first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
           OVER w_next AS nts
  FROM hj
  WINDOW
    w_prev AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT 'daily' AS kind, CAST(NULL AS VARCHAR) AS event_type,
       spine.d::TIMESTAMP AS ts,
       coalesce(c.n, 0::BIGINT) AS n_events,
       coalesce(c.nu, 0::BIGINT) AS n_users,
       coalesce(c.nt, 0::BIGINT) AS n_types,
       CAST(NULL AS DOUBLE) AS v_obs, CAST(NULL AS DOUBLE) AS v_locf,
       CAST(NULL AS DOUBLE) AS v_interp, CAST(NULL AS BOOLEAN) AS filled
FROM spine LEFT JOIN c USING (d)
UNION ALL
SELECT 'hourly_fill' AS kind, event_type, h AS ts,
       CAST(NULL AS BIGINT) AS n_events, CAST(NULL AS BIGINT) AS n_users,
       CAST(NULL AS BIGINT) AS n_types,
       v AS v_obs, locf AS v_locf,
       round(CASE WHEN v IS NOT NULL THEN v
                  WHEN locf IS NULL THEN nxt
                  WHEN nxt IS NULL THEN locf
                  ELSE locf + (nxt - locf)
                       * (cast(epoch(h) - epoch(pts) AS DOUBLE)
                          / cast(epoch(nts) - epoch(pts) AS DOUBLE))
             END, 6) AS v_interp,
       v IS NULL AS filled
FROM hw
"""


def q_logtext_archive_scan(spark, sf_dir):
    """The distributed raw-log DataSource under the correctness gate: a
    deterministic 3-member tar.gz archive (built once per run, content a
    pure function of indices) is read through
    ``spark.read.format("logtext")`` — one executor-side input partition
    per member — and every (member, line_no, text) row must match the
    oracle's closed-form reconstruction. Exercises the real source path:
    tar member listing at planning, per-member decompress+decode on
    executors, 1-based line numbering.

    ``kind='record'`` rows add the multiline assembly operator
    (:func:`log2seq_spark.operators.multiline.assemble_multiline` — the
    Logstash-multiline-codec shape): the archive's fourth member is a
    stack-trace-style log whose 12 five-line records must come back
    joined in line order with exact start positions and counts; the
    oracle replays the assembly independently with a window running-sum
    + ordered string_agg."""
    import io
    import os
    import tarfile
    from log2seq_spark.operators.multiline import assemble_multiline
    from log2seq_spark.sources import logfiles
    base = "/tmp/log2seq_spark_logtext"
    arch = os.path.join(base, "fixture_v2.tar.gz")
    if not os.path.exists(arch):
        os.makedirs(base, exist_ok=True)
        tmp = arch + ".tmp"
        with tarfile.open(tmp, "w:gz") as tar:
            def _add(name, body):
                info = tarfile.TarInfo(name)
                info.size = len(body)
                tar.addfile(info, io.BytesIO(body))
            for m in range(3):
                _add(f"logs/part{m}.log",
                     "".join(f"member {m} line {i} checksum {(m * 1000 + i) % 97}\n"
                             for i in range(1, 51)).encode())
            _add("logs/app.log",
                 "".join((f"2024-01-01 00:00:00 ERROR job {i} failed\n"
                          if i % 5 == 1 else
                          f"    at com.example.Frame{i}(App.java:{i})\n")
                         for i in range(1, 61)).encode())
        os.replace(tmp, arch)
    logfiles.register(spark)
    df = spark.read.format("logtext").option("path", arch).load()
    lines = df.select(F.lit("line").alias("kind"), "member", "line_no",
                      F.lit(1).cast("bigint").alias("n_lines"), "text")
    recs = (assemble_multiline(df.filter(F.col("member") == "logs/app.log"),
                               r"^\d{4}-")
            .select(F.lit("record").alias("kind"), "member", "line_no",
                    "n_lines", "text"))
    return lines.unionByName(recs)


_SQL_LOGTEXT_SCAN = """
WITH base AS (
  SELECT 'logs/part' || m || '.log' AS member,
         CAST(i AS BIGINT) AS line_no,
         'member ' || m || ' line ' || i || ' checksum ' || (m * 1000 + i) % 97
           AS text
  FROM (SELECT unnest(generate_series(0, 2)) AS m),
       (SELECT unnest(generate_series(1, 50)) AS i)
),
app AS (
  SELECT 'logs/app.log' AS member, CAST(i AS BIGINT) AS line_no,
         CASE WHEN i % 5 = 1
              THEN '2024-01-01 00:00:00 ERROR job ' || i || ' failed'
              ELSE '    at com.example.Frame' || i || '(App.java:' || i || ')'
         END AS text
  FROM (SELECT unnest(generate_series(1, 60)) AS i)
),
lines AS (SELECT * FROM base UNION ALL SELECT * FROM app),
marked AS (
  SELECT member, line_no, text,
         sum(CASE WHEN regexp_matches(text, '^\\d{4}-') THEN 1 ELSE 0 END)
           OVER (PARTITION BY member ORDER BY line_no) AS rid
  FROM app
),
recs AS (
  SELECT member, min(line_no) AS line_no,
         CAST(count(*) AS BIGINT) AS n_lines,
         string_agg(text, chr(10) ORDER BY line_no) AS text
  FROM marked GROUP BY member, rid
)
SELECT 'line' AS kind, member, line_no, CAST(1 AS BIGINT) AS n_lines, text
FROM lines
UNION ALL
SELECT 'record' AS kind, member, line_no, n_lines, text FROM recs
"""


# ---------------------------------------------------------------------------
# multimodal binary columns (Arrow-batched mapInPandas, oracle-replayable)
# ---------------------------------------------------------------------------

def q_multimodal_features(spark, sf_dir):
    """Binary-payload feature extraction through the real multimodal
    plumbing: a deterministic media table (binary payload derived from
    the id), ``mapInPandas`` Arrow-batched decode (``decode='fake'`` —
    md5-seeded features), and a typed feature schema. Because the fake
    decoder is pure md5 arithmetic, a DuckDB oracle replays every output
    bit: content hash, byte count, the first four feature lattice bytes
    (recovered exactly from the float32 features via round(f*255)), and
    the derived width/height. This upgrades the multimodal operator from
    plumbing-only tests to a full correctness-gated query; the
    ``decode='real'`` PIL/wave paths share this exact batch shape."""
    from log2seq_spark.operators import multimodal
    media = multimodal.synthetic_media(spark, n=256)
    feats = multimodal.extract_features(media, decode="fake")
    fbyte = lambda i: (F.round(F.element_at("feature", i) * 255)
                       .cast("bigint").alias(f"f{i-1}"))
    return feats.select("media_id", "media_type", "n_bytes", "content_hash",
                        fbyte(1), fbyte(2), fbyte(3), fbyte(4),
                        "width", "height")


_SQL_MULTIMODAL = """
WITH m AS (
  SELECT id AS media_id,
         (['image','audio','video'])[(id % 3) + 1] AS media_type,
         'payload-' || id || repeat('x', (id % 100) * 17) AS payload
  FROM (SELECT unnest(generate_series(0, 255)) AS id)
)
SELECT media_id, media_type,
       length(payload) AS n_bytes,
       md5(payload) AS content_hash,
       ('0x' || substr(md5(payload), 1, 2))::INT::BIGINT AS f0,
       ('0x' || substr(md5(payload), 3, 2))::INT::BIGINT AS f1,
       ('0x' || substr(md5(payload), 5, 2))::INT::BIGINT AS f2,
       ('0x' || substr(md5(payload), 7, 2))::INT::BIGINT AS f3,
       16 + ('0x' || substr(md5(payload), 1, 2))::INT % 240 AS width,
       16 + ('0x' || substr(md5(payload), 3, 2))::INT % 240 AS height
FROM m
"""


def q_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing: explode every 30th frame index from
    per-row metadata WITHOUT touching payloads (column pruning keeps the
    binary column unread — the decode of selected frames is a separate
    join back). Deterministic n_frames per video row makes the explode
    fully oracle-replayable."""
    from log2seq_spark.operators import multimodal
    video = (multimodal.synthetic_media(spark, n=256)
             .filter(F.col("media_type") == "video")
             .withColumn("n_frames",
                         ((F.pmod("media_id", F.lit(10)) + 1) * 30)
                         .cast("int")))
    return multimodal.frame_sample_plan(video, every_n=30)


_SQL_FRAME_SAMPLE = """
WITH v AS (
  SELECT id AS media_id, ((id % 10) + 1) * 30 AS n_frames
  FROM (SELECT unnest(generate_series(0, 255)) AS id)
  WHERE (['image','audio','video'])[(id % 3) + 1] = 'video'
)
SELECT media_id,
       cast(unnest(generate_series(0, n_frames - 1, 30)) AS INT) AS frame_idx
FROM v
"""


# ---------------------------------------------------------------------------
# dedup / similarity / text analysis (training-data operators)
# ---------------------------------------------------------------------------

def q_asof_latest_purchase(spark, sf_dir):
    """As-of enrichment: each view event gets the latest prior purchase
    (value + timestamp) of the same user — one shuffle + window carry,
    never a range join (operators/asof.py). Right side pre-aggregated
    to unique (user_id, ts) for deterministic ties."""
    ev = _tp(spark, sf_dir, "events")
    views = (ev.filter(F.col("event_type") == "view")
               .select("event_id", "user_id", "ts"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .groupBy("user_id", "ts")
                   .agg(F.max("value").alias("pvalue")))
    out = asof.asof_join(views, purchases, ["user_id"],
                         payload_cols=["pvalue"])
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts"),
        F.col("pvalue_asof").alias("last_purchase_value"),
        F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss.SSSSSS")
         .alias("last_purchase_ts"))


# DuckDB has native ASOF JOIN with exactly our inclusive (>=) semantics
_SQL_ASOF = """
WITH r AS (
  SELECT user_id, ts, max(value) AS pvalue
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
)
SELECT l.event_id, l.user_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
       r.pvalue AS last_purchase_value,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_purchase_ts
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_range_join_windows(spark, sf_dir):
    """Interval containment at equi-join cost: every purchase opens a
    30-minute window; count/sum the user's events inside it. Granule
    bucketing (operators/rangejoin.py) turns the non-equi predicate into
    an equi-join on (user_id, time-granule) + exact post-filter — the
    theta-join a naive plan would run is quadratic at scale."""
    from log2seq_spark.operators.rangejoin import range_join
    ev = _tp(spark, sf_dir, "events")
    wins = (ev.filter(F.col("event_type") == "purchase")
              .select(F.col("event_id").alias("window_id"), "user_id",
                      F.col("ts").alias("w_start"),
                      (F.col("ts") + F.expr("INTERVAL 30 MINUTES"))
                      .alias("w_end")))
    facts = ev.select("user_id", "ts", "value")
    j = range_join(facts, wins, on=["user_id"], fact_ts="ts",
                   win_start="w_start", win_end="w_end",
                   granule_sec=1800)
    # decimal-exact sum (the q_event_stats discipline): double addition
    # is order-dependent, and Spark's partition order differs from
    # DuckDB's scan order — summing the 2-decimal values as
    # decimal(18,2) makes the total integer-exact in both engines
    return (j.groupBy("window_id")
             .agg(F.count("*").alias("n_events"),
                  F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                           .cast("double"), 6).alias("sum_value")))


_SQL_RANGE_JOIN = """
WITH w AS (
  SELECT event_id AS window_id, user_id, ts AS w_start,
         ts + INTERVAL 30 MINUTE AS w_end
  FROM events WHERE event_type = 'purchase'
)
SELECT w.window_id, count(*) AS n_events,
       round(CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 6)
         AS sum_value
FROM w JOIN events e
  ON e.user_id = w.user_id AND e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY w.window_id
"""


def q_pivot_event_values(spark, sf_dir):
    """Reshape: per-user event-type value matrix. The pivot value list
    is EXPLICIT, which skips Spark's extra distinct-scan planning pass —
    at 100 TB that pass is a full shuffle you pay before the real one."""
    ev = _tp(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    # decimal-exact per-cell sums — same determinism rationale as the
    # range-join leg above
    out = (ev.groupBy("user_id")
             .pivot("event_type", kinds)
             .agg(F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                           .cast("double"), 6)))
    return out.select("user_id",
                      *[F.col(k).alias(f"v_{k}") for k in kinds])


_SQL_PIVOT = """
SELECT user_id,
       round(CAST(sum(CAST(value AS DECIMAL(18,2)))
                  FILTER (event_type = 'click') AS DOUBLE), 6)
         AS v_click,
       round(CAST(sum(CAST(value AS DECIMAL(18,2)))
                  FILTER (event_type = 'error') AS DOUBLE), 6)
         AS v_error,
       round(CAST(sum(CAST(value AS DECIMAL(18,2)))
                  FILTER (event_type = 'purchase') AS DOUBLE), 6)
         AS v_purchase,
       round(CAST(sum(CAST(value AS DECIMAL(18,2)))
                  FILTER (event_type = 'signup') AS DOUBLE), 6)
         AS v_signup,
       round(CAST(sum(CAST(value AS DECIMAL(18,2)))
                  FILTER (event_type = 'view') AS DOUBLE), 6)
         AS v_view
FROM events GROUP BY user_id
"""


def q_value_quantiles(spark, sf_dir):
    """Exact interpolated quantiles per event type (Spark `percentile`
    ≡ ANSI percentile_cont). Exact quantiles need the full value
    multiset per group — fine for bounded group counts; switch to
    approx_percentile (t-digest, mergeable map-side) when groups or
    values stop fitting.

    Folded kind='hist' leg: fixed-width value histograms per type
    (bucket = floor(value/50), capped at 11 — the dashboard histogram
    shape; one map-side-combinable aggregate whose key space is
    #types × #buckets). Integer boundary math on 2-decimal inputs is
    engine-exact, so every bucket count hash-checks."""
    ev = _tp(spark, sf_dir, "events")
    q = (ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("p75"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"))
        .select(F.lit("q").alias("kind"), "event_type",
                "p25", "p50", "p75", "p90",
                F.lit(None).cast("long").alias("bucket"),
                F.lit(None).cast("long").alias("n")))
    bucket = F.least(F.floor(F.col("value") / F.lit(50.0)), F.lit(11)) \
              .cast("long")
    hist = (ev.groupBy("event_type", bucket.alias("bucket"))
              .agg(F.count("*").cast("long").alias("n"))
              .select(F.lit("hist").alias("kind"), "event_type",
                      *(F.lit(None).cast("double").alias(c)
                        for c in ("p25", "p50", "p75", "p90")),
                      "bucket", "n"))
    return q.unionByName(hist)


_SQL_QUANTILES = """
SELECT 'q' AS kind, event_type,
       round(percentile_cont(0.25) WITHIN GROUP (ORDER BY value), 6) AS p25,
       round(percentile_cont(0.5)  WITHIN GROUP (ORDER BY value), 6) AS p50,
       round(percentile_cont(0.75) WITHIN GROUP (ORDER BY value), 6) AS p75,
       round(percentile_cont(0.9)  WITHIN GROUP (ORDER BY value), 6) AS p90,
       CAST(NULL AS BIGINT) AS bucket, CAST(NULL AS BIGINT) AS n
FROM events GROUP BY event_type
UNION ALL
SELECT 'hist', event_type, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       least(cast(floor(value / 50.0) AS BIGINT), 11) AS bucket,
       cast(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type, bucket
"""


def q_template_mining(spark, sf_dir):
    """Distributed log-template mining (Drain-style grouping, exact
    position-profile wildcard inference — ``operators/templates.py``;
    the downstream capability the reference preprocesses for, see
    reference README.rst "a preprocessing tool ... for template
    mining"). Deterministic message lines are synthesized from events
    (type-keyed, with worker-id and step-counter variable positions);
    the miner must discover the variable positions as ``<*>`` and
    collapse each event type onto one template, with 'error' lines
    getting a longer token count (their own Drain group)."""
    ev = _tp(spark, sf_dir, "events")
    base = F.concat(
        F.col("event_type"), F.lit(" worker "),
        F.pmod("user_id", F.lit(8)).cast("string"),
        F.lit(" finished step "),
        F.pmod("event_id", F.lit(13)).cast("string"), F.lit(" ok"))
    line = F.when(F.col("event_type") == "error",
                  F.concat(base, F.lit(" retrying"))).otherwise(base)
    lines = ev.select(line.alias("text"))
    out = templates.mine_templates(lines, "text", dedup_lines=True)
    raw = out.select(F.lit("text").alias("source"),
                     "template", "n_lines", "n_groups")
    # second tokenization path in the SAME driver row (keeps the
    # CORRECTNESS window at 50): mining over the pipeline's parsed word
    # arrays — the amulog hand-off (see q_template_mining_words)
    words = q_template_mining_words(spark, sf_dir).select(
        F.lit("words").alias("source"), "template", "n_lines", "n_groups")
    # third leg, same row: two-period template DRIFT
    # (operators/anomaly.py::template_drift — "what changed between
    # yesterday's logs and today's"). source carries the verdict
    # ('drift:surge' etc.); for drift rows n_lines = period-A line
    # count, n_groups = period-B line count (both bigint).
    drift = q_template_drift(spark, sf_dir).select(
        F.concat(F.lit("drift:"), F.col("status")).alias("source"),
        "template", F.col("n_a").alias("n_lines"),
        F.col("n_b").alias("n_groups"))
    # fourth leg, same row: per-line template ASSIGNMENT + rarity
    # (operators/anomaly.py::assign_templates / rare_template_lines —
    # "which lines match no common pattern"). source carries the rarity
    # verdict; non-rare rows keep their template with n_groups =
    # max(template_lines) (checks the rode-along count against the
    # group-by count), the rare rows collapse to one '<rare>' row whose
    # n_groups counts DISTINCT rare templates (checks the per-line
    # assignment join, including null-template zero-token lines).
    rare = q_rare_template_assign(spark, sf_dir)
    # fifth leg, same row: event-rate BURST windows
    # (operators/anomaly.py::burst_windows) over a deterministically
    # spiky subset of events — keyed daily counts vs a 3-day trailing
    # baseline; source encodes (key, base_windows, is_burst), template
    # carries the epoch window_start, n_lines/n_groups carry n/base_n.
    bursts = q_burst_windows(spark, sf_dir).select(
        F.concat(F.lit("burst:"), F.col("event_type"), F.lit(":"),
                 F.col("base_windows").cast("string"), F.lit(":"),
                 F.col("is_burst").cast("string")).alias("source"),
        F.col("window_start").cast("string").alias("template"),
        F.col("n").alias("n_lines"),
        F.col("base_n").alias("n_groups"))
    return (raw.unionByName(words).unionByName(drift)
               .unionByName(rare).unionByName(bursts))


# shared mining body: replay of operators/templates.py over any
# lines(text) CTE — whitespace split with empties dropped (matches
# templates.line_tokens_expr), numeric-head wildcard routing, exact
# position profile, template string-agg by position.
def _sql_template_mine(lines_cte: str) -> str:
    return f"""
WITH lines AS (
{lines_cte}
), keyed AS (
  SELECT list_filter(regexp_split_to_array(text, '\\s+'),
                     t -> t <> '') AS w
  FROM lines
), headed AS (
  SELECT w, CASE WHEN regexp_full_match(w[1], '[0-9]+')
                 THEN '<*>' ELSE w[1] END AS head
  FROM keyed
), pos AS (
  SELECT len(w) AS n_tok, head, u.p.pos AS pos, u.p.tok AS tok
  FROM headed, unnest(list_transform(range(1, len(w) + 1),
                      i -> {{'pos': i, 'tok': w[i]}})) AS u(p)
), profile AS (
  SELECT n_tok, head, pos, min(tok) AS mn, max(tok) AS mx,
         count(*) AS nl
  FROM pos GROUP BY 1, 2, 3
), tmpl AS (
  SELECT n_tok, head,
         string_agg(CASE WHEN mn <> mx THEN '<*>' ELSE mn END, ' '
                    ORDER BY pos) AS template,
         max(nl) AS n_lines
  FROM profile GROUP BY 1, 2
)
SELECT template, cast(sum(n_lines) AS BIGINT) AS n_lines,
       count(*) AS n_groups
FROM tmpl
GROUP BY template
"""


_SQL_TEMPLATES = _sql_template_mine("""
  SELECT event_type || ' worker ' || (user_id % 8)
         || ' finished step ' || (event_id % 13) || ' ok'
         || CASE WHEN event_type = 'error' THEN ' retrying' ELSE '' END
         AS text
  FROM events
""")


def q_template_mining_words(spark, sf_dir):
    """Template mining over the pipeline's parsed ``words`` — the actual
    amulog hand-off (reference README.rst: log2seq is the preprocessing
    stage whose word sequences feed template mining). Lines are the same
    deterministic syslog-shaped text as ``parse_syslog_extract``; the
    full header+statement cascade runs first, and the miner consumes the
    resulting token arrays directly (``tokens_col=``), no re-splitting.
    """
    parsed = _parsed_preset_feed(spark, sf_dir)
    words = parsed.select(F.col("parsed.words").alias("words"))
    out = templates.mine_templates(words, tokens_col="words",
                                   dedup_lines=True)
    return out.select("template", "n_lines", "n_groups")


# oracle replays the parsed word sequence analytically (same identity
# the parse_syslog_extract oracle uses for words_joined), then mines it
_SQL_TEMPLATES_WORDS = _sql_template_mine("""
  SELECT event_type || ' ' || event_id || ' INFO checkpoint '
         || (event_id % 97) || ' written' AS text
  FROM events
""")

def _drift_line_expr(corpus: str):
    """Deterministic two-period log synthesis for the drift leg: slot =
    event_id % 20 allocates each event to a message family, with period
    A and period B allocating the slots differently so every drift
    verdict appears with a wide margin (heartbeat 80%→5% = drop, ping
    5%→80% = surge, disk only in A = vanished, oom only in B = new,
    status 10%→10% = stable)."""
    slot = F.pmod("event_id", F.lit(20))
    n = F.pmod("event_id", F.lit(13)).cast("string")
    heartbeat = F.concat(F.lit("heartbeat seq "), n, F.lit(" ok"))
    ping = F.concat(F.lit("ping from host "), n)
    disk = F.concat(F.lit("disk failure on node "), n)
    oom = F.concat(F.lit("oom killed pid "), n)
    status = F.lit("status all good ok")
    if corpus == "a":
        return (F.when(slot <= 15, heartbeat)
                 .when(slot == 16, disk)
                 .when(slot == 17, ping)
                 .otherwise(status))
    return (F.when(slot == 0, heartbeat)
             .when(((slot >= 1) & (slot <= 15)) | (slot == 17), ping)
             .when(slot == 16, oom)
             .otherwise(status))


def q_template_drift(spark, sf_dir):
    """Two-period template drift (``operators/anomaly.py::
    template_drift``): mine templates over period A and period B of the
    synthesized log and label each template new / vanished / surge /
    drop / stable by comparing per-corpus SHARES via exact bigint
    cross-multiplication (no float shares — the verdict is
    ANSI-replayable bit-for-bit)."""
    ev = _tp(spark, sf_dir, "events")
    a = ev.select(_drift_line_expr("a").alias("text"))
    b = ev.select(_drift_line_expr("b").alias("text"))
    return anomaly.template_drift(a, b, factor=4, dedup_lines=True)


def _sql_drift_lines(corpus: str) -> str:
    body = {
        "a": """CASE WHEN event_id % 20 <= 15
                 THEN 'heartbeat seq ' || (event_id % 13) || ' ok'
             WHEN event_id % 20 = 16
                 THEN 'disk failure on node ' || (event_id % 13)
             WHEN event_id % 20 = 17
                 THEN 'ping from host ' || (event_id % 13)
             ELSE 'status all good ok' END""",
        "b": """CASE WHEN event_id % 20 = 0
                 THEN 'heartbeat seq ' || (event_id % 13) || ' ok'
             WHEN (event_id % 20 BETWEEN 1 AND 15) OR event_id % 20 = 17
                 THEN 'ping from host ' || (event_id % 13)
             WHEN event_id % 20 = 16
                 THEN 'oom killed pid ' || (event_id % 13)
             ELSE 'status all good ok' END""",
    }[corpus]
    return f"  SELECT {body} AS text\n  FROM events"


# replay of anomaly.template_drift: mine both periods with the shared
# mining body, full-outer join on template, exact bigint
# cross-multiplied share compare (factor 4)
_SQL_TEMPLATE_DRIFT = f"""
WITH ta AS (SELECT template, n_lines FROM
            ({_sql_template_mine(_sql_drift_lines("a"))})),
     tb AS (SELECT template, n_lines FROM
            ({_sql_template_mine(_sql_drift_lines("b"))})),
     j AS (
  SELECT coalesce(ta.template, tb.template) AS template,
         cast(coalesce(ta.n_lines, 0) AS BIGINT) AS n_a,
         cast(coalesce(tb.n_lines, 0) AS BIGINT) AS n_b
  FROM ta FULL OUTER JOIN tb ON ta.template = tb.template
), tot AS (
  SELECT n_a, n_b, template,
         sum(n_a) OVER () AS tot_a, sum(n_b) OVER () AS tot_b
  FROM j
)
SELECT template, n_a, n_b,
       CASE WHEN n_a = 0 THEN 'new'
            WHEN n_b = 0 THEN 'vanished'
            WHEN n_b * tot_a > 4 * n_a * tot_b THEN 'surge'
            WHEN n_a * tot_b > 4 * n_b * tot_a THEN 'drop'
            ELSE 'stable' END AS status
FROM tot
"""


def q_rare_template_assign(spark, sf_dir):
    """Per-line template assignment + rarity flagging
    (``operators/anomaly.py::assign_templates`` /
    ``rare_template_lines``). The synthesized corpus has two common
    families (``login ok user <n%13>`` 47/50 of lines, ``logout user
    <n%13>`` 1/50), a zero-token family (empty text, 1/50 — exercises
    the null-template rare-by-definition path), and a singleton family
    (``corrupt<event_id> sector bad``, 1/50 — unique head token per
    line, so every line is its own Drain group and its template covers
    exactly one line). Aggregated to one row per (rarity, template):
    non-rare rows verify template_lines == the group-by line count,
    the single '<rare>' row verifies the count of distinct rare
    templates reached per line."""
    ev = _tp(spark, sf_dir, "events")
    slot = F.pmod("event_id", F.lit(50))
    n13 = F.pmod("event_id", F.lit(13)).cast("string")
    text = (F.when(slot <= 46, F.concat(F.lit("login ok user "), n13))
             .when(slot == 47, F.concat(F.lit("logout user "), n13))
             .when(slot == 48, F.lit(""))
             .otherwise(F.concat(F.lit("corrupt"),
                                 F.col("event_id").cast("string"),
                                 F.lit(" sector bad"))))
    lines = ev.select(text.alias("text"))
    out = anomaly.rare_template_lines(
        lines, "text", max_lines=1,
        profile=templates.position_profiles(lines, "text",
                                            dedup_lines=True))
    templ_key = (F.when(F.col("is_rare"), F.lit("<rare>"))
                  .otherwise(F.col("template")))
    src = F.concat(F.lit("rare:"), F.col("is_rare").cast("string"))
    n_groups = (F.when(F.max(F.col("is_rare").cast("int")) == 1,
                       F.count_distinct(F.coalesce("template", F.lit(""))))
                 .otherwise(F.max("template_lines"))).cast("bigint")
    return (out.groupBy(src.alias("source"), templ_key.alias("template"))
               .agg(F.count("*").cast("bigint").alias("n_lines"),
                    n_groups.alias("n_groups")))


_SQL_RARE_LINES = """
  SELECT CASE
           WHEN event_id % 50 <= 46
             THEN 'login ok user ' || (event_id % 13)
           WHEN event_id % 50 = 47
             THEN 'logout user ' || (event_id % 13)
           WHEN event_id % 50 = 48 THEN ''
           ELSE 'corrupt' || event_id || ' sector bad'
         END AS text
  FROM events
"""

# replay of anomaly.assign_templates + rare_template_lines: mine with
# the shared body kept at GROUP granularity, attach template-level line
# counts, left-join every line back onto its (token-count, head) group
# (null head / zero-token lines miss -> rare by definition), aggregate
# per (rarity, template).
_SQL_RARE_ASSIGN = f"""
WITH lines AS (
{_SQL_RARE_LINES}
), keyed AS (
  SELECT list_filter(regexp_split_to_array(text, '\\s+'),
                     t -> t <> '') AS w
  FROM lines
), headed AS (
  SELECT len(w) AS n_tok,
         CASE WHEN regexp_full_match(w[1], '[0-9]+')
              THEN '<*>' ELSE w[1] END AS head,
         w
  FROM keyed
), pos AS (
  SELECT n_tok, head, u.p.pos AS pos, u.p.tok AS tok
  FROM headed, unnest(list_transform(range(1, n_tok + 1),
                      i -> {{'pos': i, 'tok': w[i]}})) AS u(p)
), profile AS (
  SELECT n_tok, head, pos, min(tok) AS mn, max(tok) AS mx,
         count(*) AS nl
  FROM pos GROUP BY 1, 2, 3
), tmpl AS (
  SELECT n_tok, head,
         string_agg(CASE WHEN mn <> mx THEN '<*>' ELSE mn END, ' '
                    ORDER BY pos) AS template,
         max(nl) AS n_lines
  FROM profile GROUP BY 1, 2
), tlines AS (
  SELECT template, cast(sum(n_lines) AS BIGINT) AS template_lines
  FROM tmpl GROUP BY 1
), gmap AS (
  SELECT t.n_tok, t.head, t.template, tl.template_lines
  FROM tmpl t JOIN tlines tl USING (template)
), assigned AS (
  SELECT g.template, g.template_lines,
         (g.template_lines IS NULL OR g.template_lines <= 1) AS is_rare
  FROM headed h
  LEFT JOIN gmap g ON h.n_tok = g.n_tok AND h.head = g.head
)
SELECT 'rare:' || cast(is_rare AS VARCHAR) AS source,
       CASE WHEN is_rare THEN '<rare>' ELSE template END AS template,
       cast(count(*) AS BIGINT) AS n_lines,
       cast(CASE WHEN max(cast(is_rare AS INT)) = 1
                 THEN count(DISTINCT coalesce(template, ''))
                 ELSE max(template_lines) END AS BIGINT) AS n_groups
FROM assigned
GROUP BY 1, 2
"""


def q_burst_windows(spark, sf_dir):
    """Event-rate burst detection (``operators/anomaly.py::
    burst_windows``): the events table is deterministically thinned to
    1-in-5 except on days divisible by 7 (full traffic -> a 5x daily
    spike every week), then daily per-event-type counts are flagged
    against a 3-day trailing baseline with exact bigint
    cross-multiplication (``n * base_windows > 2 * base_n``) — the
    spike days must come back ``is_burst`` and the days after (baseline
    now polluted by the spike) must not."""
    ev = _t(spark, sf_dir, "events")
    spiky = ev.filter((F.dayofmonth("ts") % 7 == 0)
                      | (F.col("event_id") % 5 == 0))
    return anomaly.burst_windows(spiky, "ts", key_col="event_type",
                                 window="1 day", trailing=3, mult=2)


# replay of anomaly.burst_windows: epoch-aligned daily buckets (Spark's
# F.window('1 day') aligns tumbling windows to the epoch in the UTC
# session timezone = floor(epoch/86400)), RANGE frame over epoch
# seconds so zero-event gap days shrink base_windows instead of
# stretching the baseline.
_SQL_BURSTS = """
WITH spiky AS (
  SELECT event_type, ts FROM events
  WHERE day(ts) % 7 = 0 OR event_id % 5 = 0
), counts AS (
  SELECT event_type,
         cast(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS window_start,
         cast(count(*) AS BIGINT) AS n
  FROM spiky GROUP BY 1, 2
), based AS (
  SELECT event_type, window_start, n,
         cast(coalesce(sum(n) OVER frame, 0) AS BIGINT) AS base_n,
         cast(count(n) OVER frame AS BIGINT) AS base_windows
  FROM counts
  WINDOW frame AS (PARTITION BY event_type ORDER BY window_start
                   RANGE BETWEEN 259200 PRECEDING AND 86400 PRECEDING)
)
SELECT 'burst:' || event_type || ':' || base_windows || ':'
         || cast((base_windows >= 1 AND n * base_windows > 2 * base_n)
                 AS VARCHAR) AS source,
       cast(window_start AS VARCHAR) AS template,
       n AS n_lines, base_n AS n_groups
FROM based
"""


_SQL_TEMPLATES_COMBINED = f"""
SELECT 'text' AS source, t.* FROM ({_SQL_TEMPLATES}) t
UNION ALL
SELECT 'words' AS source, w.* FROM ({_SQL_TEMPLATES_WORDS}) w
UNION ALL
SELECT 'drift:' || d.status AS source, d.template,
       d.n_a AS n_lines, d.n_b AS n_groups
FROM ({_SQL_TEMPLATE_DRIFT}) d
UNION ALL
SELECT * FROM ({_SQL_RARE_ASSIGN})
UNION ALL
SELECT * FROM ({_SQL_BURSTS})
"""


def q_dedup_exact(spark, sf_dir):
    """Exact dedup at four granularities in one labeled row set:
    kind='group' is whole-document hash dedup
    (``operators/dedup.py::exact_duplicates``); kind='span' is the
    per-doc exact duplicate-SUBSTRING profile (Lee et al. 2022-style
    k-token window dedup, ``duplicate_span_stats`` +
    ``drop_duplicate_spans`` — the exact counterpart to the winnowing
    approximation) with the md5 of the span-deduplicated text, so the
    oracle value-checks window hashing, keeper election, interval merge
    AND token reassembly end-to-end.

    kind='occ' is the OCCURRENCE-granularity ExactSubstr scrub
    (``operators/substrdedup.py`` — keeper is the first occurrence, so
    within-doc repeats scrub too; see that leg's inline comment).

    Fourth leg (kind='fuzzy'): entity-resolution census over customer
    names — per name, how many other names sit within Levenshtein
    distance 1 (``operators/fuzzyjoin.py::fuzzy_self_pairs``,
    FastSS/SymSpell deletion-neighborhood blocking: complete candidate
    generation by equi-join on delete-1 variants, exact levenshtein
    verification). The DuckDB replay regenerates the deletion variants,
    the candidate join AND the verification, so a single missed
    candidate pair anywhere fails the row."""
    from log2seq_spark.operators import fuzzyjoin
    docs = _tp(spark, sf_dir, "documents")
    groups = dedup.exact_duplicates(docs).select(
        F.lit("group").alias("kind"), "text_hash", "n_docs", "keep_id",
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("long").alias("n_toks"),
        F.lit(None).cast("long").alias("n_windows"),
        F.lit(None).cast("long").alias("n_dup_windows"),
        F.lit(None).cast("long").alias("n_spans"),
        F.lit(None).cast("long").alias("dup_tokens"),
        F.lit(None).cast("string").alias("clean_md5"),
        F.lit(None).cast("string").alias("name"),
        F.lit(None).cast("long").alias("n_matches"))
    # stats + clean-text branches share one persisted ownership subtree
    # (window hashes are the expensive part; same _feed memo as winnow);
    # the fused per-doc profile replaces the former
    # stats ⋈ drop_duplicate_spans composite — identical rows (pinned by
    # tests/test_operators.py::test_span_profile_equals_composite)
    # without the token-granularity anti join + re-collect
    own = _feed(spark, ("span_own", sf_dir),
                lambda: dedup.duplicate_window_ownership(docs, k=8))
    prof = dedup.duplicate_span_profile(docs, k=8, ownership=own)
    span_rows = (prof.withColumn("clean_md5", F.md5("clean_text")).select(
        F.lit("span").alias("kind"),
        F.lit(None).cast("string").alias("text_hash"),
        F.lit(None).cast("long").alias("n_docs"),
        F.lit(None).cast("long").alias("keep_id"),
        "doc_id", F.col("n_toks").cast("long").alias("n_toks"),
        "n_windows", "n_dup_windows", "n_spans", "dup_tokens",
        "clean_md5",
        F.lit(None).cast("string").alias("name"),
        F.lit(None).cast("long").alias("n_matches")))
    # fourth leg (kind='occ'): OCCURRENCE-granularity ExactSubstr
    # profile (operators/substrdedup.py — keeper = first occurrence,
    # within-doc repeats count, raw \s+ tokens). Oracle replays gram
    # grouping, first-occurrence election, island merge AND the
    # scrubbed-text rebuild, value-checked via md5.
    from log2seq_spark.operators import substrdedup
    from log2seq_spark.operators.textstats import tokens_expr
    # spans computed once; span count, dropped-token count, token
    # count and the scrubbed-text md5 all assemble off ONE join of the
    # per-doc span sets onto docs (three separate joins measured ~2x
    # slower at sf0.1 for identical rows)
    occ_spans = substrdedup.duplicate_spans(docs, k=8)
    occ_sets = (occ_spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("start", "end")).alias("_sp"),
        F.count(F.lit(1)).alias("_nsp")))
    occ_toks = tokens_expr(F.col("text"))
    occ_rows = (docs.select("doc_id", occ_toks.alias("_toks"))
        .join(occ_sets, "doc_id", "left")
        .withColumn("_sp", F.coalesce(
            "_sp", F.array().cast("array<struct<start:int,end:int>>")))
        .withColumn("_kept", substrdedup.kept_tokens_expr(
            F.col("_toks"), F.col("_sp")))
        .select(
            F.lit("occ").alias("kind"),
            F.lit(None).cast("string").alias("text_hash"),
            F.lit(None).cast("long").alias("n_docs"),
            F.lit(None).cast("long").alias("keep_id"),
            "doc_id", F.size("_toks").cast("long").alias("n_toks"),
            F.lit(None).cast("long").alias("n_windows"),
            F.lit(None).cast("long").alias("n_dup_windows"),
            F.coalesce("_nsp", F.lit(0)).cast("long").alias("n_spans"),
            (F.size("_toks") - F.size("_kept")).cast("long")
             .alias("dup_tokens"),
            F.md5(F.concat_ws(" ", "_kept")).alias("clean_md5"),
            F.lit(None).cast("string").alias("name"),
            F.lit(None).cast("long").alias("n_matches")))
    pairs = fuzzyjoin.fuzzy_self_pairs(
        _t(spark, sf_dir, "customer"), "c_name", max_dist=1)
    fuzzy = (pairs.select(F.col("s_a").alias("name"))
                  .unionAll(pairs.select(F.col("s_b").alias("name")))
                  .groupBy("name")
                  .agg(F.count("*").alias("n_matches"))
                  .select(
        F.lit("fuzzy").alias("kind"),
        F.lit(None).cast("string").alias("text_hash"),
        F.lit(None).cast("long").alias("n_docs"),
        F.lit(None).cast("long").alias("keep_id"),
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("long").alias("n_toks"),
        F.lit(None).cast("long").alias("n_windows"),
        F.lit(None).cast("long").alias("n_dup_windows"),
        F.lit(None).cast("long").alias("n_spans"),
        F.lit(None).cast("long").alias("dup_tokens"),
        F.lit(None).cast("string").alias("clean_md5"),
        "name", "n_matches"))
    return (groups.unionByName(span_rows).unionByName(occ_rows)
                  .unionByName(fuzzy))


_SQL_DEDUP_EXACT = f"""
WITH grp AS (
  SELECT md5(text) AS text_hash, cast(count(*) AS BIGINT) AS n_docs,
         min(doc_id) AS keep_id
  FROM documents GROUP BY 1 HAVING count(*) > 1
), w AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), t -> t <> '') AS w
  FROM documents
), wh AS (
  SELECT doc_id, u - 1 AS pos,
         md5(array_to_string(w[u:u+7], chr(30))) AS h
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS u
        FROM w WHERE len(w) >= 8)
), own AS (
  SELECT h, min(doc_id) AS keeper, count(DISTINCT doc_id) AS ndocs
  FROM (SELECT DISTINCT doc_id, h FROM wh) GROUP BY h
), dupw AS (
  SELECT wh.doc_id, wh.pos
  FROM wh JOIN own USING (h)
  WHERE own.ndocs > 1 AND wh.doc_id <> own.keeper
), marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos - coalesce(max(pos) OVER
              (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -100)
              >= 8 THEN 1 ELSE 0 END AS brk
  FROM dupw
), cov AS (
  SELECT DISTINCT doc_id, idx
  FROM (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS idx
        FROM dupw)
), toks AS (
  SELECT doc_id, u.idx AS idx, u.t AS t
  FROM (SELECT doc_id,
               unnest(list_transform(range(len(w)),
                      i -> {{'idx': i, 't': w[i+1]}})) AS u
        FROM w)
), kept AS (
  SELECT t.doc_id, t.idx, t.t
  FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.idx = c.idx
  WHERE c.idx IS NULL
), clean AS (
  SELECT doc_id, string_agg(t, ' ' ORDER BY idx) AS ct
  FROM kept GROUP BY doc_id
), span_rows AS (
  SELECT w.doc_id,
         cast(len(w.w) AS BIGINT) AS n_toks,
         coalesce(ws.n_windows, 0) AS n_windows,
         coalesce(dw.n_dup, 0) AS n_dup_windows,
         coalesce(ss.n_spans, 0) AS n_spans,
         coalesce(cs.dup_tokens, 0) AS dup_tokens,
         md5(coalesce(cl.ct, '')) AS clean_md5
  FROM w
  LEFT JOIN (SELECT doc_id, cast(count(*) AS BIGINT) AS n_windows
             FROM wh GROUP BY doc_id) ws USING (doc_id)
  LEFT JOIN (SELECT doc_id, cast(count(*) AS BIGINT) AS n_dup
             FROM dupw GROUP BY doc_id) dw USING (doc_id)
  LEFT JOIN (SELECT doc_id, cast(sum(brk) AS BIGINT) AS n_spans
             FROM marked GROUP BY doc_id) ss USING (doc_id)
  LEFT JOIN (SELECT doc_id, cast(count(*) AS BIGINT) AS dup_tokens
             FROM cov GROUP BY doc_id) cs USING (doc_id)
  LEFT JOIN clean cl USING (doc_id)
)
SELECT 'group' AS kind, text_hash, n_docs, keep_id,
       cast(NULL AS BIGINT) AS doc_id, cast(NULL AS BIGINT) AS n_toks,
       cast(NULL AS BIGINT) AS n_windows,
       cast(NULL AS BIGINT) AS n_dup_windows,
       cast(NULL AS BIGINT) AS n_spans, cast(NULL AS BIGINT) AS dup_tokens,
       cast(NULL AS VARCHAR) AS clean_md5,
       cast(NULL AS VARCHAR) AS name, cast(NULL AS BIGINT) AS n_matches
FROM grp
UNION ALL
SELECT 'span', cast(NULL AS VARCHAR), cast(NULL AS BIGINT),
       cast(NULL AS BIGINT), doc_id, n_toks, n_windows, n_dup_windows,
       n_spans, dup_tokens, clean_md5,
       cast(NULL AS VARCHAR), cast(NULL AS BIGINT)
FROM span_rows
UNION ALL
-- occ leg: occurrence-granularity ExactSubstr scrub (replays
-- operators/substrdedup.py — grams grouped by CONTENT, keeper = first
-- (doc_id, pos) occurrence via row_number, island merge with
-- adjacent-cover fusion (gap > k), covered positions clamped to doc
-- length, scrubbed text rebuilt single-spaced)
SELECT 'occ', cast(NULL AS VARCHAR), cast(NULL AS BIGINT),
       cast(NULL AS BIGINT), doc_id, n_toks, cast(NULL AS BIGINT),
       cast(NULL AS BIGINT), n_spans, dup_tokens, clean_md5,
       cast(NULL AS VARCHAR), cast(NULL AS BIGINT)
FROM (
  WITH ow AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\\s+'),
                       t -> t <> '') AS w
    FROM documents
  ), og AS (
    SELECT doc_id, u AS pos, array_to_string(w[u:u+7], ' ') AS g
    FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS u
          FROM ow WHERE len(w) >= 8)
  ), odup AS (
    SELECT doc_id, pos
    FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt,
                 row_number() OVER (PARTITION BY g
                                    ORDER BY doc_id, pos) AS rn
          FROM og)
    WHERE cnt >= 2 AND rn > 1
  ), obrk AS (
    SELECT doc_id, pos,
           CASE WHEN pos - coalesce(max(pos) OVER
                (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -100) > 8 THEN 1 ELSE 0 END AS brk
    FROM odup
  ), ospans AS (
    SELECT doc_id, cast(sum(brk) AS BIGINT) AS n_spans
    FROM obrk GROUP BY doc_id
  ), ocov AS (
    SELECT DISTINCT d.doc_id, idx
    FROM (SELECT odup.doc_id,
                 unnest(generate_series(
                     pos, least(pos + 7, len(ow.w)))) AS idx
          FROM odup JOIN ow USING (doc_id)) d
  ), otoks AS (
    SELECT doc_id, u.i AS idx, u.t AS t
    FROM (SELECT doc_id,
                 unnest(list_transform(range(len(w)),
                        i -> {{'i': i + 1, 't': w[i+1]}})) AS u
          FROM ow)
  ), okept AS (
    SELECT t.doc_id, t.idx, t.t
    FROM otoks t LEFT JOIN ocov c
      ON t.doc_id = c.doc_id AND t.idx = c.idx
    WHERE c.idx IS NULL
  ), oclean AS (
    SELECT doc_id, string_agg(t, ' ' ORDER BY idx) AS ct
    FROM okept GROUP BY doc_id
  )
  SELECT ow.doc_id, cast(len(ow.w) AS BIGINT) AS n_toks,
         coalesce(os.n_spans, 0) AS n_spans,
         cast(coalesce(cv.n_cov, 0) AS BIGINT) AS dup_tokens,
         md5(coalesce(ocl.ct, '')) AS clean_md5
  FROM ow
  LEFT JOIN ospans os USING (doc_id)
  LEFT JOIN (SELECT doc_id, count(*) AS n_cov
             FROM ocov GROUP BY doc_id) cv USING (doc_id)
  LEFT JOIN oclean ocl USING (doc_id)
)
UNION ALL
-- fuzzy leg: FastSS delete-1 blocking + exact levenshtein verification
-- (replays operators/fuzzyjoin.py::fuzzy_self_pairs)
SELECT 'fuzzy', cast(NULL AS VARCHAR), cast(NULL AS BIGINT),
       cast(NULL AS BIGINT), cast(NULL AS BIGINT), cast(NULL AS BIGINT),
       cast(NULL AS BIGINT), cast(NULL AS BIGINT), cast(NULL AS BIGINT),
       cast(NULL AS BIGINT), cast(NULL AS VARCHAR), name, n_matches
FROM (
  WITH fs AS (SELECT DISTINCT c_name AS s FROM customer
              WHERE c_name IS NOT NULL),
  fkeys AS (
    SELECT DISTINCT s, substr(s, 1, i) || substr(s, i + 2) AS k
    FROM fs, unnest(generate_series(0, length(s))) AS u(i)
  ), fcand AS (
    SELECT DISTINCT a.s AS s_a, b.s AS s_b
    FROM fkeys a JOIN fkeys b ON a.k = b.k AND a.s < b.s
  ), fpairs AS (
    SELECT s_a, s_b FROM fcand
    WHERE abs(length(s_a) - length(s_b)) <= 1
      AND levenshtein(s_a, s_b) <= 1
  )
  SELECT name, cast(count(*) AS BIGINT) AS n_matches
  FROM (SELECT s_a AS name FROM fpairs
        UNION ALL SELECT s_b FROM fpairs)
  GROUP BY name
)
"""

def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup detection, batch AND incremental in one
    driver row over ONE shared signature aggregate (the shingle→minhash
    groupBy is the expensive part; bucketing, indexing and screening are
    all cheap projections of it):

    * ``source='bucket'`` — the batch operator
      (``dedup.minhash_near_duplicates`` semantics): occupied LSH
      buckets with >1 doc, (band, band_hash, n_docs, keep_id).
    * ``source='incr:<verdict>'`` — the incremental path a growing
      corpus uses (``dedup.minhash_index`` over the historical 2/3 of
      the table + ``dedup.near_dup_against_index`` screening the
      ``doc_id % 3 == 0`` third as the newly-arrived shard; history is
      never re-hashed). One row per batch doc; column reuse documented:
      ``band=-1`` sentinel, ``band_hash`` carries the doc's null-safe
      content hash, ``n_docs`` carries the batch ``doc_id``, ``keep_id``
      carries ``match_id`` (lowest prior owner, null when fresh)."""
    docs = _tp(spark, sf_dir, "documents")
    sigs = _feed(spark, ("minhash_sigs", sf_dir),
                 lambda: dedup.minhash_band_signatures(
                     docs, n_hashes=8, bands=4, shingle_n=3))
    buckets = (sigs.groupBy("band", "band_hash")
                   .agg(F.count("*").alias("n_docs"),
                        F.min("_id").alias("keep_id"))
                   .filter(F.col("n_docs") > 1)
                   .select(F.lit("bucket").alias("source"),
                           "band", "band_hash", "n_docs", "keep_id"))
    index = (sigs.filter(F.col("_id") % 3 != 0)
                 .groupBy("band", "band_hash")
                 .agg(F.min("_id").alias("keep_id")))
    verdicts = dedup.near_dup_against_index(
        docs.filter(F.col("doc_id") % 3 == 0), index,
        n_hashes=8, bands=4, shingle_n=3,
        signatures=sigs.filter(F.col("_id") % 3 == 0))
    incr = verdicts.select(
        F.concat(F.lit("incr:"),
                 F.col("is_near_dup").cast("string")).alias("source"),
        F.lit(-1).alias("band"),
        F.col("text_hash").alias("band_hash"),
        F.col("doc_id").cast("bigint").alias("n_docs"),
        F.col("match_id").alias("keep_id"))
    return buckets.unionByName(incr)


_SQL_MINHASH = f"""
WITH norm AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id,
         [array_to_string(w[i:i+2], ' ')
          for i in generate_series(1, greatest(len(w) - 2, 1))] AS shingles
  FROM norm
), sig AS (
  SELECT doc_id,
         [list_aggregate([md5(s || '#' || x) for x in shingles], 'min')
          for s in generate_series(1, 8)] AS sig
  FROM sh WHERE len(shingles) > 0
), banded AS (
  SELECT doc_id, band,
         md5(array_to_string(sig[band * 2 + 1 : band * 2 + 2], '|')) AS band_hash
  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band)
), bucket_rows AS (
  SELECT 'bucket' AS source, band, band_hash,
         count(*) AS n_docs, min(doc_id) AS keep_id
  FROM banded GROUP BY band, band_hash HAVING count(*) > 1
), idx AS (
  SELECT band, band_hash, min(doc_id) AS keep_id
  FROM banded WHERE doc_id % 3 <> 0 GROUP BY 1, 2
), scr AS (
  SELECT b.doc_id, i.keep_id AS seen,
         min(b.doc_id) OVER (PARTITION BY b.band, b.band_hash) AS bmin
  FROM (SELECT * FROM banded WHERE doc_id % 3 = 0) b
  LEFT JOIN idx i USING (band, band_hash)
), perdoc AS (
  SELECT doc_id,
         bool_or(seen IS NOT NULL OR bmin < doc_id) AS is_near_dup,
         min(least(seen, CASE WHEN bmin < doc_id THEN bmin END)) AS match_id
  FROM scr GROUP BY doc_id
), incr AS (
  SELECT 'incr:' || coalesce(is_near_dup, false) AS source,
         -1 AS band, coalesce(md5(text), ':null:') AS band_hash,
         r.doc_id AS n_docs, match_id AS keep_id
  FROM (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0) r
  LEFT JOIN perdoc USING (doc_id)
)
SELECT source, band, band_hash, n_docs, keep_id FROM bucket_rows
UNION ALL
SELECT source, band, band_hash, n_docs, keep_id FROM incr
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    return (_jaccard_pair_feed(spark, sf_dir)
            .withColumn("jaccard", F.round("jaccard", 6)))


# shared inverted-index jaccard pipeline (3-gram shingles, per-doc cap
# 200, document-frequency cap 100) — reused by the pair query, the
# keep-list, and the training-selection oracle
_JACCARD_CTES = f"""norm AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(w[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(w) - 2, 1))]) AS shingles
  FROM norm
), allposts AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE len(shingles) > 0
), rare AS (
  SELECT shingle FROM allposts GROUP BY shingle HAVING count(*) <= 100
), kept AS (
  SELECT doc_id, shingle FROM allposts JOIN rare USING (shingle)
), posts AS (
  SELECT doc_id, count(*) OVER (PARTITION BY doc_id) AS n, shingle FROM kept
), jpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
         count(*) AS n_common
  FROM posts a JOIN posts b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)"""

_SQL_JACCARD = f"""
WITH {_JACCARD_CTES}
SELECT id_a, id_b,
       round(n_common / (n_a + n_b - n_common), 6) AS jaccard
FROM jpairs
WHERE n_common / (n_a + n_b - n_common) >= 0.35
"""


def q_dedup_clusters(spark, sf_dir):
    """Transitive duplicate families over the verified >=0.35-jaccard
    pair graph: connected components (min-label propagation + pointer
    jumping), cluster_id = min doc_id in the family, keep = canonical."""
    pairs = _jaccard_pair_feed(spark, sf_dir)
    return (dedup.duplicate_clusters(pairs)
            .withColumn("keep", F.col("doc_id") == F.col("cluster_id")))


# connected components replayed in ANSI SQL: reach(id, r) enumerates, per
# node, every node it can reach over the undirected pair graph (the
# recursive UNION dedupes, so total rows are sum of component sizes
# squared — fine at oracle scale); cluster id = min reachable id
_SQL_CLUSTERS = f"""
WITH RECURSIVE {_JACCARD_CTES},
cpairs AS (
  SELECT id_a, id_b FROM jpairs
  WHERE n_common / (n_a + n_b - n_common) >= 0.35
), cedges AS (
  SELECT id_a AS src, id_b AS dst FROM cpairs
  UNION
  SELECT id_b, id_a FROM cpairs
), reach(id, r) AS (
  SELECT src, src FROM cedges
  UNION
  SELECT e.src, reach.r FROM cedges e JOIN reach ON reach.id = e.dst
)
SELECT id AS doc_id, min(r) AS cluster_id, id = min(r) AS keep
FROM reach GROUP BY id
"""


def q_dedup_keep_list(spark, sf_dir):
    """Composed keep/drop policy over the documents table: exact dups
    (non-min id) → drop_exact, higher id of any verified >=0.35-jaccard
    pair → drop_near, else keep. The list a training pipeline actually
    applies downstream."""
    return dedup.dedup_decisions(_tp(spark, sf_dir, "documents"),
                                 threshold=0.35,
                                 near_pairs=_jaccard_pair_feed(spark, sf_dir))


_SQL_KEEP_LIST = f"""
WITH {_JACCARD_CTES},
near AS (
  SELECT DISTINCT id_b AS doc_id FROM jpairs
  WHERE n_common / (n_a + n_b - n_common) >= 0.35
), exact AS (
  SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
  FROM documents GROUP BY 1
)
SELECT d.doc_id,
       CASE WHEN e.n > 1 AND d.doc_id <> e.keep_id THEN 'drop_exact'
            WHEN nd.doc_id IS NOT NULL THEN 'drop_near'
            ELSE 'keep' END AS decision
FROM documents d
JOIN exact e ON md5(d.text) = e.h
LEFT JOIN near nd ON d.doc_id = nd.doc_id
"""


def q_stratified_sample_counts(spark, sf_dir):
    """Deterministic sampling family, THREE legs in one row (window
    stays at 50), schema ``(kind, key, n_docs)``:

    * ``kind='strata'`` — content-addressed stratified sampling:
      per-language keep rates over md5(seed#doc_id) buckets,
      reproducible across engines/cluster sizes.
    * ``kind='split'`` — leakage-safe train/val split
      (``operators/sampling.py::leakage_safe_split``): membership
      hashes the near-dup CLUSTER id (>=0.35-jaccard transitive
      families), own id for unclustered docs; key =
      ``split/{c|u}`` (clustered/unclustered).
    * ``kind='leak'`` — the split's whole point, asserted in-band:
      number of duplicate families whose members straddle the split
      boundary. Must be 0; the oracle recomputes it from ITS OWN
      recursive-CTE clustering, so a family split across sides by any
      hashing/join bug fails the row.
    * ``kind='funnel'`` — the ordered quality-filter funnel census
      (``operators/funnel.py``: first-fail attribution over the
      C4/Gopher gate chain); key = ``idx/stage/{in|drop|out}``, all
      three counts of every stage plus the terminal kept row, so the
      oracle checks the disjoint-drop invariant end-to-end (drops +
      kept == corpus) and any gate's threshold drift moves a row.
    * ``kind='mixture'`` — domain-mixture down-sampling
      (``operators/mixture.py::balance_mixture``) to
      en:0.5/de:0.25/fr:0.25 over md5 buckets; key = lang, n_docs =
      kept. The binding domain keeps everything; the oracle replays
      rate → floor-threshold → bucket membership exactly.
    * ``kind='upsample'`` — epoch-repeat upsampling
      (``mixture.upsample_to_budget``, budget 2000 docs): full-epoch
      fan-out + deterministic fractional epoch; key = lang, n_docs =
      emitted rows.
    * ``kind='weighted'`` — Efraimidis–Spirakis weighted sampling
      without replacement (``sampling.weighted_sample``: ln(u)/w key
      over the md5-derived exact-52-bit uniform, TakeOrdered top-k,
      weight = n_chars); key = selected doc_id, n_docs = its weight —
      the oracle recomputes the ES keys and must select the IDENTICAL
      20 documents."""
    from log2seq_spark.operators import funnel, mixture, sampling
    docs = _t(spark, sf_dir, "documents")
    feats = _docfeat_feed(spark, sf_dir)
    cen = funnel.funnel_census(feats, funnel.standard_quality_funnel(feats))
    fun = (cen.selectExpr(
        "concat_ws('/', cast(stage_idx AS string), stage) AS sk",
        "stack(3, 'in', n_in, 'drop', n_dropped, 'out', n_out)"
        " AS (m, v)")
        .select(F.lit("funnel").alias("kind"),
                F.concat_ws("/", "sk", "m").alias("key"),
                F.col("v").alias("n_docs")))
    mix_targets = {"en": 0.5, "de": 0.25, "fr": 0.25}
    mix = (mixture.balance_mixture(docs, "lang", mix_targets)
           .groupBy("lang").agg(F.count("*").alias("n_docs"))
           .select(F.lit("mixture").alias("kind"),
                   F.col("lang").alias("key"), "n_docs"))
    ups = (mixture.upsample_to_budget(docs, "lang", mix_targets,
                                      budget_docs=2000)
           .groupBy("lang").agg(F.count("*").alias("n_docs"))
           .select(F.lit("upsample").alias("kind"),
                   F.col("lang").alias("key"), "n_docs"))
    out = sampling.stratified_sample(
        docs, "lang", {"en": 1.0, "de": 0.5, "fr": 0.25, "es": 0.1},
        default_rate=0.05)
    strata = (out.groupBy("lang").agg(F.count("*").alias("n_docs"))
              .select(F.lit("strata").alias("kind"),
                      F.col("lang").alias("key"), "n_docs"))
    clusters = dedup.duplicate_clusters(_jaccard_pair_feed(spark, sf_dir))
    sp = sampling.leakage_safe_split(docs, clusters, val_rate=0.2)
    clustered = (sp.join(clusters.select("doc_id")
                         .withColumn("_cl", F.lit(True)), "doc_id", "left")
                 .withColumn("_cl", F.coalesce("_cl", F.lit(False))))
    split_leg = (clustered.groupBy("split", "_cl")
                 .agg(F.count("*").alias("n_docs"))
                 .select(F.lit("split").alias("kind"),
                         F.concat_ws("/", "split",
                                     F.when(F.col("_cl"), "c")
                                      .otherwise("u")).alias("key"),
                         "n_docs"))
    leak = (sp.join(clusters, "doc_id")
            .groupBy("cluster_id")
            .agg(F.countDistinct("split").alias("ns"))
            .agg(F.coalesce(F.sum(F.when(F.col("ns") > 1, 1)
                                   .otherwise(0)), F.lit(0))
                  .cast("bigint").alias("n_docs"))
            .select(F.lit("leak").alias("kind"),
                    F.lit("straddle").alias("key"), "n_docs"))
    wleg = (sampling.weighted_sample(docs, 20, "n_chars")
            .select(F.lit("weighted").alias("kind"),
                    F.col("doc_id").cast("string").alias("key"),
                    F.col("n_chars").cast("long").alias("n_docs")))
    return (strata.unionByName(split_leg).unionByName(leak)
            .unionByName(fun).unionByName(mix).unionByName(ups)
            .unionByName(wleg))


_SQL_STRATIFIED = f"""
WITH RECURSIVE {_JACCARD_CTES},
cpairs AS (
  SELECT id_a, id_b FROM jpairs
  WHERE n_common / (n_a + n_b - n_common) >= 0.35
), cedges AS (
  SELECT id_a AS src, id_b AS dst FROM cpairs
  UNION
  SELECT id_b, id_a FROM cpairs
), reach(id, r) AS (
  SELECT src, src FROM cedges
  UNION
  SELECT e.src, reach.r FROM cedges e JOIN reach ON reach.id = e.dst
), cl AS (
  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
), sp AS (
  SELECT d.doc_id, c.cluster_id,
         CASE WHEN ('0x' || substr(md5('0#' ||
                  coalesce(CAST(c.cluster_id AS VARCHAR),
                           CAST(d.doc_id AS VARCHAR))), 1, 8))::BIGINT
                  % 10000 < 2000
              THEN 'val' ELSE 'train' END AS split
  FROM documents d LEFT JOIN cl c ON d.doc_id = c.doc_id
), ffeat AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
           AS ntok,
         length(text) AS nch,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS npunct,
         list_transform(list_filter(string_split_regex(text, '\\s+'),
                                    t -> t <> ''), t -> lower(t)) AS w
  FROM documents
), fscore AS (
  SELECT doc_id, ntok,
         round((nch - (ntok - 1)) / greatest(ntok, 1), 4) AS mtl,
         round(npunct / greatest(nch, 1), 4) AS pr,
         round(len(list_filter(w, t -> list_contains(
               ['the','and','of','to','a','in','is','that'], t)))
               / greatest(ntok, 1), 4) AS sr,
         list_max([
           {{'hits': len(list_filter(w, t -> list_contains(['the','and','of','to','a','in','is','that'], t))), 'lang': 'en'}},
           {{'hits': len(list_filter(w, t -> list_contains(['der','die','und','das','ist','nicht','ein'], t))), 'lang': 'de'}},
           {{'hits': len(list_filter(w, t -> list_contains(['le','la','les','et','est','une','pas'], t))), 'lang': 'fr'}},
           {{'hits': len(list_filter(w, t -> list_contains(['el','la','los','y','es','una','que'], t))), 'lang': 'es'}}
         ]) AS best
  FROM ffeat
), freason AS (
  SELECT CASE WHEN NOT (ntok >= 5) THEN 'too_short'
              WHEN NOT (ntok <= 100000) THEN 'too_long'
              WHEN NOT (mtl >= 2 AND mtl <= 12) THEN 'token_len'
              WHEN NOT (pr <= 0.2) THEN 'punct'
              WHEN NOT (sr >= 0.05) THEN 'stopword'
              WHEN NOT (CASE WHEN best.hits > 0 THEN best.lang
                             ELSE 'und' END = 'en') THEN 'lang'
              ELSE 'kept' END AS stage
  FROM fscore
), fdrop AS (
  SELECT stage, count(*) AS n FROM freason GROUP BY stage
), fstages AS (
  SELECT * FROM (VALUES (0,'too_short'),(1,'too_long'),(2,'token_len'),
                        (3,'punct'),(4,'stopword'),(5,'lang'),(6,'kept'))
              s(i, stage)
), fcen AS (
  SELECT i, stage, coalesce(n, 0) AS n,
         (SELECT count(*) FROM documents)
           - coalesce(sum(coalesce(n, 0)) OVER (
                 ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) AS n_in
  FROM fstages LEFT JOIN fdrop USING (stage)
), mixw AS (
  SELECT lang, count(*) AS n,
         CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                   WHEN 'fr' THEN 0.25 END AS tw
  FROM documents GROUP BY lang
), mixk AS (
  SELECT min(n / tw) AS kv FROM mixw WHERE tw IS NOT NULL
), mixthr AS (
  SELECT lang, n, cast(floor(tw / n * kv * 10000) AS INT) AS thr,
         least(tw * 2000.0 / n, 16.0) AS r
  FROM mixw, mixk WHERE tw IS NOT NULL
), upplan AS (
  SELECT lang, n, cast(floor(r) AS INT) AS fe,
         cast(floor((r - floor(r)) * 10000) AS INT) AS fthr
  FROM mixthr
), upfrac AS (
  SELECT d.lang, count(*) AS nf
  FROM documents d JOIN upplan p ON d.lang = p.lang
  WHERE ('0x' || substr(md5('0#' || doc_id), 1, 8))::BIGINT % 10000
        < p.fthr
  GROUP BY d.lang
)
SELECT 'strata' AS kind, lang AS key, count(*) AS n_docs FROM documents
WHERE ('0x' || substr(md5('0#' || doc_id), 1, 8))::BIGINT % 10000 <
      CASE lang WHEN 'de' THEN 5000 WHEN 'en' THEN 10000
                WHEN 'es' THEN 1000 WHEN 'fr' THEN 2500 ELSE 500 END
GROUP BY lang
UNION ALL
SELECT 'split' AS kind,
       split || '/' || CASE WHEN cluster_id IS NULL THEN 'u' ELSE 'c' END
         AS key,
       count(*) AS n_docs
FROM sp GROUP BY 2
UNION ALL
SELECT 'leak' AS kind, 'straddle' AS key, count(*) AS n_docs
FROM (
  SELECT cluster_id FROM sp WHERE cluster_id IS NOT NULL
  GROUP BY cluster_id HAVING count(DISTINCT split) > 1)
UNION ALL
SELECT 'funnel' AS kind,
       cast(i AS VARCHAR) || '/' || stage || '/' || m.k AS key,
       CASE m.k
         WHEN 'in' THEN n_in
         WHEN 'drop' THEN CASE WHEN stage = 'kept' THEN 0 ELSE n END
         ELSE CASE WHEN stage = 'kept' THEN n ELSE n_in - n END
       END AS n_docs
FROM fcen, (VALUES ('in'),('drop'),('out')) m(k)
UNION ALL
SELECT 'mixture' AS kind, d.lang AS key, count(*) AS n_docs
FROM documents d JOIN mixthr t ON d.lang = t.lang
WHERE ('0x' || substr(md5('0#' || doc_id), 1, 8))::BIGINT % 10000 < t.thr
GROUP BY d.lang
UNION ALL
SELECT 'upsample' AS kind, p.lang AS key,
       cast(CASE WHEN p.fe >= 1 THEN p.n * p.fe ELSE 0 END
            + coalesce(f.nf, 0) AS BIGINT) AS n_docs
FROM upplan p LEFT JOIN upfrac f ON p.lang = f.lang
UNION ALL
-- weighted leg: Efraimidis-Spirakis ln(u)/w key over the exact 52-bit
-- md5 uniform (replays sampling.weighted_sample bit-for-bit)
SELECT 'weighted' AS kind, cast(doc_id AS VARCHAR) AS key,
       cast(n_chars AS BIGINT) AS n_docs
FROM (
  SELECT doc_id, n_chars,
         -- round(.,9): ln differs by 1 ulp between JVM and glibc libm
         -- (~20% of values); the coarse grid makes the rank-20 cut
         -- engine-independent (ties resolve via the doc_id order-by)
         round(ln((('0x' || substr(md5('0#' || doc_id), 1, 13))::BIGINT
                   + 0.5)
            / 4503599627370496.0) / cast(n_chars AS DOUBLE), 9) AS es_key
  FROM documents WHERE n_chars > 0
  ORDER BY es_key DESC, doc_id ASC LIMIT 20
)
"""


def q_training_selection(spark, sf_dir):
    """End-to-end training-set selection: quality gate + language gate +
    dedup keep-list, reporting docs and token budget per decision — the
    composition a data pipeline runs before tokenization. Also carries
    the model-based filter (``operators/classifier.py``: fastText-style
    hashed-bigram linear scorer under the deterministic pseudo model)
    per selection group: average score + count above 0.5 — any hashing
    / bucketing / sigmoid drift moves both."""
    from log2seq_spark.operators import classifier
    docs = _tp(spark, sf_dir, "documents")
    dec = dedup.dedup_decisions(docs, threshold=0.35,
                                near_pairs=_jaccard_pair_feed(spark, sf_dir))
    feats = _docfeat_feed(spark, sf_dir).select(
        "doc_id", "n_tokens", "quality_score", "predicted_lang")
    clf = classifier.classify(docs).select("doc_id", "clf_score")
    joined = feats.join(dec, "doc_id").join(clf, "doc_id")
    selected = ((F.col("decision") == "keep")
                & (F.col("quality_score") >= 0.5)
                & (F.col("predicted_lang") == "en"))
    return (joined.withColumn("selected", selected)
                  .groupBy("selected")
                  .agg(F.count("*").alias("n_docs"),
                       F.sum("n_tokens").alias("n_tokens"),
                       F.round(F.avg("clf_score"), 4)
                        .alias("avg_clf_score"),
                       F.sum(F.when(F.col("clf_score") >= 0.5, 1)
                              .otherwise(0)).cast("bigint")
                        .alias("n_clf_high")))


_SQL_TRAINING_SELECTION = f"""
WITH {_JACCARD_CTES},
near AS (
  SELECT DISTINCT id_b AS doc_id FROM jpairs
  WHERE n_common / (n_a + n_b - n_common) >= 0.35
), exact AS (
  SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
  FROM documents GROUP BY 1
), dec AS (
  SELECT d.doc_id,
         CASE WHEN e.n > 1 AND d.doc_id <> e.keep_id THEN 'drop_exact'
              WHEN nd.doc_id IS NOT NULL THEN 'drop_near'
              ELSE 'keep' END AS decision
  FROM documents d
  JOIN exact e ON md5(d.text) = e.h
  LEFT JOIN near nd ON d.doc_id = nd.doc_id
), qbase AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
         length(text) AS n_chars,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
         len(list_filter(string_split(text, ' '),
             t -> list_contains(['the','and','of','to','a','in','is','that'],
                                lower(t)))) AS stop_hits
  FROM documents
), qual AS (
  SELECT doc_id, n_tokens,
         (CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 0.25 ELSE 0.0 END
          + CASE WHEN (n_chars - (n_tokens - 1)) / greatest(n_tokens, 1)
                      BETWEEN 2 AND 12 THEN 0.25 ELSE 0.0 END
          + CASE WHEN n_punct / greatest(n_chars, 1) <= 0.2
                 THEN 0.25 ELSE 0.0 END
          + CASE WHEN stop_hits / greatest(n_tokens, 1) >= 0.05
                 THEN 0.25 ELSE 0.0 END) AS quality_score
  FROM qbase
), langtoks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(text, '\\s+'),
                                    t -> t <> ''), t -> lower(t)) AS w
  FROM documents
), langpred AS (
  SELECT doc_id,
         CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END
           AS predicted_lang
  FROM (SELECT doc_id, list_max([
    {{'hits': len(list_filter(w, t -> list_contains(['the','and','of','to','a','in','is','that'], t))), 'lang': 'en'}},
    {{'hits': len(list_filter(w, t -> list_contains(['der','die','und','das','ist','nicht','ein'], t))), 'lang': 'de'}},
    {{'hits': len(list_filter(w, t -> list_contains(['le','la','les','et','est','une','pas'], t))), 'lang': 'fr'}},
    {{'hits': len(list_filter(w, t -> list_contains(['el','la','los','y','es','una','que'], t))), 'lang': 'es'}}
  ]) AS best FROM langtoks)
), clfg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)),
                                    i -> w[i] || chr(31) || w[i + 1])
                ELSE [CAST(NULL AS VARCHAR)] END) AS g
  FROM langtoks
), clfs AS (
  SELECT doc_id,
         round(1.0 / (1.0 + exp(-(
             coalesce(sum(('0x' || substr(md5('clf-v1|' ||
                          (('0x' || substr(md5(g), 1, 15))::BIGINT % 1024)),
                          1, 15))::BIGINT
                          / 1152921504606846976.0 - 0.5), 0.0)
             / greatest(count(g), 1)))), 6) AS clf_score
  FROM clfg GROUP BY doc_id
)
SELECT (dec.decision = 'keep' AND q.quality_score >= 0.5
        AND lp.predicted_lang = 'en') AS selected,
       count(*) AS n_docs,
       cast(sum(q.n_tokens) AS BIGINT) AS n_tokens,
       round(avg(cs.clf_score), 4) AS avg_clf_score,
       cast(sum(CASE WHEN cs.clf_score >= 0.5 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clf_high
FROM qual q JOIN dec USING (doc_id) JOIN langpred lp USING (doc_id)
     JOIN clfs cs USING (doc_id)
GROUP BY 1
"""


def q_simhash(spark, sf_dir):
    """60-bit simhash per doc; the DuckDB oracle replays the bit-vote
    exactly (md5-prefix hex → bigint via 0x-cast, shifts, majority)."""
    docs = _tp(spark, sf_dir, "documents")
    return dedup.simhash_signatures(docs, "text")


def q_knn_brute(spark, sf_dir):
    embs = _t(spark, sf_dir, "embeddings")
    qvec = embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = similarity.cosine_topk(embs, qvec, k=20)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


def q_similarity_topk(spark, sf_dir):
    """Every similarity-search path in ONE driver row (keeps the
    CORRECTNESS window at 50 queries), schema ``(method, id, score)``:
    exact brute-force cosine top-k (``brute``), the
    centroid-partitioned IVF probe (``ivf``), its incremental-append
    twin (``ivf_incr``), sparse BM25 keyword retrieval over the
    documents table (``bm25`` — ``operators/retrieval.py``, id =
    doc_id, score = Okapi BM25 with Lucene idf), and the int8
    scalar-quantized two-phase path (``quant`` —
    ``operators/similarity.py::quantized_topk``: integer-dot candidate
    scan over round-half-up codes, exact float rescoring of the top-4k
    pool; the oracle replays quantization, the estimate ordering AND
    the rescoring closed-form, so a single mis-rounded code anywhere in
    the corpus moves the candidate cut and fails the row). Each leg is
    checked value-exact against its own closed-form DuckDB replay.

    Hybrid-retrieval legs (``operators/retrieval.py``): ``rrf`` —
    reciprocal-rank fusion (Cormack et al. 2009, k=60) of the sparse
    bm25 list with the dense brute list (shared id space: vec_id i
    embeds document i); and ``m_recall``/``m_mrr``/``m_ndcg`` —
    ranked-retrieval metrics of the pruned IVF list against the exact
    brute top-20 as binary truth at k=10 (id column = the cutoff k).
    The oracle replays the rank windows, the 1/(60+rank) fusion sum,
    and the DCG/IDCG closed forms, so a one-position rank shift in
    either list fails the row."""
    from log2seq_spark.operators import retrieval
    embs = _t(spark, sf_dir, "embeddings")
    qvec = embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    brute = q_knn_brute(spark, sf_dir).select(
        F.lit("brute").alias("method"), F.col("vec_id").alias("id"),
        F.col("cosine").alias("score"))
    quant = similarity.quantized_topk(
        _tp(spark, sf_dir, "embeddings"), qvec, k=20).select(
        F.lit("quant").alias("method"), F.col("vec_id").alias("id"),
        F.round("cosine", 6).alias("score"))
    ivf = q_ivf_topk(spark, sf_dir).select(
        F.lit("ivf").alias("method"), F.col("vec_id").alias("id"),
        F.col("cosine").alias("score"))
    incr = q_ivf_topk_incr(spark, sf_dir).select(
        F.lit("ivf_incr").alias("method"), F.col("vec_id").alias("id"),
        F.col("cosine").alias("score"))
    bm25 = retrieval.bm25_topk(
        _tp(spark, sf_dir, "documents"), BM25_QUERY, topk=20).select(
        F.lit("bm25").alias("method"), F.col("doc_id").alias("id"),
        "score")
    fused = retrieval.rrf_fuse(
        [bm25.select(F.col("id").alias("doc_id"), "score"),
         brute.select(F.col("id").alias("doc_id"), "score")], k=60)
    rrf_rows = fused.select(F.lit("rrf").alias("method"),
                            F.col("doc_id").alias("id"),
                            F.col("rrf").alias("score"))
    truth = brute.select(F.col("id").alias("doc_id"),
                         F.lit(1.0).alias("rel"))
    m = retrieval.retrieval_metrics(
        ivf.select(F.col("id").alias("doc_id"), "score"), truth, k=10)
    metric_rows = None
    for name, col in (("m_recall", "recall_at_k"), ("m_mrr", "mrr"),
                      ("m_ndcg", "ndcg_at_k")):
        leg = m.select(F.lit(name).alias("method"),
                       F.lit(10).cast("long").alias("id"),
                       F.col(col).alias("score"))
        metric_rows = leg if metric_rows is None \
            else metric_rows.unionByName(leg)
    return (brute.unionByName(ivf).unionByName(incr).unionByName(bm25)
                 .unionByName(quant).unionByName(rrf_rows)
                 .unionByName(metric_rows))


# deterministic keyword query drawn from the synthetic documents' vocab
BM25_QUERY = "filter join vector"


def q_ivf_topk_incr(spark, sf_dir):
    """Incremental-ingestion twin of :func:`q_ivf_topk`
    (``operators/similarity.py::append_ivf_index``): the index is built
    over vec_id % 3 != 0, the remaining third APPENDED afterwards into
    the same stamped cell space, and the probe runs off the index's own
    ``_ivf_centroids.json`` (``centroids=None``). The DuckDB replay is
    the SAME closed-form as the one-shot IVF leg because cell
    assignment is batch-independent — that equality IS the invariant
    this leg gates: a vector mis-assigned on append, a stale stamp, or
    a lost appended file all change the top-k."""
    import os
    import shutil
    emb = _tp(spark, sf_dir, "embeddings")
    seeds = (_t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 4)
             .orderBy("vec_id").select("embedding").collect())
    centroids = [list(r[0]) for r in seeds]
    qvec = (_t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 1)
            .select("embedding").first()[0])
    idx = (f"/tmp/log2seq_spark_ivf_incr_idx/"
           f"{os.path.basename(os.path.normpath(sf_dir))}")
    # build+append is two jobs — cache on a marker written after BOTH,
    # not on parquet's own _SUCCESS (present after the build alone)
    done = os.path.join(idx, "_INCR_DONE")
    if not os.path.exists(done):
        shutil.rmtree(idx, ignore_errors=True)
        similarity.build_ivf_index(emb.filter(F.col("vec_id") % 3 != 0),
                                   centroids, idx)
        similarity.append_ivf_index(emb.filter(F.col("vec_id") % 3 == 0),
                                    idx)
        open(done, "w").close()
    out = similarity.ivf_topk_indexed(spark, idx, None, qvec,
                                      k=15, n_probe=2)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


_SQL_KNN = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 6) AS cosine
FROM embeddings, q
ORDER BY cosine DESC, vec_id ASC
LIMIT 20
"""


def q_ivf_topk(spark, sf_dir):
    """Approximate nearest-neighbor over a centroid-partitioned IVF index:
    cells from 4 seed centroids, probe the 2 nearest. The index is built
    once per sf_dir (parquet partitioned by centroid, cached in /tmp) and
    the probe reads only the 2 probed partitions — PartitionFilters at
    scan time, the 100-TB path. Fully deterministic (centroids = vec_id<4,
    query = vec_id 1), so the DuckDB oracle replays probe selection, the
    per-row argmax assignment (ties → higher centroid id, matching
    ``array_max`` struct ordering) and the final top-k closed-form."""
    import os
    seeds = (_t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 4)
             .orderBy("vec_id").select("embedding").collect())
    centroids = [list(r[0]) for r in seeds]
    qvec = (_t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 1)
            .select("embedding").first()[0])
    idx = f"/tmp/log2seq_spark_ivf_idx/{os.path.basename(os.path.normpath(sf_dir))}"
    if not os.path.exists(os.path.join(idx, "_SUCCESS")):
        similarity.build_ivf_index(_tp(spark, sf_dir, "embeddings"),
                                   centroids, idx)
    out = similarity.ivf_topk_indexed(spark, idx, centroids, qvec,
                                      k=15, n_probe=2)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


_SQL_IVF = """
WITH c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < 4
), q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 1
), probes AS (
  SELECT cid FROM c, q
  ORDER BY list_dot_product(cv, qv)
           / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)))
           DESC, cid ASC
  LIMIT 2
), assigned AS (
  SELECT vec_id, embedding FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cv)
                      / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                               e.embedding::DOUBLE[]))
                         * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cid DESC) AS rn
    FROM embeddings e CROSS JOIN c)
  WHERE rn = 1 AND cid IN (SELECT cid FROM probes)
)
SELECT a.vec_id,
       round(list_dot_product(a.embedding::DOUBLE[], q.qv)
             / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                      a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
FROM assigned a, q
ORDER BY list_dot_product(a.embedding::DOUBLE[], q.qv)
         / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                  a.embedding::DOUBLE[]))
            * sqrt(list_dot_product(q.qv, q.qv))) DESC, a.vec_id ASC
LIMIT 15
"""


_SQL_BM25 = r"""
WITH d AS (
  SELECT doc_id,
         list_transform(list_filter(regexp_split_to_array(text, '\s+'),
                                    t -> t <> ''), t -> lower(t)) AS w
  FROM documents
), stats AS (
  SELECT count(*) AS n, avg(len(w)) AS avgdl FROM d
), tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, len(w) AS dl,
               unnest(list_filter(w, x -> list_contains(
                   ['filter', 'join', 'vector'], x))) AS term
        FROM d)
  GROUP BY doc_id, dl, term
), dfq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), sc AS (
  SELECT doc_id,
         round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5))
                   * tf * (1.2 + 1.0)
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))),
               6) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN stats
  GROUP BY doc_id)
SELECT doc_id AS id, score FROM sc
ORDER BY score DESC, doc_id ASC LIMIT 20
"""


# int8-quantized two-phase top-k: replays quantization (round-half-up
# codes at max|v|/127), the integer-dot estimate ordering (pool = 4k =
# 80), and the exact-cosine rescoring. round() in DuckDB is half-away-
# from-zero, matching Spark's F.round / the python driver's HALF_UP.
_SQL_QUANT = """
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
           / 127.0 AS qs
  FROM embeddings WHERE vec_id = 0
), qc AS (
  SELECT qv, qs,
         list_transform(qv, x -> CASE WHEN qs > 0
             THEN round(x / qs) ELSE 0 END) AS qcode
  FROM q
), vz AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
           / 127.0 AS s
  FROM embeddings
), vc AS (
  SELECT vec_id, v, s,
         list_transform(v, x -> CASE WHEN s > 0
             THEN round(x / s) ELSE 0 END) AS code
  FROM vz
), est AS (
  SELECT vec_id, v, qv,
         list_dot_product(code, qcode) * s * qs AS e
  FROM vc, qc
), cand AS (
  SELECT vec_id, v, qv FROM est ORDER BY e DESC, vec_id ASC LIMIT 80
)
SELECT vec_id,
       round(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v))
                * sqrt(list_dot_product(qv, qv))), 6) AS cosine
FROM cand
ORDER BY list_dot_product(v, qv)
         / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
         DESC, vec_id ASC
LIMIT 20
"""


# reciprocal-rank fusion of the bm25 and brute lists (rank windows +
# 1/(60+rank) sum, rounded 9 — replays retrieval.py::rrf_fuse)
_SQL_RRF = f"""
WITH bmr AS (
  SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS r
  FROM ({_SQL_BM25})
), knr AS (
  SELECT vec_id AS id,
         row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS r
  FROM ({_SQL_KNN})
)
SELECT id, round(sum(1.0 / (60.0 + r)), 9) AS score
FROM (SELECT id, r FROM bmr UNION ALL SELECT id, r FROM knr)
GROUP BY id
"""


# IVF-vs-brute ranked-retrieval metrics at k=10 (binary truth = the
# exact brute top-20; replays retrieval.py::retrieval_metrics)
_SQL_RETMETRICS = f"""
WITH res AS (
  SELECT vec_id AS id,
         row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS r
  FROM ({_SQL_IVF})
), tr AS (SELECT vec_id AS id FROM ({_SQL_KNN})),
j AS (
  SELECT res.id, res.r,
         CASE WHEN tr.id IS NOT NULL THEN 1.0 ELSE 0.0 END AS rel
  FROM res LEFT JOIN tr USING (id)
), agg AS (
  SELECT sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS hits,
         min(CASE WHEN rel > 0 THEN r END) AS first_hit,
         sum((pow(2.0, rel) - 1.0) / log2(cast(r AS DOUBLE) + 1.0)) AS dcg
  FROM j WHERE r <= 10
), ideal AS (
  SELECT sum((pow(2.0, 1.0) - 1.0) / log2(cast(r AS DOUBLE) + 1.0)) AS idcg
  FROM (SELECT row_number() OVER () AS r FROM tr) WHERE r <= 10
), nrel AS (SELECT count(*) AS n FROM tr)
SELECT 'm_recall' AS method, CAST(10 AS BIGINT) AS id,
       round(cast(hits AS DOUBLE) / cast(n AS DOUBLE), 9) AS score
FROM agg, nrel
UNION ALL
SELECT 'm_mrr', 10, coalesce(round(1.0 / cast(first_hit AS DOUBLE), 9), 0.0)
FROM agg
UNION ALL
SELECT 'm_ndcg', 10, coalesce(round(dcg / idcg, 9), 0.0)
FROM agg, ideal
"""


_SQL_SIMILARITY = f"""
SELECT 'brute' AS method, b.vec_id AS id, b.cosine AS score
FROM ({_SQL_KNN}) b
UNION ALL
SELECT 'ivf' AS method, i.vec_id AS id, i.cosine AS score
FROM ({_SQL_IVF}) i
UNION ALL
SELECT 'ivf_incr' AS method, i.vec_id AS id, i.cosine AS score
FROM ({_SQL_IVF}) i
UNION ALL
SELECT 'bm25' AS method, m.id, m.score FROM ({_SQL_BM25}) m
UNION ALL
SELECT 'quant' AS method, z.vec_id AS id, z.cosine AS score
FROM ({_SQL_QUANT}) z
UNION ALL
SELECT 'rrf' AS method, f.id, f.score FROM ({_SQL_RRF}) f
UNION ALL
SELECT method, id, score FROM ({_SQL_RETMETRICS})
"""


def q_embedding_near_dup(spark, sf_dir):
    out = dedup.embedding_near_duplicates(
        _tp(spark, sf_dir, "embeddings"), threshold=0.35)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


_SQL_EMB_NEAR_DUP = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
             6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.35
"""


def q_embedding_near_dup_lsh(spark, sf_dir):
    """Two bounded-candidate embedding near-dup paths in one row
    (schema ``(kind, id_a, id_b, cosine)``):

    * ``kind='lsh'`` — banded random-hyperplane LSH (no cross join —
      candidates only from shared band buckets). The oracle replays the
      exact quantized Rademacher projections, band keys, candidate
      join, and cosine filter.
    * ``kind='sem'`` — SemDeDup-style cell-bounded dedup
      (``operators/similarity.py::semantic_duplicates``): pairs only
      within an IVF centroid cell (16 seed centroids, argmax-cosine
      assignment with the IVF tie rule). The oracle replays assignment,
      the within-cell join, and the threshold — a vector landing in the
      wrong cell changes the pair set and fails the row."""
    out = _lsh_pair_feed(spark, sf_dir)
    lsh = out.select(F.lit("lsh").alias("kind"), "id_a", "id_b",
                     F.round("cosine", 6).alias("cosine"))
    seeds = (_t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 16)
             .orderBy("vec_id").select("embedding").collect())
    cents = [list(r[0]) for r in seeds]
    sem = (similarity.semantic_duplicates(
               _tp(spark, sf_dir, "embeddings"), cents, threshold=0.35)
           .select(F.lit("sem").alias("kind"), "id_a", "id_b",
                   F.round("cosine", 6).alias("cosine")))
    return lsh.unionByName(sem)


_COS_AB = """list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
             / (sqrt(list_dot_product(ea.embedding::DOUBLE[],
                                      ea.embedding::DOUBLE[]))
                * sqrt(list_dot_product(eb.embedding::DOUBLE[],
                                        eb.embedding::DOUBLE[])))"""

# LSH pair pipeline shared by the pair query and the cluster oracle
_EMB_LSH_CTES = f"""projs AS (
  SELECT vec_id, j,
         list_sum([round(embedding[i]::DOUBLE * 1000000)::BIGINT
                   * CASE WHEN ('0x' || substr(md5(j || '#' || (i - 1)),
                                               1, 2))::INT % 2 = 1
                          THEN 1 ELSE -1 END
                   for i in generate_series(1, len(embedding))]) AS proj
  FROM embeddings, (SELECT unnest(generate_series(0, 15)) AS j)
), bandkeys AS (
  SELECT vec_id, (j // 4) AS band,
         md5((j // 4) || '#' ||
             string_agg(CASE WHEN proj > 0 THEN '1' ELSE '0' END,
                        '' ORDER BY j)) AS band_key
  FROM projs GROUP BY vec_id, (j // 4)
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bandkeys a JOIN bandkeys b
    ON a.band = b.band AND a.band_key = b.band_key AND a.vec_id < b.vec_id
), epairs AS (
  SELECT c.id_a, c.id_b, {_COS_AB} AS cosine
  FROM cand c JOIN embeddings ea ON c.id_a = ea.vec_id
              JOIN embeddings eb ON c.id_b = eb.vec_id
  WHERE {_COS_AB} >= 0.35
)"""

_SQL_EMB_NEAR_DUP_LSH = f"""
WITH {_EMB_LSH_CTES},
semc AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < 16
), semassign AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY CASE WHEN sqrt(list_dot_product(
                              e.embedding::DOUBLE[],
                              e.embedding::DOUBLE[]))
                           * sqrt(list_dot_product(c.cv, c.cv)) > 0
                      THEN list_dot_product(e.embedding::DOUBLE[], c.cv)
                           / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                    e.embedding::DOUBLE[]))
                              * sqrt(list_dot_product(c.cv, c.cv)))
                      ELSE 0 END DESC,
                      c.cid DESC) AS rn
    FROM embeddings e CROSS JOIN semc c)
  WHERE rn = 1
), sempairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
         / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                  a.embedding::DOUBLE[]))
            * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]))) AS cosine
  FROM semassign a JOIN semassign b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
)
SELECT 'lsh' AS kind, id_a, id_b, round(cosine, 6) AS cosine FROM epairs
UNION ALL
SELECT 'sem' AS kind, id_a, id_b, round(cosine, 6) AS cosine
FROM sempairs WHERE cosine >= 0.35
"""


def q_embedding_dup_clusters(spark, sf_dir):
    """Transitive embedding duplicate families: connected components over
    the banded-LSH near-dup pair graph (same parameters as
    embedding_near_dup_lsh), cluster_id = min vec_id, keep = canonical."""
    pairs = _lsh_pair_feed(spark, sf_dir)
    return (dedup.duplicate_clusters(pairs, out_id="vec_id")
            .withColumn("keep", F.col("vec_id") == F.col("cluster_id")))


_SQL_EMB_CLUSTERS = f"""
WITH RECURSIVE {_EMB_LSH_CTES},
cedges AS (
  SELECT id_a AS src, id_b AS dst FROM epairs
  UNION
  SELECT id_b, id_a FROM epairs
), reach(id, r) AS (
  SELECT src, src FROM cedges
  UNION
  SELECT e.src, reach.r FROM cedges e JOIN reach ON reach.id = e.dst
)
SELECT id AS vec_id, min(r) AS cluster_id, id = min(r) AS keep
FROM reach GROUP BY id
"""


def q_textstats_quality(spark, sf_dir):
    """Per-doc text-analysis profile: quality features, both token
    counts (whitespace + BPE-ish sub-word estimate — letter runs /
    ≤3-digit chunks / symbol runs, leftmost-first alternation identical
    under Java regex and RE2), marker-word language ID, the
    normalized-content fingerprint, and Gopher/C4-style repetition
    signals (duplicate-trigram + duplicate-line ratios). One query
    exercises all five textstats operators (folds the former
    ``token_stats`` / ``lang_id_counts`` / ``fingerprint_sources``
    queries so every operator sits inside the driver's 50-query
    CORRECTNESS window), plus the corpus-level C4 line-dedup profile
    (``operators/dedup.py``: n_lines / n_corpus_dup_lines and the md5
    of the line-deduplicated text — any reassembly-order error changes
    the digest, so the oracle checks ``drop_duplicate_lines``
    end-to-end)."""
    docs = _tp(spark, sf_dir, "documents")
    # quality + lang-ID come from the shared persisted feed (lang_id is
    # the shuffle-bearing pass, reused by two other driver rows)
    prof = textstats.repetition_stats(
        textstats.fingerprint(
            textstats.token_stats(_docfeat_feed(spark, sf_dir))))
    lown = _feed(spark, ("line_own", sf_dir),
                 lambda: dedup.line_ownership(docs))
    # stats + clean ride ONE aggregate over the persisted ownership
    # feed (≡ line_dedup_stats ⋈ drop_duplicate_lines — pinned by
    # tests/test_operators.py::test_line_profile_equals_composite)
    lprof = (dedup.line_dedup_profile(docs, ownership=lown)
                  .withColumn("clean_md5", F.md5("clean_text"))
                  .drop("clean_text"))
    # LM-perplexity leg (operators/lm.py): bigram stupid-backoff quality
    # scoring, trained on the corpus itself — the CCNet-style filter.
    # The bigram table is consumed four times inside perplexity()
    # (pair join + the derived context/unigram/total views), so it goes
    # through the persisted feed like the other shared intermediates.
    big = _feed(spark, ("lm_bigrams", sf_dir),
                lambda: lm.train_bigram_lm(docs))
    lmcols = lm.perplexity(docs.select("doc_id", "text"), big).select(
        "doc_id", "lm_tokens", "avg_logprob", "perplexity")
    return (prof.select(
        "doc_id", "n_tokens", "mean_token_len", "punct_ratio",
        "stopword_ratio", "quality_score", "ws_tokens", "bpe_tokens",
        "predicted_lang", "fingerprint",
        "dup_trigram_ratio", "dup_line_ratio")
        .join(lprof, "doc_id")
        .join(lmcols, "doc_id"))


_SQL_QUALITY = f"""
WITH base AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
         length(text) AS n_chars,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
         len(list_filter(string_split(text, ' '),
             t -> list_contains(['the','and','of','to','a','in','is','that'],
                                lower(t)))) AS stop_hits,
         len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
           AS ws_tokens,
         len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]{{1,3}}|[^A-Za-z0-9\\s]+')) AS bpe_tokens,
         list_transform(list_filter(string_split_regex(text, '\\s+'),
                                    t -> t <> ''), t -> lower(t)) AS w,
         list_filter(string_split(text, chr(10)), t -> t <> '') AS lines,
         md5({_NORM}) AS fingerprint
  FROM documents
), grams AS (
  SELECT *, list_transform(range(1, greatest(len(w) - 1, 1)),
            i -> w[i] || chr(30) || w[i+1] || chr(30) || w[i+2]) AS g
  FROM base
), scored AS (
  SELECT *, list_max([
    {{'hits': len(list_filter(w, t -> list_contains(['the','and','of','to','a','in','is','that'], t))), 'lang': 'en'}},
    {{'hits': len(list_filter(w, t -> list_contains(['der','die','und','das','ist','nicht','ein'], t))), 'lang': 'de'}},
    {{'hits': len(list_filter(w, t -> list_contains(['le','la','les','et','est','une','pas'], t))), 'lang': 'fr'}},
    {{'hits': len(list_filter(w, t -> list_contains(['el','la','los','y','es','una','que'], t))), 'lang': 'es'}}
  ]) AS best FROM grams
), lns AS (
  SELECT doc_id, u.pos AS pos, u.line AS line
  FROM (SELECT doc_id,
               unnest(list_transform(range(len(l)),
                      i -> {{'pos': i, 'line': l[i+1]}})) AS u
        FROM (SELECT doc_id, string_split(text, chr(10)) AS l
              FROM documents))
), own AS (
  SELECT line, min(doc_id) AS keeper, count(DISTINCT doc_id) AS ndocs
  FROM lns WHERE line <> '' GROUP BY line
), lstat AS (
  SELECT l.doc_id, cast(count(*) AS BIGINT) AS n_lines,
         cast(sum(CASE WHEN o.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_corpus_dup_lines
  FROM lns l LEFT JOIN own o ON l.line = o.line GROUP BY l.doc_id
), kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM lns l LEFT JOIN own o ON l.line = o.line
  WHERE o.line IS NULL OR o.ndocs = 1 OR l.doc_id = o.keeper
), clean AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS ct
  FROM kept GROUP BY doc_id
), lmp AS (
  SELECT doc_id, u.i AS pos,
         CASE WHEN u.i = 0 THEN '<s>' ELSE w[u.i] END AS prev,
         w[u.i + 1] AS cur
  FROM (SELECT doc_id, w,
               unnest(list_transform(range(len(w)), i -> {{'i': i}})) AS u
        FROM base)
), lmbi AS (
  SELECT prev, cur, count(*) AS nb FROM lmp GROUP BY prev, cur
), lmctx AS (SELECT prev, sum(nb) AS nctx FROM lmbi GROUP BY prev
), lmuni AS (SELECT cur, sum(nb) AS ntok FROM lmbi GROUP BY cur
), lmn AS (SELECT sum(ntok) AS nn FROM lmuni
), lmscore AS (
  SELECT p.doc_id, count(*) AS lm_tokens,
         sum(ln(CASE WHEN b.nb IS NOT NULL THEN b.nb / c.nctx
                     ELSE 0.4 * coalesce(u.ntok, 0.5) / lmn.nn END)) AS slp
  FROM lmp p
  LEFT JOIN lmbi b ON p.prev = b.prev AND p.cur = b.cur
  LEFT JOIN lmctx c ON p.prev = c.prev
  LEFT JOIN lmuni u ON p.cur = u.cur
  CROSS JOIN lmn
  GROUP BY p.doc_id)
SELECT s.doc_id, n_tokens,
       round((n_chars - (n_tokens - 1)) / greatest(n_tokens, 1), 4) AS mean_token_len,
       round(n_punct / greatest(n_chars, 1), 4) AS punct_ratio,
       round(stop_hits / greatest(n_tokens, 1), 4) AS stopword_ratio,
       (CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 0.25 ELSE 0.0 END
        + CASE WHEN (n_chars - (n_tokens - 1)) / greatest(n_tokens, 1)
                    BETWEEN 2 AND 12 THEN 0.25 ELSE 0.0 END
        + CASE WHEN n_punct / greatest(n_chars, 1) <= 0.2 THEN 0.25 ELSE 0.0 END
        + CASE WHEN stop_hits / greatest(n_tokens, 1) >= 0.05
               THEN 0.25 ELSE 0.0 END) AS quality_score,
       ws_tokens, bpe_tokens,
       CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS predicted_lang,
       fingerprint,
       CASE WHEN len(w) >= 3
            THEN round(1.0 - len(list_distinct(g)) / len(g), 4)
            ELSE 0.0 END AS dup_trigram_ratio,
       CASE WHEN len(lines) > 1
            THEN round(1.0 - len(list_distinct(lines)) / len(lines), 4)
            ELSE 0.0 END AS dup_line_ratio,
       lstat.n_lines, lstat.n_corpus_dup_lines,
       md5(coalesce(cl.ct, '')) AS clean_md5,
       cast(coalesce(lms.lm_tokens, 0) AS BIGINT) AS lm_tokens,
       round(lms.slp / lms.lm_tokens, 4) AS avg_logprob,
       round(exp(-(lms.slp / lms.lm_tokens)), 4) AS perplexity
FROM scored s
JOIN lstat ON s.doc_id = lstat.doc_id
LEFT JOIN clean cl ON s.doc_id = cl.doc_id
LEFT JOIN lmscore lms ON s.doc_id = lms.doc_id
"""


def q_pii_scrub_stats(spark, sf_dir):
    """PII/URL scrubbing report (``operators/scrub.py`` — the C4-style
    masking pass a training corpus runs before anything else): emails,
    URLs, IPv4s and phone numbers masked by chained ``regexp_replace``,
    with per-kind match counts on the original text, affected-doc
    counts, and the post-scrub residue (must be 0). Deterministic
    PII-bearing lines are synthesized from events; 'view' rows carry no
    PII so n_docs < total. Pattern set restricted to Java-regex ≡ RE2
    constructs so the DuckDB oracle replays masking + counts exactly.

    Folded Unicode-hygiene legs (kind='controls' / 'nfc',
    ``operators/scrub.py::normalize_stats``): 'click' rows get a
    deterministic dirty suffix (decomposed e+U+0301, a zero-width
    space, a C0 control); the census counts stripped controls,
    NFC-changed docs and the normalized corpus's total codepoints. The
    oracle replays the strip regex and DuckDB's ``nfc_normalize``
    (same Unicode canonical composition as the pandas NFC UDF), so an
    engine disagreement on any single codepoint moves the census."""
    ev = _tp(spark, sf_dir, "events")
    pii = F.concat(
        F.lit("user u"), F.col("user_id").cast("string"),
        F.lit("@mail.example.com fetched https://cdn.example.org/a/"),
        F.col("event_id").cast("string"), F.lit("?tok=x from 10."),
        F.pmod("user_id", F.lit(256)).cast("string"), F.lit("."),
        F.pmod("event_id", F.lit(256)).cast("string"), F.lit(".7 call +49"),
        F.pmod("event_id", F.lit(10 ** 9)).cast("string"))
    text = (F.when(F.col("event_type") == "view",
                   F.concat(F.lit("plain view row "),
                            F.col("event_id").cast("string")))
             .otherwise(pii))
    nbase = F.concat(F.lit("norm row "), F.col("event_id").cast("string"))
    ndirty = (F.when(F.col("event_type") == "click",
                     F.concat(nbase, F.lit("café​\x01")))
               .otherwise(nbase))
    nrm = scrub.normalize_stats(ev.select(ndirty.alias("text")))
    return scrub.scrub_stats(ev.select(text.alias("text"))) \
        .unionByName(nrm)


def _sql_scrub() -> str:
    """Oracle generated from the SAME SCRUB_RULES the operator uses —
    one source of truth for the pattern set."""
    lines_cte = """
  SELECT CASE WHEN event_type = 'view'
              THEN 'plain view row ' || event_id
              ELSE 'user u' || user_id
                   || '@mail.example.com fetched https://cdn.example.org/a/'
                   || event_id || '?tok=x from 10.' || (user_id % 256)
                   || '.' || (event_id % 256) || '.7 call +49'
                   || (event_id % 1000000000) END AS text
  FROM events"""
    masked = "text"
    for _, pat, repl in scrub.SCRUB_RULES:
        masked = f"regexp_replace({masked}, '{pat}', '{repl}', 'g')"
    parts = []
    for k, pat, _ in scrub.SCRUB_RULES:
        parts.append(f"""SELECT '{k}' AS kind,
       cast(sum(len(regexp_extract_all(text, '{pat}'))) AS BIGINT)
         AS n_matches,
       cast(sum(CASE WHEN len(regexp_extract_all(text, '{pat}')) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       cast(sum(len(regexp_extract_all(s, '{pat}'))) AS BIGINT) AS n_after
FROM scrubbed""")
    body = "\nUNION ALL\n".join(parts)
    # Unicode-hygiene legs: rebuild the dirty corpus (decomposed accent
    # chr(769), zero-width space chr(8203), C0 control chr(1)), strip
    # with the SAME CONTROL_PATTERN, NFC via DuckDB's nfc_normalize
    cp = scrub.CONTROL_PATTERN
    norm_cte = f"""
nbase AS (
  SELECT CASE WHEN event_type = 'click'
              THEN 'norm row ' || event_id || 'caf' || 'e' || chr(769)
                   || chr(8203) || chr(1)
              ELSE 'norm row ' || event_id END AS t
  FROM events
), nz AS (
  SELECT t, regexp_replace(t, '{cp}', '', 'g') AS s FROM nbase
), nn AS (
  SELECT t, nfc_normalize(s) AS nt, length(t) - length(s) AS ncontrols
  FROM nz
)"""
    norm_body = f"""SELECT 'controls' AS kind,
       cast(sum(ncontrols) AS BIGINT) AS n_matches,
       cast(sum(CASE WHEN ncontrols > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs,
       cast(sum(length(nt)
                - length(regexp_replace(nt, '{cp}', '', 'g'))) AS BIGINT)
         AS n_after
FROM nn
UNION ALL
SELECT 'nfc' AS kind,
       cast(sum(CASE WHEN nt <> t THEN 1 ELSE 0 END) AS BIGINT),
       cast(count(*) AS BIGINT),
       cast(sum(length(nt)) AS BIGINT)
FROM nn"""
    return (f"WITH lines AS ({lines_cte}\n), scrubbed AS (\n"
            f"  SELECT text, {masked} AS s FROM lines\n), {norm_cte}\n"
            f"{body}\nUNION ALL\n{norm_body}")


_SQL_SCRUB = _sql_scrub()


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing (rolling k-gram window-min) fingerprints, both consumer
    shapes in one labeled row set: kind='doc' is the per-doc profile
    (count + min fingerprint + truncation flag); kind='pair' is the
    MOSS-style shared-substring join (docs sharing >= 5 selected
    fingerprints via a df-capped inverted index — the contamination /
    quotation detector whole-doc similarity dilutes away). Oracle
    replays the k-gram md5 hashes, the trailing-window string-min
    selection, and the capped self-join exactly."""
    # the window-function fingerprint subtree feeds both the doc-profile
    # and the pair branches — materialize it once (same _feed memo the
    # Jaccard pair feed uses; wall-clock only, never answers)
    fps = _feed(spark, ("winnow_fps", sf_dir),
                lambda: textstats.winnow_fingerprints(
                    _tp(spark, sf_dir, "documents"), k=5, window=4))
    docs = fps.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.min("fp").alias("min_fp"),
        F.max(F.col("truncated").cast("int")).alias("truncated"))
    doc_rows = docs.select(
        F.lit("doc").alias("kind"), F.col("doc_id").alias("id_a"),
        F.lit(None).cast("bigint").alias("id_b"), "n", "min_fp",
        "truncated")
    pairs = textstats.fingerprint_dup_pairs(
        fps, min_shared=5, max_docs_per_fp=50)
    pair_rows = pairs.select(
        F.lit("pair").alias("kind"), "id_a", "id_b",
        F.col("n_shared_fp").alias("n"),
        F.lit(None).cast("string").alias("min_fp"),
        F.lit(None).cast("int").alias("truncated"))
    return doc_rows.unionByName(pair_rows)


_SQL_WINNOW = f"""
WITH norm AS (
  SELECT doc_id, {_NORM} AS t FROM documents
), pos AS (
  SELECT doc_id, t,
         unnest(generate_series(1, least(length(t) - 4, 2000))) AS p
  FROM norm WHERE length(t) - 4 >= 1
), hashes AS (
  SELECT doc_id, p, md5(substr(t, p, 5)) AS fp FROM pos
), sel AS (
  SELECT doc_id, fp,
         min(fp) OVER (PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
  FROM hashes
), fps AS (
  SELECT DISTINCT doc_id, fp FROM sel WHERE fp = wmin
), trunc AS (
  SELECT doc_id,
         cast(length(t) - 4 > 2000 AS INTEGER) AS truncated
  FROM norm
), rare AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50
), posts AS (
  SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         cast(count(*) AS BIGINT) AS n
  FROM posts a JOIN posts b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 5
)
SELECT 'doc' AS kind, f.doc_id AS id_a, CAST(NULL AS BIGINT) AS id_b,
       cast(count(*) AS BIGINT) AS n, min(f.fp) AS min_fp,
       max(tr.truncated) AS truncated
FROM fps f JOIN trunc tr ON f.doc_id = tr.doc_id
GROUP BY f.doc_id
UNION ALL
SELECT 'pair' AS kind, id_a, id_b, n, CAST(NULL AS VARCHAR) AS min_fp,
       CAST(NULL AS INTEGER) AS truncated
FROM pairs
"""


def q_rollup_orders(spark, sf_dir):
    """Hierarchical aggregate (ROLLUP) over orders: subtotals + grand
    total with exact-decimal sums cast to double."""
    o = _t(spark, sf_dir, "orders")
    return (o.rollup("o_orderpriority", "o_orderstatus")
             .agg(F.count("*").alias("n_orders"),
                  F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                   .cast("double").alias("total_price")))


_SQL_ROLLUP = """
SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
       cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total_price
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


def q_set_ops_users(spark, sf_dir):
    """Set operators: users with error events who also purchased, minus
    users who ever signed up (INTERSECT + EXCEPT)."""
    ev = _t(spark, sf_dir, "events")
    def users(t, min_value=None):
        d = ev.filter(F.col("event_type") == t)
        if min_value is not None:
            d = d.filter(F.col("value") > min_value)
        return d.select("user_id").distinct()
    return (users("error").intersect(users("purchase"))
            .exceptAll(users("signup", min_value=200.0)))


_SQL_SET_OPS = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'signup' AND value > 200
"""


_SQL_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::UBIGINT::BIGINT AS h
  FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS t FROM documents)
  WHERE t <> ''
), votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM toks, (SELECT unnest(generate_series(0, 59)) AS b)
  GROUP BY doc_id, b
), sims AS (
  SELECT doc_id,
         cast(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id, coalesce(s.simhash, 0::BIGINT) AS simhash
FROM documents d LEFT JOIN sims s USING (doc_id)
"""

# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full header-parse + tokenize of syslog-shaped lines."""
    return q_parse_syslog_extract(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "parse_syslog_extract": q_parse_syslog_extract,
        "tokenize_token_counts": q_tokenize_token_counts,
        "route_severity_counts": q_route_severity_counts,
        "pricing_summary": q_pricing_summary,
        "revenue_topk": q_revenue_topk,
        "topk_per_group": q_topk_per_group,
        "sessionize": q_sessionize,
        "enrich_events_customers": q_enrich_events_customers,
        "asof_latest_purchase": q_asof_latest_purchase,
        "range_join_windows": q_range_join_windows,
        "json_props_extract": q_json_props_extract,
        "variant_props_stats": q_variant_props_stats,
        "csv_line_parse": q_csv_line_parse,
        "xml_event_parse": q_xml_event_parse,
        "anti_join_idle_customers": q_anti_join_idle_customers,
        "semi_join_ordered_brands": q_semi_join_ordered_brands,
        "window_running_revenue": q_window_running_revenue,
        "approx_distinct_users": q_approx_distinct_users,
        "approx_quantiles_check": q_approx_quantiles_check,
        "stats_value_by_type": q_stats_value_by_type,
        "bucketed_join_revenue": q_bucketed_join_revenue,
        "multimodal_features": q_multimodal_features,
        "frame_sample": q_frame_sample,
        "logtext_archive_scan": q_logtext_archive_scan,
        "session_window_stats": q_session_window_stats,
        "daily_event_spine": q_daily_event_spine,
        "pack_training_chunks": q_pack_training_chunks,
        "decontaminate": q_decontaminate,
        "sliding_window_counts": q_sliding_window_counts,
        "regional_revenue": q_regional_revenue,
        "pivot_event_values": q_pivot_event_values,
        "value_quantiles": q_value_quantiles,
        "template_mining": q_template_mining,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "dedup_keep_list": q_dedup_keep_list,
        "stratified_sample_counts": q_stratified_sample_counts,
        "training_selection": q_training_selection,
        "simhash": q_simhash,
        "similarity_topk": q_similarity_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "embedding_dup_clusters": q_embedding_dup_clusters,
        "textstats_quality": q_textstats_quality,
        "pii_scrub_stats": q_pii_scrub_stats,
        "winnow_fingerprints": q_winnow_fingerprints,
        "rollup_orders": q_rollup_orders,
        "set_ops_users": q_set_ops_users,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "parse_syslog_extract": _SQL_PARSE,
        "tokenize_token_counts": _SQL_TOKENIZE,
        "route_severity_counts": _SQL_ROUTE,
        "pricing_summary": _SQL_PRICING,
        "revenue_topk": _SQL_REVENUE,
        "topk_per_group": _SQL_TOPK_GROUP,
        "sessionize": _SQL_SESSIONIZE,
        "enrich_events_customers": _SQL_ENRICH,
        "asof_latest_purchase": _SQL_ASOF,
        "range_join_windows": _SQL_RANGE_JOIN,
        "json_props_extract": _SQL_JSON_PROPS,
        "variant_props_stats": _SQL_VARIANT_PROPS,
        "csv_line_parse": _SQL_CSV_PARSE,
        "xml_event_parse": _SQL_XML_PARSE,
        "anti_join_idle_customers": _SQL_ANTI_JOIN,
        "semi_join_ordered_brands": _SQL_SEMI_JOIN,
        "window_running_revenue": _SQL_RUNNING,
        "approx_distinct_users": _SQL_APPROX_DISTINCT,
        "approx_quantiles_check": _SQL_APPROX_QUANTILES,
        "stats_value_by_type": _SQL_STATS,
        "bucketed_join_revenue": _SQL_BUCKETED_JOIN,
        "multimodal_features": _SQL_MULTIMODAL,
        "frame_sample": _SQL_FRAME_SAMPLE,
        "logtext_archive_scan": _SQL_LOGTEXT_SCAN,
        "session_window_stats": _SQL_SESSION_WINDOW,
        "daily_event_spine": _SQL_DAILY_SPINE,
        "pack_training_chunks": _SQL_PACK_CHUNKS,
        "decontaminate": _SQL_DECONTAMINATE,
        "sliding_window_counts": _SQL_SLIDING_WINDOW,
        "regional_revenue": _SQL_REGIONAL_REVENUE,
        "pivot_event_values": _SQL_PIVOT,
        "value_quantiles": _SQL_QUANTILES,
        "template_mining": _SQL_TEMPLATES_COMBINED,
        "dedup_exact": _SQL_DEDUP_EXACT,
        "dedup_minhash_lsh": _SQL_MINHASH,
        "dedup_ngram_jaccard": _SQL_JACCARD,
        "dedup_clusters": _SQL_CLUSTERS,
        "dedup_keep_list": _SQL_KEEP_LIST,
        "stratified_sample_counts": _SQL_STRATIFIED,
        "training_selection": _SQL_TRAINING_SELECTION,
        "simhash": _SQL_SIMHASH,
        "similarity_topk": _SQL_SIMILARITY,
        "embedding_near_dup": _SQL_EMB_NEAR_DUP,
        "embedding_near_dup_lsh": _SQL_EMB_NEAR_DUP_LSH,
        "embedding_dup_clusters": _SQL_EMB_CLUSTERS,
        "textstats_quality": _SQL_QUALITY,
        "pii_scrub_stats": _SQL_SCRUB,
        "winnow_fingerprints": _SQL_WINNOW,
        "rollup_orders": _SQL_ROLLUP,
        "set_ops_users": _SQL_SET_OPS,
    }
