"""Log anomaly surfaces over mined templates: per-line template
assignment, rare-template flagging, two-period corpus drift, and
burst detection over event-rate windows.

This is the layer an operator actually asks questions of once template
mining (``operators/templates.py``) has collapsed the corpus: "which
lines don't fit any common pattern", "what changed between yesterday's
logs and today's", "which source started shouting". The reference
(log2seq) is the preprocessing stage for exactly this downstream
analysis (reference README.rst: "a preprocessing tool ... for template
mining"); these operators close the loop on the mined templates.

All plans are pure built-in expressions (ANSI-SQL-replayable, so the
DuckDB oracle verifies drift bit-for-bit) and every join against the
corpus broadcasts a templates-table side bounded by #groups — never a
corpus-sized shuffle beyond the one profile aggregate mining already
pays.

Scale shape (100 TB): ``assign_templates`` is corpus-scan + broadcast
join (the group→template map is #groups rows); ``template_drift``
touches only the two tiny template tables (a full-outer join of
#template-row frames, totals attached via a broadcast one-row
aggregate — no single-partition window over the template table);
``burst_windows`` is one shuffle on (key, window) then a bounded range
frame per key. Drift's integer cross-multiplication is exact up to
~3e9 lines per corpus (product of two bigint counts); beyond that,
pre-aggregate per shard and compare shares in double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .templates import (group_templates, line_tokens_expr, merge_profiles,
                        mine_templates, position_profiles, WILDCARD)


def _keyed_lines(lines: DataFrame, text_col: str,
                 tokens_col: str | None) -> DataFrame:
    """``lines`` with the Drain group key appended: ``_ntok`` (token
    count) and ``_head`` (leading token, numeric heads routed to the
    shared wildcard group) — the SAME key :func:`position_profiles`
    groups by, so assignment and mining can never disagree on which
    group a line belongs to."""
    toks = (F.col(tokens_col) if tokens_col is not None
            else line_tokens_expr(F.col(text_col)))
    staged = lines.withColumn("__anom_w", toks)
    head = F.try_element_at(F.col("__anom_w"), F.lit(1))
    head = F.when(head.rlike(r"^[0-9]+$"), F.lit(WILDCARD)).otherwise(head)
    return (staged.withColumn("_ntok", F.size("__anom_w"))
                  .withColumn("_head", head)
                  .drop("__anom_w"))


def assign_templates(lines: DataFrame, text_col: str = "text",
                     tokens_col: str | None = None,
                     profile: DataFrame | None = None) -> DataFrame:
    """Attach each line's mined template: ``lines`` columns plus
    ``template`` (the group's template string) and ``template_lines``
    (how many corpus lines share that template).

    One corpus scan builds the profile (unless a precomputed/merged
    ``profile`` from :func:`position_profiles` is passed — the
    incremental path: assign today's lines against state mined over
    history); the map back onto lines is a BROADCAST join on the
    (token-count, head) group key — the right side is bounded by
    #groups, so no corpus-sized shuffle is added. Zero-token lines
    have a null group head and come back with a null template
    (they contributed no positions to mining either).
    """
    prof = (profile if profile is not None
            else position_profiles(lines, text_col, tokens_col=tokens_col))
    groups = group_templates(prof)
    # template-level line count (sum across groups that collapsed onto
    # the same template) rides along so rarity reads need no second join
    tl = (groups.groupBy("template")
                .agg(F.sum("_n_lines").alias("template_lines")))
    gmap = groups.select("_ntok", "_head", "template").join(
        F.broadcast(tl), "template")
    keyed = _keyed_lines(lines, text_col, tokens_col)
    out = keyed.join(F.broadcast(gmap), ["_ntok", "_head"], "left")
    return out.drop("_ntok", "_head")


def rare_template_lines(lines: DataFrame, text_col: str = "text",
                        tokens_col: str | None = None,
                        max_lines: int = 1,
                        profile: DataFrame | None = None) -> DataFrame:
    """:func:`assign_templates` plus ``is_rare``: true when the line's
    template covers at most ``max_lines`` corpus lines — the classic
    "log line that matches no common pattern" anomaly surface. Lines
    with no template (zero tokens) are rare by definition."""
    out = assign_templates(lines, text_col, tokens_col=tokens_col,
                           profile=profile)
    is_rare = (F.col("template_lines").isNull()
               | (F.col("template_lines") <= max_lines))
    return out.withColumn("is_rare", is_rare)


def novel_line_flags(lines: DataFrame, prior_profile: DataFrame,
                     text_col: str = "text",
                     tokens_col: str | None = None,
                     max_lines: int = 1,
                     merged_profile: DataFrame | None = None) -> DataFrame:
    """Per-line verdicts for a NEW batch of lines against accumulated
    mining state: ``lines`` columns plus ``template`` /
    ``template_lines`` (assigned against ``prior ∪ batch`` — a message
    that is common within the batch itself is not an anomaly),
    ``is_rare`` (the template covers at most ``max_lines`` lines across
    everything ever mined), and ``is_new`` (the line's (token-count,
    head) Drain group has NEVER been seen before this batch — the
    real-time "first occurrence of a new message shape" signal).

    ``prior_profile`` is a :func:`~log2seq_spark.operators.templates.\
position_profiles` table (e.g. the epoch state ``templates
    --state-dir`` keeps, ``plans/epochs.py``); pass
    ``merged_profile`` when the caller has already folded the batch in
    (avoids profiling the batch twice).

    Scale shape: one batch scan for the profile fold (if not supplied)
    + one batch scan for the per-line joins; both joins broadcast sides
    bounded by #groups, never corpus- or history-sized.
    """
    if merged_profile is None:
        merged_profile = merge_profiles(
            prior_profile,
            position_profiles(lines, text_col, tokens_col=tokens_col))
    groups = group_templates(merged_profile)
    tl = (groups.groupBy("template")
                .agg(F.sum("_n_lines").alias("template_lines")))
    gmap = groups.select("_ntok", "_head", "template").join(
        F.broadcast(tl), "template")
    prior_keys = (prior_profile.select("_ntok", "_head").distinct()
                               .withColumn("_seen", F.lit(True)))
    keyed = _keyed_lines(lines, text_col, tokens_col)
    out = (keyed.join(F.broadcast(gmap), ["_ntok", "_head"], "left")
                .join(F.broadcast(prior_keys), ["_ntok", "_head"], "left"))
    is_rare = (F.col("template_lines").isNull()
               | (F.col("template_lines") <= max_lines))
    return (out.withColumn("is_rare", is_rare)
               .withColumn("is_new", F.col("_seen").isNull())
               .drop("_ntok", "_head", "_seen"))


def template_drift(lines_a: DataFrame, lines_b: DataFrame,
                   text_col: str = "text",
                   tokens_col: str | None = None,
                   factor: int = 4,
                   dedup_lines: bool = False) -> DataFrame:
    """What changed between two log periods: mine templates over each
    corpus and compare per-template line counts. Returns one row per
    template seen in either period: ``(template, n_a, n_b, status)``
    with ``status`` one of

    - ``new``       — absent from A, present in B
    - ``vanished``  — present in A, absent from B
    - ``surge``     — B's share of its corpus is more than ``factor``×
      A's share (cross-multiplied in exact bigint: ``n_b * tot_a >
      factor * n_a * tot_b`` — no float shares, so the DuckDB oracle
      replays the verdict bit-for-bit)
    - ``drop``      — the symmetric decline
    - ``stable``    — everything else

    Shares (not raw counts) are compared so a corpus that simply grew
    doesn't mark every template a surge. The compare itself touches
    only the two template tables (#templates rows each); totals are
    attached via a broadcast one-row aggregate rather than a
    single-partition window, so a million-template table still
    compares in parallel.
    """
    a = (mine_templates(lines_a, text_col, tokens_col=tokens_col,
                        dedup_lines=dedup_lines)
         .select("template", F.col("n_lines").alias("n_a")))
    b = (mine_templates(lines_b, text_col, tokens_col=tokens_col,
                        dedup_lines=dedup_lines)
         .select("template", F.col("n_lines").alias("n_b")))
    j = (a.join(b, "template", "full_outer")
          .select("template",
                  F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
                  F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b")))
    totals = j.agg(F.sum("n_a").alias("_tot_a"),
                   F.sum("n_b").alias("_tot_b"))
    jt = j.join(F.broadcast(totals))
    fac = F.lit(int(factor)).cast("bigint")
    status = (F.when(F.col("n_a") == 0, F.lit("new"))
               .when(F.col("n_b") == 0, F.lit("vanished"))
               .when(F.col("n_b") * F.col("_tot_a")
                     > fac * F.col("n_a") * F.col("_tot_b"), F.lit("surge"))
               .when(F.col("n_a") * F.col("_tot_b")
                     > fac * F.col("n_b") * F.col("_tot_a"), F.lit("drop"))
               .otherwise(F.lit("stable")))
    return jt.select("template", "n_a", "n_b", status.alias("status"))


_DURATION_MS = {"millisecond": 1, "second": 1000, "minute": 60_000,
                "hour": 3_600_000, "day": 86_400_000}


def duration_ms(spec: str) -> int:
    """Parse a Spark-style interval string like '30 minutes', '1 hour'
    or the compound form '1 hour 30 minutes' — any spec ``F.window``
    accepts must parse here too, or a caller tuning the window from
    Spark docs crashes at plan construction."""
    toks = spec.strip().split()
    if not toks or len(toks) % 2:
        raise ValueError(
            f"cannot parse interval {spec!r}: expected 'N unit "
            "[N unit ...]' (e.g. '30 minutes', '1 hour 30 minutes')")
    total = 0
    for n, unit in zip(toks[::2], toks[1::2]):
        try:
            total += int(n) * _DURATION_MS[unit.rstrip("s").lower()]
        except (ValueError, KeyError):
            raise ValueError(
                f"cannot parse interval {spec!r}: bad component "
                f"{n!r} {unit!r}") from None
    return total


def burst_windows(events: DataFrame, ts_col: str = "ts",
                  key_col: str | None = None,
                  window: str = "1 hour",
                  trailing: int = 3, mult: int = 3,
                  min_windows: int = 1) -> DataFrame:
    """Event-rate burst detection: tumbling-window counts per key,
    flagged when a window's count exceeds ``mult``× the mean of the
    trailing ``trailing`` windows. Returns ``(key?, window_start, n,
    base_n, base_windows, is_burst)``.

    The baseline frame is a RANGE frame over epoch seconds — gaps
    (windows with zero events emit no row) shrink ``base_windows``
    rather than silently stretching the baseline over stale history;
    ``min_windows`` guards cold starts (no baseline → never a burst).
    The burst test cross-multiplies in bigint (``n * base_windows >
    mult * base_n``), so there is no float mean and the verdict is
    ANSI-replayable.

    One shuffle on (key, window) for the count; the range frame then
    runs inside the same per-key partition. Skew lives with the
    hottest key — exactly the key whose bursts are being hunted — and
    is bounded by (period / window) rows per key, not by event count.
    """
    wsec = duration_ms(window) // 1000
    ws = (F.unix_timestamp(F.window(F.col(ts_col), window)["start"])
          .alias("window_start"))
    keys = ([F.col(key_col)] if key_col is not None else [])
    counts = (events.groupBy(*keys, ws)
                    .agg(F.count("*").cast("bigint").alias("n")))
    part = Window.partitionBy(*([key_col] if key_col else []))
    frame = (part.orderBy("window_start")
                 .rangeBetween(-trailing * wsec, -wsec))
    base_n = F.coalesce(F.sum("n").over(frame), F.lit(0)).cast("bigint")
    base_w = F.count("n").over(frame).cast("bigint")
    out = counts.select(*([key_col] if key_col else []), "window_start",
                        "n", base_n.alias("base_n"),
                        base_w.alias("base_windows"))
    is_burst = ((F.col("base_windows") >= min_windows)
                & (F.col("n") * F.col("base_windows")
                   > F.lit(int(mult)).cast("bigint") * F.col("base_n")))
    return out.withColumn("is_burst", is_burst)


def _rank_median(df: DataFrame, keys: list[str], val_col: str,
                 out_col: str) -> DataFrame:
    """Exact per-key median by rank selection — (keys..., out_col).

    Deliberately NOT native ``median()``/``percentile(0.5)``: engines
    interpolate the even-count midpoint with different float expression
    shapes (``lo + (hi-lo)*0.5`` vs ``(lo+hi)/2``), which can differ by
    an ulp and break cross-engine value hashes. Selecting the middle
    one-or-two rows and averaging them is the same closed form in any
    engine (sum of <=2 doubles, one divide), so a DuckDB replay matches
    bit-for-bit. One shuffle + per-key sort — the price of an EXACT
    median; swap in approx_percentile upstream when 1% error is fine.
    """
    w_ord = Window.partitionBy(*keys).orderBy(val_col)
    w_all = Window.partitionBy(*keys)
    r = df.select(*keys, val_col,
                  F.row_number().over(w_ord).alias("__rm_rn"),
                  F.count("*").over(w_all).alias("__rm_c"))
    mid = r.filter((F.col("__rm_rn") == F.expr("(__rm_c + 1) DIV 2"))
                   | (F.col("__rm_rn") == F.expr("(__rm_c + 2) DIV 2")))
    return mid.groupBy(*keys).agg(F.avg(val_col).alias(out_col))


def robust_outliers(df: DataFrame, value_col: str = "value",
                    key_cols: tuple[str, ...] = ("event_type",),
                    threshold: float = 3.5) -> DataFrame:
    """Robust per-key outlier scoring via the modified z-score
    (Iglewicz & Hoaglin 1993): ``z = 0.6745 * (v - median) / MAD``,
    flagged when ``|z| > threshold`` (their recommended 3.5). Median +
    MAD resist the very outliers they hunt, unlike mean/stddev — the
    standard robust alternative to :func:`~q_stats_value_by_type`-style
    moment scoring for telemetry values.

    Returns the input columns plus ``med``, ``mad``, ``robust_z``
    (NULL when MAD = 0 — a constant-majority key has no robust scale)
    and ``is_outlier``.

    Scale shape: two exact rank-median passes (see :func:`_rank_median`
    — each is one shuffle + per-key sort over the values projection,
    never the full rows) producing #keys-row stats tables that join
    back broadcast. Exactness is the point: an approx-percentile MAD
    moves the outlier cut nondeterministically between runs, which a
    correctness-gated pipeline can't have.
    """
    keys = list(key_cols)
    v = F.col(value_col).cast("double")
    # NULL values carry no robust information and engines disagree on
    # NULL sort placement — keep them out of the median ranks entirely
    # (they still pass through the output with robust_z NULL)
    vals = (df.select(*keys, v.alias("__ro_v"))
              .filter(F.col("__ro_v").isNotNull()))
    med = _rank_median(vals, keys, "__ro_v", "med")
    dev = (vals.join(F.broadcast(med), keys)
               .select(*keys, F.abs(F.col("__ro_v") - F.col("med"))
                                .alias("__ro_av")))
    mad = _rank_median(dev, keys, "__ro_av", "mad")
    stats = F.broadcast(med.join(F.broadcast(mad), keys))
    z = F.when(F.col("mad") > 0,
               F.lit(0.6745) * (v - F.col("med")) / F.col("mad"))
    return (df.join(stats, keys, "left")  # all-NULL keys have no stats
              .withColumn("robust_z", z)
              .withColumn("is_outlier",
                          F.coalesce(F.abs(z) > F.lit(float(threshold)),
                                     F.lit(False))))
