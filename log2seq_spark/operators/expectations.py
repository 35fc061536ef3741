"""Declarative table-level data-quality gates, evaluated in ONE pass.

A 100 TB pipeline needs admission control: before a day's transcript
drop is parsed/routed/packed, assert schema-level invariants (null
rates, key uniqueness, value ranges, regex conformance, row counts) and
refuse loudly when they break — upstream schema drift caught at the
gate costs one scan; caught downstream it costs a re-run of everything.

The design constraint is the same one as everywhere else in this
engine: never one job per check. Every check compiles to conditional
aggregate EXPRESSIONS (``sum(case when …)``, ``min``/``max``,
``count_distinct``) that are all evaluated in a single ``agg`` over one
scan of the frame — k checks cost exactly one pass regardless of k,
with map-side partial aggregation and whole-stage codegen doing the
work. No row leaves the executors; the driver sees one result row.

``unique`` defaults to ``approx=True`` (HyperLogLog++, mergeable,
constant memory) because an exact distinct of a 10^12-row key is a
full shuffle; pass ``approx=False`` when the gate must be exact and
the shuffle is acceptable.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    """One expectation: named aggregate columns + a verdict over them."""
    name: str
    expected: str
    aggs: Dict[str, Column] = field(hash=False)
    # judge(values: dict alias->value, n_rows: int) -> (passed, observed)
    judge: callable = field(hash=False)


def _frac(alias: str):
    def j(vals, n):
        bad = vals[alias] or 0
        return bad, (bad / n if n else 0.0)
    return j


def not_null(col: str, max_null_frac: float = 0.0) -> Check:
    a = f"__nn_{col}"
    bad = _frac(a)

    def judge(vals, n):
        nbad, frac = bad(vals, n)
        return frac <= max_null_frac, f"{nbad} nulls ({frac:.4%})"
    return Check(
        name=f"not_null({col})",
        expected=f"null fraction <= {max_null_frac}",
        aggs={a: F.sum(F.col(col).isNull().cast("bigint"))},
        judge=judge)


def unique(col: str, approx: bool = True, tol: float = 0.02) -> Check:
    """Key uniqueness. Approx mode (default) tolerates ``tol`` relative
    HLL++ error — at 10^12 rows that is the only affordable shape; exact
    mode is a full distinct shuffle and tolerates nothing."""
    a = f"__uq_{col}"
    agg = (F.approx_count_distinct(col, rsd=min(tol / 2, 0.04)) if approx
           else F.count_distinct(F.col(col)))
    slack = tol if approx else 0.0

    def judge(vals, n):
        d = vals[a] or 0
        nn = vals[f"__uqn_{col}"] or 0  # non-null rows: nulls aren't keys
        ok = d >= nn * (1 - slack)
        return ok, f"{d} distinct / {nn} non-null rows"
    return Check(
        name=f"unique({col})" + ("" if approx else " [exact]"),
        expected=f"distinct >= non-null rows" + (f" * (1-{tol})" if approx
                                                 else ""),
        aggs={a: agg,
              f"__uqn_{col}": F.count(F.col(col))},
        judge=judge)


def in_range(col: str, lo=None, hi=None,
             max_bad_frac: float = 0.0) -> Check:
    conds = []
    if lo is not None:
        conds.append(F.col(col) < F.lit(lo))
    if hi is not None:
        conds.append(F.col(col) > F.lit(hi))
    if not conds:
        raise ValueError("in_range needs lo and/or hi")
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    a, amn, amx = f"__rg_{col}", f"__rgmin_{col}", f"__rgmax_{col}"
    bad = _frac(a)

    def judge(vals, n):
        nbad, frac = bad(vals, n)
        return (frac <= max_bad_frac,
                f"{nbad} out of [{lo}, {hi}] ({frac:.4%}); "
                f"observed [{vals[amn]}, {vals[amx]}]")
    return Check(
        name=f"in_range({col})",
        expected=f"[{lo}, {hi}] (bad fraction <= {max_bad_frac})",
        aggs={a: F.sum(out.cast("bigint")),
              amn: F.min(col), amx: F.max(col)},
        judge=judge)


def accepted_values(col: str, values: Sequence,
                    max_bad_frac: float = 0.0) -> Check:
    a = f"__av_{col}"
    bad_cond = (~F.col(col).isin(list(values))) & F.col(col).isNotNull()
    bad = _frac(a)

    def judge(vals, n):
        nbad, frac = bad(vals, n)
        return frac <= max_bad_frac, f"{nbad} outside ({frac:.4%})"
    return Check(
        name=f"accepted_values({col})",
        expected=f"values in {sorted(map(str, values))}",
        aggs={a: F.sum(bad_cond.cast("bigint"))},
        judge=judge)


def matches(col: str, pattern: str, min_frac: float = 1.0) -> Check:
    a, an = f"__re_{col}", f"__ren_{col}"

    def judge(vals, n):
        ok_rows = vals[a] or 0
        nn = vals[an] or 0
        frac = ok_rows / nn if nn else 1.0
        return frac >= min_frac, f"{ok_rows}/{nn} match ({frac:.4%})"
    return Check(
        name=f"matches({col}, {pattern!r})",
        expected=f"match fraction >= {min_frac}",
        aggs={a: F.sum(F.col(col).rlike(pattern).cast("bigint")),
              an: F.count(F.col(col))},
        judge=judge)


def row_count(lo: int, hi: Optional[int] = None) -> Check:
    def judge(vals, n):
        ok = n >= lo and (hi is None or n <= hi)
        return ok, f"{n} rows"
    return Check(
        name="row_count",
        expected=f">= {lo}" + (f" and <= {hi}" if hi is not None else ""),
        aggs={}, judge=judge)


def satisfies(name: str, condition: str,
              max_bad_frac: float = 0.0) -> Check:
    """Arbitrary per-row SQL predicate (e.g. ``"len(symbols) =
    len(words) + 1"``): the engine's own invariants become gate checks
    with no new machinery."""
    a = f"__sat_{name}"
    bad = _frac(a)

    def judge(vals, n):
        nbad, frac = bad(vals, n)
        return frac <= max_bad_frac, f"{nbad} violations ({frac:.4%})"
    return Check(
        name=f"satisfies({name})",
        expected=f"{condition!r} (bad fraction <= {max_bad_frac})",
        aggs={a: F.sum((~F.expr(condition)).cast("bigint"))},
        judge=judge)


def evaluate(df: DataFrame, checks: Sequence[Check]) -> List[dict]:
    """Run every check in ONE aggregate pass; returns one report dict
    per check: {check, expected, observed, passed}."""
    # aliases are namespaced by check position, so the same check (or
    # the same column at two thresholds) can appear more than once
    agg_cols = [F.count(F.lit(1)).alias("__n_rows")]
    alias_maps: List[Dict[str, str]] = []
    for i, c in enumerate(checks):
        m = {}
        for alias, col in c.aggs.items():
            g = f"c{i}{alias}"
            agg_cols.append(col.alias(g))
            m[alias] = g
        alias_maps.append(m)
    row = df.agg(*agg_cols).collect()[0]
    n = row["__n_rows"]
    out = []
    for c, m in zip(checks, alias_maps):
        local = {alias: row[g] for alias, g in m.items()}
        passed, observed = c.judge(local, n)
        out.append({"check": c.name, "expected": c.expected,
                    "observed": observed, "passed": bool(passed)})
    return out


def transcript_checks(max_null_text: float = 0.01) -> List[Check]:
    """The admission gate for the north-rule transcripts table
    (conv_id, turn_idx, role, text, tool, ts) — what a production run
    asserts before parsing a new drop."""
    return [
        not_null("conv_id"),
        not_null("turn_idx"),
        not_null("text", max_null_frac=max_null_text),
        in_range("turn_idx", lo=0),
        accepted_values("role", ["user", "assistant", "system", "tool"]),
        row_count(1),
        satisfies("turn_key", "conv_id IS NOT NULL AND turn_idx >= 0"),
    ]


def table_profile(df: DataFrame, cols: Sequence[str] | None = None,
                  exact_distinct: bool = False) -> DataFrame:
    """Per-column data profile in ONE aggregate pass — the
    Deequ-/TFDV-style column census ops pipelines snapshot per
    ingestion drop: ``(column, n, n_null, n_distinct, min_s, max_s)``
    with min/max rendered as strings so one schema profiles every
    column type.

    ``n_distinct`` defaults to HLL++ (fixed-size, map-side mergeable —
    the only shape that survives a 10^12-row column), computed in ONE
    aggregate pass. ``exact_distinct=True`` (for profiles feeding an
    equality gate) instead runs one aggregate PER column, unioned:
    Spark plans k exact count(DISTINCT) over different columns in one
    aggregate via an Expand that multiplies every input row (k+1)x
    before the first partial aggregation — measured 5x slower than k
    independent single-column passes at 1M rows x 4 columns (each pass
    scans one column of the columnar input and partial-aggregates its
    distinct values map-side; the per-pass jobs run from one union'd
    plan). The per-column frames unpivot to the same
    (column, n, n_null, n_distinct, min_s, max_s) rows either way.
    """
    names = list(cols) if cols is not None else [f.name for f in df.schema]
    if exact_distinct:
        parts = []
        for c in names:
            col = F.col(c)
            parts.append(df.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.when(col.isNull(), 1).otherwise(0))
                 .cast("long").alias("n_null"),
                F.countDistinct(col).cast("long").alias("n_distinct"),
                F.min(col).cast("string").alias("min_s"),
                F.max(col).cast("string").alias("max_s"))
                .select(F.lit(c).alias("column"), "n", "n_null",
                        "n_distinct", "min_s", "max_s"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    aggs = []
    for c in names:
        col = F.col(c)
        nd = F.approx_count_distinct(col, 0.02)
        aggs += [
            F.count(F.lit(1)).alias(f"_n_{c}"),
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"_z_{c}"),
            nd.alias(f"_d_{c}"),
            F.min(col).cast("string").alias(f"_lo_{c}"),
            F.max(col).cast("string").alias(f"_hi_{c}"),
        ]
    one = df.agg(*aggs)
    stack = ", ".join(
        f"'{c}', _n_{c}, _z_{c}, _d_{c}, _lo_{c}, _hi_{c}" for c in names)
    return (one.select(F.expr(
        f"stack({len(names)}, {stack}) AS "
        "(column, n, n_null, n_distinct, min_s, max_s)"))
        .select("column", F.col("n").cast("long").alias("n"),
                F.col("n_null").cast("long").alias("n_null"),
                F.col("n_distinct").cast("long").alias("n_distinct"),
                "min_s", "max_s"))


