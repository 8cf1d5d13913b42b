"""Mergeable per-key moment statistics — the engine's central structure.

Re-expression of the reference's stats algebra (A1/A2 in SURVEY.md §2.4):
/root/reference/data_processing/stats.py:75-135 maintains per-item
``(sum, sqr_sum, cnt)`` and finalizes ``mean = sum/cnt``,
``std = sqrt((sqr_sum - sum^2/cnt)/(cnt-1))`` (Bessel), inf/NaN→0.

That triple is associative + commutative, i.e. exactly Spark's partial/final
aggregation algebra — ``groupBy().agg(sum, sum(x^2), count)`` gives the same
mergeability Catalyst-native, map-side combined, whole-stage-codegen'd. The
reference's incremental add/subtract windows (stats.py:88-124) become
``merge_moments`` / ``subtract_moments`` over the persisted stats table.

At 100 TB: one shuffle on the group key, partial agg on the map side reduces
each input partition to |distinct keys| rows before the exchange; no per-row
Python anywhere.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyanomalydetector2_spark.functions import clean_float

MOMENT_COLS = ("sum", "sqr_sum", "cnt")


def moment_aggs(value_col: str = "value") -> list[Column]:
    """The partial-agg expressions for one pass."""
    v = F.col(value_col)
    return [
        F.sum(v).alias("sum"),
        F.sum(v * v).alias("sqr_sum"),
        F.count(v).alias("cnt"),
    ]


def finalize_moments(df: DataFrame) -> DataFrame:
    """Closed-form mean/std from the (sum, sqr_sum, cnt) triple.

    Matches reference stats.py:130-139 exactly: Bessel's correction,
    inf/NaN→0 (covers cnt<=1 and zero-variance keys).
    """
    # try_divide: ANSI-safe (Spark 4 default) — cnt<=1 → null → cleaned to 0,
    # matching the reference's inf/NaN→0 behavior.
    mean = F.try_divide(F.col("sum"), F.col("cnt"))
    var = F.try_divide(
        F.col("sqr_sum") - F.try_divide(F.col("sum") * F.col("sum"), F.col("cnt")),
        F.col("cnt") - 1,
    )
    return df.withColumn("mean", clean_float(mean)).withColumn(
        "std", clean_float(F.sqrt(var))
    )


def moment_stats(
    df: DataFrame, keys: Sequence[str], value_col: str = "value"
) -> DataFrame:
    """Single-pass per-key moment stats (A1): one shuffle, map-side combine."""
    return finalize_moments(df.groupBy(*keys).agg(*moment_aggs(value_col)))


def merge_moments(a: DataFrame, b: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Union-merge two moment tables (reference J2, stats.py:90-98).

    Full outer semantics: keys on one side only pass through. Implemented as
    union + re-aggregate (cheaper than outer join + coalesce: a single
    shuffle, and AQE coalesces the tiny result).
    """
    cols = list(keys) + list(MOMENT_COLS)
    merged = (
        a.select(*cols)
        .unionByName(b.select(*cols))
        .groupBy(*keys)
        .agg(
            F.sum("sum").alias("sum"),
            F.sum("sqr_sum").alias("sqr_sum"),
            F.sum("cnt").alias("cnt"),
        )
    )
    return finalize_moments(merged)


def subtract_moments(cur: DataFrame, old: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Expire a window by subtracting its moments (reference J3,
    stats.py:119-124, outer-join + fillna(0) semantics). Keys whose cnt
    drops to 0 are removed. Negation + union-merge keeps it one shuffle."""
    neg = old.select(
        *keys,
        (-F.col("sum")).alias("sum"),
        (-F.col("sqr_sum")).alias("sqr_sum"),
        (-F.col("cnt")).alias("cnt"),
    )
    return merge_moments(cur, neg, keys).filter(F.col("cnt") > 0)


# the exactly-mergeable profile fields (counts and sums add, min/max
# combine) and the sketch-backed ones that no per-batch scalar can rebuild
PARTIAL_FIELDS = ("row_cnt", "cnt", "null_cnt", "min", "max", "sum", "sqr_sum")
PROFILE_SKETCH_FIELDS = ("approx_distinct", "quantiles")


def profile_aggs(
    columns: Sequence[str],
    fields: Sequence[str] = PARTIAL_FIELDS,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
) -> list[Column]:
    """The wide aggregate expressions behind every column profile: one
    ``{column}__{field}`` aggregate per (column, field), so ALL columns ride
    ONE scan + one shuffle. Numeric stats read ``try_cast(double)`` (string
    columns → null numeric stats, ANSI-safe); ``cnt`` counts the values that
    enter the moment sums (try_cast survivors) so mean = sum/cnt uses a
    matched denominator even on partially-castable string columns, while
    the raw non-null count stays row_cnt − null_cnt."""
    total = F.count(F.lit(1))
    out = []
    for c in columns:
        v = F.col(c)
        num = v.try_cast("double")
        agg = {
            "row_cnt": lambda: total,
            "cnt": lambda: F.count(num),
            "null_cnt": lambda: total - F.count(v),
            "min": lambda: F.min(num),
            "max": lambda: F.max(num),
            "sum": lambda: F.sum(num),
            "sqr_sum": lambda: F.sum(num * num),
            "approx_distinct": lambda: F.approx_count_distinct(v),
            "quantiles": lambda: F.percentile_approx(num, list(quantiles), 10000),
        }
        out += [agg[f]().alias(f"{c}__{f}") for f in fields]
    return out


def stack_profile(
    wide: DataFrame,
    columns: Sequence[str],
    fields: Sequence[str],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Unpivot a ``profile_aggs`` row to the long (group, column, field…)
    layout with ``stack`` — one row per (group, column)."""
    stack_args = ", ".join(
        "'{c}', {flds}".format(
            c=c, flds=", ".join(f"`{c}__{f}`" for f in fields)
        )
        for c in columns
    )
    return wide.select(
        *group_cols,
        F.expr(
            f"stack({len(columns)}, {stack_args}) AS "
            f"(column, {', '.join(fields)})"
        ),
    )


def column_profile_partial(
    df: DataFrame, columns: Sequence[str], group_cols: Sequence[str] = ()
) -> DataFrame:
    """The exactly-mergeable subset of ``column_profile``: per (group,
    column) — row_cnt, cnt, null_cnt, min, max, sum, sqr_sum — in the same
    long layout and with the same try_cast semantics. The streaming suite
    persists this frame per micro-batch; ``merge_profile_partials`` +
    ``finalize_profile_partial`` then reproduce the one-shot profile's
    null_rate/mean/std/min/max/cnt algebra over the merged scalars.
    (approx_distinct and quantiles are sketch-backed and NOT derivable
    from these scalars — a streaming StatCheck on those stats must be
    rejected, not silently wrong.)"""
    g = df.groupBy(*group_cols) if group_cols else df.groupBy()
    return stack_profile(
        g.agg(*profile_aggs(columns)), columns, PARTIAL_FIELDS, group_cols
    )


def merge_profile_partials(
    parts: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Merge per-batch profile partials: counts and sums add, min/max
    combine — all exact (counts are longs; float sums differ from the
    one-shot pass only in addition order)."""
    keys = list(group_cols) + ["column"]
    return parts.groupBy(*keys).agg(
        F.sum("row_cnt").alias("row_cnt"),
        F.sum("cnt").alias("cnt"),
        F.sum("null_cnt").alias("null_cnt"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        F.sum("sum").alias("sum"),
        F.sum("sqr_sum").alias("sqr_sum"),
    )


def finalize_profile_partial(merged: DataFrame) -> DataFrame:
    """Derive null_rate/mean/std from merged partials — the identical
    closed-form algebra ``column_profile`` applies (finalize_moments +
    try_divide null_rate), so streaming stat verdicts share one
    definition with the one-shot profile."""
    return finalize_moments(merged).withColumn(
        "null_rate", F.try_divide(F.col("null_cnt"), F.col("row_cnt"))
    )


def column_profile(
    df: DataFrame,
    columns: Sequence[str],
    group_cols: Sequence[str] = (),
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Full single-pass column-stats profile for the validation engine
    (north_rule: count, null-rate, min/max, mean/stddev via the moment
    algebra, approx quantiles via the built-in KLL-style sketch).

    Emits one row per (group, column): long/tidy layout so verdict joins are
    uniform. ALL columns' aggregates ride ONE scan + one shuffle (wide
    aggregation row, unpivoted to long with ``stack`` afterwards) — at
    10^12 rows this is the difference between 1 and |columns| table passes.
    """
    fields = PARTIAL_FIELDS + PROFILE_SKETCH_FIELDS
    g = df.groupBy(*group_cols) if group_cols else df.groupBy()
    out = finalize_profile_partial(
        stack_profile(
            g.agg(*profile_aggs(columns, fields, quantiles)),
            columns, fields, group_cols,
        )
    )
    front = list(group_cols) + ["column"]
    return out.select(*front, *[c for c in out.columns if c not in front])


def freshness(
    df: DataFrame,
    ts_col: str,
    as_of: str,
    group_cols: Sequence[str] = (),
    max_lag_s: float | None = None,
) -> DataFrame:
    """Per-group data freshness — the Deequ/Great-Expectations staple the
    suite's value checks cannot express: how stale is each partition's
    newest row at ``as_of`` (an ISO timestamp literal, naive/UTC like the
    session)?

    Returns (group…, n_rows, max_ts, lag_us, fresh?) — ``lag_us`` is the
    exact integer microsecond gap (timestampdiff against the literal; no
    float seconds, so a SQL replay needs no rounding convention) and
    ``fresh`` is emitted only when ``max_lag_s`` is given. Groups whose
    timestamps are all NULL get NULL max_ts/lag_us and fail closed
    (fresh = false): no evidence of freshness is not freshness.

    Scale shape: one map-side-combinable max/count aggregation — the
    cheapest whole-table check in the suite family; at 10^12 rows the
    scan is the cost and the result is |groups| rows."""
    g = df.groupBy(*[F.col(c) for c in group_cols]) if group_cols else df.groupBy()
    out = (
        g.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max(F.col(ts_col)).alias("max_ts"),
        )
        # as_of enters as a typed literal COLUMN, never spliced into SQL
        # text (a quote in the string must fail the timestamp cast, not
        # escape the expression)
        .withColumn("__as_of", F.to_timestamp_ntz(F.lit(as_of)))
        .withColumn(
            "lag_us",
            F.expr("timestampdiff(MICROSECOND, max_ts, __as_of)").cast(
                "long"
            ),
        )
        .drop("__as_of")
    )
    if max_lag_s is not None:
        out = out.withColumn(
            "fresh",
            F.coalesce(
                F.col("lag_us") <= F.lit(int(max_lag_s * 1_000_000)),
                F.lit(False),
            ),
        )
    return out
