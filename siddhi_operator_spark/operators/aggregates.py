"""Aggregator inventory — SURVEY.md §3.5
(`[core] query/selector/attribute/aggregator/*AttributeAggregatorExecutor.java`).

Almost everything is a native Catalyst aggregate (partial+final split,
whole-stage codegen — strictly better than the reference's per-event
accumulators). The few reference-specific semantics are encoded here:

- `stdDev` is **population** std-dev → `stddev_pop` (Spark's `stddev`
  is sample).
- `distinctCount` is exact (hash map per group) → `countDistinct`;
  `approx_count_distinct` is the 100 TB-friendly variant, exposed
  separately (mirrors `[ext:approximate]`).
- `minForever`/`maxForever` never retract → running cumulative extrema.
- `unionSet` accumulates a set → `collect_set`; we expose a
  deterministic sorted rendering for comparisons.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def union_set(col: str) -> Column:
    """`unionSet(x)` (`UnionSetAttributeAggregatorExecutor`): group set.
    Rendered sorted-joined so results are deterministic under shuffle
    reordering."""
    return F.array_join(F.sort_array(F.collect_set(F.col(col))), ",")


def bool_and(cond: Column) -> Column:
    """`and` aggregator (`AndAttributeAggregatorExecutor`)."""
    return F.bool_and(cond)


def bool_or(cond: Column) -> Column:
    """`or` aggregator (`OrAttributeAggregatorExecutor`)."""
    return F.bool_or(cond)


def group_concat(col: str, sep: str = ",", distinct: bool = False) -> Column:
    """`str:groupConcat(x)` (`[ext:string]` aggregator): concatenate
    group values. Rendered over the SORTED value list so the result is
    deterministic under shuffle reordering (the reference concatenates
    in arrival order — arrival order does not exist in a distributed
    shuffle, so sorted order is the documented semantic delta)."""
    collected = F.collect_set(F.col(col)) if distinct else F.collect_list(F.col(col))
    return F.array_join(F.sort_array(collected), sep)


def regress(x: Column, y: Column) -> dict[str, Column]:
    """`timeseries:regress(x, y)` (`[ext:timeseries]` simple linear
    regression): OLS slope/intercept/r² as native Catalyst aggregates —
    one pass, partial+final split, no driver math."""
    return {
        "slope": F.regr_slope(y, x),
        "intercept": F.regr_intercept(y, x),
        "r2": F.regr_r2(y, x),
        "n": F.regr_count(y, x),
    }


def forecast(slope: Column, intercept: Column, x_future: Column) -> Column:
    """`timeseries:forecast` — extrapolate the fitted line."""
    return intercept + slope * x_future


def forever_extrema(
    df: DataFrame,
    col: str,
    keys: Sequence[str],
    order: Sequence[Column | str],
) -> DataFrame:
    """`minForever`/`maxForever` (`MinForeverAttributeAggregatorExecutor`,
    `MaxForever…`): all-time running extrema that never retract even as
    window events expire. Batch mapping: cumulative min/max over event
    order per key (UNBOUNDED PRECEDING .. CURRENT ROW)."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("min_forever", F.min(col).over(w)).withColumn(
        "max_forever", F.max(col).over(w)
    )


def salted_distinct_count(
    df, key_cols, value_col: str, n_salts: int = 32
):
    """Exact distinct count with a value-hash salt split — the
    hot-key-aggregation analog of salted joins (AQE splits skewed
    JOINS, not skewed aggregation state): a key with billions of
    events would concentrate its whole distinct-set on one reducer;
    salting by ``hash(value) % n_salts`` splits that state n ways, and
    because the salt PARTITIONS THE VALUE SPACE the per-salt distinct
    counts add back exactly — no approximation, two map-side-combinable
    aggregations, never a single-reducer distinct set.

    (`approximate:distinctCount`'s exact sibling; SURVEY.md task-brief
    "salting for skew".)"""
    from pyspark.sql import functions as F

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    salted = df.groupBy(
        *keys, F.pmod(F.xxhash64(value_col), F.lit(n_salts)).alias("_salt")
    ).agg(F.countDistinct(value_col).alias("_d"))
    return salted.groupBy(*keys).agg(
        F.sum("_d").cast("long").alias("distinct_count")
    )
