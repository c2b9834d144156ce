"""Window / time-series operators (SURVEY W1-W5).

Reference: 91-day rolling mean/std at
/root/reference/deepicedrain/lake_algorithms.py:181-194, first-value
anomalies at /root/reference/atlxi_xover.py:293-294 and
lake_algorithms.py:184-185, argmax row at atlxi_xover.py:179-180, and
the composite ``ice_volume_over_time`` at lake_algorithms.py:76-227.

Spark-first: RANGE window frames over the epoch-seconds ordering give
the trailing time window without a self-join; partitioning by the
series key keeps each window local to one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

SECONDS_PER_DAY = 86_400


def _us_order(ts_col) -> Column:
    """Ordering column in epoch-µs: a str names a TimestampType column;
    a Column is taken as numeric µs already (ns-long data goes through
    timeutils.ns_to_us first — §1.3)."""
    return F.unix_micros(F.col(ts_col)) if isinstance(ts_col, str) else ts_col


def trailing_time_window(
    ts_col, days: int, partition_by: list[str] | None = None
) -> WindowSpec:
    """W1 frame: trailing ``days`` (inclusive) ordered by time."""
    w = Window.partitionBy(*(partition_by or []))
    return (
        w.orderBy(_us_order(ts_col))
        .rangeBetween(-days * SECONDS_PER_DAY * 1_000_000, 0)
    )


def rolling_mean_std(
    df: DataFrame,
    ts_col,
    value_col: str,
    days: int = 91,
    partition_by: list[str] | None = None,
    prefix: str | None = None,
) -> DataFrame:
    """W1: trailing mean/std over a day-range window (min_periods=1
    semantics: count≥1 always holds; std of a single row is NULL, the
    reference's pandas yields NaN — same null convention)."""
    p = prefix or value_col
    w = trailing_time_window(ts_col, days, partition_by)
    return df.withColumn(f"{p}_roll_mean", F.avg(value_col).over(w)).withColumn(
        f"{p}_roll_std", F.stddev(value_col).over(w)
    )


def anomaly_vs_first(
    df: DataFrame,
    ts_col,
    value_col: str,
    partition_by: list[str] | None = None,
    tiebreak: list[str] | None = None,
    out: str = "anom",
) -> DataFrame:
    """W2/W3: value minus first-in-time value per series (global when
    partition_by is empty). Deterministic ordering via tiebreak cols."""
    order = [_us_order(ts_col)] + [F.col(c) for c in (tiebreak or [])]
    w = (
        Window.partitionBy(*(partition_by or []))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out, F.col(value_col) - F.first(value_col).over(w))


def top1_by(df: DataFrame, order: list[Column]) -> DataFrame:
    """W4: single extreme row (reference nanargmax). TakeOrdered — no
    full sort materialization."""
    return df.orderBy(*order).limit(1)


def ice_volume_over_time(
    df: DataFrame,
    ts_col,
    elev_col: str,
    surface_area_m2: float,
    rolling_days: int = 91,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """W5 composite (reference lake_algorithms.py:76-227):
    rolling mean/std of elevation → anomaly vs series start →
    dvol = surface_area × elev_anom (km³), with std-propagated
    uncertainty columns (pint units become explicit *_std columns —
    §1.3). Output: (ts, dh, dh_std, dvol_km3, dvol_std_km3)."""
    rolled = rolling_mean_std(df, ts_col, elev_col, rolling_days, partition_by, prefix="elev")
    anom = anomaly_vs_first(rolled, ts_col, "elev_roll_mean", partition_by, out="dh")
    m3_per_km3 = 1e9
    return anom.select(
        *(partition_by or []),
        (F.col(ts_col) if isinstance(ts_col, str) else ts_col).alias("t"),
        F.col("dh"),
        F.col("elev_roll_std").alias("dh_std"),
        (F.col("dh") * F.lit(surface_area_m2) / F.lit(m3_per_km3)).alias("dvol_km3"),
        (F.col("elev_roll_std") * F.lit(surface_area_m2) / F.lit(m3_per_km3)).alias("dvol_std_km3"),
    )


def trailing_range_sums_prefix(
    df: DataFrame,
    part_cols: list[str],
    t_col: str,
    sum_cols: list[str],
    range_micros: int,
) -> DataFrame:
    """Trailing RANGE-frame sums at scale: prefix sums + as-of boundary.

    Spark's sliding RANGE frame (SlidingWindowFunctionFrame) re-aggregates
    the ENTIRE frame for every row — O(n·w) per partition, quadratic when
    the frame spans most of a dense series. This helper produces the same
    frame sums in O(n log n):

      1. pre-aggregate per distinct (part, t)  — one keyed shuffle;
      2. cumulative sums over t  — one window sort, O(n);
      3. boundary prefix at t - R via an as-of merge: union the cum rows
         with "query" rows keyed at t - R, one more window pass carries
         the last data prefix forward (query rows sort BEFORE data rows
         at the same key, so the frame's inclusive lower bound t' >= t-R
         is honored);
      4. frame sum = cum - boundary prefix (exact integer/decimal math —
         callers must pass overflow-safe exactly-summable columns so the
         subtraction is bit-identical to a direct frame aggregation).

    Returns one row per distinct (part, t): frame sums aliased
    ``<col>_w`` plus row count ``n_w``. Callers join back on
    (part, t) to restore per-row granularity — a co-partitioned join on
    the same keys the groupBy already shuffled on.
    """
    per_t = df.groupBy(*part_cols, t_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(c).alias(f"_s_{c}") for c in sum_cols],
    )
    wcum = (
        Window.partitionBy(*part_cols)
        .orderBy(t_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_t.select(
        *part_cols,
        t_col,
        F.sum("_n").over(wcum).alias("_cn"),
        *[F.sum(f"_s_{c}").over(wcum).alias(f"_c_{c}") for c in sum_cols],
    )
    data = cum.select(
        *part_cols,
        F.col(t_col).alias("_k"),
        F.lit(1).alias("_kind"),
        F.lit(None).cast("long").alias("_qt"),
        "_cn",
        *[f"_c_{c}" for c in sum_cols],
    )
    query = cum.select(
        *part_cols,
        (F.col(t_col) - F.lit(range_micros)).alias("_k"),
        F.lit(0).alias("_kind"),
        F.col(t_col).alias("_qt"),
        F.lit(None).cast("long").alias("_cn"),
        *[F.lit(None).cast(dict(cum.dtypes)[f"_c_{c}"]).alias(f"_c_{c}") for c in sum_cols],
    )
    wff = (
        Window.partitionBy(*part_cols)
        .orderBy("_k", "_kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bounds = (
        data.unionByName(query)
        .select(
            *part_cols,
            "_qt",
            "_kind",
            F.last("_cn", ignorenulls=True).over(wff).alias("_pn"),
            *[
                F.last(f"_c_{c}", ignorenulls=True).over(wff).alias(f"_p_{c}")
                for c in sum_cols
            ],
        )
        .filter(F.col("_kind") == 0)
        .select(
            *part_cols,
            F.col("_qt").alias(t_col),
            F.coalesce("_pn", F.lit(0)).alias("_pn"),
            *[F.coalesce(f"_p_{c}", F.lit(0)).alias(f"_p_{c}") for c in sum_cols],
        )
    )
    return cum.join(bounds, [*part_cols, t_col]).select(
        *part_cols,
        t_col,
        (F.col("_cn") - F.col("_pn")).alias("n_w"),
        *[(F.col(f"_c_{c}") - F.col(f"_p_{c}")).alias(f"{c}_w") for c in sum_cols],
    )


def sessionize(
    df: DataFrame,
    part_cols: list[str],
    t_col: str,
    gap: int,
    session_col: str = "session_id",
) -> DataFrame:
    """Batch gap-based sessionization (batch parity with
    streaming.session_counts): a new session starts when the time since
    the previous event in the partition is ``>= gap`` (same units as
    ``t_col``) — the boundary rule of Spark's ``session_window``, whose
    per-event window is [t, t+gap) and merges only when the next start
    is STRICTLY before the current end, so events exactly ``gap`` apart
    fall in separate sessions. session_id = cumulative count of session
    starts, so ids are 1-based and ordered by time within each
    partition.

    One window sort per partition key — the same single shuffle a
    groupBy would need; no iterative logic.
    """
    w = Window.partitionBy(*part_cols).orderBy(t_col)
    is_start = F.when(
        (F.col(t_col) - F.lag(t_col).over(w)) >= F.lit(gap), 1
    ).otherwise(F.when(F.lag(t_col).over(w).isNull(), 1).otherwise(0))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(session_col, F.sum(is_start).over(wc))
