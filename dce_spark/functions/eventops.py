"""Event-stream operators Spark lacks as built-ins: as-of join and
range join, expressed with scale-safe plans (no per-row Python, no
quadratic join).

Both are the canonical formulations:

* as-of: union the probe and reference streams tagged, ONE window pass
  per user carries the last reference row forward (last_value with
  ignoreNulls over rows-unbounded-preceding), filter back to probes.
  One shuffle on the partition key; no join at all — this is how you
  avoid the naive per-probe subquery that explodes at 10^12 rows.
* range: equi-join on coarse time bins (each side also matched against
  the adjacent bin) then the exact |dt| <= window filter — turning an
  inequality join Catalyst would execute as a broadcast-nested-loop
  into a hash join whose candidate count is bounded by bin occupancy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

__all__ = ["asof_join", "range_join_pairs", "hypertable_rollup"]


def hypertable_rollup(events: DataFrame) -> DataFrame:
    """Timescale-style continuous-aggregate rollup: one pass computes
    the hourly AND daily grains via GROUPING SETS (Catalyst expands to
    a single shuffle with map-side partials — the batch analogue of a
    hypertable's hierarchical continuous aggregates). ``grain`` labels
    the level; hour is NULL on daily rows."""
    e = events.select(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour"),
        "value",
    )
    rolled = e.groupingSets(
        [["event_type", "day", "hour"], ["event_type", "day"]],
        "event_type", "day", "hour",
    ).agg(
        F.count("*").cast("long").alias("events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
        .alias("value_sum"),
    )
    return rolled.select(
        "event_type",
        F.unix_micros("day").alias("day_us"),
        F.unix_micros("hour").alias("hour_us"),
        F.when(F.col("hour").isNull(), F.lit("day")).otherwise(
            F.lit("hour")
        ).alias("grain"),
        "events",
        "value_sum",
    )


def asof_join(
    events: DataFrame,
    probe_type: str,
    ref_type: str,
) -> DataFrame:
    """For every probe event, the most recent reference event of the
    same user_id at or before the probe's timestamp (ties on ts: the
    larger event_id, i.e. the latest reference wins deterministically).

    Returns (key, probe event_id/ts_us, matched ref event_id/ts_us —
    NULLs when no reference precedes the probe).
    """
    e = events.filter(
        F.col("event_type").isin([probe_type, ref_type])
    ).select(
        F.col("user_id").cast("long").alias("key"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("event_id").cast("long").alias("event_id"),
        (F.col("event_type") == ref_type).alias("is_ref"),
    )
    # references sort before probes at the same instant so an equal-ts
    # reference is visible to the probe (at-or-before semantics)
    w = Window.partitionBy("key").orderBy(
        "ts_us", F.col("is_ref").desc(), "event_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref_id = F.when(F.col("is_ref"), F.col("event_id"))
    ref_ts = F.when(F.col("is_ref"), F.col("ts_us"))
    carried = e.select(
        "key", "ts_us", "event_id", "is_ref",
        F.last(ref_id, ignorenulls=True).over(w).alias("ref_event_id"),
        F.last(ref_ts, ignorenulls=True).over(w).alias("ref_ts_us"),
    )
    return carried.filter(~F.col("is_ref")).select(
        "key",
        F.col("event_id").alias("probe_event_id"),
        F.col("ts_us").alias("probe_ts_us"),
        "ref_event_id",
        "ref_ts_us",
    )


def range_join_pairs(
    events: DataFrame,
    left_type: str,
    right_type: str,
    window_us: int = 300_000_000,
) -> DataFrame:
    """All (left, right) event pairs of the same user_id whose timestamps
    are within ``window_us`` of each other (|t_r - t_l| <= window).

    Bin-join: both sides bucket by floor(ts/window); a pair within the
    window is always in the same or an adjacent bin, so the left side
    expands to (bin-1, bin, bin+1) and the join is a plain equi-join on
    (key, bin) followed by the exact filter — candidates per probe are
    bounded by 3-bin occupancy instead of the whole key history.
    """
    def side(t: str, alias: str) -> DataFrame:
        return events.filter(F.col("event_type") == t).select(
            F.col("user_id").cast("long").alias("key"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias(f"{alias}_ts"),
            F.col("event_id").cast("long").alias(f"{alias}_id"),
        )

    left = side(left_type, "l").withColumn(
        "bin",
        F.explode(
            F.array(
                (F.col("l_ts") / window_us).cast("long") - 1,
                (F.col("l_ts") / window_us).cast("long"),
                (F.col("l_ts") / window_us).cast("long") + 1,
            )
        ),
    )
    right = side(right_type, "r").withColumn(
        "bin", (F.col("r_ts") / window_us).cast("long")
    )
    return (
        left.join(right, ["key", "bin"])
        .filter(F.abs(F.col("r_ts") - F.col("l_ts")) <= window_us)
        .select("key", "l_id", "r_id",
                (F.col("r_ts") - F.col("l_ts")).alias("dt_us"))
        # no dedup needed: each right row has ONE bin, so a pair matches
        # at exactly one of the left's three expanded bins
    )
