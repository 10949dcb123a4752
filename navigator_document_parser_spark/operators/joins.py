"""Join shapes Spark has no operator for: a backward as-of join and a
keyless interval (range) join, each planned as equi-joins so Catalyst
never falls back to a nested-loop or cartesian join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Backward as-of LEFT join: each left row gains, for every
    ``value_cols`` entry, the value from the LATEST right row with the
    same ``on`` keys and right.ts <= left.ts (ties at equal ts match).

    Spark has no ASOF JOIN operator; the range-condition join Catalyst
    would plan is a per-key sort-merge with an inequality — quadratic
    within hot keys. This is the linear formulation instead: UNION both
    sides tagged, ONE per-key time sort, and a running last(ignorenulls)
    window fill — every value column shares the single window, so the
    whole join is one shuffle on ``on`` regardless of how many columns
    ride along. Exactly the shape that survives 10^9-row event tables
    (per-key partitions stay small; skewed keys split via AQE).

    Requirements: right must be unique per (on..., ts) — pre-aggregate
    duplicates first (ambiguous ties have no deterministic winner);
    right value columns must not collide with left column names; a
    right value that is genuinely NULL is treated as missing (the fill
    reaches further back).
    """
    from pyspark.sql.window import Window

    if value_cols is None:
        value_cols = [
            c for c in right.columns if c not in set(on) | {ts_col}
        ]
    collisions = set(value_cols) & set(left.columns)
    if collisions:
        raise ValueError(f"alias right value columns first: {collisions}")
    if "_side" in left.columns or "_side" in right.columns:
        raise ValueError("'_side' is reserved by asof_join")

    l_side = left.withColumn("_side", F.lit(1))
    r_side = right.select(*on, ts_col, *value_cols).withColumn(
        "_side", F.lit(0)
    )
    u = l_side.unionByName(r_side, allowMissingColumns=True)

    # right rows (_side=0) sort BEFORE left rows at equal ts, so an
    # equal-timestamp right row is visible to the left row (ASOF >=)
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(ts_col).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u
    for c in value_cols:
        filled = filled.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return filled.filter(F.col("_side") == 1).drop("_side")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket: float,
    how: str = "inner",
) -> DataFrame:
    """Interval containment join: point rows matched to every interval
    with start <= point <= end (inclusive), WITHOUT a key column.

    Catalyst plans a bare inequality join as BroadcastNestedLoopJoin /
    cartesian — O(|points| x |intervals|). The bucketed formulation is
    the linear-in-output shape: intervals explode into the fixed-width
    ``bucket`` cells they overlap, points map to their single cell, the
    match is an EQUI-join on cell id + a residual containment filter.
    Each (point, interval) pair meets in exactly ONE cell (the point's),
    so no dedup pass is needed. Cost scales with sum of interval spans /
    bucket + matches; pick ``bucket`` near the typical interval length.
    Works on numeric or timestamp columns (timestamps compare as
    epoch seconds internally; emitted columns are untouched).
    """
    if how not in ("inner", "left"):
        raise ValueError("range_join supports inner/left joins")

    def numeric(df, c):
        dt = dict(df.dtypes)[c]
        col = F.col(c)
        if dt.startswith("timestamp"):  # timestamp + timestamp_ntz
            # NTZ casts through session-tz (pinned UTC) — only the
            # monotone point<->interval consistency matters for cells
            return (
                F.unix_micros(col.cast("timestamp")).cast("double") / 1e6
            )
        return col.cast("double")

    p = points.withColumn(
        "_cell", F.floor(numeric(points, point_col) / F.lit(bucket))
    )
    # inverted intervals (end < start, bad upstream data) contain
    # nothing — and would make F.sequence throw at runtime; drop them
    intervals = intervals.filter(F.col(end_col) >= F.col(start_col))
    iv = intervals.withColumn(
        "_cell",
        F.explode(
            F.sequence(
                F.floor(numeric(intervals, start_col) / F.lit(bucket)),
                F.floor(numeric(intervals, end_col) / F.lit(bucket)),
            )
        ),
    )
    joined = p.join(iv, "_cell", "inner").filter(
        (F.col(start_col) <= F.col(point_col))
        & (F.col(point_col) <= F.col(end_col))
    )
    if how == "inner":
        return joined.drop("_cell")
    # left join: re-attach point rows with no containing interval.
    # NULL-SAFE equality per column (<=>): a matched point row carrying a
    # NULL in any column must still anti-join against its own joined copy
    # — column-name equality would keep it and emit the row twice (once
    # matched, once as a spurious all-null-interval row). Duplicate point
    # rows are safe: identical rows map to identical cells, so either
    # both match or neither does.
    matched_keys = joined.select(*points.columns).dropDuplicates(
        points.columns
    )
    unmatched = points.alias("p").join(
        matched_keys.alias("m"),
        on=[
            F.col(f"p.{c}").eqNullSafe(F.col(f"m.{c}"))
            for c in points.columns
        ],
        how="left_anti",
    )
    return joined.drop("_cell").unionByName(
        unmatched, allowMissingColumns=True
    )
