"""as-of and range join correctness against plain-join formulations."""


def test_asof_join_semantics(spark):
    """Backward as-of: latest right <= left ts per key; equal ts
    matches; no prior right -> nulls; keys never bleed."""
    from pyspark.sql import functions as F

    from navigator_document_parser_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "a", 5), (4, "b", 50), (5, "c", 9)],
        "event_id long, k string, ts long",
    )
    right = spark.createDataFrame(
        [("a", 10, 1.0), ("a", 15, 2.0), ("b", 50, 3.0), ("b", 60, 4.0)],
        "k string, ts long, rv double",
    )
    out = {
        r["event_id"]: r["rv"]
        for r in asof_join(left, right, on=["k"], ts_col="ts").collect()
    }
    assert out[1] == 1.0  # equal-ts right row matches
    assert out[2] == 2.0  # latest of the two priors
    assert out[3] is None  # nothing at or before ts=5
    assert out[4] == 3.0  # equal ts on key b; ts=60 is in the future
    assert out[5] is None  # key c has no right rows at all

    # exactly one hash-partitioned exchange: the per-key window
    plan = (
        asof_join(left, right, on=["k"], ts_col="ts")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:1500]

    # column collision is an explicit error, not silent clobbering
    import pytest

    with pytest.raises(ValueError):
        asof_join(
            left.withColumn("rv", F.lit(0.0)), right, on=["k"], ts_col="ts"
        )


def test_range_join_semantics(spark):
    """Inclusive containment, intervals spanning many buckets, exactly
    one row per (point, interval) pair, left-join null padding, no
    nested-loop/cartesian in the plan."""
    from navigator_document_parser_spark.operators.joins import range_join

    points = spark.createDataFrame(
        [(1, 5.0), (2, 10.0), (3, 25.0), (4, 99.0)],
        "pid long, x double",
    )
    intervals = spark.createDataFrame(
        [(10, 0.0, 10.0), (20, 10.0, 30.0), (30, 4.0, 26.0)],
        "iid long, lo double, hi double",
    )
    out = range_join(points, intervals, "x", "lo", "hi", bucket=7.0)
    pairs = sorted((r["pid"], r["iid"]) for r in out.collect())
    assert pairs == [
        (1, 10), (1, 30),            # 5 in [0,10] and [4,26]
        (2, 10), (2, 20), (2, 30),   # boundary 10 inclusive both ends
        (3, 20), (3, 30),            # 25 in [10,30] and [4,26] (26 incl)
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    left = range_join(points, intervals, "x", "lo", "hi", bucket=7.0,
                      how="left")
    unmatched = [r for r in left.collect() if r["pid"] == 4]
    assert len(unmatched) == 1 and unmatched[0]["iid"] is None
    assert left.count() == len(pairs) + 1


def test_range_join_left_with_null_columns(spark):
    """ADVICE r2: a matched point row carrying a NULL payload column must
    NOT be re-emitted as a spurious all-null-interval row (the old
    column-name anti-join used null-unsafe equality); an unmatched row
    with a NULL still comes back exactly once."""
    from navigator_document_parser_spark.operators.joins import range_join

    points = spark.createDataFrame(
        [(1, 5.0, None), (2, 99.0, None), (3, 6.0, "tagged")],
        "pid long, x double, tag string",
    )
    intervals = spark.createDataFrame(
        [(10, 0.0, 10.0)], "iid long, lo double, hi double"
    )
    out = range_join(points, intervals, "x", "lo", "hi", bucket=7.0,
                     how="left")
    rows = sorted(
        ((r["pid"], r["iid"]) for r in out.collect()),
        key=lambda t: (t[0], t[1] is None, t[1]),
    )
    # pid 1: matched ONCE (null tag, would have doubled before the fix);
    # pid 2: unmatched once with null interval; pid 3: matched once
    assert rows == [(1, 10), (2, None), (3, 10)]


def test_range_join_tolerates_inverted_intervals(spark):
    from navigator_document_parser_spark.operators.joins import range_join

    points = spark.createDataFrame([(1, 5.0)], "pid long, x double")
    intervals = spark.createDataFrame(
        [(10, 0.0, 10.0), (20, 30.0, 10.0)],  # second is inverted
        "iid long, lo double, hi double",
    )
    out = range_join(points, intervals, "x", "lo", "hi", bucket=4.0)
    assert [(r["pid"], r["iid"]) for r in out.collect()] == [(1, 10)]
