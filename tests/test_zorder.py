"""Z-order layout codes: interleave correctness and curve locality."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators import zorder


def test_interleave_known_values(spark):
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)], "x long, y long"
    )
    out = [
        r[0]
        for r in df.select(
            zorder.interleave_bits(F.col("x"), F.col("y"), bits=16)
        ).collect()
    ]
    # morton(3,5) = x bits at even, y at odd: x=011, y=101 -> 100111 = 39
    assert out == [0, 1, 2, 39, (1 << 32) - 1]


def test_zorder_codes_locality(spark):
    """Points close in BOTH dims get closer codes than points close in
    one dim but far in the other (the whole point of the curve)."""
    rows = [(i, x, y) for i, (x, y) in enumerate([(10, 10), (11, 11), (10, 1000)])]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    # widen bounds with sentinel corners so bucketing has a real range
    df = df.union(
        spark.createDataFrame([(98, 0, 0), (99, 1023, 1023)], "id long, x long, y long")
    )
    codes = {
        r["id"]: r["zcode"]
        for r in zorder.zorder_codes(df, col_x="x", col_y="y", bits=10).collect()
    }
    assert abs(codes[0] - codes[1]) < abs(codes[0] - codes[2])
