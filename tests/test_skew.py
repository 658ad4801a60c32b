"""Hot-tile skew handling: the rebalanced tile write bounds task sizes."""

import pyspark.sql.functions as F

from whitebox_tools_spark.operators.tiling import write_tiles


def _skewed_points(spark, n=100_000):
    """80% of points land in one tile (tile 0), the rest spread."""
    return spark.range(n).selectExpr(
        "id AS record_num",
        "CASE WHEN id % 10 < 8 THEN CAST(PMOD(XXHASH64(id, 1), 6000) AS DOUBLE) / 100.0 "
        "ELSE 100.0 + CAST(PMOD(XXHASH64(id, 2), 80000) AS DOUBLE) / 100.0 END AS x",
        "CASE WHEN id % 10 < 8 THEN CAST(PMOD(XXHASH64(id, 3), 6000) AS DOUBLE) / 100.0 "
        "ELSE 100.0 + CAST(PMOD(XXHASH64(id, 4), 80000) AS DOUBLE) / 100.0 END AS y",
        "CAST(id % 100 AS DOUBLE) AS value",
    ).withColumn("tile_id", F.expr("CAST(FLOOR(y / 100.0) AS BIGINT) * 10 + CAST(FLOOR(x / 100.0) AS BIGINT)"))


def test_write_tiles_layout_and_content(spark, tmp_path):
    pts = _skewed_points(spark, 20_000)
    out = str(tmp_path / "tiles")
    # A small advisory size makes AQE split the hot tile (~16k rows)
    # and nothing else. Skew splits cut a shuffle partition along map
    # outputs, so a cold tile hashed into the hot tile's partition would
    # be cut with it: 200 partitions leave the hot tile alone in its own.
    conf = {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
            "spark.sql.shuffle.partitions": "200"}
    saved = {k: spark.conf.get(k) for k in conf}
    buckets = {r["tile_id"]: r["b"] for r in pts.select("tile_id").distinct()
               .withColumn("b", F.expr("PMOD(HASH(tile_id), 200)")).collect()}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        write_tiles(pts, out)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    back = spark.read.parquet(out)
    assert back.count() == 20_000
    got = {r["tile_id"]: r["c"] for r in back.groupBy("tile_id").agg(F.count(F.lit(1)).alias("c")).collect()}
    want = {r["tile_id"]: r["c"] for r in pts.groupBy("tile_id").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert got == want
    import glob
    hot = max(want, key=want.get)
    assert [t for t, b in buckets.items() if b == buckets[hot]] == [hot]
    # the hot tile directory holds multiple (split) files
    assert len(glob.glob(f"{out}/tile_id={hot}/*.parquet")) > 1
    # every cold tile is written by one task
    cold = {t: len(glob.glob(f"{out}/tile_id={t}/*.parquet")) for t in want if t != hot}
    assert set(cold.values()) == {1}, cold
