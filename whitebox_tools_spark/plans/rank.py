"""Distributed global ordering primitives.

An unpartitioned `Window.orderBy(...)` funnels every row through ONE
task — a scale-killer on cell tables (10^12 rows). These helpers give
the same totals with range partitioning:

  1. repartitionByRange over the order columns (P ~ shuffle partitions),
  2. one tiny job collecting per-partition counts/sums (P rows),
  3. per-partition window (partitionBy the range-partition id) plus the
     broadcast partition offset.

Every stage is partition-parallel; the only driver-side data is the
P-row offset table. The eager localCheckpoint pins the range boundaries
(RangePartitioner samples its bounds) so the offset job and the rank
job see the identical partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .driver import local_frame


def _ranged(df: DataFrame, order_cols: list[str], num_partitions: int | None):
    spark = df.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        df.repartitionByRange(p, *[F.col(c) for c in order_cols])
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    return ranged


def global_row_number(df: DataFrame, order_cols: list[str], out: str = "__rn",
                      num_partitions: int | None = None) -> tuple[DataFrame, int]:
    """Global 1-based row_number under the total order `order_cols`
    (which must be duplicate-free for a deterministic result).
    Returns (df + out column, total row count)."""
    spark = df.sparkSession
    ranged = _ranged(df, order_cols, num_partitions)
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n")).collect()
    sizes = {r["__pid"]: r["__n"] for r in counts}
    acc = 0
    offs = []
    for pid in sorted(sizes):
        offs.append((pid, acc))
        acc += sizes[pid]
    if not offs:
        return ranged.withColumn(out, F.lit(0).cast("long")).drop("__pid"), 0
    off_df = F.broadcast(
        local_frame(spark, offs, "__pid int, __off long")
    )
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    return (
        ranged.join(off_df, "__pid")
        .withColumn(out, (F.row_number().over(w) + F.col("__off")).cast("long"))
        .drop("__pid", "__off")
    ), acc


def ordered_prefix_sums(df: DataFrame, order_cols: list[str], sum_cols: list[str],
                        num_partitions: int | None = None) -> DataFrame:
    """Inclusive running SUM of each sum_col under the total order
    `order_cols` (duplicate-free), emitted as `__cum_<col>`. Distributed:
    per-partition window + broadcast partition-prefix offsets."""
    spark = df.sparkSession
    ranged = _ranged(df, order_cols, num_partitions)
    totals = ranged.groupBy("__pid").agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    ).collect()
    by_pid = {r["__pid"]: [r[c] or 0 for c in sum_cols] for r in totals}
    acc = [0] * len(sum_cols)
    offs = []
    for pid in sorted(by_pid):
        offs.append((pid, *acc))
        acc = [a + v for a, v in zip(acc, by_pid[pid])]
    if not offs:
        out = ranged.drop("__pid")
        for c in sum_cols:
            out = out.withColumn(f"__cum_{c}", F.col(c).cast("long"))
        return out
    off_schema = "__pid int, " + ", ".join(f"__off_{c} long" for c in sum_cols)
    off_df = F.broadcast(local_frame(spark, offs, off_schema))
    w = Window.partitionBy("__pid").orderBy(*order_cols) \
              .rowsBetween(Window.unboundedPreceding, 0)
    out = ranged.join(off_df, "__pid")
    for c in sum_cols:
        out = out.withColumn(f"__cum_{c}", F.sum(c).over(w) + F.col(f"__off_{c}"))
    return out.drop("__pid", *[f"__off_{c}" for c in sum_cols])


def dense_rank_small(df: DataFrame, order_col: str, out: str,
                     num_partitions: int | None = None) -> DataFrame:
    """1-based rank of each DISTINCT order_col value (dense_rank over the
    distinct set) without a single-reducer window."""
    distinct = df.select(order_col).distinct()
    ranked, _ = global_row_number(distinct, [order_col], out=out,
                                  num_partitions=num_partitions)
    return ranked
