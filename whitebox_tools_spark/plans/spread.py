"""Zero-execution narrow-scan spreading.

Single-file fixture scans arrive as 1-2 partitions, so heavy
pre-exchange map work (k^2 focal scatters, FRS pair explodes under a
broadcast join) would run serially. `df.rdd.getNumPartitions()` is NOT
a safe probe: materializing the RDD of an AQE plan executes the
upstream shuffle stages — one full hidden pass per call on any derived
frame (measured). This helper decides from the PLAN and the file
listing only (driver-side, no jobs):

- a plan containing any Exchange is already spread by its own shuffle;
- an exchange-free plan is a narrow chain over its scan, so its
  partitioning is the scan split; small local files => few splits;
- remote object-store paths and anything unreadable skip the spread —
  that is the production regime, where split planning handles width.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

# an exchange-free scan under this many bytes is at most a handful of
# splits at any sane maxPartitionBytes; past it, the scan itself is
# parallel enough
_NARROW_SCAN_BYTES = 64 << 20


def spread_narrow_scan(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Decision is by SOURCE SIZE alone: a frame whose entire input is
    under _NARROW_SCAN_BYTES is at most a couple of scan splits — and
    if the plan has exchanges, AQE coalesces its post-shuffle side to
    1-2 partitions at these byte counts, so either way the heavy map
    work downstream would run near-serially. Above the threshold the
    scan splits / AQE-advisory-sized shuffle partitions already give
    cluster width and the spread is skipped."""
    spark = df.sparkSession
    par = parallelism or spark.sparkContext.defaultParallelism
    try:
        files = list(df.inputFiles())
    except Exception:
        return df
    if not files or len(files) >= par:
        return df
    total = 0
    for f in files:
        uri = urlparse(f)
        if uri.scheme != "file":
            return df
        try:
            total += os.path.getsize(unquote(uri.path))
        except OSError:
            return df
    if total < _NARROW_SCAN_BYTES:
        return df.repartition(par)
    return df
