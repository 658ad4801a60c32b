"""Incremental tile assignment over an append-only docs stream.

WBT itself is strictly batch (SURVEY §2.13); this is the engine's bonus
incremental path: `readStream` over an append-only source ->
extract points -> assign tiles -> `foreachBatch` append via `write_tiles`.
Each micro-batch reuses the exact batch operators (tile write included), so streaming output
is bit-identical to a batch backfill — the property that makes
incremental tiling safe to mix with batch reprocessing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.tiling import TileGrid, tile_exprs, write_tiles


def tile_stream_writer(grid: TileGrid, out_dir: str, checkpoint_dir: str):
    """Build a foreachBatch writer assigning tiles with a FIXED grid
    (streams cannot rescan extent; the grid must be resolved up front,
    exactly like a production ingest contract)."""
    ex = tile_exprs(grid)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        out = (
            batch.withColumn("tile_id", F.expr(ex["tile_id"]))
            .withColumn("tile_row", F.expr(ex["tile_row"]))
            .withColumn("tile_col", F.expr(ex["tile_col"]))
        )
        write_tiles(out, out_dir, mode="append")

    return write_batch


def start_tile_stream(points_stream: DataFrame, grid: TileGrid, out_dir: str, checkpoint_dir: str):
    writer = tile_stream_writer(grid, out_dir, checkpoint_dir)
    return (
        points_stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
