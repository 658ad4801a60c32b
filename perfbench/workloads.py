"""The three workloads: seeded set-up, one timed operation through the
package's public functions, the same operation with a span around each
layer call, and the check of the outputs against the single-node
reference.

Each workload object is created with the Spark session, the seed and a
private work directory, and exposes:

- `setup()`: build and pin the inputs (repeatable);
- `fingerprint()`: content hash of the generated inputs;
- `rows`: input rows one operation processes;
- `op(i)`: one operation, which the caller times;
- `checked_op(i)`: one operation whose output `verify()` checks (the
  last warm-up operation);
- `after_op(i)`: untimed bookkeeping after operation i;
- `traced_op(i, tracer)`: the operation with a span per layer call;
- `after_traced_op(i, tracer)`: untimed recounts for the layer metrics;
- `verify()`: the number of checked outputs that differ from the
  reference, computed outside the timed window;
- `out_bytes_per_row()`: bytes of written output per output row.
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np
import pandas as pd
from pyspark import StorageLevel

import inputs as I
import reference as R
from whitebox_tools_spark.functions.raster_math import GridMeta
from whitebox_tools_spark.operators.hydro import (d8_flow_accumulation_tiled,
                                                  fill_depressions)
from whitebox_tools_spark.operators.knn import knn_join_exact, wbt_default_radius
from whitebox_tools_spark.operators.pip_join import points_in_polygons_cellcover
from whitebox_tools_spark.operators.tiling import assign_tiles, write_tiles
from whitebox_tools_spark.sources.docs import extract_points, synth_docs
from whitebox_tools_spark.sources.fixtures import polygons_df


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _materialize(df):
    """Run a layer's plan to the end and keep its output, so the next
    span starts from a computed input. A local checkpoint runs the plan
    as an ordinary action (with adaptive execution), unlike a cache."""
    return df.localCheckpoint(eager=True)


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a written parquet directory."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class TagTileWrite:
    """parquet scan -> extract_points -> cell-cover PIP -> tiles -> write."""

    name = "tag_tile_write"
    rows = I.N_DOCS

    def __init__(self, spark, seed: int, workdir: str):
        self.spark, self.seed, self.workdir = spark, seed, workdir
        self.corpus = os.path.join(workdir, "corpus")
        self._written: dict[int, dict] = {}
        self._corpus_points = None

    def setup(self) -> None:
        self.polys = I.star_polygons(self.seed)
        self.polygons = polygons_df(self.spark, self.polys)
        # cover-cell radius: the mean bbox long side (the package's own
        # auto cell-cover heuristic), so each polygon covers a few cells
        sides = []
        for p in self.polys:
            ring = np.asarray(p["parts"][0]["ring"])
            sides.append((ring.max(axis=0) - ring.min(axis=0)).max())
        self.radius = float(np.mean(sides))
        synth_docs(self.spark, I.N_DOCS, seed=self.seed).write.mode("overwrite").parquet(self.corpus)

    def fingerprint(self) -> str:
        pts = self._points_ref()
        return I.fingerprint(I.polygons_array(self.polys), pts["record_num"], pts["x"], pts["y"])

    def _points_ref(self) -> dict:
        if self._corpus_points is None:
            self._corpus_points = R.corpus_points(self.corpus)
        return self._corpus_points

    def _out(self, i: int) -> str:
        return os.path.join(self.workdir, f"tiles_{i:04d}")

    def _points(self):
        return extract_points(self.spark.read.parquet(self.corpus))

    def _tag(self, pts):
        return points_in_polygons_cellcover(pts, self.polygons, radius=self.radius)

    def _write(self, tagged, i: int) -> None:
        x0, _, y0, _ = I.EXTENT
        tiled, _grid = assign_tiles(tagged, x0, y0, I.TILE_WIDTH, I.TILE_WIDTH, extent=I.EXTENT)
        write_tiles(tiled, self._out(i))

    def op(self, i: int) -> None:
        self._write(self._tag(self._points()), i)

    def checked_op(self, i: int) -> None:
        self.op(i)  # every operation's tiles are checked

    def after_op(self, i: int) -> None:
        self._collect(i)

    def traced_op(self, i: int, tracer) -> None:
        with tracer.span("sources.scan", i):
            self._pts = _materialize(self._points())
        with tracer.span("pip_join.tag", i) as self._tag_span:
            self._tagged = _materialize(self._tag(self._pts))
        with tracer.span("tiling.write", i) as self._write_span:
            self._write(self._tagged, i)

    def after_traced_op(self, i: int, tracer) -> None:
        # refine rows: candidate pairs the plan's cogroup refine reads
        tag = self._tag_span
        tag["refine_rows"] = tracer.sql_cogroup_left_rows(tag)
        tag["hit_ratio"] = self._tagged.count() / tag["refine_rows"] if tag["refine_rows"] else 0.0
        self._collect(i)
        self._write_span.update(
            {k: self._written[i][k] for k in ("files", "bytes", "max_task_rows")})

    def _collect(self, i: int) -> None:
        """Read operation i's tiles back (outside the timed window),
        keep what the check and the layer metrics need, delete them."""
        out = self._out(i)
        cols = R.read_parquet(
            f"{out}/*/*.parquet",
            "record_num, polygon_id, tile_id, "
            "regexp_extract(filename, 'part-(\\d+)', 1) AS part", hive=True)
        files, size = _dir_stats(out)
        task_rows = pd.Series(cols["part"]).value_counts()
        self._written[i] = {
            "triples": R.sorted_triples(cols["record_num"], cols["polygon_id"], cols["tile_id"]),
            "files": files, "bytes": size, "rows": len(cols["record_num"]),
            "max_task_rows": int(task_rows.max()),
        }
        shutil.rmtree(out)

    def verify(self) -> int:
        """Every operation's tiles against the reference multiset."""
        pts = self._points_ref()
        rec, pid = R.pip_tags(pts["record_num"], pts["x"], pts["y"], self.polys)
        pos = np.searchsorted(pts["record_num"], rec)
        tile = R.tile_ids(pts["x"][pos], pts["y"][pos], I.EXTENT, I.TILE_WIDTH)
        expected = R.sorted_triples(rec, pid, tile)
        failed = sum(not np.array_equal(w["triples"], expected) for w in self._written.values())
        return failed

    def out_bytes_per_row(self) -> float:
        return statistics.median(w["bytes"] / w["rows"] for w in self._written.values())


class _NoopSinkWorkload:
    """A workload whose timed operation ends in the noop sink. Its
    checked operation writes the same result to parquet instead, which
    `verify()` reads back and compares with the reference; that write
    also gives the output's bytes per row."""

    read_cols = ""
    read_order = None

    def __init__(self, spark, seed: int, workdir: str):
        self.spark, self.seed, self.workdir = spark, seed, workdir
        self._pinned: list = []
        self._checked = os.path.join(workdir, "checked")
        self._bytes_per_row = None

    def _pin_input(self, pdf: pd.DataFrame):
        """Keep an input frame in executor memory."""
        df = self.spark.createDataFrame(pdf).persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        self._pinned.append(df)
        return df

    def _release_inputs(self) -> None:
        for df in self._pinned:
            df.unpersist()
        self._pinned = []

    def op(self, i: int) -> None:
        _noop(self._result())

    def checked_op(self, i: int) -> None:
        self._result().write.mode("overwrite").parquet(self._checked)

    def after_op(self, i: int) -> None:
        pass

    def after_traced_op(self, i: int, tracer) -> None:
        pass

    def verify(self) -> int:
        got = R.read_parquet(f"{self._checked}/*.parquet", self.read_cols, order_by=self.read_order)
        _files, size = _dir_stats(self._checked)
        shutil.rmtree(self._checked)
        rows = len(next(iter(got.values())))
        self._bytes_per_row = size / rows
        return int(not self._matches(got))

    def out_bytes_per_row(self) -> float:
        return self._bytes_per_row


class HydroChain(_NoopSinkWorkload):
    """fill_depressions -> d8_flow_accumulation_tiled -> noop sink."""

    name = "hydro_chain"
    rows = I.DEM_ROWS * I.DEM_COLS
    read_cols = "row, col, value"
    meta = GridMeta(rows=I.DEM_ROWS, columns=I.DEM_COLS,
                    north=float(I.DEM_ROWS), south=0.0,
                    east=float(I.DEM_COLS), west=0.0,
                    resolution_x=1.0, resolution_y=1.0)

    def setup(self) -> None:
        self._release_inputs()
        self.z = I.dem(self.seed)
        r, c = np.indices(self.z.shape)
        self.cells = self._pin_input(pd.DataFrame({
            "row": r.ravel().astype(np.int64),
            "col": c.ravel().astype(np.int64),
            "value": self.z.ravel()}))

    def fingerprint(self) -> str:
        return I.fingerprint(self.z)

    def _fill(self):
        return fill_depressions(self.cells, self.meta)

    def _d8(self, filled):
        return d8_flow_accumulation_tiled(filled, self.meta)

    def _result(self):
        return self._d8(self._fill())

    def traced_op(self, i: int, tracer) -> None:
        with tracer.span("hydro.fill", i):
            filled = _materialize(self._fill())
        with tracer.span("hydro.d8", i):
            _noop(self._d8(filled))

    def _matches(self, got: dict) -> bool:
        expected = R.d8_accumulation(R.priority_flood(self.z))
        acc = np.full(self.z.shape, np.nan)
        acc[got["row"], got["col"]] = got["value"]
        return len(got["value"]) == self.z.size and np.array_equal(acc, expected)


class KnnGrid(_NoopSinkWorkload):
    """knn_join_exact (k=4, density-derived radius) -> noop sink."""

    name = "knn_grid"
    rows = I.N_QUERIES
    read_cols = "query_id, target_id, dist2, knn_rank"
    read_order = "query_id, knn_rank"
    CHECK_SAMPLE = 400

    def setup(self) -> None:
        self._release_inputs()
        self.pts = I.clustered_points(self.seed)
        self.qids = I.query_ids(self.seed, len(self.pts))
        n = len(self.pts)
        min_x, max_x, min_y, max_y = I.EXTENT
        self.radius = wbt_default_radius((max_x - min_x) * (max_y - min_y), n)
        self.targets = self._pin_input(pd.DataFrame({
            "target_id": np.arange(n, dtype=np.int64),
            "x": self.pts[:, 0], "y": self.pts[:, 1]}))
        self.queries = self._pin_input(pd.DataFrame({
            "query_id": self.qids,
            "x": self.pts[self.qids, 0], "y": self.pts[self.qids, 1]}))

    def fingerprint(self) -> str:
        return I.fingerprint(self.pts, self.qids)

    def _result(self):
        return knn_join_exact(self.queries, self.targets, k=I.K, radius=self.radius,
                              qid="query_id", tid="target_id")

    def traced_op(self, i: int, tracer) -> None:
        with tracer.span("knn.join", i) as self._span:
            _noop(self._result())

    def after_traced_op(self, i: int, tracer) -> None:
        # candidate pairs: output rows of the ring joins on the bin key
        sp = self._span
        sp["candidate_pairs"] = tracer.sql_join_rows(sp, ("[cx#", "Inner"))
        sp["pairs_per_result"] = sp["candidate_pairs"] / (I.K * I.N_QUERIES)

    def _matches(self, got: dict) -> bool:
        """Row count, then a seeded sample of queries against brute force."""
        if len(got["query_id"]) != I.K * I.N_QUERIES:
            return False
        sample = np.random.default_rng([self.seed, 5]).choice(
            I.N_QUERIES, self.CHECK_SAMPLE, replace=False)
        tx, ty = self.pts[:, 0], self.pts[:, 1]
        for s in sample:
            q = self.qids[s]
            ids, d2 = R.knn_brute(tx[q], ty[q], tx, ty, I.K)
            rows = slice(s * I.K, (s + 1) * I.K)
            if not (np.all(got["query_id"][rows] == q)
                    and np.array_equal(got["target_id"][rows], ids)
                    and np.array_equal(got["dist2"][rows], d2)
                    and np.array_equal(got["knn_rank"][rows], np.arange(1, I.K + 1))):
                return False
        return True


WORKLOADS = {w.name: w for w in (TagTileWrite, HydroChain, KnnGrid)}
