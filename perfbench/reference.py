"""Single-node references the benchmark checks the program's outputs
against. They use numpy and DuckDB only, never the package, and run
outside the timed window.

- point-in-polygon: even-odd ray cast with the boundary outside (a
  crossing needs the point strictly left of an upward edge or strictly
  right of a downward one);
- tile grid: the LidarTile grid arithmetic;
- fill: priority-flood (Barnes et al. 2014) from the raster border;
- D8: steepest positive downslope, first maximum wins, then upstream
  cell counts including the cell itself;
- kNN: brute-force top-k ordered by (dist2, target_id).
"""

from __future__ import annotations

import heapq
import math

import duckdb
import numpy as np

# D8 neighbour order (row offset, column offset), clockwise from NE
_D8 = [(-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1), (-1, 0)]


def read_parquet(path_glob: str, sql_cols: str, hive: bool = False,
                 order_by: str | None = None) -> dict[str, np.ndarray]:
    """Columns of a parquet file set as numpy arrays, via DuckDB."""
    con = duckdb.connect()
    try:
        rel = con.sql(f"SELECT {sql_cols} FROM read_parquet('{path_glob}', "
                      f"hive_partitioning = {str(hive).lower()}, filename = true)"
                      + (f" ORDER BY {order_by}" if order_by else ""))
        return {k: np.asarray(v) for k, v in rel.fetchnumpy().items()}
    finally:
        con.close()


def corpus_points(corpus_dir: str) -> dict[str, np.ndarray]:
    """(record_num, x, y) of every kind='point' span of the corpus."""
    con = duckdb.connect()
    try:
        rel = con.sql(
            "SELECT doc_num * 16 + s.offset AS record_num, "
            "CAST(split_part(s.text, ';', 1) AS DOUBLE) AS x, "
            "CAST(split_part(s.text, ';', 2) AS DOUBLE) AS y "
            f"FROM (SELECT doc_num, unnest(spans) AS s FROM read_parquet('{corpus_dir}/*.parquet')) "
            "WHERE s.kind = 'point' ORDER BY record_num")
        return {k: np.asarray(v) for k, v in rel.fetchnumpy().items()}
    finally:
        con.close()


def _inside_ring(px: np.ndarray, py: np.ndarray, ring: list[tuple[float, float]]) -> np.ndarray:
    crossings = np.zeros(len(px), dtype=np.int64)
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        side = (x1 - x0) * (py - y0) - (px - x0) * (y1 - y0)
        up = (y0 <= py) & (y1 > py) & (side > 0.0)
        down = (y0 > py) & (y1 <= py) & (side < 0.0)
        crossings += up.astype(np.int64) + down.astype(np.int64)
    return crossings % 2 == 1


def pip_tags(record_num, x, y, polys: list[dict]) -> tuple[np.ndarray, np.ndarray]:
    """(record_num, polygon_id) for every point strictly inside a
    polygon: inside some shell and inside none of its holes."""
    out_r, out_p = [], []
    for p in polys:
        shells = [q["ring"] for q in p["parts"] if not q["is_hole"]]
        holes = [q["ring"] for q in p["parts"] if q["is_hole"]]
        xs = [v[0] for q in shells for v in q]
        ys = [v[1] for q in shells for v in q]
        near = np.nonzero((x > min(xs)) & (x < max(xs)) & (y > min(ys)) & (y < max(ys)))[0]
        if not len(near):
            continue
        px, py = x[near], y[near]
        inside = np.zeros(len(near), dtype=bool)
        for ring in shells:
            inside |= _inside_ring(px, py, ring)
        for ring in holes:
            inside &= ~_inside_ring(px, py, ring)
        out_r.append(record_num[near[inside]])
        out_p.append(np.full(int(inside.sum()), p["polygon_id"], dtype=np.int64))
    return np.concatenate(out_r), np.concatenate(out_p)


def tile_ids(x, y, extent, width: float) -> np.ndarray:
    """LidarTile ids on a grid anchored at the origin: row * cols + col."""
    min_x, max_x, min_y, max_y = extent
    sx, sy = math.floor(min_x / width), math.floor(min_y / width)
    cols = int(abs(math.ceil(max_x / width) - sx))
    col = np.floor(x / width - sx).astype(np.int64)
    row = np.floor(y / width - sy).astype(np.int64)
    return row * cols + col


def sorted_triples(a, b, c) -> np.ndarray:
    """Rows (a, b, c) in lexicographic order: a comparable multiset."""
    t = np.column_stack([np.asarray(a, np.int64), np.asarray(b, np.int64),
                         np.asarray(c, np.int64)])
    return t[np.lexsort((t[:, 2], t[:, 1], t[:, 0]))]


def priority_flood(z: np.ndarray) -> np.ndarray:
    """Depression-filled surface: the lowest W >= z from which water
    reaches the raster border without climbing (border cells keep z)."""
    rows, cols = z.shape
    w = np.full(z.shape, np.inf)
    heap = []
    for r in range(rows):
        for c in range(cols):
            if r in (0, rows - 1) or c in (0, cols - 1):
                heap.append((float(z[r, c]), r, c))
    heapq.heapify(heap)
    done = np.zeros(z.shape, dtype=bool)
    zl = z.tolist()
    while heap:
        level, r, c = heapq.heappop(heap)
        if done[r, c]:
            continue
        done[r, c] = True
        w[r, c] = level
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                nr, nc = r + dr, c + dc
                if 0 <= nr < rows and 0 <= nc < cols and not done[nr, nc]:
                    heapq.heappush(heap, (max(zl[nr][nc], level), nr, nc))
    return w


def d8_accumulation(z: np.ndarray, res_x: float = 1.0, res_y: float = 1.0) -> np.ndarray:
    """Upstream cell count (self included) along D8 flow directions."""
    rows, cols = z.shape
    diag = math.sqrt(res_x * res_x + res_y * res_y)
    lengths = [diag, res_x, diag, res_y, diag, res_x, diag, res_y]
    best = np.full(z.shape, -np.inf)
    target = np.full(z.shape, -1, dtype=np.int64)
    idx = np.arange(rows * cols, dtype=np.int64).reshape(rows, cols)
    for i, (dr, dc) in enumerate(_D8):
        zn = np.full(z.shape, np.nan)
        src = z[max(dr, 0):rows + min(dr, 0), max(dc, 0):cols + min(dc, 0)]
        zn[max(-dr, 0):rows + min(-dr, 0), max(-dc, 0):cols + min(-dc, 0)] = src
        tn = np.full(z.shape, -1, dtype=np.int64)
        tn[max(-dr, 0):rows + min(-dr, 0), max(-dc, 0):cols + min(-dc, 0)] = \
            idx[max(dr, 0):rows + min(dr, 0), max(dc, 0):cols + min(dc, 0)]
        slope = (z - zn) / lengths[i]
        take = ~np.isnan(zn) & (slope > best) & (slope > 0.0)
        best = np.where(take, slope, best)
        target = np.where(take, tn, target)
    nxt = target.ravel()
    indeg = np.bincount(nxt[nxt >= 0], minlength=rows * cols)
    acc = np.ones(rows * cols, dtype=np.int64)
    stack = list(np.nonzero(indeg == 0)[0])
    while stack:
        v = stack.pop()
        t = nxt[v]
        if t >= 0:
            acc[t] += acc[v]
            indeg[t] -= 1
            if indeg[t] == 0:
                stack.append(t)
    return acc.reshape(rows, cols).astype(np.float64)


def knn_brute(qx: float, qy: float, tx: np.ndarray, ty: np.ndarray, k: int):
    """(target ids, dist2) of the k nearest targets by (dist2, id)."""
    d2 = (qx - tx) * (qx - tx) + (qy - ty) * (qy - ty)
    cut = np.partition(d2, k - 1)[k - 1]
    cand = np.nonzero(d2 <= cut)[0]
    order = np.lexsort((cand, d2[cand]))[:k]
    return cand[order], d2[cand[order]]
