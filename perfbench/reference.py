"""Spark-free computations the outputs are checked against, built on the
package's numpy kernels; the single-core passes double as the ``kernels.*``
layer measurements."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from quadtree_block_compression_spark.kernels.codecs import decode_image
from quadtree_block_compression_spark.kernels.geometry import (
    cell_encode, cell_ring, points_in_polygon)
from quadtree_block_compression_spark.kernels.quadtree import assign_tiles_image

BLOCK_KEY = ["image_id", "tile_id", "level", "x0", "y0", "x1", "y1",
             "is_leaf", "oob"]


def _blocks_of(rows) -> tuple[pd.DataFrame, float, float, float]:
    """Blocks of ``(image_id, bytes)`` rows with the decode and tile times
    and the decoded megapixels."""
    parts = []
    t_dec = t_tile = mpx = 0.0
    for image_id, data in rows:
        t = time.perf_counter()
        img = decode_image(bytes(data))
        t_dec += time.perf_counter() - t
        mpx += img.shape[0] * img.shape[1] / 1e6
        t = time.perf_counter()
        cols = assign_tiles_image(img)
        t_tile += time.perf_counter() - t
        part = pd.DataFrame({k: cols[k] for k in BLOCK_KEY[1:]})
        part.insert(0, "image_id", image_id)
        parts.append(part)
    return pd.concat(parts, ignore_index=True), t_dec, t_tile, mpx


def reference_blocks(images: pd.DataFrame) -> tuple[pd.DataFrame, dict]:
    """Every block of every image, sorted on :data:`BLOCK_KEY`, and the
    single-core rates of the two image kernels over them."""
    blocks, t_dec, t_tile, mpx = _blocks_of(zip(images["image_id"], images["bytes"]))
    return canonical_blocks(blocks), {
        "kernels.decode_image.mpx_per_s": mpx / t_dec,
        "kernels.assign_tiles_image.blocks_per_s": len(blocks) / t_tile}


def canonical_blocks(df: pd.DataFrame) -> pd.DataFrame:
    out = df[BLOCK_KEY].astype({"level": "int64", "x0": "int64", "y0": "int64",
                                "x1": "int64", "y1": "int64", "is_leaf": bool,
                                "oob": bool})
    return out.sort_values(BLOCK_KEY).reset_index(drop=True)


def pip_matches(points: pd.DataFrame, geoms: pd.DataFrame) -> set[tuple]:
    """(image_id, tile_id, geom_id) of every centroid inside every polygon,
    brute force over all pairs."""
    x = points["wx"].to_numpy(np.float64)
    y = points["wy"].to_numpy(np.float64)
    out = set()
    for gid, vx, vy in zip(geoms["geom_id"], geoms["vx"], geoms["vy"]):
        inside = np.nonzero(points_in_polygon(x, y, np.asarray(vx), np.asarray(vy)))[0]
        out.update((points["image_id"].iat[i], points["tile_id"].iat[i], gid)
                   for i in inside)
    return out


def window_blocks(blocks: pd.DataFrame, level: int, x0: float, y0: float,
                  x1: float, y1: float) -> set[tuple]:
    """(image_id, tile_id) of the ``level`` blocks strictly overlapping the
    window — the plain filter a Morton-range scan must reproduce."""
    b = blocks[(blocks["level"] == level) & (blocks["x0"] < x1) & (blocks["x1"] > x0)
               & (blocks["y0"] < y1) & (blocks["y1"] > y0)]
    return set(zip(b["image_id"], b["tile_id"]))


def geometry_rates(points: pd.DataFrame, geoms: pd.DataFrame, res: int) -> dict:
    """Single-core rates of the spatial kernels on a workload's centroids
    and polygons."""
    x = points["wx"].to_numpy(np.float64)
    y = points["wy"].to_numpy(np.float64)
    t = time.perf_counter()
    reps = 0
    while reps == 0 or time.perf_counter() - t < 0.2:
        cells = cell_encode(x, y, res)
        reps += 1
    enc = len(x) * reps / (time.perf_counter() - t) / 1e6
    t = time.perf_counter()
    tests = 0
    for vx, vy in zip(geoms["vx"], geoms["vy"]):
        points_in_polygon(x, y, np.asarray(vx), np.asarray(vy))
        tests += len(x)
    pip = tests / (time.perf_counter() - t) / 1e6
    sample = cells[: min(len(cells), 2000)]
    t = time.perf_counter()
    out = 0
    for ring in (1, 2, 4):
        out += cell_ring(sample, ring).size
    ring_rate = out / (time.perf_counter() - t)
    return {"kernels.cell_encode.mpts_per_s": enc,
            "kernels.points_in_polygon.mtests_per_s": pip,
            "kernels.cell_ring.cells_per_s": ring_rate}
