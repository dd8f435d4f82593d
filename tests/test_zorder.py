"""Native Z-order expressions (``functions.zorder``) against the Spark-free
kernel oracle (``kernels.geometry``): point → cell, grid → cell with an int
or per-row resolution, and the Chebyshev ring shells kNN joins on — all
bit-identical, including negative coordinates, coordinates past the world
edge, exact cell borders and rings clamped at the world edge."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from quadtree_block_compression_spark.functions.zorder import (
    cell_key, cell_of, interleave, ring_cells)
from quadtree_block_compression_spark.kernels.geometry import (
    MAX_RES, WORLD, cell_encode, cell_from_grid, cell_ring)

ress = st.integers(0, MAX_RES)
# |x| ≤ 1e15 keeps x·scale inside int64, where the kernel's cast is defined
anywhere = st.floats(-1e15, 1e15, allow_nan=False, allow_infinity=False)
near_world = st.floats(-2.0 * WORLD, 3.0 * WORLD, allow_nan=False)


@st.composite
def borders(draw):
    """A coordinate on (or one ulp beside) a cell border at some res."""
    r = draw(ress)
    k = draw(st.integers(-2, (1 << r) + 2))
    v = k * (WORLD / (1 << r))
    return draw(st.sampled_from([v, np.nextafter(v, -np.inf),
                                 np.nextafter(v, np.inf)]))


coords = st.one_of(anywhere, near_world, borders())


def _cells(spark, x, y, res):
    pdf = pd.DataFrame({"i": np.arange(len(x)), "x": np.asarray(x, float),
                        "y": np.asarray(y, float)})
    rows = (spark.createDataFrame(pdf)
            .select("i", cell_of(F.col("x"), F.col("y"), res).alias("c"))
            .orderBy("i").collect())
    return np.array([r.c for r in rows], dtype=np.int64)


@settings(max_examples=30, deadline=None)
@given(ress, st.lists(st.tuples(coords, coords), min_size=1, max_size=60))
def test_cell_of_matches_cell_encode(spark, res, pts):
    x = np.array([p[0] for p in pts])
    y = np.array([p[1] for p in pts])
    assert np.array_equal(_cells(spark, x, y, res), cell_encode(x, y, res))


@pytest.mark.parametrize("res", [0, 1, 6, 8, 12, 16])
def test_cell_of_edge_values(spark, res):
    edge = np.array([0.0, -0.0, WORLD, 2.0 * WORLD, 1e12, -1e12, -1.0,
                     -0.5, 4095.9999999, 4096.0, WORLD - 1e-9, 0.5])
    x, y = np.meshgrid(edge, edge)
    x, y = x.ravel(), y.ravel()
    assert np.array_equal(_cells(spark, x, y, res), cell_encode(x, y, res))


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(ress, st.integers(0, (1 << MAX_RES) - 1),
                          st.integers(0, (1 << MAX_RES) - 1)),
                min_size=1, max_size=60))
def test_cell_key_matches_cell_from_grid(spark, rows):
    """Per-row resolution (a Column) and a literal resolution both match
    ``cell_from_grid``; indexes are drawn inside each row's grid."""
    rows = [(r, ix % (1 << r), iy % (1 << r)) for r, ix, iy in rows]
    pdf = pd.DataFrame(rows, columns=["r", "ix", "iy"])
    pdf["i"] = np.arange(len(pdf))
    df = spark.createDataFrame(pdf)
    lit_res = rows[0][0]
    gx, gy = F.col("ix"), F.col("iy")
    got = (df.select("i", cell_key(gx, gy, F.col("r")).alias("c"),
                     cell_key(gx, gy, lit_res).alias("c0"))
           .orderBy("i").collect())
    want = np.array([cell_from_grid(np.array([ix]), np.array([iy]), r)[0]
                     for r, ix, iy in rows])
    assert np.array_equal(np.array([g.c for g in got], dtype=np.int64), want)
    want0 = cell_from_grid(pdf.ix.to_numpy(), pdf.iy.to_numpy(), lit_res)
    assert np.array_equal(np.array([g.c0 for g in got], dtype=np.int64), want0)


edge_coords = st.one_of(
    st.floats(0.0, float(WORLD), allow_nan=False),
    st.sampled_from([0.0, 1.0, WORLD - 1.0, float(WORLD), -5.0, WORLD + 5.0]))


@settings(max_examples=25, deadline=None)
@given(st.integers(0, 6),
       st.tuples(st.integers(-1, 8), st.integers(0, 8))
       .filter(lambda pr: pr[0] < pr[1]),
       st.lists(st.tuples(edge_coords, edge_coords), min_size=1, max_size=12))
def test_ring_cells_matches_cell_ring_setdiff(spark, res, prev_ring, pts):
    """Each row's shell is exactly ``cell_ring(ring) \\ cell_ring(prev)``
    with no duplicate cells, also where the disk clamps at the world edge
    (coarse resolutions and edge points make most rings clamp)."""
    prev, ring = prev_ring
    x = np.array([p[0] for p in pts])
    y = np.array([p[1] for p in pts])
    pdf = pd.DataFrame({"i": np.arange(len(x)), "x": x, "y": y})
    got_rows = ring_cells(spark.createDataFrame(pdf), "x", "y", res,
                          ring, prev).collect()
    got: dict[int, list[int]] = {}
    for r in got_rows:
        got.setdefault(r.i, []).append(r.cell)
    cells = cell_encode(x, y, res)
    full = cell_ring(cells, ring)
    inner = cell_ring(cells, prev) if prev >= 0 else None
    for i in range(len(x)):
        want = (np.setdiff1d(full[i], inner[i]) if inner is not None
                else np.unique(full[i]))
        assert sorted(got.get(i, [])) == want.tolist(), (i, x[i], y[i])


def test_interleave_places_bits_round_robin(spark):
    """Bit b of column i lands at b·k + i — the layout table clustering
    and the cell keys share — and int-typed columns do not wrap."""
    df = spark.createDataFrame([(0xFFFF, 0, 0x3FF)], "a int, b int, c int")
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    got = df.select(interleave([a, b], 16).alias("ab"),
                    interleave([a, b, c], 10).alias("abc")).first()
    assert got.ab == int("01" * 16, 2)
    want = sum((1 << (3 * b)) | (1 << (3 * b + 2)) for b in range(10))
    assert got.abc == want
    with pytest.raises(ValueError):
        interleave([a, b, c], 22)
