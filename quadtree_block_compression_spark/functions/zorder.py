"""Z-order (Morton) cell keys as native Column expressions: the JVM twin of
``kernels.geometry``'s cells, so no plan needs a Python runner to key a
point. The kernel stays their Spark-free oracle (``tests/test_zorder.py``);
:func:`interleave` is the one Spark-side Morton bit layout."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..kernels.geometry import MAX_RES, WORLD


def interleave(cols: list[Column], bits: int) -> Column:
    """Bit ``b`` of ``cols[i]`` → bit ``b·k + i`` of one long (low ``bits``
    bits of each column). Cast to long first: an int shifted by ≥ 32 wraps."""
    if bits * len(cols) > 63:
        raise ValueError(f"{len(cols)} columns × {bits} bits overflow a long")
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            z = z.bitwiseOR(F.shiftleft(F.shiftright(c.cast("long"), b)
                                        .bitwiseAND(F.lit(1)), b * len(cols) + i))
    return z


def grid_index(v: Column, res: int) -> Column:
    """Coordinate → grid index with the kernel's clip to ``[0, 2^res − 1]``.
    Clipping before the (ANSI-checked) cast equals truncate-then-clip."""
    s = v.cast("double") * F.lit((1 << res) / WORLD)
    return F.least(F.greatest(s, F.lit(0.0)), F.lit((1 << res) - 1.0)).cast("long")


def cell_key(ix: Column, iy: Column, res: int | Column) -> Column:
    """Grid indexes → cell key (``cell_from_grid``); ``res`` may be per row."""
    if not isinstance(res, Column):
        if not 0 <= res <= MAX_RES:
            raise ValueError(f"resolution out of range: {res}")
        res = F.lit(int(res))
    return interleave([ix, iy], MAX_RES).bitwiseOR(F.shiftleft(res.cast("long"), 58))


def cell_of(x: Column, y: Column, res: int) -> Column:
    """Point → cell key (``cell_encode``)."""
    return cell_key(grid_index(x, res), grid_index(y, res), res)


def ring_cells(df: DataFrame, x: str, y: str, res: int, ring: int,
               prev_ring: int) -> DataFrame:
    """Each row × the cells (column ``cell``) at Chebyshev distance in
    ``(prev_ring, ring]`` of its point's cell: ``cell_ring(ring)`` minus
    ``cell_ring(prev_ring)``, no duplicates. Clamping maps the disk onto
    clamped index ranges, never descending ones: the point's index lies
    inside the world."""
    ix, iy, cx, cy = (F.col(c) for c in ("_zix", "_ziy", "_zcx", "_zcy"))

    def span(i: Column) -> Column:
        return F.sequence(F.greatest(i - ring, F.lit(0)),
                          F.least(i + ring, F.lit((1 << res) - 1)))

    return (df.withColumn("_zix", grid_index(F.col(x), res))
            .withColumn("_ziy", grid_index(F.col(y), res))
            .withColumn("_zcx", F.explode(span(ix)))
            .withColumn("_zcy", F.explode(span(iy)))
            .where(F.greatest(F.abs(cx - ix), F.abs(cy - iy)) > prev_ring)
            .select(*df.columns, cell_key(cx, cy, res).alias("cell")))
