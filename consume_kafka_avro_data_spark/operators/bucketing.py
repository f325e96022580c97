"""Data layout for pruning: Z-order clustering of several columns into
one sort key, so per-file min/max statistics stay tight on every
clustered column (see the section comment below)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


# ---------------------------------------------------------------------------
# Z-order layout: multi-dimensional clustering for min/max pruning.
#
# Parquet/file pruning works off per-file (row-group) min/max stats, so
# a layout sorted on ONE column leaves every OTHER column's stats spanning
# the full domain — a filter on the second column prunes nothing.
# Interleaving the bits of several grid-quantized columns into one sort
# key (the Z-order / Morton curve) keeps files tight on ALL interleaved
# dimensions at once: sort-by-zkey ⇒ each file covers a small hyper-
# rectangle ⇒ min/max pruning works for every dimension.  This is the
# standard data-layout lever for multi-predicate scans at 100 TB; the
# write is one range-partitioned sort, paid once.
# ---------------------------------------------------------------------------


def grid_coord(col: Column, mn: Column, mx: Column, bits: int = 8) -> Column:
    """Quantize a value onto the [0, 2^bits) grid given broadcastable
    min/max columns — floor (not round) so engines bucket identically;
    a constant dimension maps to cell 0.

    Both edges clamp: stats may be precomputed/stale (the incremental-
    data case), and an out-of-range value must land in the edge cell,
    never at a negative coordinate — shiftright sign-extends, so one
    negative coordinate would set EVERY interleaved bit of its dimension
    and teleport the row to the far end of the key space."""
    cells = 1 << bits
    return (
        F.when(mx == mn, F.lit(0))
        .otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(cells - 1),
                    F.floor((col - mn) / (mx - mn) * cells),
                ),
            )
        )
        .cast("long")
    )


def zorder_key(coords: list[Column], bits: int = 8) -> Column:
    """Bit-interleave grid coordinates into one Morton key.

    Bit ``b`` of coordinate ``i`` lands at position ``b·n + (n-1-i)``
    (dimension 0 owns the most-significant bit of each group), a pure
    shift/mask/sum expression that stays inside whole-stage codegen —
    2·bits·n integer ops per row, no UDF.  ``bits·n`` must fit the 63
    value bits of a signed long: position 63 is the sign bit, and a key
    with it set sorts BEFORE all others, silently destroying locality.
    """
    n = len(coords)
    if bits * n > 63:
        raise ValueError(
            f"bits*dims = {bits * n} exceeds the 63 value bits of a long"
        )
    terms = []
    for i, c in enumerate(coords):
        lc = c.cast("long")
        for b in range(bits):
            terms.append(
                F.shiftleft(
                    # Column.bitwiseAND, not `&` (which is logical AND)
                    F.shiftright(lc, b).bitwiseAND(F.lit(1).cast("long")),
                    b * n + (n - 1 - i),
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def o_zorder_key(cols: list[str], bits: int = 8) -> str:
    """DuckDB twin of :func:`zorder_key` over already-gridded BIGINT
    columns (same bit layout, same shift/mask arithmetic, same 63-bit
    guard)."""
    n = len(cols)
    if bits * n > 63:
        raise ValueError(
            f"bits*dims = {bits * n} exceeds the 63 value bits of a long"
        )
    terms = [
        f"((({c} >> {b}) & 1) << {b * n + (n - 1 - i)})"
        for i, c in enumerate(cols)
        for b in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def zorder_frame(
    df: DataFrame, dims: list[str], bits: int = 8, zkey_col: str = "zkey"
) -> DataFrame:
    """Attach a Morton key computed from corpus min/max grids of
    ``dims`` (numeric columns): one 1-row stats aggregate broadcast onto
    the scan, grid-quantize each dimension, bit-interleave.  The shared
    pipeline behind ``q_zorder_layout`` and the layout tests — at scale,
    follow with ``repartitionByRange(zkey).sortWithinPartitions(zkey)``
    and the parquet write IS the clustered layout."""
    aggs = []
    for d in dims:
        aggs += [F.min(d).alias(f"_mn_{d}"), F.max(d).alias(f"_mx_{d}")]
    stats = df.agg(*aggs)
    g = df.crossJoin(F.broadcast(stats))
    coords = [
        grid_coord(F.col(d), F.col(f"_mn_{d}"), F.col(f"_mx_{d}"), bits)
        for d in dims
    ]
    return g.select(*df.columns, zorder_key(coords, bits).alias(zkey_col))
