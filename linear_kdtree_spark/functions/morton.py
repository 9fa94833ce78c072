"""Morton / tile / node-id bit transforms as pure JVM column expressions.

Two code families live here:

1. **Tree-path transforms** — convert between the heap ``node`` id produced
   by the build and the reference's code semantics. A node at heap id ``n``
   and depth ``L`` satisfies ``n + 1 = 0b1 b1 b2 … bL`` where ``b_i = 1`` ⇔
   the path went *right* at level i. From that single column we derive:
   - ``path_len`` (= L),
   - ``sk`` — the MSB-first 0=left path int (``n + 1 - 2^L``),
   - ``sort_key`` — ``sk`` left-padded to ``max_depth`` bits (kd linear order),
   - ``code`` — the reference-faithful tree-path code (bit = 1 ⇔ left,
     LSB-first; reference lkt.cpp:140-157).
   The build and ingest use :func:`with_derived_cols`, a short chain of
   branch-free integer projections, and :func:`sort_key_from_path_len`; no
   UDF. The tests check them against a per-bit definition.

2. **Fixed-grid Z-order tiles** — the textbook interleaved Morton cell id at
   a fixed depth over a fixed bounding box, the engine's H3/S2-style tile
   interop (north_rule: "H3/S2 index"); emitted both as a Column and as an
   engine-portable ANSI-SQL string (used verbatim by the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_DEPTH = 32  # reference nocuda.cpp:113: sizeof(mortoncode_t) * CHAR_BIT

# world bounds used by default for lon/lat tiles
WORLD = (-180.0, -90.0, 180.0, 90.0)


def _pow2_long(exp: Column) -> Column:
    return F.pow(F.lit(2.0), exp.cast("double")).cast("long")


def ancestor_at_depth(node: Column, path_len: Column, depth: int) -> Column:
    """Heap id of a node's ancestor at ``depth`` (the lkt-native tile id);
    nodes shallower than ``depth`` return themselves — their whole subtree
    is one tile (SURVEY.md §2.3-Q3)."""
    return (
        F.when(
            path_len >= F.lit(depth),
            F.floor((node + 1) / _pow2_long(path_len - F.lit(depth))).cast("long") - 1,
        )
        .otherwise(node)
        .cast("long")
    )


# --------------------------------------------------------------------------
# fast branch-free derivations (the build's finalize projection)
# --------------------------------------------------------------------------

def sort_key_from_path_len(
    node: Column, path_len: Column, max_depth: int = MAX_DEPTH
) -> Column:
    """sort_key = (node + 1 − 2^L) · 2^(MD − L): the path bits (node + 1
    without its leading 1) padded MSB-first, given the node's depth ``L``.
    No step can overflow, so an out-of-range row that subexpression
    elimination evaluates before a filter drops it cannot fail under ANSI."""
    one = F.lit(1).cast("long")
    path_bits = (node + 1).cast("long") - F.call_function("shiftleft", one, path_len)
    return F.call_function("shiftleft", path_bits, F.lit(max_depth) - path_len)


def with_derived_cols(df: DataFrame, max_depth: int = MAX_DEPTH) -> DataFrame:
    """``df`` plus ``path_len``, ``code`` and ``sort_key``, derived from its
    heap ``node`` column with branch-free integer bit operations:

        v     = node + 1;  smear = v with its highest set bit copied down
        L     = bit_count(smear) − 1
        sort_key = v · 2^(MD−L) − 2^MD            (path bits padded MSB-first)
        code  = (2^L − 1) − rev32(sort_key · 2^(32−MD))   (bit i = 1 − b_{i+1})

    Each smear and bit-reverse step reads its input twice. Written as one
    Column tree, ``code`` would hold 2,144 copies of ``node`` at max_depth 24,
    which the optimizer re-simplifies and whole-stage codegen re-emits on the
    driver, seconds per call. Here every step is its own projection over a
    named intermediate column instead: CollapseProject does not inline a
    non-trivial producer that is referenced twice, so the plan stays linear
    (equality with the per-bit definition and the plan size are
    unit-tested), and whole-stage codegen still fuses it into one function.
    """
    if max_depth > 32:
        raise ValueError("with_derived_cols supports max_depth ≤ 32")
    tmp: list[str] = []

    def step(frame: DataFrame, expr: Column) -> tuple[DataFrame, Column]:
        name = f"__lkt_bits{len(tmp)}"
        tmp.append(name)
        return frame.withColumn(name, expr), F.col(name)

    out, smear = step(df, (F.col("node") + 1).cast("long"))
    for s in (1, 2, 4, 8, 16, 32):
        out, smear = step(out, smear.bitwiseOR(F.shiftright(smear, s)))
    out, plen = step(out, (F.bit_count(smear) - 1).cast("int"))
    out, sort_key = step(
        out, sort_key_from_path_len(F.col("node"), plen, max_depth)
    )
    out, rev = step(out, F.shiftleft(sort_key, 32 - max_depth))
    for mask, s in (
        (0x55555555, 1),
        (0x33333333, 2),
        (0x0F0F0F0F, 4),
        (0x00FF00FF, 8),
        (0x0000FFFF, 16),
    ):
        out, rev = step(
            out,
            F.shiftright(rev, s).bitwiseAND(F.lit(mask)).bitwiseOR(
                F.shiftleft(rev.bitwiseAND(F.lit(mask)), s)
            ),
        )
    # smear = 2^(L+1) − 1, so smear >> 1 = 2^L − 1
    code = (F.shiftright(smear, 1) - rev).cast("long")
    return out.withColumns(
        {"path_len": plen, "code": code, "sort_key": sort_key}
    ).drop(*tmp)


# --------------------------------------------------------------------------
# Fixed-grid Z-order tiles (H3/S2-style interop; SQL-portable)
# --------------------------------------------------------------------------

def grid_cell_col(v: Column, vmin: float, vmax: float, depth: int) -> Column:
    """Clamped cell ordinate: floor((v - vmin) * 2^depth / (vmax - vmin)).
    NULL in → NULL out: Spark's greatest/least SKIP nulls, so without the
    explicit guard a NULL coordinate silently clamped to cell 0 — every
    missing-coordinate point piled into the (vmin) corner tile and
    corrupted tile aggregates (review r5)."""
    scale = float((1 << depth) / (vmax - vmin))
    raw = F.floor((v.cast("double") - F.lit(vmin)) * F.lit(scale)).cast("long")
    clamped = F.least(F.greatest(raw, F.lit(0)), F.lit((1 << depth) - 1))
    return F.when(v.isNull(), F.lit(None).cast("long")).otherwise(clamped)


def morton_tile_col(
    x: Column,
    y: Column,
    depth: int,
    bounds: tuple[float, float, float, float] = WORLD,
) -> Column:
    """Interleaved Z-order tile id at ``depth`` bits per axis (x in even bit
    positions, y in odd)."""
    xmin, ymin, xmax, ymax = bounds
    ix = grid_cell_col(x, xmin, xmax, depth)
    iy = grid_cell_col(y, ymin, ymax, depth)
    # pure integer shift/mask interleave — bit i of a clamped non-negative
    # cell ordinate is shiftright(v, i) & 1 == floor(v / 2^i) % 2, so the
    # values are identical to the double-divide form the SQL oracle text
    # keeps (morton_tile_sql), at a fraction of the per-row cost (the
    # divide form pays a double divide + floor + cast per bit)
    tile = F.lit(0).cast("long")
    for i in range(depth):
        tile = tile + F.shiftleft(
            F.shiftright(ix, i).bitwiseAND(F.lit(1)), 2 * i
        )
        tile = tile + F.shiftleft(
            F.shiftright(iy, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return tile


def morton_tile_sql(
    x_expr: str,
    y_expr: str,
    depth: int,
    bounds: tuple[float, float, float, float] = WORLD,
) -> str:
    """ANSI-SQL text of :func:`morton_tile_col`, parseable by both Spark SQL
    and DuckDB with identical double/int semantics — used by the driver's
    DuckDB oracle so tile ids match bit-for-bit."""
    xmin, ymin, xmax, ymax = bounds
    sx = repr(float((1 << depth) / (xmax - xmin)))
    sy = repr(float((1 << depth) / (ymax - ymin)))
    mx = (1 << depth) - 1
    ix = (
        f"LEAST(GREATEST(CAST(FLOOR((CAST(({x_expr}) AS DOUBLE) - ({xmin!r})) * {sx}) "
        f"AS BIGINT), 0), {mx})"
    )
    iy = (
        f"LEAST(GREATEST(CAST(FLOOR((CAST(({y_expr}) AS DOUBLE) - ({ymin!r})) * {sy}) "
        f"AS BIGINT), 0), {mx})"
    )
    terms = []
    for i in range(depth):
        terms.append(
            f"(CAST(FLOOR(({ix}) / {float(1 << i)!r}) AS BIGINT) % 2) * {1 << (2 * i)}"
        )
        terms.append(
            f"(CAST(FLOOR(({iy}) / {float(1 << i)!r}) AS BIGINT) % 2) * {1 << (2 * i + 1)}"
        )
    return "(" + " + ".join(terms) + ")"


def tile_bounds(tile: int, depth: int,
                bounds: tuple[float, float, float, float] = WORLD
                ) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) of a Z-order tile — the raster→vector
    direction of Q5 (SURVEY.md §2.3)."""
    xmin, ymin, xmax, ymax = bounds
    ix = iy = 0
    for i in range(depth):
        ix |= ((tile >> (2 * i)) & 1) << i
        iy |= ((tile >> (2 * i + 1)) & 1) << i
    wx = (xmax - xmin) / (1 << depth)
    wy = (ymax - ymin) / (1 << depth)
    return (xmin + ix * wx, ymin + iy * wy, xmin + (ix + 1) * wx, ymin + (iy + 1) * wy)
