"""Z-order (Morton) layout for multi-dimensional key pruning.

Motivation (SCALE.md gap #4): key-range layout sorts by the leading key,
so file min/max boxes are tight on dim 1 and useless on dim 2+ — the
same problem HBase has with non-leading row-key dimensions, which the
reference attacks with server-side skip-scans (HBaseCustomFilter.scala:
43-658). The columnar-native answer is bit-interleaved ordering: files
cover small hyper-rectangles in key space, so min/max pruning works on
EVERY key dimension.

Implementation notes:
- Order-preserving bit treatment per dimension: signed longs are offset
  by MIN_LONG (the same sign-flip trick as the reference's
  order-preserving byte codec, BinaryBytesUtils bytesUtils.scala:111-281
  — reappearing here as bit mixing).
- The z-value is a single LongType expression (shifts/masks, whole-stage
  codegen); no UDF, no shuffle beyond the one range exchange every load
  already pays.
- ``bits_per_dim`` top bits per dimension (coarse interleave): pruning
  only needs file-level locality, not a total Morton order; 16+16 bits
  for 2 dims is ample for ~1e5 files.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from heracles_spark.catalog import HeraclesCatalog, KeyTable

def _normalize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Scale a numeric column into [0, 2^bits) rank space. min/max come
    from a one-pass agg at write time — layout-only, never
    correctness-bearing (the pruner uses real per-file min/max)."""
    span = (hi - lo) or 1.0
    scaled = ((col.cast("double") - F.lit(float(lo))) / F.lit(float(span))
              * F.lit(float((1 << bits) - 1)))
    return F.least(F.greatest(scaled.cast("long"), F.lit(0).cast("long")),
                   F.lit((1 << bits) - 1).cast("long"))


def zvalue(cols: list[Column], bits_per_dim: int = 16,
           ranges: list[tuple[float, float]] | None = None) -> Column:
    """Morton interleave of each column's ``bits_per_dim``-bit normalized
    value. Pure bitwise expression tree (whole-stage codegen)."""
    ndim = len(cols)
    ranges = ranges or [(0.0, float((1 << bits_per_dim) - 1))] * ndim
    norm = [_normalize(c, lo, hi, bits_per_dim)
            for c, (lo, hi) in zip(cols, ranges)]
    z = F.lit(0).cast("long")
    for b in range(bits_per_dim):
        src_bit = bits_per_dim - 1 - b          # highest bits first
        for d, c in enumerate(norm):
            dst_bit = src_bit * ndim + (ndim - 1 - d)
            bit = F.shiftright(c, src_bit).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, dst_bit))
    return z


def hilbert_index_py(coords: list[int], bits: int) -> int:
    """Pure-Python Hilbert index (Skilling, "Programming the Hilbert
    curve", AIP 2004 — public algorithm): the test oracle for the
    column-expression implementation below."""
    X = list(coords)
    n = len(X)
    Q = 1 << (bits - 1)
    while Q > 1:
        P = Q - 1
        for i in range(n):
            if X[i] & Q:
                X[0] ^= P
            else:
                t = (X[0] ^ X[i]) & P
                X[0] ^= t
                X[i] ^= t
        Q >>= 1
    # Gray encode: ascending sequential X[i] ^= X[i-1] (updated values,
    # i.e. prefix-XOR of the pre-update row), then the t correction from
    # the last dim applied to every dim.
    for i in range(1, n):
        X[i] ^= X[i - 1]
    t = 0
    Q = 1 << (bits - 1)
    while Q > 1:
        if X[n - 1] & Q:
            t ^= Q - 1
        Q >>= 1
    for i in range(n):
        X[i] ^= t
    h = 0
    for j in range(bits - 1, -1, -1):
        for i in range(n):
            h = (h << 1) | ((X[i] >> j) & 1)
    return h


def with_hilbert_value(df: DataFrame, col_names: list[str],
                       bits_per_dim: int = 8,
                       ranges: list[tuple[float, float]] | None = None,
                       out_col: str = "__h") -> DataFrame:
    """Append a Hilbert-curve index column (Skilling's transform).

    Hilbert ordering never jumps across key space the way Morton does at
    quadrant seams, so consecutive rows — and therefore file bounding
    boxes — are tighter on every dimension (the point of curve layout:
    better min/max pruning on non-leading keys).

    Plan-shape note: Skilling's steps are sequentially dependent and each
    step reads a coordinate twice. Nesting them as one expression would
    double per step (the O(2^depth) Catalyst blow-up); instead every step
    is its own narrow ``select`` whose outputs are simultaneous aliases
    over the PREVIOUS step's columns — ~bits·ndim stacked projections,
    linear plan size, still one whole-stage-codegen span, no shuffle."""
    ndim = len(col_names)
    ranges = ranges or [(0.0, float((1 << bits_per_dim) - 1))] * ndim
    hx = [f"__hx{i}" for i in range(ndim)]
    df = df.select("*", *[
        _normalize(F.col(c), lo, hi, bits_per_dim).alias(h)
        for c, (lo, hi), h in zip(col_names, ranges, hx)])
    base = [c for c in df.columns if c not in hx]

    def step(updates: dict[str, Column]) -> DataFrame:
        cols = [F.col(c) for c in base]
        cols += [updates.get(h, F.col(h)).alias(h) for h in hx]
        return df.select(*cols)

    Q = 1 << (bits_per_dim - 1)
    while Q > 1:
        P = Q - 1
        for i in range(ndim):
            x0, xi = F.col(hx[0]), F.col(hx[i])
            has_q = xi.bitwiseAND(F.lit(Q)) != 0
            if i == 0:
                df = step({hx[0]: F.when(has_q, x0.bitwiseXOR(F.lit(P)))
                                   .otherwise(x0)})
            else:
                t = x0.bitwiseXOR(xi).bitwiseAND(F.lit(P))
                df = step({hx[0]: F.when(has_q, x0.bitwiseXOR(F.lit(P)))
                                   .otherwise(x0.bitwiseXOR(t)),
                           hx[i]: F.when(has_q, xi).otherwise(xi.bitwiseXOR(t))})
        Q >>= 1
    # Gray encode: X[i] ^= X[i-1] ascending with updated values ≡ prefix-
    # XOR of the pre-update row — one simultaneous select.
    def prefix_xor(i: int) -> Column:
        acc = F.col(hx[0])
        for j in range(1, i + 1):
            acc = acc.bitwiseXOR(F.col(hx[j]))
        return acc
    df = step({hx[i]: prefix_xor(i) for i in range(1, ndim)})
    # t correction from the (now Gray-encoded) last dim, applied to all.
    # XOR of independent per-level terms — NOT a nested when-chain, which
    # would duplicate the accumulator per level (O(2^bits) tree).
    t: Column = F.lit(0).cast("long")
    Q = 1 << (bits_per_dim - 1)
    while Q > 1:
        term = (F.when(F.col(hx[ndim - 1]).bitwiseAND(F.lit(Q)) != 0,
                       F.lit(Q - 1)).otherwise(F.lit(0))).cast("long")
        t = t.bitwiseXOR(term)
        Q >>= 1
    df = step({h: F.col(h).bitwiseXOR(t) for h in hx})

    h = F.lit(0).cast("long")
    for j in range(bits_per_dim - 1, -1, -1):
        for i in range(ndim):
            bit = F.shiftright(F.col(hx[i]), j).bitwiseAND(F.lit(1))
            h = F.shiftleft(h, 1).bitwiseOR(bit)
    return df.withColumn(out_col, h).drop(*hx)


def write_zordered(spark, catalog: HeraclesCatalog, table: str,
                   df: DataFrame, n_buckets: int | None = None,
                   bits_per_dim: int = 16,
                   mode: str = "overwrite",
                   curve: str = "morton") -> KeyTable:
    """Write with space-filling-curve layout instead of lexicographic key
    order. ``curve`` is 'morton' (bit interleave) or 'hilbert' (Skilling
    transform — tighter boxes, no quadrant-seam jumps). File index +
    pruner are unchanged: min/max per key column simply becomes tight on
    all dimensions. The file count follows ``writer.table_buckets``, as
    ``OPTIMIZE t`` does; the row count rides the key-range ``agg``."""
    from heracles_spark import writer

    tbl = catalog.get_table(table)
    df = writer._conform(df, tbl)
    stats = df.agg(F.count(F.lit(1)).alias("rows"),
                   *[f(F.col(k).cast("double")).alias(f"{tag}_{k}")
                     for k in tbl.key_cols
                     for tag, f in (("lo", F.min), ("hi", F.max))]).first()
    n_buckets = writer.table_buckets(tbl, n_buckets, lambda: stats["rows"])
    ranges = [(stats[f"lo_{k}"], stats[f"hi_{k}"]) for k in tbl.key_cols]
    if curve == "hilbert":
        bits = min(bits_per_dim, 16)   # 16·ndim bits cap keeps h in a long
        df = with_hilbert_value(df, tbl.key_cols, bits, ranges, "__z")
    elif curve == "morton":
        z = zvalue([F.col(k) for k in tbl.key_cols], bits_per_dim, ranges)
        df = df.withColumn("__z", z)
    else:
        raise ValueError(f"unknown curve: {curve!r}")
    laid_out = (df.repartitionByRange(n_buckets, "__z")
                  .sortWithinPartitions("__z")
                  .drop("__z"))
    paths = writer._stage(laid_out, tbl, f"g{tbl.version + 1}", None, None)
    # Overwrite replaces the whole file set computed from THIS snapshot
    # — OCC-guard it so a concurrent foreign append isn't dropped;
    # appends compose and need no guard.
    append = mode == "append"
    return writer._commit(catalog, tbl, paths, None if append else [],
                          f"zorder-{curve}", None if append else tbl.version,
                          None, {})
