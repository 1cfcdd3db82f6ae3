"""Z-order (Morton-curve) clustering for compaction-time data layout.

Linear key clustering (Iceberg sort orders) makes file/row-group
min-max stats tight on the FIRST sort column only; a range predicate on any
other column still scans every file. Z-ordering interleaves the bits of
per-column quantile ranks so every file covers a small hyper-rectangle of
the value space — min/max become tight on EVERY z-column simultaneously,
and :meth:`..lake.table.LakeTable.scan`'s manifest-stats pruning skips
files for predicates on any of them (the Delta OSS / ClickHouse
``ORDER BY`` multi-column skip story).

Pipeline (all engine-side, no UDF):

1. one ``percentile_approx`` job computes ``2^bits - 1`` boundaries per
   z-column (driver-small: 255 doubles each at the default 8 bits);
2. each row's per-column rank is "count of boundaries <= value" — one
   bounded array fold over broadcast literals;
3. the z-value interleaves the rank bits (``bits * n_cols`` OR terms of
   shift/mask arithmetic, pure codegen);
4. the writer range-repartitions on (bucket, z) and sorts within
   partitions, so each output file covers one contiguous z-range.

Numeric columns rank directly; STRING columns rank through an
order-preserving numeric key (first 8 UTF-8 bytes, big-endian — the same
truncation trick Delta's ZORDER applies to strings), so z-ordering a URL
or domain column Just Works. NULLs rank 0 (the lowest z-region),
matching NULLS FIRST linear sorts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _str_key(col: Column) -> Column:
    """Order-preserving numeric key for a string: first 8 UTF-8 bytes,
    big-endian, right-padded with 0x00 (so a prefix sorts before its
    continuations), read as an unsigned 64-bit value. Strings equal in
    their first 8 bytes collapse to one rank — exactly the resolution a
    2^bits quantile rank keeps anyway."""
    h = F.rpad(F.hex(F.encode(F.substring(col, 1, 8), "UTF-8")), 16, "0")
    return F.conv(h, 16, 10).cast("decimal(38,0)").cast("double")


def _rank_input(df: DataFrame, c: str) -> Column:
    """The numeric expression a z-column ranks on: the column itself for
    numerics, the order-preserving prefix key for strings."""
    if isinstance(df.schema[c].dataType, T.StringType):
        return _str_key(F.col(c))
    return F.col(c).cast("double")


def zorder_boundaries(df: DataFrame, cols: list[str], *,
                      bits: int = 8,
                      accuracy: int = 10_000) -> dict[str, list[float]]:
    """Per-column approx-quantile boundaries (2^bits - 1 cuts), ONE job."""
    probes = [i / (1 << bits) for i in range(1, 1 << bits)]
    aggs = [F.percentile_approx(_rank_input(df, c), probes, accuracy)
             .alias(c) for c in cols]
    row = df.agg(*aggs).first()
    return {c: [float(x) for x in (row[c] or [])] for c in cols}


def rank_expr(col: Column, boundaries: list[float]) -> Column:
    """0-based quantile rank: how many boundaries the value clears.
    NULL -> 0 (lowest z-region); no boundaries (empty input) -> 0."""
    if not boundaries:
        return F.lit(0)
    b = F.array(*[F.lit(float(x)) for x in boundaries])
    v = col.cast("double")
    return F.when(v.isNull(), F.lit(0)).otherwise(
        F.size(F.filter(b, lambda x: x <= v)))


def zvalue_expr(ranks: list[Column], *, bits: int = 8) -> Column:
    """Morton interleave of the rank bits: column i contributes its bit b
    at position ``b * n_cols + i``. Pure shift/mask arithmetic, codegen'd.

    ``bits * len(ranks)`` must stay <= 63: bit 63 of a long is the sign
    bit, and a rank bit landing there would sort high-rank rows NEGATIVE —
    silently inverting the z-range partitioning (ADVICE r6). Callers that
    want many columns should reduce ``bits`` (``with_zvalue`` does this
    automatically)."""
    m = len(ranks)
    if bits * m > 63:
        raise ValueError(
            f"bits*n_cols = {bits}*{m} = {bits * m} > 63 would place rank "
            "bits on the long sign bit; use bits <= 63 // n_cols")
    z = F.lit(0).cast("long")
    for i, r in enumerate(ranks):
        rl = r.cast("long")
        for b in range(bits):
            bit = F.shiftright(rl, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * m + i))
    return z


def with_zvalue(df: DataFrame, cols: list[str], *, bits: int = 8,
                boundaries: dict[str, list[float]] | None = None,
                out_col: str = "_zval") -> DataFrame:
    """``df`` plus the interleaved z-value column (boundaries computed with
    one job when not passed). ``bits`` is auto-reduced to ``63 // n_cols``
    BEFORE the boundaries are computed, so rank resolution and interleave
    width always agree and never touch the long sign bit."""
    bits = min(bits, 63 // max(len(cols), 1))
    if boundaries is None:
        boundaries = zorder_boundaries(df, cols, bits=bits)
    ranks = [rank_expr(_rank_input(df, c), boundaries[c]) for c in cols]
    return df.withColumn(out_col, zvalue_expr(ranks, bits=bits))
