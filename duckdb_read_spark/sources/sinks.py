"""File sinks (SURVEY §2.1 S4): parquet / CSV / JSON writers.

Tested by write→read roundtrip equality (SURVEY §2.3 — I/O formats are not
hash-oracled against DuckDB; the roundtrip IS the contract).

Scale notes: ``partition_by`` produces a hive layout that enables partition
pruning on read (SURVEY §4.1); ``buckets`` writes a bucketed table so
equi-joins on the bucket key need no shuffle. A plain ``coalesce(1)``-style
single-file write is intentionally NOT offered — it serializes the job
through one task and is an anti-pattern at any real scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "error",
    partition_by: list[str] | None = None,
    compression: str = "zstd",
) -> None:
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    mode: str = "error",
    partitions: int | None = None,
    compression: str = "zstd",
) -> None:
    """Range-partition + sort within partitions before writing.

    Produces files whose row groups are clustered on ``sort_cols`` — parquet
    min/max stats then prune row groups for range predicates on those
    columns (the zonemap effect; SURVEY §4.1). The write itself costs one
    range-exchange; reads of the sorted column range skip most files.
    """
    parts = (
        df.repartitionByRange(partitions, *sort_cols)
        if partitions
        else df.repartitionByRange(*sort_cols)
    )
    (
        parts.sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "error",
    header: bool = True,
    compression: str | None = None,
    delimiter: str | None = None,
    partition_by: list[str] | None = None,
    null_str: str | None = None,
    quote: str | None = None,
    escape: str | None = None,
) -> None:
    w = df.write.mode(mode).option("header", str(header).lower())
    if compression:
        w = w.option("compression", compression)
    if delimiter:
        w = w.option("sep", delimiter)
    if null_str is not None:
        w = w.option("nullValue", null_str)
    if quote is not None:
        # DuckDB quotes-and-doubles by default; Spark escapes with a
        # backslash unless escape == quote
        w = w.option("quote", quote).option("escape", escape or quote)
    if escape is not None and quote is None:
        w = w.option("escape", escape)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.csv(path)
    if header and not partition_by:
        _drop_header_only_part(path)


def _drop_header_only_part(path: str) -> None:
    """Delete the header-only part file Spark leaves when the first
    partition is empty (task 0 always writes a file, so an empty result
    still has one), so that a reader sniffing one file's types (DuckDB's
    read_csv over ``path/*.csv``) sees a data row. Only local uncompressed,
    gzip and bzip2 parts are inspected."""
    import bz2
    import glob
    import gzip
    import os

    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    if len(parts) < 2:
        return  # nothing written, or the one file of an empty result
    first = parts[0]  # task 0's file
    opener = {".csv": open, ".gz": gzip.open, ".bz2": bz2.open}.get(
        os.path.splitext(first)[1])
    if opener is None:
        return
    with opener(first, "rb") as f:
        header_only = bool(f.readline()) and not f.readline()
    if header_only:
        os.remove(first)
        crc = os.path.join(path, f".{os.path.basename(first)}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "error",
    compression: str | None = None,
    partition_by: list[str] | None = None,
) -> None:
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "error",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) catalog table:
    files are hash-partitioned into ``buckets`` on ``bucket_cols`` at write
    time, so an equi-join or aggregation on those columns by LATER readers
    needs NO shuffle — the exchange was paid once at write time. This is
    the durable sibling of repartition_for_join (operators/skew.py) and the
    in-warehouse analog of co-located storage.

    Bucketing metadata lives in the session catalog (saveAsTable — Spark's
    bucketing is catalog-scoped, plain parquet paths can't carry it).
    Size ``buckets`` like shuffle partitions: at 100 TB, thousands."""
    w = df.write.mode(mode).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(name)


def write_time_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    granularity: str = "day",
    mode: str = "error",
    compression: str = "zstd",
    partition_col: str = "p_date",
) -> None:
    """Materialize an event table into a hive time-partitioned layout with a
    REAL timestamp column — the scale fix for SCALE.md §3.4: the ns-shim
    view computes ``ts`` as an expression, so time predicates cannot reach
    the parquet scan; after this rewrite (a) equality/range filters on the
    derived ``partition_col`` prune whole partitions at planning time, and
    (b) ``ts`` is a plain column again, so predicates on it push down to
    row-group min/max stats. One-time cost: one pass over the data (no
    shuffle — partitionBy splits files within each task)."""
    from pyspark.sql import functions as F

    fmt = {"hour": "yyyy-MM-dd-HH", "day": "yyyy-MM-dd", "month": "yyyy-MM"}
    if granularity not in fmt:
        raise ValueError(f"granularity must be one of {sorted(fmt)}")
    (
        df.withColumn(partition_col, F.date_format(F.col(ts_col), fmt[granularity]))
        .write.mode(mode)
        .option("compression", compression)
        .partitionBy(partition_col)
        .parquet(path)
    )


def zorder_key(cols, bits: int = 12):
    """Morton (Z-order) interleave of min-max-normalized columns: a single
    long key whose ordering clusters rows that are close in EVERY listed
    dimension. Pure JVM bit expressions (bits × n_cols shift/or terms in
    one codegen stage). ``cols`` are (Column, min, max) triples —
    normalization bounds come from the caller (one cheap agg pass)."""
    from pyspark.sql import functions as F

    n = len(cols)
    if n == 0:
        raise ValueError("zorder_key needs at least one column")
    if bits * n > 63:
        # JVM shifts wrap mod 64: a shiftleft past bit 63 would silently
        # interleave bits into wrong positions and destroy the clustering
        # property. 63 (not 64) keeps the sign bit clear.
        raise ValueError(
            f"zorder_key: bits * len(cols) = {bits * n} exceeds 63 — "
            f"use bits <= {63 // n} for {n} columns"
        )
    key = F.lit(0).cast("long")
    scale_max = (1 << bits) - 1
    for ci, (col, lo, hi) in enumerate(cols):
        span = (hi - lo) or 1
        scaled = F.least(
            F.lit(scale_max),
            F.greatest(
                F.lit(0),
                ((col.cast("double") - F.lit(float(lo))) / F.lit(float(span))
                 * F.lit(scale_max)).cast("long"),
            ),
        )
        for b in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(scaled, b).bitwiseAND(F.lit(1)), b * n + ci
                )
            )
    return key


def write_zordered_parquet(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    mode: str = "error",
    partitions: int | None = None,
    compression: str = "zstd",
) -> None:
    """Z-order-clustered parquet: files are range-partitioned and sorted on
    the Morton key of ``cols``, so row-group min/max stats prune for range
    predicates on ANY of the listed dimensions (a 1-d sort only prunes its
    leading column). One agg pass for normalization bounds (2 scalars per
    column to the driver) + one range exchange — same write cost profile
    as write_sorted_parquet. ``bits`` is auto-reduced so the interleaved
    key fits in 63 bits (4+ columns at the default 12 would overflow)."""
    from pyspark.sql import functions as F

    bits = min(bits, 63 // len(cols))
    bounds = df.agg(
        *[F.min(c).alias(f"__mn_{c}") for c in cols],
        *[F.max(c).alias(f"__mx_{c}") for c in cols],
    ).first()
    triples = [
        (F.col(c), float(bounds[f"__mn_{c}"]), float(bounds[f"__mx_{c}"]))
        for c in cols
    ]
    keyed = df.withColumn("__zkey", zorder_key(triples, bits))
    parts = (
        keyed.repartitionByRange(partitions, "__zkey")
        if partitions
        else keyed.repartitionByRange("__zkey")
    )
    (
        parts.sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )
