"""Scan-parallelism fixup for small, unsplittable parquet inputs.

A parquet file is splittable only at row-group granularity; a small table
written as one file with one row group therefore scans as ONE task, and
every map-side operator chained on that scan (regex/geotag extraction,
shingling, md5 hashing, n-gram explodes) runs single-threaded no matter
how many cores the session has — measured on this suite as 8-core walls
== 32-core walls for the whole text stack (guide §2.5 "input skew: one
huge unsplittable file ... repartition immediately after the read").

``fan_out_small_scan`` repairs exactly that case, scale-adaptively:

- inputs LARGER than ``max_bytes`` (default 256 MB) are returned
  untouched — at production scale the scan has many row groups/files and
  Spark's own split planning (``spark.sql.files.maxPartitionBytes``)
  already yields parallelism; adding a shuffle there would be harmful;
- small inputs are round-robin repartitioned into ``bytes // per_part``
  partitions (floor 2, cap ``max_parts``): the floor keeps a partition
  big enough that JIT-warm codegen amortizes (measured: 64 partitions of
  ~1.5k rows ran ~50x slower per row than one warm task), the cap bounds
  task count at the level a 2 MB table can usefully spread.

The repartition is a plain round-robin exchange of the raw scan columns
(cheap by the size gate) and changes no row, so every downstream result
is identical; all consumers in this engine are order-independent by
design (value-deterministic aggregations, pinned sorts).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _input_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    try:
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    except OSError:
        return 0


def fan_out_small_scan(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    per_part: int = 64 << 10,
    max_parts: int = 16,
    max_bytes: int = 256 << 20,
) -> DataFrame:
    """Repartition a small single-file scan so downstream map work can
    use the cluster; no-op for production-scale inputs (see module doc)."""
    nbytes = _input_bytes(path)
    if nbytes == 0 or nbytes > max_bytes:
        return df
    cores = spark.sparkContext.defaultParallelism
    n = max(2, min(max_parts, cores, nbytes // per_part))
    return df.repartition(int(n))


def _split_units(path: str) -> int | None:
    """Number of independently scannable units (row groups summed over
    files) — parquet's true split granularity. None when the footers
    can't be read (no pyarrow, a missing or unreadable file, a corrupt
    footer): the split count is then unknown."""
    try:
        import pyarrow.parquet as pq

        files = (
            [path]
            if os.path.isfile(path)
            else [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
        )
        return sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    except (ImportError, OSError, ValueError):
        return None


def fan_out_unsplittable_scan(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    min_bytes: int = 4 << 20,
    per_part: int = 512 << 10,
    max_bytes: int = 1 << 30,
) -> DataFrame:
    """Mid-size sibling of :func:`fan_out_small_scan` for scans whose
    per-row map work is expensive enough that a SINGLE-row-group file
    becomes the wall (the pages text build: ~11 us/row of %.7f
    formatting runs inside the scan projection, so only an exchange on
    the RAW columns below the projection can parallelize it).

    Three gates, all data-derived (nothing tuned to a core count):
    - below ``min_bytes`` the warm single task wins (fresh-JVM A/B at
      2 MB: fan16 ~+0.1 s; at 12 MB: 13.1-25.4 -> 7.9-8.8 s) — no-op;
    - if the footer already shows enough row groups to feed half the
      cluster, Spark's own split planning parallelizes the scan — no-op
      (this is what makes the helper safe for production tables where
      writers emit 128 MB row groups); an unreadable footer (unknown
      split count) is also a no-op;
    - above ``max_bytes`` the exchange itself would be the new wall —
      no-op (and any sane writer has produced many row groups by then).

    The repartition is a row-preserving round-robin of the raw scan
    columns (column pruning pushes below the exchange, so only consumed
    columns ship); every consumer is order-independent by design."""
    nbytes = _input_bytes(path)
    if nbytes < min_bytes or nbytes > max_bytes:
        return df
    cores = spark.sparkContext.defaultParallelism
    units = _split_units(path)
    if units is None or units >= max(2, cores // 2):
        return df
    n = max(2, min(cores, nbytes // per_part))
    return df.repartition(int(n))
