"""Parquet warehouse: the engine's table storage.

The reference stores tables in a single SQLite file with
truncate-and-reload semantics (etl_pipeline.py:78-97).  Here a
"database" is a warehouse directory; a table is a parquet dataset
written with ``mode("overwrite")`` — the exact equivalent of the
reference's DROP+CREATE+append load.  Partitioning is caller-chosen;
the clean immunization table partitions by ``antigen`` (cardinality
~15 → healthy file counts at any scale, and the dashboards' hot
predicate is always on (country, antigen), so partition pruning serves
it).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def table_path(warehouse_dir: str, table: str) -> str:
    return os.path.join(warehouse_dir, table)


def write_warehouse_table(
    df: DataFrame,
    warehouse_dir: str,
    table: str,
    partition_by: list[str] | None = None,
) -> str:
    """Truncate-and-reload ``table``: an overwrite of its parquet dataset."""
    path = table_path(warehouse_dir, table)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return path


def warehouse_filesystem(path: str):
    """The pyarrow filesystem that holds ``path``, and the path in it.

    A path without a scheme is local.  A URI (``file://``, ``hdfs://``,
    ``s3://``, ...) goes through `pyarrow.fs.FileSystem.from_uri`; a
    URI pyarrow cannot open (an unknown scheme such as Hadoop's
    ``s3a://``, or ``hdfs://`` without libhdfs) raises ValueError.
    """
    from pyarrow import fs

    if "://" not in path:
        return fs.LocalFileSystem(), os.path.abspath(path)
    try:
        return fs.FileSystem.from_uri(path)
    except (ValueError, NotImplementedError, OSError) as e:
        raise ValueError(f"{path}: pyarrow cannot open this filesystem: {e}") from e


def footer_row_count(path: str) -> int:
    """Rows in a parquet file or dataset directory, summed from the
    files' footers with pyarrow: no Spark job, no data read.

    For a directory it counts the files a Spark read of ``path`` lists:
    every file in it and its subdirectories (partition directories
    included) except those with a path part starting with ``_`` or
    ``.`` (``_SUCCESS``, ``_temporary``, checksum files), which Spark's
    file index skips.  ``path`` may be any URI `warehouse_filesystem`
    opens.
    """
    import posixpath

    import pyarrow.parquet as pq
    from pyarrow import fs

    filesystem, root = warehouse_filesystem(path)
    if filesystem.get_file_info(root).type != fs.FileType.Directory:
        return pq.read_metadata(root, filesystem=filesystem).num_rows
    return sum(
        pq.read_metadata(f.path, filesystem=filesystem).num_rows
        for f in filesystem.get_file_info(fs.FileSelector(root, recursive=True))
        if f.type == fs.FileType.File
        and not any(
            part.startswith(("_", "."))
            for part in posixpath.relpath(f.path, root).split("/")
        )
    )


def write_sorted_table(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> str:
    """Range-partitioned, file-sorted layout — the data-skipping op.

    ``repartitionByRange(sort_cols)`` gives each output file a DISJOINT
    key range, and ``sortWithinPartitions`` orders rows inside it, so
    every parquet footer carries tight, non-overlapping min/max stats
    on ``sort_cols``.  A later scan with a predicate on those columns
    then skips whole files (and whole row groups within files) from
    metadata alone — this is the single-column essence of what table
    formats call OPTIMIZE/ZORDER, done with two built-in operators.

    At 100 TB this is the nightly layout job for the hot filter
    column: one range shuffle (sampled range boundaries, so skew in
    ``sort_cols`` spreads across files instead of hot-spotting one),
    then a local sort per file.  Pair with `compact_parquet`
    (sinks.py) when the input is also fragmented.

    ``tests/test_warehouse_bucketing.py`` pins the layout property:
    per-file min/max ranges on the sort column do not overlap.
    """
    parts = df.repartitionByRange(*sort_cols) if n_files is None else (
        df.repartitionByRange(n_files, *sort_cols)
    )
    parts.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)
    return path


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed + sorted catalog table — the co-located-join layout.

    Two fact tables bucketed the same way (same columns, same bucket
    count) join with NO shuffle exchange: each task reads the matching
    bucket from both sides, and with ``sort_cols`` = join keys the sort
    vanishes too.  At 100 TB this turns the recurring fact⋈fact join
    from a full-network shuffle into a purely local merge — the single
    biggest structural join optimization Spark offers, and it composes
    with partition pruning.  (Bucketed layout requires the session
    catalog: ``saveAsTable``, not path-based ``parquet()``.  Set
    ``spark.sql.warehouse.dir`` to place the files.)

    ``tests/test_warehouse_bucketing.py`` pins the plan property: the
    bucketed self-join contains zero Exchange operators.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_zorder_table(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    bits: int = 16,
    n_files: int = 32,
    mode: str = "overwrite",
) -> str:
    """Two-dimensional z-order (Morton) layout — multi-column skipping.

    `write_sorted_table` gives ONE column tight per-file min/max stats;
    a second filter column inherits nothing (its values scatter across
    every file).  Z-ordering interleaves the bits of both columns into
    a single Morton key and range-partitions on it, so each output
    file covers a small RECTANGLE of the (x, y) value space — both
    columns get usable footer stats, and a scan filtering on either
    (or both) skips files from metadata alone.  This is what table
    formats call OPTIMIZE ZORDER BY, expressed with built-ins: a
    normalize, a fixed bit-interleave expression (all JVM integer ops,
    codegen-friendly), one range shuffle, a local sort.

    Values are normalized linearly min→max onto ``bits``-bit grids
    (the two-scalar agg below is layout-job parameter computation, the
    same pattern `compact_parquet` uses for sizing — not data
    collection).  Skewed columns prefer rank-based normalization; the
    linear form keeps the write single-pass, and skipping remains
    CORRECT either way (stats are exact per file) — skew only costs
    evenness of the rectangles.

    At 100 TB this is the nightly layout job for tables with TWO hot
    predicate columns (user_id x time, domain x quality-bucket).  One
    range shuffle, same cost shape as `write_sorted_table`.

    ``tests/test_warehouse_partitioning.py`` pins the property: under
    a box predicate, z-order prunes files on BOTH dimensions while the
    1-D sorted layout prunes only its sort column.
    """
    from pyspark.sql import functions as F

    lo_x, hi_x, lo_y, hi_y = (
        df.agg(
            F.min(col_x).cast("double"),
            F.max(col_x).cast("double"),
            F.min(col_y).cast("double"),
            F.max(col_y).cast("double"),
        ).first()
    )
    grid = (1 << bits) - 1

    def _norm(c: str, lo: float, hi: float):
        if hi <= lo:  # constant column: every row lands in cell 0
            return F.lit(0).cast("long")
        scaled = (F.col(c).cast("double") - F.lit(lo)) / F.lit(hi - lo)
        return F.least(
            F.greatest((scaled * grid).cast("long"), F.lit(0)),
            F.lit(grid),
        )

    zx, zy = _norm(col_x, lo_x, hi_x), _norm(col_y, lo_y, hi_y)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(zx, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(zy, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
    return path
