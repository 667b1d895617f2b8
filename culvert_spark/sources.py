"""Source/sink surface (SURVEY.md §2 Tier B header row): batch and
streaming readers/writers for the formats the engine supports, with the
options that matter at scale spelled out once.

Batch:    parquet / orc / csv / json  (read_table, write_table)
Streaming: rate (generator.generate_stream), file-directory sources
           (stream_read_dir), console/memory/file/table sinks
           (streaming.run_to_memory_sink, ingest.run_streaming_ingest)

Scale notes:
- CSV/JSON readers always take an explicit schema: schema inference scans
  the data once BEFORE the real job (a full extra pass at 100 TB) and can
  silently mistype columns. Parquet/ORC carry their own schema.
- Writers partition by the query's natural pruning key so downstream scans
  prune directories; maxRecordsPerFile bounds file sizes for the 100 TB
  layout (too-large files serialize task recovery, too-small files melt the
  driver's file index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

BATCH_FORMATS = ("parquet", "orc", "csv", "json")


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Batch read. CSV/JSON require an explicit schema (no inference pass);
    CSV defaults to header=true."""
    if fmt not in BATCH_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {BATCH_FORMATS}")
    reader = spark.read.format(fmt)
    if fmt in ("csv", "json"):
        if schema is None:
            raise ValueError(
                f"{fmt} requires an explicit schema: inference costs a full "
                "extra scan and mistypes columns at scale"
            )
        if fmt == "csv":
            reader = reader.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "error",
    partition_by: tuple[str, ...] = (),
    max_records_per_file: int | None = None,
    **options: str,
) -> None:
    """Batch write with optional directory partitioning and bounded file
    sizes."""
    if fmt not in BATCH_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {BATCH_FORMATS}")
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def stream_read_dir(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    **options: str,
) -> DataFrame:
    """Streaming file-directory source: new files under ``path`` become
    micro-batches. Schema is mandatory (streaming cannot infer)."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def read_text(
    spark: SparkSession,
    path: str,
    whole_text: bool = False,
    line_sep: str | None = None,
) -> DataFrame:
    """Plain-text source: one row per line (``value`` string column), or one
    row per FILE with ``whole_text`` — the raw-corpus entry point of a text
    pipeline (each file a document, then split/clean/dedupe downstream).

    Scale note: line mode splits large files across tasks; whole_text pins
    one file to one task and buffers it in memory, so use it only when
    documents are file-sized (and bound file sizes upstream)."""
    reader = spark.read
    if line_sep is not None:
        reader = reader.option("lineSep", line_sep)
    return reader.text(path, wholetext=whole_text)


def write_text(df: DataFrame, path: str, mode: str = "error") -> None:
    """Plain-text sink: requires exactly one string column."""
    df.write.mode(mode).text(path)


def compact_files(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    target_rows_per_file: int = 1_000_000,
    partition_by: tuple[str, ...] = (),
) -> tuple[int, int]:
    """Small-files compaction — the maintenance pass every long-running
    ingest needs: streaming sinks and highly-parallel batch writers leave
    thousands of small files per directory, and at 100 TB the resulting
    file-listing and per-file open costs dominate scan time. Rewrites
    ``path`` so each output file holds ~``target_rows_per_file`` rows and
    returns (files_before, files_after).

    Mechanics: read → ``coalesce`` to ``ceil(rows/target)`` output tasks
    (coalesce, not repartition — compaction must not pay a shuffle; it only
    narrows the task count) → write to a temp dir alongside the data →
    atomic-ish swap (rename old out of the way, rename new in, delete old).
    On a real deployment the swap step is the table format's job (Iceberg /
    Delta rewrite-files action gives true atomicity + snapshot isolation);
    the rename dance here is the no-catalog parquet/ORC analog, and readers
    racing the swap see the old OR the new listing, never a mix, as long as
    the filesystem renames directories atomically (local fs, HDFS do;
    object stores need the table-format path).

    Raises ValueError for a streaming file sink's output (a directory with
    ``_spark_metadata``): the rewrite would drop the sink's manifest, so
    resuming the query from its checkpoint fails with
    BATCH_METADATA_NOT_FOUND, and the file count would include files of
    batches the manifest never committed."""
    import math
    import os
    import shutil
    import uuid

    if os.path.isdir(os.path.join(path, "_spark_metadata")):
        raise ValueError(
            f"{path} is a streaming file sink's output; compacting it "
            "would drop its _spark_metadata manifest"
        )
    df = read_table(spark, path, fmt=fmt)
    n_before = len(
        [f for f in _data_files(path) if not f.endswith((".crc", "_SUCCESS"))]
    )
    rows = df.count()
    n_out = max(1, math.ceil(rows / target_rows_per_file))
    tmp = f"{path.rstrip('/')}.__compact_{uuid.uuid4().hex[:8]}"
    writer = df.coalesce(n_out).write.format(fmt).mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(tmp)
    old = f"{path.rstrip('/')}.__old_{uuid.uuid4().hex[:8]}"
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
    n_after = len(
        [f for f in _data_files(path) if not f.endswith((".crc", "_SUCCESS"))]
    )
    return n_before, n_after


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: tuple[str, ...],
    fmt: str = "parquet",
    mode: str = "error",
    num_files: int | None = None,
    **options: str,
) -> None:
    """Range-clustered write: ``repartitionByRange`` on the cluster keys,
    then sort within each partition before writing — every output file
    covers a narrow, non-overlapping key range, so parquet/ORC footer
    min/max statistics let later scans skip whole files (the poor-man's
    z-order, and the single highest-leverage layout decision for a 100 TB
    table queried by key ranges: a timestamp-clustered events table turns
    a time-window scan from full-table into O(files-in-window)).

    Range partitioning samples the key distribution, so skewed keys still
    produce balanced files (unlike hash partitioning, which preserves the
    skew). ``num_files`` pins the output file count (an explicit count is
    exempt from AQE coalescing); default lets AQE size the files."""
    cols = [F.col(c) for c in cluster_by]
    ranged = (
        df.repartitionByRange(num_files, *cols)
        if num_files
        else df.repartitionByRange(*cols)
    )
    (
        ranged.sortWithinPartitions(*cluster_by)
        .write.format(fmt)
        .mode(mode)
        .options(**options)
        .save(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: tuple[str, str],
    fmt: str = "parquet",
    mode: str = "error",
    num_files: int | None = None,
    bits: int = 16,
    **options: str,
) -> None:
    """Z-order (Morton-curve) clustered write over TWO numeric keys — the
    multi-dimensional counterpart of write_clustered. Range clustering on
    one key gives perfect file pruning on that key and none on any other;
    interleaving the bits of both keys' normalized ranks gives good (not
    perfect) pruning on EACH key independently, which is the right layout
    for a 100 TB table queried by either dimension (the same trade Delta's
    OPTIMIZE ZORDER BY and Iceberg's sort-order z-curve make).

    Mechanics: each key is affinely scaled to a ``bits``-bit integer using
    its global min/max (one tiny agg — two rows to the driver), the bits
    are interleaved into a single z-value with JVM shift/sum expressions
    (all inside whole-stage codegen — no UDF), and the write range-
    partitions + sorts on the z-value so every file covers a compact square
    of the (a, b) plane and its parquet footer min/max on BOTH columns is
    narrow. Min/max scaling (vs exact rank) avoids a global sort of each
    dimension; skewed keys degrade gracefully because repartitionByRange on
    the z-value still balances file SIZES even when z-density is uneven."""
    a_col, b_col = zorder_by
    lo_hi = df.agg(
        F.min(a_col).alias("amin"),
        F.max(a_col).alias("amax"),
        F.min(b_col).alias("bmin"),
        F.max(b_col).alias("bmax"),
    ).first()
    amin, amax = float(lo_hi["amin"]), float(lo_hi["amax"])
    bmin, bmax = float(lo_hi["bmin"]), float(lo_hi["bmax"])
    top = (1 << bits) - 1

    def scaled(col: str, lo: float, hi: float):
        span = (hi - lo) or 1.0
        frac = (F.col(col).cast("double") - F.lit(lo)) / F.lit(span)
        return F.least(
            F.lit(top).cast("long"),
            F.floor(frac * F.lit(top + 1)).cast("long"),
        )

    za = scaled(a_col, amin, amax)
    zb = scaled(b_col, bmin, bmax)
    # Interleave: bit i of a → z-bit 2i+1, bit i of b → z-bit 2i. The
    # per-bit terms occupy disjoint z-bit positions, so a plain sum is a
    # bitwise OR and the whole z-value is one codegen'd expression tree.
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(za, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
        terms.append(
            F.shiftleft(F.shiftright(zb, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    zval = terms[0]
    for term in terms[1:]:
        zval = zval + term

    with_z = df.withColumn("_zval", zval)
    ranged = (
        with_z.repartitionByRange(num_files, "_zval")
        if num_files
        else with_z.repartitionByRange("_zval")
    )
    (
        ranged.sortWithinPartitions("_zval")
        .drop("_zval")
        .write.format(fmt)
        .mode(mode)
        .options(**options)
        .save(path)
    )


def _data_files(path: str) -> list[str]:
    import os

    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(
            os.path.join(root, f)
            for f in files
            if not f.startswith((".", "_"))
        )
    return out


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Binary-file source — the multimodal ingestion path: each file becomes
    one row of (path, modificationTime, length, content binary), ready for
    the multimodal.py feature extractors (opaque payload + typed metadata).

    Scale note: the reader parallelizes across files (content is NOT
    splittable); keep payloads at object-granularity (an image, an audio
    clip) and push directory/glob pruning into the source — the listing is
    distributed, and only matched files are ever opened."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)
