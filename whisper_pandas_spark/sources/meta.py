"""Metadata API over Whisper files: the reference's ``WhisperFileMeta`` /
``describe_*`` surface (whisper_pandas.py:75-85,147-168) as Spark DataFrames.

Header peeks are tiny (≤ 16+12·N bytes per file); for large trees the peek
itself is distributed over the file list with a Pandas UDF-free
``spark.createDataFrame`` on the driver for small N, or ``mapInPandas``
over a path DataFrame for millions of files.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from whisper_pandas_spark.sources.format import FileInfo, list_tree, read_header

FILE_META_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("aggregation_method", StringType(), False),
        StructField("max_retention", LongType(), False),
        StructField("x_files_factor", FloatType(), False),
        StructField("archive_count", IntegerType(), False),
        StructField("header_size", LongType(), False),
        StructField("file_size", LongType(), False),
        StructField("file_size_actual", LongType(), False),
        StructField("file_size_mismatch", BooleanType(), False),
    ]
)

ARCHIVE_META_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("archive", IntegerType(), False),
        StructField("offset", LongType(), False),
        StructField("seconds_per_point", IntegerType(), False),
        StructField("points", IntegerType(), False),
        StructField("retention", LongType(), False),
        StructField("size", LongType(), False),
    ]
)


def scan_headers(paths: str | Iterable[str], compression: str = "infer") -> list[FileInfo]:
    """Driver-side header peek for each matching file; a non-directory
    path that matches nothing raises ``FileNotFoundError``."""
    return [read_header(f, compression) for f in list_tree(paths, strict=True).files]


def file_meta(
    spark: SparkSession, paths: str | Iterable[str], compression: str = "infer"
) -> DataFrame:
    """File-level metadata table (describe_meta across many files —
    whisper_pandas.py:147-157, plus the derived size fields :125-145)."""
    rows = [
        (
            i.path,
            i.aggregation_method,
            i.max_retention,
            i.x_files_factor,
            i.archive_count,
            i.header_size,
            i.file_size,
            i.file_size_actual,
            i.file_size_mismatch,
        )
        for i in scan_headers(paths, compression)
    ]
    return spark.createDataFrame(rows, FILE_META_SCHEMA)


def archive_meta(
    spark: SparkSession, paths: str | Iterable[str], compression: str = "infer"
) -> DataFrame:
    """Per-archive metadata table (describe_archives across files —
    whisper_pandas.py:75-85,159-163)."""
    rows = [
        (i.path, a.index, a.offset, a.seconds_per_point, a.points, a.retention, a.size)
        for i in scan_headers(paths, compression)
        for a in i.archives
    ]
    return spark.createDataFrame(rows, ARCHIVE_META_SCHEMA)


def print_info(path: str, compression: str = "infer") -> None:
    """CLI-style info dump for one file (reference: print_info,
    whisper_pandas.py:165-168)."""
    info = read_header(path, compression)
    print(f"path:                {info.path}")
    print(f"aggregation_method:  {info.aggregation_method}")
    print(f"max_retention:       {info.max_retention}")
    print(f"x_files_factor:      {info.x_files_factor:g}")
    print(f"archive_count:       {info.archive_count}")
    print(f"header_size:         {info.header_size}")
    print(f"expected size:       {info.file_size}")
    print(f"actual size:         {info.file_size_actual}")
    print(f"size mismatch:       {info.file_size_mismatch}")
    print()
    print(f"{'archive':>7} {'seconds_per_point':>17} {'points':>10} "
          f"{'retention':>12} {'offset':>10} {'size':>12}")
    for a in info.archives:
        print(
            f"{a.index:>7} {a.seconds_per_point:>17} {a.points:>10} "
            f"{a.retention:>12} {a.offset:>10} {a.size:>12}"
        )
