"""Graphite-semantics `fetch`: time-range reads with automatic archive
selection.

Graphite's `whisper.fetch(path, from, until, now)` picks the FINEST
archive whose retention still covers `now - from` and serves the range
from it alone (whisper's on-read behavior; public docs:
https://graphite.readthedocs.io/en/latest/whisper.html — "data is
retrieved from the highest-precision archive that covers the requested
time period"). The reference package leaves this to the caller (you pick
`wsp.archives[i]` yourself, whisper_pandas.py:186-192); this module is
that missing read-path policy, Spark-style:

- archive selection happens on the DRIVER from a header peek (≤ 52 B per
  file — no data touched);
- the scan then pushes `archive = i` (partition pruning: other archives'
  slot chunks are never planned) and the timestamp bounds (row pruning
  inside the decode, before Arrow) down into the DataSource;
- the loaded relation is kept per (session, path, compression), so a
  repeated fetch skips the DataSource's creation (a Python worker call).
  Pushdown and planning still run per query, so files added or rewritten
  between fetches are seen.

A directory fetch assumes a uniform retention policy across the tree
(the normal Graphite deployment: one storage-schema rule per subtree)
and selects the archive from the first file's header.
"""

from __future__ import annotations

import threading
import weakref
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.sources.format import list_tree, read_header
from whisper_pandas_spark.sources.whisper import register_whisper

#: loaded relations kept per session (least recently used dropped first)
LOADED_PER_SESSION = 32
# session -> {(path, compression): the loaded relation's JVM DataFrame}. The
# JVM handle does not reference the Python session, so a session nobody
# else holds is dropped with its entries.
_loaded: "weakref.WeakKeyDictionary[SparkSession, OrderedDict]" = weakref.WeakKeyDictionary()
_loaded_lock = threading.Lock()


def select_archive(path: str, span_seconds: int, compression: str = "infer") -> int:
    """Finest archive index whose retention covers *span_seconds*
    (falls back to the coarsest, like Graphite serving a too-old from)."""
    info = read_header(path, compression)
    for a in info.archives:
        if a.retention >= span_seconds:
            return a.index
    return info.archives[-1].index


def fetch(
    spark: SparkSession,
    path: str,
    from_epoch: int,
    until_epoch: int,
    now_epoch: int | None = None,
    compression: str = "infer",
) -> DataFrame:
    """Read [from, until] from *path* (file, glob or directory) at the
    best available resolution.

    Returns the standard whisper-source schema filtered to the selected
    archive and the time range; both predicates reach the source (archive
    prunes partitions at planning, timestamps mask rows pre-Arrow).
    ``now_epoch`` anchors the retention-coverage test (Graphite uses wall
    clock; pass it explicitly to stay deterministic).

    The loaded relation is reused across calls with the same session, path
    and compression; each query still lists the tree and plans its scan.
    """
    register_whisper(spark)
    files = list_tree(path).files
    if not files:
        raise FileNotFoundError(f"no whisper files match {path!r}")

    anchor = until_epoch if now_epoch is None else now_epoch
    idx = select_archive(files[0], anchor - from_epoch, compression)
    df = _load(spark, path, compression)
    # plain column-vs-literal comparisons (timestamp_seconds of a literal
    # constant-folds), so BOTH predicates reach pushFilters — an
    # expression like unix_timestamp(ts) >= x would not push
    return df.filter(
        (F.col("archive") == F.lit(idx))
        & (F.col("timestamp") >= F.timestamp_seconds(F.lit(from_epoch)))
        & (F.col("timestamp") <= F.timestamp_seconds(F.lit(until_epoch)))
    )


def _load(spark: SparkSession, path: str, compression: str) -> DataFrame:
    """``spark.read.format("whisper")…load(path)``, reused across calls."""
    key = (path, compression)
    with _loaded_lock:
        entries = _loaded.setdefault(spark, OrderedDict())
        jdf = entries.get(key)
        if jdf is not None:
            entries.move_to_end(key)
            return DataFrame(jdf, spark)
    df = spark.read.format("whisper").option("compression", compression).load(path)
    with _loaded_lock:
        entries[key] = df._jdf
        if len(entries) > LOADED_PER_SESSION:
            entries.popitem(last=False)
    return df
