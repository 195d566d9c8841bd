"""Whisper WRITE support — ``df.write.format("whisper")``.

The reference explicitly leaves writing out of scope ("create and update
file" is TBD in whisper_pandas.ipynb cell 39; README.md:55-56 says the
package only reads). This module goes beyond reference parity: it
materializes a DataFrame of points as spec-conformant .wsp files —
big-endian 16 B file header, 12 B archive headers, ring-buffered 12 B
points (format laid out in sources/format.py, verified byte-level against
the reference's own fixture).

Semantics per the Whisper model:

- finest archive: slot = (ts // spp) % points, LAST write per slot wins
  (the reference's observed overwrite behavior, whisper_pandas.py:201-215);
  points older than the archive's retention window (relative to the newest
  point) are dropped, exactly like Graphite expiry.
- coarser archives: rolled up from the next-FINER archive with the file's
  aggregation method, gated by xFilesFactor on EXPECTED slots — the same
  cascade the batch/streaming rollup operators implement
  (operators/rollup.py), here in numpy at write time.

Distribution contract: each executor task writes the files for the
metrics it holds, so the caller must ensure one partition per metric —
:func:`write_whisper` wraps ``df.repartition("metric")`` + the writer.
Output layout: ``out_dir/<metric with dots as dirs>.wsp``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    WriterCommitMessage,
)

from whisper_pandas_spark.sources.format import (
    AGGREGATION_METHODS,
    ARCHIVE_HEADER,
    FILE_HEADER,
    POINT_DTYPE,
    POINT_SIZE,
    metric_path,
    parse_header,
    read_points,
)
from whisper_pandas_spark.sources.whisper import bool_option, register_whisper

# method name -> numpy reducer over (ts, vals) of one coarse window
_AGG_IDS = {name: i for i, name in AGGREGATION_METHODS.items()}


def _reduce(method: str, ts, vals, expected_slots: int):
    import numpy as np

    if method == "average":
        return float(np.mean(vals))
    if method == "sum":
        return float(np.sum(vals))
    if method == "last":
        return float(vals[np.argmax(ts)])
    if method == "max":
        return float(np.max(vals))
    if method == "min":
        return float(np.min(vals))
    if method == "avg_zero":
        return float(np.sum(vals) / expected_slots)
    if method == "absmax":
        return float(vals[np.argmax(np.abs(vals))])
    if method == "absmin":
        return float(vals[np.argmin(np.abs(vals))])
    raise ValueError(f"unknown aggregation method {method!r}")


def parse_archives(spec: str) -> list[tuple[int, int]]:
    """``"10:1000,60:500,3600:100"`` → [(spp, points), ...]; coarser
    archives must use multiples of the finer resolution (Whisper rule)."""
    out = []
    for part in spec.split(","):
        spp, points = part.split(":")
        out.append((int(spp), int(points)))
    for (a, _), (b, _) in zip(out, out[1:]):
        if b % a != 0 or b <= a:
            raise ValueError(
                f"archive resolutions must coarsen by integer multiples: {a} -> {b}"
            )
    return out


def build_wsp_bytes(
    points_ts,
    points_val,
    archives: list[tuple[int, int]],
    aggregation: str = "average",
    x_files_factor: float = 0.5,
    existing: bytes | None = None,
) -> bytes:
    """Assemble one spec-conformant .wsp buffer from (epoch, value) arrays.

    With ``existing`` (a prior .wsp image with the SAME archive layout),
    the new points are MERGED per archive: each archive starts from its
    stored points and new/recomputed slots override on collision — the
    update semantics of Graphite's carbon writer, and what makes the
    streaming sink safe for metrics whose points arrive across many
    micro-batches. Deviation from strict Graphite: every coarse bucket
    derivable from the merged finer archive is recomputed (not only the
    buckets the new points touch), so a bucket whose finer points partially
    expired may be refreshed from the surviving ones.
    """
    import numpy as np

    if aggregation not in _AGG_IDS:
        raise ValueError(
            f"invalid aggregation {aggregation!r}; one of {sorted(_AGG_IDS)}"
        )
    ts = np.asarray(points_ts, dtype="int64")
    vals = np.asarray(points_val, dtype="float64")
    order = np.argsort(ts, kind="stable")
    ts, vals = ts[order], vals[order]

    old_arch: list[tuple] | None = None
    if existing is not None:
        info = parse_header(existing, "<existing>")
        if [(a.seconds_per_point, a.points) for a in info.archives] != [
            (spp, pts) for spp, pts in archives
        ]:
            raise ValueError(
                "existing file archive layout differs from requested archives"
            )
        old_arch = []
        for a in info.archives:
            rec = read_points(existing, a)
            filled = rec["timestamp"] != 0
            old_arch.append(
                (
                    rec["timestamp"][filled].astype("int64"),
                    rec["value"][filled].astype("float64"),
                )
            )

    offsets, off = [], FILE_HEADER.size + ARCHIVE_HEADER.size * len(archives)
    for _spp, pts in archives:
        offsets.append(off)
        off += POINT_SIZE * pts
    buf = bytearray(off)
    max_retention = max(spp * pts for spp, pts in archives)
    FILE_HEADER.pack_into(
        buf, 0, _AGG_IDS[aggregation], max_retention, x_files_factor, len(archives)
    )
    for i, (spp, pts) in enumerate(archives):
        at = FILE_HEADER.size + ARCHIVE_HEADER.size * i
        ARCHIVE_HEADER.pack_into(buf, at, offsets[i], spp, pts)

    newest = int(ts[-1]) if len(ts) else 0
    if old_arch is not None and len(old_arch[0][0]):
        newest = max(newest, int(old_arch[0][0].max()))
    fine_ts, fine_vals = ts, vals
    prev_spp = None

    def _dedup_last(m_ts, m_vals):
        # last occurrence per timestamp wins (inputs ts-sorted, stable)
        if len(m_ts) == 0:
            return m_ts, m_vals
        uniq, first_idx = np.unique(m_ts, return_index=True)
        last_idx = np.append(first_idx[1:], len(m_ts)) - 1
        return uniq, m_vals[last_idx]
    for i, (spp, pts) in enumerate(archives):
        if i == 0:
            # Align to slots and DEDUPLICATE per slot, keeping the last
            # occurrence (ts-stable sort ⇒ the latest write). Graphite
            # rolls coarser archives up from the STORED (last-write-wins)
            # finer archive, so overwritten points must not leak into the
            # cascade: they would inflate the xFilesFactor fill count and
            # skew every aggregation method over the bucket.
            slot_ts = (fine_ts // spp) * spp
            a_ts, a_vals = _dedup_last(slot_ts, fine_vals)
        else:
            # roll up from the previous (finer) archive's aligned points
            bucket = (fine_ts // spp) * spp
            uniq, inverse = np.unique(bucket, return_inverse=True)
            expected = spp // prev_spp
            a_ts_list, a_vals_list = [], []
            for u_i, u in enumerate(uniq):
                mask = inverse == u_i
                if float(mask.sum()) / expected < x_files_factor:
                    continue
                a_ts_list.append(int(u))
                a_vals_list.append(
                    _reduce(aggregation, fine_ts[mask], fine_vals[mask], expected)
                )
            a_ts = np.asarray(a_ts_list, dtype="int64")
            a_vals = np.asarray(a_vals_list, dtype="float64")

        if old_arch is not None:
            # overlay onto stored points: old first, so on a slot-ts tie
            # the freshly written/recomputed value wins
            o_ts, o_vals = old_arch[i]
            m_ts = np.concatenate([o_ts, a_ts])
            m_vals = np.concatenate([o_vals, a_vals])
            order = np.argsort(m_ts, kind="stable")
            a_ts, a_vals = _dedup_last(m_ts[order], m_vals[order])

        # retention: drop points older than this archive's window
        keep = a_ts > newest - spp * pts
        a_ts, a_vals = a_ts[keep], a_vals[keep]

        arch = np.zeros(pts, dtype=POINT_DTYPE)
        slots = (a_ts // spp) % pts
        arch["timestamp"][slots] = a_ts
        arch["value"][slots] = a_vals
        buf[offsets[i] : offsets[i] + POINT_SIZE * pts] = arch.tobytes()

        fine_ts, fine_vals = a_ts, a_vals
        prev_spp = spp
    return bytes(buf)


@dataclass
class _Commit(WriterCommitMessage):
    files: list[str]


class WhisperWriter(DataSourceArrowWriter):
    """Executor-side writer: groups its partition's rows by metric and
    emits one .wsp per metric (caller repartitions by metric).

    Arrow variant (``DataSourceArrowWriter``): each task receives
    RecordBatches, so column extraction and the per-metric grouping are
    vectorized numpy — no per-Row Python objects on the write path,
    matching the reader's Arrow-out design."""

    def __init__(self, options) -> None:
        self.out_dir = options.get("out_dir") or options.get("path")
        if not self.out_dir:
            raise ValueError("whisper write requires an output path")
        self.archives = parse_archives(
            str(options.get("archives") or "10:1000,60:500")
        )
        self.aggregation = str(options.get("aggregation") or "average")
        if self.aggregation not in _AGG_IDS:
            raise ValueError(
                f"invalid aggregation {self.aggregation!r}; one of {sorted(_AGG_IDS)}"
            )
        self.xff = float(options.get("x_files_factor") or 0.5)
        self.merge = bool_option(options, "merge", False)

    def write(self, iterator) -> _Commit:
        import numpy as np
        import pyarrow as pa

        # accumulate (ts, val) chunks per metric; batch arrival order is
        # preserved (stable grouping), so last-write-wins ties resolve to
        # the latest input row exactly like the row-at-a-time path did
        by_metric: dict[str, list[tuple]] = {}
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            ts_col = batch.column(batch.schema.get_field_index("timestamp"))
            if pa.types.is_timestamp(ts_col.type):
                div = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[
                    ts_col.type.unit
                ]
                ts = ts_col.cast(pa.int64()).to_numpy(zero_copy_only=False) // div
            else:
                ts = ts_col.cast(pa.int64()).to_numpy(zero_copy_only=False)
            vals = (
                batch.column(batch.schema.get_field_index("value"))
                .cast(pa.float64())
                .to_numpy(zero_copy_only=False)
            )
            mets = np.asarray(
                batch.column(batch.schema.get_field_index("metric")).to_pylist(),
                dtype=object,
            )
            order = np.argsort(mets, kind="stable")
            sm = mets[order]
            uniq, starts = np.unique(sm, return_index=True)
            bounds = np.append(starts, len(sm))
            for m, lo, hi in zip(uniq, bounds[:-1], bounds[1:]):
                sel = order[lo:hi]
                by_metric.setdefault(str(m), []).append((ts[sel], vals[sel]))

        written = []
        for metric, chunks in by_metric.items():
            path = metric_path(self.out_dir, metric)
            existing = None
            if self.merge and os.path.exists(path):
                with open(path, "rb") as f:
                    existing = f.read()
            data = build_wsp_bytes(
                np.concatenate([t for t, _ in chunks]),
                np.concatenate([v for _, v in chunks]),
                self.archives,
                self.aggregation,
                self.xff,
                existing=existing,
            )
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(data)
            written.append(path)
        return _Commit(files=written)

    def commit(self, messages) -> None:
        return None

    def abort(self, messages) -> None:
        # best-effort cleanup of partial output
        for m in messages:
            if m is None:
                continue
            for f in getattr(m, "files", []):
                try:
                    os.remove(f)
                except OSError:
                    pass


def write_whisper(
    df: DataFrame,
    out_dir: str,
    archives: str = "10:1000,60:500",
    aggregation: str = "average",
    x_files_factor: float = 0.5,
    merge: bool = False,
) -> None:
    """Write (metric, timestamp, value) rows as .wsp files under out_dir.

    Repartitions by metric so each file is assembled by exactly one task
    (ring-buffer assembly needs all of a metric's points together — the
    same constraint Graphite's carbon daemon satisfies by routing each
    metric to one writer).

    ``merge=True`` makes the write an UPDATE: each metric's existing file
    (if any) is read and new points overlay its stored slots — required
    whenever one metric's points arrive across multiple writes (the
    streaming sink's micro-batches). Default is the plain rebuild, which
    assumes each write carries a metric's complete window.
    """
    register_whisper(df.sparkSession)
    (
        df.select("metric", "timestamp", "value")
        .repartition("metric")
        .write.format("whisper")
        .option("out_dir", out_dir)
        .option("archives", archives)
        .option("aggregation", aggregation)
        .option("x_files_factor", str(x_files_factor))
        .option("merge", "true" if merge else "false")
        .mode("append")
        .save()
    )
