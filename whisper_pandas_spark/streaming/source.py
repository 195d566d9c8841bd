"""Whisper tree as a LIVE STREAM source — `spark.readStream.format
("whisper")` (§2.9 × §2.1, beyond reference parity).

Graphite's carbon daemon appends points to .wsp ring buffers forever;
this reader turns that tree into a Structured Streaming source so the
engine's streaming operators (rollup, EWMA, sinks) run directly off the
files — the live twin of the batch scan.

Architecture (``DataSourceStreamReader`` — the DISTRIBUTED variant):

- **Offsets** are PER-FILE high-water marks ``{"files": {path: <epoch
  seconds>}}`` over the FINEST archive (new writes land there; coarser
  archives are derived rollups and would double-count). One mark per
  file — not a tree-wide max — because real Graphite trees have mixed
  flush cadences/resolutions: under a single global mark, a file whose
  series lags the tree-wide max would have its new points arrive below
  the watermark and be silently pruned. ``latestOffset`` peeks each
  file's newest stored timestamp on the driver (header + archive 0 only),
  with an mtime cache so only files modified since the last trigger are
  rescanned. (Offset JSON is O(files); at ~10⁶ files the checkpoint row
  is ~100 MB — beyond that, shard the tree across multiple streams by
  prefix.)
- **Partitions** for a micro-batch reuse the batch scan's planning —
  one slot range per (file, archive-0, slot-chunk), each carrying its
  file's ``wm_start < ts <= wm_end`` window, packed into tasks like the
  batch scan's; executors do the batch scan's slot-range decode and
  apply each range's window pre-Arrow. The driver never touches point
  data for planning (headers + changed-file peeks only), so a wide tree
  streams with cluster parallelism.
- **Replay** is deterministic for any committed offset range because
  stored points are keyed by timestamp (``partitions(start, end)`` is a
  pure function of the offsets and the ring contents above the
  committed watermark).

Assumption (documented, inherent to tailing a last-write-wins ring):
ingestion is append-style — a new point carries a timestamp newer than
the high-water mark. An in-place OVERWRITE of an already-emitted slot
does not re-emit (its timestamp is ≤ wm). Retention wrap-around is
safe: expired points only ever disappear below the watermark.
"""

from __future__ import annotations

import os
from dataclasses import replace
from typing import Iterator, Sequence, Tuple

from pyspark.sql.datasource import DataSourceStreamReader, EqualTo, InputPartition

from whisper_pandas_spark.sources.format import list_tree, read_header, read_slots


def _file_max_ts(path: str) -> int:
    """Newest stored timestamp in the file's finest archive (0 if empty)."""
    info = read_header(path)
    ts = read_slots(path, info.archives[0], compression=info.compression)["timestamp"]
    return int(ts.max()) if len(ts) else 0


class WhisperStreamReader(DataSourceStreamReader):
    """Distributed tail of the finest archive of every file in the tree."""

    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("whisper stream source requires a load path")
        self.options = dict(options)
        # driver-side peek cache: path -> (mtime, max_ts)
        self._peek: dict[str, tuple[float, int]] = {}
        # path -> last committed mark; floor for carry-forward when a
        # tracked file errors transiently and the peek cache is cold
        # (e.g. right after a driver restart)
        self._committed: dict[str, int] = {}

    def __getstate__(self):
        state = dict(self.__dict__)
        # executors don't need the driver caches
        state.pop("_peek", None)
        state.pop("_committed", None)
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._peek = {}
        self._committed = {}

    # -- offsets (driver) ---------------------------------------------------
    def initialOffset(self) -> dict:
        return {"files": {}}

    def latestOffset(self) -> dict:
        from struct import error as struct_error

        skip = str(self.options.get("on_error") or "fail").lower() == "skip"
        marks: dict[str, int] = {}
        for f in list_tree(self.path).files:
            try:
                mtime = os.stat(f).st_mtime
                cached = self._peek.get(f)
                if cached is None or cached[0] != mtime:
                    self._peek[f] = (mtime, _file_max_ts(f))
            except (ValueError, KeyError, OSError, struct_error) as exc:
                # a corrupt/half-written file appearing in a LIVE tree
                # must not kill the stream. With on_error=skip:
                #  - a file NEVER successfully peeked contributes no
                #    offset this trigger (retried next — a file mid-copy
                #    heals itself);
                #  - a file with a known mark keeps that mark, so the
                #    committed offset never forgets it. Omitting it
                #    would make _mark_fn read 0 once it heals and the
                #    whole ring would re-emit, breaking deterministic
                #    replay. The stale cache mtime is kept so the next
                #    trigger re-peeks.
                if skip:
                    import sys

                    cached = self._peek.get(f)
                    known = cached[1] if cached is not None else None
                    if known is not None or f in self._committed:
                        marks[f] = max(known or 0, self._committed.get(f, 0))
                    print(
                        f"whisper stream: skipping unreadable {f}: {exc}",
                        file=sys.stderr,
                    )
                    continue
                raise
            # floor at the committed mark even when the peek SUCCEEDS: a
            # tracked file overwritten in place by an older copy (stale
            # rsync, half-written restore) parses fine but reports a
            # regressed max_ts — emitting from there would re-send every
            # already-committed point in (peeked, committed]. The mark is
            # a high-water mark; it never moves backwards.
            marks[f] = max(self._peek[f][1], self._committed.get(f, 0))
        return {"files": marks}

    @staticmethod
    def _mark_fn(offset: dict):
        """path -> committed mark, from an offset dict. Unknown (newly
        appearing) files read as 0; legacy single-``wm`` checkpoints
        (pre per-file upgrade) read as "every file at wm"."""
        if "files" in offset:
            files = offset["files"]
            return lambda p: int(files.get(p, 0))
        wm = int(offset.get("wm", 0))
        return lambda p: wm

    # -- planning (driver) --------------------------------------------------
    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        from whisper_pandas_spark.sources.whisper import WhisperScanReader, pack

        lo_of, hi_of = self._mark_fn(start), self._mark_fn(end)
        planner = WhisperScanReader(self.options)
        list(planner.pushFilters([EqualTo(("archive",), 0)]))
        try:
            planned, budget = planner.plan_ranges()
        except FileNotFoundError:
            # A LIVE tree can be momentarily empty (rotation, rebuild:
            # rmtree-then-rewrite between two triggers). The batch scan
            # keeps raising — an empty path there is a typo — but a
            # stream must ride through it as a no-data micro-batch and
            # pick the files up when they reappear (latestOffset already
            # reports {} for the same state; raising here killed the
            # query in exactly that window).
            planned, budget = [], 0
        ranges = []
        for r in planned:
            # each file's micro-batch window is planned from ITS OWN
            # committed mark — a file lagging the tree-wide max still
            # emits its new points (they'd sit below a global watermark).
            # The window rides on the range: one task may hold files with
            # different windows.
            lo, hi = lo_of(r.path), hi_of(r.path)
            if hi > lo:
                ranges.append(replace(r, ts_lo=lo + 1, ts_hi=hi))
        return pack(ranges, budget)

    # -- scan (executors) ---------------------------------------------------
    def read(self, partition: InputPartition) -> Iterator[Tuple]:
        # identical decode path to the batch scan; the micro-batch window
        # rides on each range and masks rows before Arrow
        from whisper_pandas_spark.sources.whisper import WhisperScanReader

        reader = WhisperScanReader(self.options)
        yield from reader.read(partition)

    def commit(self, end: dict) -> None:
        if isinstance(end, dict) and "files" in end:
            for p, wm in end["files"].items():
                prev = self._committed.get(p, 0)
                self._committed[p] = max(prev, int(wm))
        return None
