"""What every workload provides to the closed-loop runner.

A workload turns ``(seed, request index)`` into a request spec, executes it
against a live session (the timed part), and checks the output against
values recomputed from the generator's own data (untimed). In the traced
run it also *probes* a request: it re-times the layers the request went
through one by one, in-process or over checkpointed inputs, and returns
per-layer values.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np

from harness import JobStats, noop
from whisper_pandas_spark.sources.whisper import WhisperScanReader


class CheckFailed(AssertionError):
    """A request completed but its output is wrong."""


@dataclass
class Context:
    cache: str
    work: str
    seed: int
    cores: int
    rec: object  # spans.SpanRecorder


class Workload:
    name = ""
    #: size key of the cached fixture (files, servers or documents)
    size = 0
    #: what one unit of ``units`` is, for the throughput line of the report
    unit_name = "points"
    #: the ``kind`` of the requests whose per-layer values carry plain
    #: names; other kinds' values are reported as ``<kind>.<name>``
    main_kind = ""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.rec = ctx.rec

    def rng(self, *stream: int) -> np.random.Generator:
        return np.random.default_rng([self.ctx.seed, *stream])

    def prepare(self) -> None:
        """Build or fetch the cached fixture; restore mutable state."""

    def warmup(self, spark) -> None:
        """Untimed requests that load code paths the timed loop uses."""

    def spec(self, i: int) -> dict:
        raise NotImplementedError

    def begin(self, spec: dict) -> None:
        """Called just before the timed call (untimed)."""

    def request(self, spark, spec: dict):
        """The timed call; returns what ``check`` needs (fully collected)."""
        raise NotImplementedError

    def end(self, spec: dict) -> None:
        """Called just after the timed call, whether or not it raised."""

    def check(self, spec: dict, out) -> float:
        """Raise :class:`CheckFailed` on a wrong output; return the work
        units (points or documents) the request carried."""
        raise NotImplementedError

    def probe(self, spark, spec: dict, out) -> dict[str, float]:
        """Traced run only: per-layer values for this request."""
        return {}

    def write_stats(self) -> dict[str, float]:
        """Totals a workload keeps beside the latencies (e.g. bytes written)."""
        return {}


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def close(a: float | None, b: float | None, rtol: float = 1e-9, atol: float = 1e-9) -> bool:
    """Equal within tolerance; two missing values (None/NaN) are equal."""
    na = a is None or (isinstance(a, float) and np.isnan(a))
    nb = b is None or (isinstance(b, float) and np.isnan(b))
    if na or nb:
        return na and nb
    return abs(a - b) <= atol + rtol * abs(b)


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def whisper_layer_probe(options: dict, filters: list, listed_files: int) -> dict[str, float]:
    """Plan and decode one read in-process, single-threaded, with the same
    options and pushed filters Spark gives the reader."""
    t0 = time.perf_counter()
    reader = WhisperScanReader(options)
    list(reader.pushFilters(filters))
    parts = reader.partitions()
    t1 = time.perf_counter()
    rows = 0
    for p in parts:
        for batch in reader.read(p):
            rows += batch.num_rows
    t2 = time.perf_counter()
    slots = sum(p.slot_count for p in parts)
    kept = len({p.path for p in parts if p.path})
    return {
        "whisper.plan_s": t1 - t0,
        "whisper.partitions": len(parts),
        "whisper.files_kept_ratio": kept / listed_files,
        "whisper.decode_s": t2 - t1,
        "whisper.rows_per_slot": rows / slots if slots else 0.0,
    }


def scan_probe(spark, df, decode_s: float, cores: int) -> dict[str, float]:
    """Run the bare scan once (no operators on top) and charge what the
    in-process decode does not explain to Spark's per-task overhead."""
    jobs = JobStats(spark)
    jobs.start()
    wall, _ = timed(noop, df)
    tasks = max(jobs.stop()["spark.tasks"], 1)
    return {
        "whisper.scan_wall_s": wall,
        "whisper.overhead_ms_per_task": (wall * cores - decode_s) / tasks * 1000.0,
    }
