"""``ingest_update_tree``: carbon-style update batches beside reads.

Same tree geometry as ``render_small_tree``. Each request writes a batch of
3–6 new points for each of 8 random metrics with
``write_whisper(merge=True)`` (every touched file is read, merged and
rewritten whole), then fetches the touched metrics over the batch's time
range; the values read back must equal the values written. Each run starts
from a pristine copy of the cached tree, and every batch lies after the
previous one in time, so batches never overlap.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from fixtures import END_TS, TREE_ARCHIVE_SPEC, TREE_ARCHIVES, build_tree, cached
from whisper_pandas_spark.sources.fetch import fetch
from whisper_pandas_spark.sources.whisper_write import (
    build_wsp_bytes,
    parse_archives,
    write_whisper,
)
from workloads.base import Workload, require, timed

N_SERVERS = 96
METRICS_PER_BATCH = 8
STEP = TREE_ARCHIVES[0][0]
#: seconds of timeline each batch owns (6 points at most × 10 s < 80 s)
BATCH_SPAN = 8 * STEP


class IngestUpdateTree(Workload):
    name = "ingest_update_tree"
    size = N_SERVERS

    def prepare(self) -> None:
        d = cached(self.ctx.cache, self.name, self.ctx.seed, self.size, build_tree)
        self.tree = os.path.join(self.ctx.work, "ingest-tree")
        shutil.rmtree(self.tree, ignore_errors=True)
        shutil.copytree(os.path.join(d, "tree"), self.tree)
        with open(os.path.join(d, "manifest.json")) as f:
            self.metrics = sorted(e["metric"] for e in json.load(f))
        self.bytes_written = 0
        self.files_rewritten = 0
        self.points_written = 0
        self._before: dict[str, tuple[int, int]] = {}
        self._images: dict[str, bytes] = {}

    def _stat(self) -> dict[str, tuple[int, int]]:
        out = {}
        for dirpath, _, files in os.walk(self.tree):
            for f in files:
                st = os.stat(os.path.join(dirpath, f))
                out[os.path.join(dirpath, f)] = (st.st_mtime_ns, st.st_size)
        return out

    def spec(self, i: int) -> dict:
        # i = -1 is the warm-up batch, right after the fixture's last point
        rng = self.rng(9, i + 1)
        base = END_TS + BATCH_SPAN * (i + 2)
        rows = []
        for m in sorted(rng.choice(self.metrics, METRICS_PER_BATCH, replace=False)):
            k = int(rng.integers(3, 7))
            for j in range(k):
                rows.append((str(m), base + STEP * j, float(rng.normal(4.1, 0.05))))
        return {"rows": rows, "from": base, "until": base + BATCH_SPAN - 1}

    def _path(self, metric: str) -> str:
        return os.path.join(self.tree, metric.replace(".", os.sep) + ".wsp")

    def begin(self, spec: dict) -> None:
        """Snapshot the tree, so ``check`` sees which files the batch
        rewrote; when tracing, keep the touched files' pre-batch images."""
        self._before = self._stat()
        self._images = {}
        if self.rec.enabled:
            for m in {m for m, _, _ in spec["rows"]}:
                with open(self._path(m), "rb") as f:
                    self._images[m] = f.read()

    def warmup(self, spark) -> None:
        s = self.spec(-1)
        self.begin(s)
        try:
            self.check(s, self.request(spark, s))
        finally:
            self.end(s)
            self.bytes_written = self.files_rewritten = self.points_written = 0

    def request(self, spark, spec: dict):
        rec = self.rec
        with rec.span("client.create_dataframe"):
            batch = spark.createDataFrame(
                spec["rows"], "metric string, timestamp long, value double"
            )
        with rec.span("sources.whisper_write.write_whisper"):
            write_whisper(batch, self.tree, archives=TREE_ARCHIVE_SPEC, merge=True)
        metrics = sorted({m for m, _, _ in spec["rows"]})
        with rec.span("sources.fetch.fetch"):
            df = fetch(spark, self.tree, spec["from"], spec["until"]).filter(
                F.col("metric").isin(metrics)
            )
        with rec.span("spark.collect"):
            return df.select(
                "metric", F.unix_timestamp("timestamp").alias("ts"), "value"
            ).collect()

    def end(self, spec: dict) -> None:
        after = self._stat()
        changed = [p for p, v in after.items() if self._before.get(p) != v]
        self.files_rewritten += len(changed)
        self.bytes_written += sum(after[p][1] for p in changed)
        self.points_written += len(spec["rows"])

    def check(self, spec: dict, out) -> float:
        got = sorted((r["metric"], r["ts"], r["value"]) for r in out)
        require(got == sorted(spec["rows"]), "values read back differ from values written")
        return float(len(spec["rows"]))

    def write_stats(self) -> dict[str, float]:
        return {
            "write.bytes": float(self.bytes_written),
            "write.files_rewritten": float(self.files_rewritten),
            "write_amp": self.bytes_written / max(12 * self.points_written, 1),
        }

    def probe(self, spark, spec: dict, out) -> dict[str, float]:
        """Replay each file's merge in-process from its pre-batch image."""
        archives = parse_archives(TREE_ARCHIVE_SPEC)
        by_metric: dict[str, list] = {}
        for m, ts, v in spec["rows"]:
            by_metric.setdefault(m, []).append((ts, v))
        build = 0.0
        with self.rec.span("sources.whisper_write.build_wsp_bytes"):
            for m, pts in by_metric.items():
                arr = np.array(pts)
                t, _ = timed(
                    build_wsp_bytes, arr[:, 0], arr[:, 1], archives,
                    existing=self._images[m],
                )
                build += t
        spark_s = next(
            s.duration for s in reversed(self.rec.spans)
            if s.name == "sources.whisper_write.write_whisper"
        )
        return {"write.build_s": build, "write.spark_s": spark_s}
