"""``bulk_scan_rollup``: full decodes of a few large reference-geometry files.

Each request decodes every archive of every file (per-archive row count and
value sum) and rolls archive 0 up to 60 s with one of the 8 Whisper
aggregation methods, with or without an xFilesFactor; successive requests
cycle through all 16 combinations. Few tasks, much decode and shuffle.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from fixtures import BULK_ARCHIVES, ROLLUP_METHODS, ROLLUP_TO, ROLLUP_XFF, build_bulk, cached
from harness import noop
from whisper_pandas_spark.operators.rollup import rollup
from workloads.base import (
    Workload,
    close,
    require,
    scan_probe,
    timed,
    whisper_layer_probe,
)

N_FILES = 2


class BulkScanRollup(Workload):
    name = "bulk_scan_rollup"
    size = N_FILES

    def prepare(self) -> None:
        d = cached(self.ctx.cache, self.name, self.ctx.seed, self.size, build_bulk)
        self.dir = os.path.join(d, "bulk")
        with open(os.path.join(d, "expected.json")) as f:
            self.want = json.load(f)

    def spec(self, i: int) -> dict:
        return {
            "method": ROLLUP_METHODS[i % len(ROLLUP_METHODS)],
            "xff": ROLLUP_XFF[(i // len(ROLLUP_METHODS)) % len(ROLLUP_XFF)],
        }

    def warmup(self, spark) -> None:
        s = self.spec(0)
        self.check(s, self.request(spark, s))

    def _rollup(self, df, spec):
        return rollup(
            df.filter(F.col("archive") == 0),
            ROLLUP_TO,
            spec["method"],
            spec["xff"],
            fine_resolution_seconds=BULK_ARCHIVES[0][0],
        )

    def request(self, spark, spec: dict):
        rec = self.rec
        with rec.span("sources.whisper.load"):
            df = spark.read.format("whisper").load(self.dir)
        with rec.span("spark.collect"):
            archives = df.groupBy("metric", "archive").agg(
                F.count("value").alias("rows"), F.sum("value").alias("value_sum")
            ).collect()
        with rec.span("operators.rollup.rollup"):
            rolled = self._rollup(df, spec)
        with rec.span("spark.collect"):
            summary = rolled.agg(
                F.count("value").alias("buckets"),
                F.sum("value").alias("value_sum"),
                F.sum("n_points").alias("n_points"),
            ).collect()[0]
        return archives, summary

    def check(self, spec: dict, out) -> float:
        archives, summary = out
        got = {f"{r['metric']}|{r['archive']}": r for r in archives}
        require(set(got) == set(self.want["archives"]), "archive set")
        for key, w in self.want["archives"].items():
            require(got[key]["rows"] == w["rows"], f"rows of {key}")
            require(close(got[key]["value_sum"], w["value_sum"]), f"value sum of {key}")
        w = self.want["rollup"][f"{spec['method']}|{spec['xff']}"]
        require(summary["buckets"] == w["buckets"], "rollup bucket count")
        require(summary["n_points"] == w["n_points"], "rollup n_points")
        require(close(summary["value_sum"], w["value_sum"]), "rollup value sum")
        # every archive decoded once, archive 0 a second time for the rollup
        return float(
            sum(w["rows"] for w in self.want["archives"].values()) + summary["n_points"]
        )

    def probe(self, spark, spec: dict, out) -> dict[str, float]:
        rec, vals = self.rec, {}
        with rec.span("sources.whisper.reader"):
            vals.update(whisper_layer_probe({"path": self.dir}, [], N_FILES))
        scan = spark.read.format("whisper").load(self.dir)
        with rec.span("spark.scan"):
            vals.update(scan_probe(spark, scan, vals["whisper.decode_s"], self.ctx.cores))
        with rec.span("operators.rollup"):
            cp = scan.filter(F.col("archive") == 0).localCheckpoint(eager=True)
            t, _ = timed(noop, self._rollup(cp, spec))
        suffix = "" if spec["xff"] == 0 else "_xff"
        vals[f"rollup.{spec['method']}{suffix}_s"] = t
        vals["ops.exec_s"] = t
        return vals
