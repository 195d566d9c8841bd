"""``render_small_tree``: Graphite render traffic on a tree of many small files.

Most requests fetch one server's subtree (``metric LIKE 'srvNNN.%'`` pushed
into the scan, a random time range, the archive picked by
``sources.fetch``), then apply a per-series transform, a cross-series step
and ``summarize``. One request in ten lists a subtree's archive metadata
(``sources.meta.archive_meta``) and one in ten runs a ``grep_metrics`` regex
over four servers, which Spark evaluates after the scan (no pushdown).

The request kind, time span and function chain are fixed by the request's
position in the sequence, so runs of equal length carry the same mix; the
seed picks servers, time offsets and window sizes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    LessThanOrEqual,
    StringStartsWith,
)

from fixtures import END_TS, TREE_ARCHIVES, TREE_GROUPS, TreeArrays, build_tree, cached
from harness import noop
from whisper_pandas_spark.functions import graphite as G
from whisper_pandas_spark.sources.fetch import fetch
from whisper_pandas_spark.sources.fetch import select_archive as fetch_select
from whisper_pandas_spark.sources.meta import archive_meta, scan_headers
from workloads.base import (
    Workload,
    close,
    require,
    scan_probe,
    timed,
    whisper_layer_probe,
)

N_SERVERS = 96
SPANS = (3600, 6 * 3600, 86400, 3 * 86400, 7 * 86400)
TRANSFORMS = ("per_second", "derivative", "moving_average_points")
CROSS = ("sum_series", "group_by_node")
SUMMARIZE = ("sum", "avg", "max")
GREP_SERVERS = 4
#: request position (mod 10) -> kind; every other position is a render. Both
#: kinds sit early, so every run has one of each and the positions a longer
#: or shorter run adds or drops are renders; the traced run traces both.
KINDS = {2: "grep", 4: "meta"}


def select_archive(span: int) -> int:
    """Graphite's rule, as ``sources.fetch.select_archive`` applies it."""
    for i, (spp, pts) in enumerate(TREE_ARCHIVES):
        if spp * pts >= span:
            return i
    return len(TREE_ARCHIVES) - 1


def utc(epoch: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(epoch, dt.timezone.utc)


class RenderSmallTree(Workload):
    name = "render_small_tree"
    size = N_SERVERS
    main_kind = "render"

    def prepare(self) -> None:
        d = cached(self.ctx.cache, self.name, self.ctx.seed, self.size, build_tree)
        self.tree = os.path.join(d, "tree")
        with open(os.path.join(d, "manifest.json")) as f:
            manifest = json.load(f)
        self.arrays = TreeArrays(manifest, os.path.join(self.ctx.work, "regen.wsp"))
        self.n_files = len(manifest)
        self.by_server: dict[str, list[str]] = {}
        for e in manifest:
            self.by_server.setdefault(e["metric"].split(".")[0], []).append(e["metric"])

    # -- request specs -------------------------------------------------------
    def spec(self, i: int, stream: int = 7) -> dict:
        rng = self.rng(stream, i)
        kind = KINDS.get(i % 10, "render")
        server = int(rng.integers(N_SERVERS))
        if kind == "meta":
            return {"kind": kind, "server": f"srv{server:03d}"}
        if kind == "grep":
            first = int(rng.integers(N_SERVERS // GREP_SERVERS)) * GREP_SERVERS
            leaves = [f"{g}\\.{n}" for g, names in TREE_GROUPS.items() for n in names]
            return {
                "kind": kind,
                "servers": [f"srv{s:03d}" for s in range(first, first + GREP_SERVERS)],
                "pattern": r"\.(" + "|".join(sorted(rng.choice(leaves, 2, replace=False))) + ")$",
            }
        span = SPANS[i % len(SPANS)]
        until = END_TS - 10 * int(rng.integers(0, 6 * 360))
        return {
            "kind": kind,
            "server": f"srv{server:03d}",
            "from": until - span,
            "until": until,
            "transform": TRANSFORMS[i % len(TRANSFORMS)],
            "n": int(rng.integers(3, 10)),
            "cross": CROSS[i % len(CROSS)],
            "interval": max(span // 24, TREE_ARCHIVES[select_archive(span)][0]),
            "func": SUMMARIZE[(i // 2) % len(SUMMARIZE)],
        }

    def warmup(self, spark) -> None:
        # one render from its own stream pays the Python workers' and
        # codegen's start-up; grep and meta, at fixed positions, run cold in
        # every run alike
        s = self.spec(0, stream=8)
        self.check(s, self.request(spark, s))

    # -- timed request -------------------------------------------------------
    def request(self, spark, spec: dict):
        rec = self.rec
        if spec["kind"] == "meta":
            with rec.span("sources.meta.archive_meta"):
                df = archive_meta(spark, os.path.join(self.tree, spec["server"]))
            with rec.span("spark.collect"):
                return df.collect()
        if spec["kind"] == "grep":
            with rec.span("sources.whisper.load"):
                df = spark.read.format("whisper").load(
                    [os.path.join(self.tree, s) for s in spec["servers"]]
                ).filter(F.col("archive") == 2)
            with rec.span("functions.graphite.grep_metrics"):
                df = G.grep_metrics(df, spec["pattern"])
            with rec.span("spark.collect"):
                return df.groupBy("metric").agg(
                    F.count("value").alias("n"), F.sum("value").alias("s")
                ).collect()
        with rec.span("sources.fetch.fetch"):
            df = self._fetch(spark, spec)
        with rec.span("functions.graphite." + spec["transform"]):
            df = self._transform(df, spec)
        with rec.span("functions.graphite." + spec["cross"]):
            df = self._cross(df, spec)
        with rec.span("functions.graphite.summarize"):
            df = G.summarize(df, spec["interval"], spec["func"])
        with rec.span("spark.collect"):
            return df.select(
                "metric", F.unix_timestamp("timestamp").alias("ts"), "value"
            ).collect()

    def _fetch(self, spark, spec):
        return fetch(spark, self.tree, spec["from"], spec["until"]).filter(
            F.col("metric").like(spec["server"] + ".%")
        )

    @staticmethod
    def _transform(df, spec):
        if spec["transform"] == "moving_average_points":
            return G.moving_average_points(df, spec["n"])
        return getattr(G, spec["transform"])(df)

    @staticmethod
    def _cross(df, spec):
        if spec["cross"] == "group_by_node":
            return G.group_by_node(df, 1, "sum")
        return G.sum_series(df)

    # -- checks ----------------------------------------------------------------
    def _series(self, metrics: list[str], archive: int, lo: int, hi: int) -> pd.DataFrame:
        frames = []
        for m in metrics:
            a = self.arrays.archives(m)[archive]
            sel = (a[:, 0] >= lo) & (a[:, 0] <= hi)
            frames.append(pd.DataFrame(
                {"metric": m, "ts": a[sel, 0].astype("int64"), "value": a[sel, 1]}
            ))
        return pd.concat(frames, ignore_index=True)

    def expected(self, spec: dict) -> tuple[pd.DataFrame, int]:
        """The render pipeline recomputed in pandas from the generator's
        arrays, and the number of points the scan emits."""
        df = self._series(
            self.by_server[spec["server"]],
            select_archive(spec["until"] - spec["from"]),
            spec["from"],
            spec["until"],
        ).sort_values(["metric", "ts"])
        n_points = len(df)
        g = df.groupby("metric", sort=False)
        if spec["transform"] == "per_second":
            dv, dts = g["value"].diff(), g["ts"].diff()
            df["value"] = (dv / dts).where((dv >= 0) & (dts > 0))
        elif spec["transform"] == "derivative":
            df["value"] = g["value"].diff()
        else:
            df["value"] = g["value"].transform(
                lambda v: v.rolling(spec["n"], min_periods=1).mean()
            )
        if spec["cross"] == "group_by_node":
            df["metric"] = df["metric"].str.split(".").str[1]
        else:
            df["metric"] = "sumSeries"
        df = df.groupby(["metric", "ts"], as_index=False)["value"].sum(min_count=1)
        df["ts"] = df["ts"] // spec["interval"] * spec["interval"]
        g = df.groupby(["metric", "ts"], as_index=False)["value"]
        if spec["func"] == "sum":
            return g.sum(min_count=1), n_points
        return (g.mean() if spec["func"] == "avg" else g.max()), n_points

    def check(self, spec: dict, out) -> float:
        if spec["kind"] == "meta":
            metrics = self.by_server[spec["server"]]
            require(len(out) == len(metrics) * len(TREE_ARCHIVES), "archive_meta row count")
            for r in out:
                require(
                    (r["seconds_per_point"], r["points"]) == TREE_ARCHIVES[r["archive"]],
                    f"archive_meta geometry of {r['path']}",
                )
            return 0.0
        if spec["kind"] == "grep":
            want = {}
            for s in spec["servers"]:
                for m in self.by_server[s]:
                    if re.search(spec["pattern"], m):
                        a = self.arrays.archives(m)[2]
                        want[m] = (len(a), float(a[:, 1].sum()))
            got = {r["metric"]: (r["n"], r["s"]) for r in out}
            require(set(got) == set(want), "grep_metrics series set")
            for m, (n, s) in want.items():
                require(got[m][0] == n and close(got[m][1], s), f"grep aggregate of {m}")
            return float(sum(n for n, _ in want.values()))
        want, n_points = self.expected(spec)
        want = want.sort_values(["metric", "ts"]).reset_index(drop=True)
        got = sorted((r["metric"], r["ts"], r["value"]) for r in out)
        require(len(got) == len(want), f"render rows {len(got)} != {len(want)}")
        for (m, ts, v), w in zip(got, want.itertuples(index=False)):
            require(m == w.metric and ts == w.ts, f"render key {m}@{ts} != {w.metric}@{w.ts}")
            require(close(v, float(w.value)), f"render value {m}@{ts}: {v} != {w.value}")
        return float(n_points)

    # -- traced-run probes -----------------------------------------------------
    def probe(self, spark, spec: dict, out) -> dict[str, float]:
        rec, vals = self.rec, {}
        if spec["kind"] == "meta":
            with rec.span("sources.meta.scan_headers"):
                vals["scan_headers_s"], _ = timed(
                    scan_headers, os.path.join(self.tree, spec["server"])
                )
            return vals
        if spec["kind"] == "grep":
            paths = [os.path.join(self.tree, s) for s in spec["servers"]]
            with rec.span("sources.whisper.reader"):
                vals.update(whisper_layer_probe(
                    {"paths": json.dumps(paths)},
                    [EqualTo(("archive",), 2)],
                    GREP_SERVERS * sum(len(v) for v in TREE_GROUPS.values()),
                ))
            scan = spark.read.format("whisper").load(paths).filter(F.col("archive") == 2)
            with rec.span("spark.scan"):
                vals.update(scan_probe(spark, scan, vals["whisper.decode_s"], self.ctx.cores))
            with rec.span("functions.graphite.grep_metrics"):
                cp = scan.localCheckpoint(eager=True)
                vals["graphite.grep_metrics_s"], _ = timed(noop, G.grep_metrics(cp, spec["pattern"]))
            vals["ops.exec_s"] = vals["graphite.grep_metrics_s"]
            return vals

        span = spec["until"] - spec["from"]
        first = os.path.join(self.tree, "srv000", "cpu", "user.wsp")
        with rec.span("sources.fetch.select_archive"):
            vals["fetch.select_archive_s"], archive = timed(fetch_select, first, span)
        with rec.span("sources.whisper.reader"):
            vals.update(whisper_layer_probe(
                {"path": self.tree, "compression": "infer"},
                [
                    EqualTo(("archive",), archive),
                    GreaterThanOrEqual(("timestamp",), utc(spec["from"])),
                    LessThanOrEqual(("timestamp",), utc(spec["until"])),
                    StringStartsWith(("metric",), spec["server"] + "."),
                ],
                self.n_files,
            ))
        scan = self._fetch(spark, spec)
        with rec.span("spark.scan"):
            vals.update(scan_probe(spark, scan, vals["whisper.decode_s"], self.ctx.cores))
        # each graphite step timed alone, over its checkpointed input
        with rec.span("functions.graphite"):
            cp = scan.localCheckpoint(eager=True)
            t, _ = timed(noop, self._transform(cp, spec))
            vals[f"graphite.{spec['transform']}_s"] = t
            cp = self._transform(cp, spec).localCheckpoint(eager=True)
            t2, _ = timed(noop, self._cross(cp, spec))
            vals[f"graphite.{spec['cross']}_s"] = t2
            cp = self._cross(cp, spec).localCheckpoint(eager=True)
            t3, _ = timed(noop, G.summarize(cp, spec["interval"], spec["func"]))
            vals["graphite.summarize_s"] = t3
        vals["ops.exec_s"] = t + t2 + t3
        return vals
