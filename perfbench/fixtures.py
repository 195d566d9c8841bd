"""Seeded inputs for every workload, cached on disk by (workload, seed, size).

Generation runs before the first session set-up, so it is never part of
``setup_s`` or of any timed region. A cache entry is built in a temporary
directory and renamed into place when complete; the two most recently used
entries per workload are kept, older ones are deleted.

Whisper files come from ``tests/wsp_fixtures.build_wsp``, which also returns
the exact (timestamp, value) arrays it wrote; the checks recompute expected
results from those arrays, never from the files.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

from tests.wsp_fixtures import END_TS, build_wsp

KEEP_PER_WORKLOAD = 2

#: Small-tree geometry: 10s:1d, 60s:7d, 1h:1y — 27 480 slots, 330 KB a file.
TREE_ARCHIVES = [(10, 8640), (60, 10080), (3600, 8760)]
TREE_ARCHIVE_SPEC = ",".join(f"{spp}:{pts}" for spp, pts in TREE_ARCHIVES)
#: Per-archive fill ratio range; each file draws its own.
TREE_FILL = [(0.3, 1.0), (0.2, 1.0), (0.05, 0.6)]
TREE_GROUPS = {"cpu": ["user", "system"], "mem": ["used", "free"]}

#: Reference geometry of the upstream golden fixture: 6 898 801 slots,
#: 82.8 MB a file.
BULK_ARCHIVES = [(10, 1_555_200, 1.0), (60, 5_256_000, 0.44349), (3600, 87_601, 0.44353)]
ROLLUP_METHODS = ("average", "sum", "last", "max", "min", "avg_zero", "absmax", "absmin")
ROLLUP_TO = 60  # archive 0 (10 s) rolled up to the next archive's step
ROLLUP_XFF = (0.0, 0.5)

DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DOC_LANGS = (("en", 0.41), ("es", 0.15), ("zh", 0.15), ("de", 0.14), ("fr", 0.15))
PIPELINES = (
    "pipeline_corpus_end_to_end",
    "pipeline_web_end_to_end",
    "pipeline_curation_end_to_end",
)


def cached(cache_root: str, workload: str, seed: int, size: int, build) -> str:
    """Directory of the (workload, seed, size) fixture; ``build(dir, seed,
    size)`` fills a fresh one on a miss."""
    os.makedirs(cache_root, exist_ok=True)
    final = os.path.join(cache_root, f"{workload}-seed{seed}-size{size}")
    ready = os.path.join(final, "READY")
    if not os.path.exists(ready):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp, seed, size)
        with open(os.path.join(tmp, "READY"), "w") as f:
            f.write("ok\n")
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    os.utime(ready)
    _evict(cache_root, workload)
    return final


def _evict(cache_root: str, workload: str) -> None:
    prefix = f"{workload}-seed"
    entries = []
    for d in os.listdir(cache_root):
        ready = os.path.join(cache_root, d, "READY")
        if d.startswith(prefix) and os.path.exists(ready):
            entries.append((os.path.getmtime(ready), d))
    for _, d in sorted(entries, reverse=True)[KEEP_PER_WORKLOAD:]:
        shutil.rmtree(os.path.join(cache_root, d), ignore_errors=True)


def probe_file(cache_root: str) -> str:
    """A 16-slot file: the first DataSource read of every set-up."""
    d = os.path.join(cache_root, "probe")
    path = os.path.join(d, "tiny.wsp")
    if not os.path.exists(path):
        os.makedirs(d, exist_ok=True)
        build_wsp(path + ".tmp", archives=[(10, 16, 1.0)])
        os.rename(path + ".tmp", path)
    return path


# -- small tree (render_small_tree, ingest_update_tree) ---------------------


def build_tree(out: str, seed: int, n_servers: int) -> None:
    """``n_servers`` × 4 metric files ``srvNNN/<group>/<name>.wsp``; each
    file has its own fill ratios and value walk."""
    rng = np.random.default_rng([seed, 1])
    manifest = []
    for s in range(n_servers):
        for group, names in TREE_GROUPS.items():
            for name in names:
                rel = os.path.join("tree", f"srv{s:03d}", group, f"{name}.wsp")
                path = os.path.join(out, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                fills = [float(rng.uniform(lo, hi)) for lo, hi in TREE_FILL]
                file_seed = int(rng.integers(0, 2**31))
                build_wsp(path, archives=tree_geometry(fills), seed=file_seed)
                manifest.append(
                    {"metric": f"srv{s:03d}.{group}.{name}", "path": rel,
                     "seed": file_seed, "fills": fills}
                )
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)


def tree_geometry(fills: list[float]) -> list[tuple[int, int, float]]:
    return [(spp, pts, fill) for (spp, pts), fill in zip(TREE_ARCHIVES, fills)]


class TreeArrays:
    """The generator's arrays for tree files, regenerated on demand into a
    scratch file (a few ms each) and memoized."""

    def __init__(self, manifest: list[dict], scratch: str) -> None:
        self.by_metric = {e["metric"]: e for e in manifest}
        self.scratch = scratch
        self._memo: dict[str, list] = {}

    def archives(self, metric: str):
        """Per-archive (n, 2) [ts, value] arrays, ascending by ts."""
        if metric not in self._memo:
            e = self.by_metric[metric]
            if len(self._memo) > 256:
                self._memo.clear()
            self._memo[metric] = [
                a.filled
                for a in build_wsp(
                    self.scratch, archives=tree_geometry(e["fills"]), seed=e["seed"]
                )
            ]
        return self._memo[metric]


# -- bulk reference-geometry files (bulk_scan_rollup) -----------------------


def build_bulk(out: str, seed: int, n_files: int) -> None:
    """``n_files`` reference-geometry files plus the expected per-archive
    totals and, for every (method, xFilesFactor), the expected rollup of
    archive 0 to 60 s — computed here from the generator's arrays."""
    import pandas as pd

    rng = np.random.default_rng([seed, 2])
    d = os.path.join(out, "bulk")
    os.makedirs(d)
    expected = {"archives": {}, "rollup": {}}
    for i in range(n_files):
        arrays = build_wsp(
            os.path.join(d, f"ref{i}.wsp"),
            archives=BULK_ARCHIVES,
            seed=int(rng.integers(0, 2**31)),
        )
        for k, a in enumerate(arrays):
            key = f"ref{i}|{k}"
            expected["archives"][key] = {
                "rows": int(len(a.filled)),
                "value_sum": float(a.filled[:, 1].sum()),
            }
        fine = pd.DataFrame({"ts": arrays[0].filled[:, 0].astype("int64"),
                             "v": arrays[0].filled[:, 1]})
        fine["bucket"] = fine["ts"] - fine["ts"] % ROLLUP_TO
        fine["absv"] = fine["v"].abs()
        g = fine.groupby("bucket", sort=False)
        n = g["v"].count()
        by = {
            "average": g["v"].mean(),
            "sum": g["v"].sum(),
            "last": fine.loc[g["ts"].idxmax(), ["bucket", "v"]].set_index("bucket")["v"],
            "max": g["v"].max(),
            "min": g["v"].min(),
            "avg_zero": g["v"].sum() / (ROLLUP_TO // BULK_ARCHIVES[0][0]),
            "absmax": fine.loc[g["absv"].idxmax(), ["bucket", "v"]].set_index("bucket")["v"],
            "absmin": fine.loc[g["absv"].idxmin(), ["bucket", "v"]].set_index("bucket")["v"],
        }
        slots = ROLLUP_TO // BULK_ARCHIVES[0][0]
        for method, vals in by.items():
            vals = vals.reindex(n.index)
            for xff in ROLLUP_XFF:
                keep = (n / slots >= xff) if xff > 0 else np.ones(len(n), bool)
                r = expected["rollup"].setdefault(
                    f"{method}|{xff}", {"buckets": 0, "value_sum": 0.0, "n_points": 0}
                )
                r["buckets"] += int(keep.sum())
                r["value_sum"] += float(vals[keep].sum())
                r["n_points"] += int(n[keep].sum())
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)


# -- documents (corpus_curation) --------------------------------------------


def build_documents(out: str, seed: int, n_docs: int) -> None:
    """A ``documents`` table in the testdata schema (doc_id, text, lang,
    source, n_chars): 10–100 words from a small vocabulary, 5 % near
    duplicates (an earlier document's text + " dup"), plus each pipeline's
    DuckDB oracle result over it."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    vocab = np.array(DOC_VOCAB)
    langs, p = zip(*DOC_LANGS)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(langs, n_docs, p=np.array(p) / sum(p))),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )
    d = os.path.join(out, "docs")
    os.makedirs(d)
    pq.write_table(table, os.path.join(d, "documents.parquet"))

    from whisper_pandas_spark.registry import ORACLES

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(d, 'documents.parquet')}')"
    )
    for name in PIPELINES:
        con.execute(ORACLES[name]).fetchdf().to_parquet(
            os.path.join(out, f"oracle-{name}.parquet")
        )
    con.close()

