"""``corpus_curation``: the three integrated LLM-data pipelines.

Requests cycle through ``pipeline_corpus_end_to_end``,
``pipeline_web_end_to_end`` and ``pipeline_curation_end_to_end`` from the
query registry, each over the seeded ``documents`` table, and collect the
result. The check compares it with the entry's DuckDB oracle, computed when
the fixture was built. No Whisper I/O: a change to the Whisper layers should
leave this workload unchanged.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

from fixtures import PIPELINES, build_documents, cached
from harness import noop
from workloads.base import Workload, require, timed

N_DOCS = 5000

#: registry entries of the components each pipeline chains
STAGES = {
    "pipeline_corpus_end_to_end": ("filter_quality_gates", "decontam_bloom_flags"),
    "pipeline_web_end_to_end": (
        "text_html_strip", "text_c4_line_filter", "text_url_domain_key", "sample_domain_quota",
    ),
    "pipeline_curation_end_to_end": (
        "text_pii_redact", "text_token_entropy", "sample_temperature_lang",
    ),
}


def frame_digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest: columns by name, rows sorted, floats
    rounded to 9 decimals."""
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(9)
    df = df.sort_values(cols).reset_index(drop=True)
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


class CorpusCuration(Workload):
    name = "corpus_curation"
    size = N_DOCS
    unit_name = "docs"

    def prepare(self) -> None:
        d = cached(self.ctx.cache, self.name, self.ctx.seed, self.size, build_documents)
        self.docs = os.path.join(d, "docs")
        self.want = {
            n: pd.read_parquet(os.path.join(d, f"oracle-{n}.parquet")) for n in PIPELINES
        }
        self.want_digest = {n: frame_digest(df) for n, df in self.want.items()}
        self._staged: set[str] = set()

    def spec(self, i: int) -> dict:
        return {"pipeline": PIPELINES[i % len(PIPELINES)]}

    def warmup(self, spark) -> None:
        for i in range(len(PIPELINES)):
            self.check(self.spec(i), self.request(spark, self.spec(i)))

    def request(self, spark, spec: dict):
        # imported here: the registry loads every query module (about a
        # second on a 4-core host), which runs of other workloads should not pay
        from whisper_pandas_spark.registry import QUERIES

        name = spec["pipeline"]
        with self.rec.span(f"queries.{name}"):
            df = QUERIES[name](spark, self.docs)
        with self.rec.span("spark.collect"):
            return df.toPandas()

    def check(self, spec: dict, out) -> float:
        name = spec["pipeline"]
        want = self.want[name]
        require(sorted(out.columns) == sorted(want.columns), f"{name} columns")
        require(len(out) == len(want), f"{name} rows {len(out)} != {len(want)}")
        if frame_digest(out) != self.want_digest[name]:
            # digests can split on float rounding; fall back to a tolerance
            cols = sorted(want.columns)
            a = out[cols].sort_values(cols).reset_index(drop=True)
            b = want[cols].sort_values(cols).reset_index(drop=True)
            for c in cols:
                if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
                    ok = np.allclose(a[c].astype(float), b[c].astype(float),
                                     atol=1e-9, equal_nan=True)
                else:
                    ok = bool((a[c].astype(str) == b[c].astype(str)).all())
                require(ok, f"{name} column {c} differs from the DuckDB oracle")
        return float(N_DOCS)

    def probe(self, spark, spec: dict, out) -> dict[str, float]:
        """Each component entry of the pipeline, once per run, timed to a
        full materialization."""
        from whisper_pandas_spark.registry import QUERIES

        name, vals = spec["pipeline"], {}
        if name in self._staged:
            return vals
        self._staged.add(name)
        for stage in STAGES[name]:
            with self.rec.span(f"queries.{stage}"):
                vals[f"pipeline.{stage}_s"], _ = timed(noop, QUERIES[stage](spark, self.docs))
        return vals
