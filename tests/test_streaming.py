"""Structured Streaming rollup: streaming result must agree
bucket-for-bucket with the batch rollup operator on the same data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from whisper_pandas_spark.operators.rollup import rollup
from whisper_pandas_spark.streaming.rollup import dedup_last_wins, streaming_rollup

SCHEMA = StructType(
    [
        StructField("metric", StringType()),
        StructField("timestamp", TimestampType()),
        StructField("value", DoubleType()),
    ]
)


@pytest.fixture(scope="module")
def points(spark, tmp_path_factory):
    """120 points across 2 metrics at 10 s resolution, written as parquet
    (the streaming file source replays it as a bounded stream)."""
    df = spark.createDataFrame(
        [(m, 1_600_000_000 + 10 * i, float((i * 7 + (3 if m == "cpu" else 5)) % 50))
         for m in ("cpu", "mem") for i in range(60)],
        ["metric", "epoch", "value"],
    ).select("metric", F.timestamp_seconds("epoch").alias("timestamp"), "value")
    path = str(tmp_path_factory.mktemp("stream_src") / "points")
    df.write.parquet(path)
    return path


def _run_stream(spark, sdf, name: str):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


@pytest.mark.parametrize("method", ["average", "sum", "max", "last"])
def test_streaming_rollup_matches_batch(spark, points, method):
    batch = spark.read.parquet(points)
    expected = {
        (r["metric"], r["bucket"], r["n_points"]): r["value"]
        for r in rollup(batch, 60, method, ts_col="timestamp").collect()
    }

    sdf = spark.readStream.schema(SCHEMA).parquet(points)
    out = streaming_rollup(sdf, 60, method, watermark="10 minutes")
    got = {
        (r["metric"], r["bucket"], r["n_points"]): r["value"]
        for r in _run_stream(spark, out, f"roll_{method}").collect()
    }
    assert got == expected


def test_streaming_rollup_xff_gate(spark, points):
    sdf = spark.readStream.schema(SCHEMA).parquet(points)
    out = streaming_rollup(
        sdf, 60, "average", x_files_factor=0.99, fine_resolution_seconds=10,
        watermark="10 minutes",
    )
    rows = _run_stream(spark, out, "roll_xff").collect()
    # every surviving window must be fully filled (6 of 6 slots at xff=.99)
    assert rows and all(r["n_points"] == 6 for r in rows)


def test_streaming_dedup_last_wins_slots(spark, points):
    sdf = spark.readStream.schema(SCHEMA).parquet(points)
    out = dedup_last_wins(sdf, slot_seconds=10, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_slots")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_slots")
    # input has no duplicate slots, so dedup is the identity here; the
    # semantic (one row per metric+slot) must hold
    assert got.count() == 120
    assert got.groupBy("metric", "slot").count().filter("count > 1").count() == 0


def test_streaming_session_window(spark, points):
    """Session windows on a stream: 60 s-gap sessions over the 10 s-spaced
    points collapse each metric into one long session."""
    sdf = spark.readStream.schema(SCHEMA).parquet(points)
    out = (
        sdf.withWatermark("timestamp", "10 minutes")
        .groupBy("metric", F.session_window("timestamp", "60 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("metric", F.col("w.start").alias("session_start"), "n")
    )
    got = _run_stream(spark, out, "sessions").collect()
    assert {(r["metric"], r["n"]) for r in got} == {("cpu", 60), ("mem", 60)}


def test_streaming_ewma_matches_reference(spark, points):
    """applyInPandasWithState EWMA equals the sequential pandas EWMA."""
    from whisper_pandas_spark.streaming.stateful import streaming_ewma

    sdf = spark.readStream.schema(SCHEMA).parquet(points)
    out = streaming_ewma(sdf, alpha=0.3)
    q = (
        out.writeStream.format("memory")
        .queryName("ewma")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["metric"], r["timestamp"]): r["ewma"]
        for r in spark.table("ewma").collect()
    }
    assert len(got) == 120

    batch = spark.read.parquet(points).orderBy("timestamp").collect()
    state: dict[str, float] = {}
    for r in batch:
        m, v = r["metric"], r["value"]
        e = v if m not in state else 0.3 * v + 0.7 * state[m]
        state[m] = e
        assert got[(m, r["timestamp"])] == pytest.approx(e, rel=1e-12)


def test_stream_to_whisper_sink(spark, points, tmp_path):
    """Stream -> .wsp tree -> read back with our own reader."""
    from whisper_pandas_spark.sources.whisper import register_whisper
    from whisper_pandas_spark.streaming.sink import stream_to_whisper

    out = str(tmp_path / "wsp_tree")
    sdf = spark.readStream.schema(SCHEMA).parquet(points)
    q = stream_to_whisper(
        sdf, out, archives="10:100,60:20",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(5)
    q.processAllAvailable()
    q.stop()

    register_whisper(spark)
    back = spark.read.format("whisper").option("base_dir", out).load(out)
    fine = back.filter(F.col("archive") == 0)
    assert fine.count() == 120  # all 2x60 points survive (retention 1000 s)
    got = {r["metric"] for r in fine.select("metric").distinct().collect()}
    assert got == {"cpu", "mem"}


def test_stream_to_whisper_sink_multibatch(spark, tmp_path):
    """A metric whose points span SEVERAL micro-batches must keep the
    earlier batches' points: the sink writes in merge mode, overlaying
    each batch onto the stored ring slots."""
    from whisper_pandas_spark.sources.whisper import register_whisper
    from whisper_pandas_spark.streaming.sink import stream_to_whisper

    src = str(tmp_path / "src")
    for lo, hi in ((0, 30), (30, 60)):
        spark.createDataFrame(
            [("cpu", 1_600_000_000 + 10 * i, float(i)) for i in range(lo, hi)],
            ["metric", "epoch", "value"],
        ).select(
            "metric", F.timestamp_seconds("epoch").alias("timestamp"), "value"
        ).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "wsp_tree")
    sdf = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force one micro-batch per file
        .parquet(src)
    )
    q = stream_to_whisper(
        sdf, out, archives="10:100,60:20",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(5)
    q.processAllAvailable()
    q.stop()

    register_whisper(spark)
    fine = (
        spark.read.format("whisper").option("base_dir", out).load(out)
        .filter(F.col("archive") == 0)
    )
    assert fine.count() == 60  # batch-1 points survived batch 2


def test_stream_near_dup_cross_batch(spark, tmp_path):
    """A doc arriving in batch 2 that near-dups a batch-1 doc must emit a
    cross-batch pair — the incremental question batch dedup can't answer."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from whisper_pandas_spark.streaming.dedup import stream_near_dup

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep dark forest to find some food for winter")
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    src = str(tmp_path / "docs")
    batches = [
        [(0, base), (1, "an unrelated text about catalyst optimizer rules "
                        "and adaptive query execution in spark clusters")],
        [(2, base.replace("winter", "summer")),  # near-dup of batch-1 doc 0
         (3, "yet another distinct document mentioning arrow record batches "
             "and python worker reuse across stages")],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    pairs_dir = str(tmp_path / "pairs")
    store_dir = str(tmp_path / "sigs")
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_near_dup(
        sdf, pairs_dir, store_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(5)
    q.processAllAvailable()
    q.stop()

    got = {
        (r["doc_i"], r["doc_j"]): r["jaccard"]
        for r in spark.read.parquet(pairs_dir).collect()
    }
    assert (0, 2) in got and 0.5 <= got[(0, 2)] <= 1.0
    assert all(1 not in p and 3 not in p for p in got)
    # signature store holds every ingested doc exactly once
    assert spark.read.parquet(store_dir).count() == 4


def test_whisper_stream_source_tails_new_points(spark, tmp_path):
    """spark.readStream.format('whisper'): the tree's finest archive is a
    live stream — batch 1 emits the stored points, a merge-write of new
    points emits exactly the delta (watermark = newest emitted ts)."""
    from whisper_pandas_spark.sources.whisper import register_whisper
    from whisper_pandas_spark.sources.whisper_write import write_whisper

    register_whisper(spark)
    d = str(tmp_path / "tree")
    base = 1_599_999_960

    def batch(lo, hi):
        return spark.createDataFrame(
            [("srv.cpu", base + 10 * i, float(i)) for i in range(lo, hi)],
            ["metric", "epoch", "value"],
        ).select(
            "metric", F.timestamp_seconds("epoch").alias("timestamp"), "value"
        )

    write_whisper(batch(0, 30), d, archives="10:200,60:50", merge=True)
    sdf = spark.readStream.format("whisper").option("base_dir", d).load(d)
    q = (
        sdf.writeStream.format("memory").queryName("wsp_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("wsp_tail").count() == 30
        write_whisper(batch(30, 60), d, archives="10:200,60:50", merge=True)
        q.processAllAvailable()
        got = spark.table("wsp_tail").collect()
        assert len(got) == 60
        assert len({r["timestamp"] for r in got}) == 60  # no re-emission
        assert {r["metric"] for r in got} == {"srv.cpu"}
    finally:
        q.stop()


def test_live_reaggregation_pipeline(spark, tmp_path):
    """Whisper tree -> readStream -> watermarked 60 s rollup -> whisper
    sink: the full live re-aggregation loop, all through this engine's
    own source and sink. The sink tree's points must equal the BATCH
    rollup of the source tree."""
    from whisper_pandas_spark.operators.rollup import rollup
    from whisper_pandas_spark.sources.whisper import register_whisper
    from whisper_pandas_spark.sources.whisper_write import write_whisper
    from whisper_pandas_spark.streaming.rollup import streaming_rollup
    from whisper_pandas_spark.streaming.sink import stream_to_whisper

    register_whisper(spark)
    src_tree = str(tmp_path / "fine")
    base = 1_599_999_960
    fine = spark.createDataFrame(
        [("srv.cpu", base + 10 * i, float((i * 3) % 17)) for i in range(60)],
        ["metric", "epoch", "value"],
    ).select("metric", F.timestamp_seconds("epoch").alias("timestamp"), "value")
    write_whisper(fine, src_tree, archives="10:200,60:50", merge=True)

    sdf = spark.readStream.format("whisper").option("base_dir", src_tree).load(
        src_tree
    )
    rolled = streaming_rollup(
        sdf.select("metric", "timestamp", "value"),
        60,
        "average",
        watermark="10 minutes",
    ).select("metric", F.col("bucket").alias("timestamp"), "value")
    out_tree = str(tmp_path / "coarse")
    q = stream_to_whisper(
        rolled, out_tree, archives="60:100",
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="update",  # aggregation: flush windows every trigger
    )
    q.awaitTermination(5)
    q.processAllAvailable()
    q.stop()

    got = {
        int(r["timestamp"].timestamp()): r["value"]
        for r in spark.read.format("whisper")
        .option("base_dir", out_tree)
        .load(out_tree)
        .filter(F.col("archive") == 0)
        .collect()
    }
    expected = {
        int(r["bucket"].timestamp()): r["value"]
        for r in rollup(fine, 60, "average", ts_col="timestamp").collect()
    }
    assert got == expected and len(got) == 10


def test_whisper_stream_source_multi_file(spark, tmp_path):
    """The stream source tails a TREE: two metrics' files, new points in
    either file surface in the next micro-batch."""
    from whisper_pandas_spark.sources.whisper import register_whisper
    from whisper_pandas_spark.sources.whisper_write import write_whisper

    register_whisper(spark)
    d = str(tmp_path / "tree")
    base = 1_599_999_960

    def pts(metric, lo, hi):
        return spark.createDataFrame(
            [(metric, base + 10 * i, float(i)) for i in range(lo, hi)],
            ["metric", "epoch", "value"],
        ).select(
            "metric", F.timestamp_seconds("epoch").alias("timestamp"), "value"
        )

    write_whisper(pts("srv.cpu", 0, 10), d, archives="10:200", merge=True)
    write_whisper(pts("srv.mem", 0, 10), d, archives="10:200", merge=True)
    sdf = spark.readStream.format("whisper").option("base_dir", d).load(d)
    q = (
        sdf.writeStream.format("memory").queryName("tree_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("tree_tail").count() == 20
        # append to only ONE file: only its delta streams
        write_whisper(pts("srv.mem", 10, 15), d, archives="10:200", merge=True)
        q.processAllAvailable()
        got = spark.table("tree_tail").groupBy("metric").count().collect()
        counts = {r["metric"]: r["count"] for r in got}
        assert counts == {"srv.cpu": 10, "srv.mem": 15}
    finally:
        q.stop()


def test_stream_packs_files_with_different_windows(spark, tmp_path):
    """Two files whose micro-batch windows differ share one scan task;
    each range carries its own file's window, so each file emits exactly
    its delta."""
    from whisper_pandas_spark.sources.whisper import WhisperScanReader
    from whisper_pandas_spark.sources.whisper_write import write_whisper
    from whisper_pandas_spark.streaming.source import WhisperStreamReader

    d = str(tmp_path / "tree")
    base = 1_599_999_960

    def pts(metric, lo, hi):
        return spark.createDataFrame(
            [(metric, base + 10 * i, float(i)) for i in range(lo, hi)],
            ["metric", "epoch", "value"],
        ).select(
            "metric", F.timestamp_seconds("epoch").alias("timestamp"), "value"
        )

    write_whisper(pts("srv.fast", 0, 30), d, archives="10:200", merge=True)
    write_whisper(pts("srv.slow", 0, 10), d, archives="10:200", merge=True)
    opts = {"path": d, "base_dir": d, "to_datetime": "false"}
    stream = WhisperStreamReader(opts)
    off1 = stream.latestOffset()
    write_whisper(pts("srv.fast", 30, 35), d, archives="10:200", merge=True)
    write_whisper(pts("srv.slow", 10, 20), d, archives="10:200", merge=True)
    off2 = stream.latestOffset()

    [task] = stream.partitions(off1, off2)
    windows = {r.metric: (r.ts_lo, r.ts_hi) for r in task.ranges}
    assert windows == {
        "srv.fast": (base + 10 * 29 + 1, base + 10 * 34),
        "srv.slow": (base + 10 * 9 + 1, base + 10 * 19),
    }
    reader = WhisperScanReader(opts)
    got = sorted(
        (m, t)
        for batch in reader.read(task)
        for m, t in zip(batch.column("metric").to_pylist(), batch.column("timestamp").to_pylist())
    )
    want = [("srv.fast", base + 10 * i) for i in range(30, 35)]
    want += [("srv.slow", base + 10 * i) for i in range(10, 20)]
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join: the streamed result must
    equal the same operator applied to the batch frames (including the
    boundary-inclusive interval edges and the non-matching key)."""
    from whisper_pandas_spark.streaming.joins import stream_interval_join

    base = 1_599_999_960
    ldf = spark.createDataFrame(
        [("m1", base + 60 * i, float(i)) for i in range(10)]
        + [("m2", base, -1.0)],
        ["k", "epoch", "lv"],
    ).select("k", F.timestamp_seconds("epoch").alias("lts"), "lv")
    rdf = spark.createDataFrame(
        # +30 s offsets: inside [0, 45] of their own minute only
        [("m1", base + 60 * i + 30, 100.0 + i) for i in range(10)]
        + [("m3", base + 30, -2.0)],
        ["k", "epoch", "rv"],
    ).select("k", F.timestamp_seconds("epoch").alias("rts"), "rv")
    ldf.write.parquet(str(tmp_path / "l"))
    rdf.write.parquet(str(tmp_path / "r"))

    def key_rows(df):
        return sorted(
            (r["k"], int(r["lts"].timestamp()), int(r["rts"].timestamp()),
             r["lv"], r["rv"])
            for r in df.select("k", "lts", "rts", "lv", "rv").collect()
        )

    batch = key_rows(
        stream_interval_join(ldf, rdf, "k", "lts", "rts", 0, 45)
    )
    assert len(batch) == 10  # each m1 minute matches exactly its +30 s row

    ls = spark.readStream.schema(ldf.schema).parquet(str(tmp_path / "l"))
    rs = spark.readStream.schema(rdf.schema).parquet(str(tmp_path / "r"))
    q = (
        stream_interval_join(ls, rs, "k", "lts", "rts", 0, 45)
        .writeStream.format("memory")
        .queryName("ssj")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert key_rows(spark.table("ssj")) == batch
    finally:
        q.stop()


def test_whisper_stream_source_lagging_file(spark, tmp_path):
    """Cross-file timestamp skew: a file whose series LAGS the tree-wide
    max (different flush cadence — normal in real Graphite trees) must
    still emit its new points, even though they sit below every other
    file's high-water mark. This is why offsets are per-file, not one
    global watermark."""
    from whisper_pandas_spark.sources.whisper import register_whisper
    from whisper_pandas_spark.sources.whisper_write import write_whisper

    register_whisper(spark)
    d = str(tmp_path / "tree")
    base = 1_599_999_960

    def pts(metric, lo, hi):
        return spark.createDataFrame(
            [(metric, base + 10 * i, float(i)) for i in range(lo, hi)],
            ["metric", "epoch", "value"],
        ).select(
            "metric", F.timestamp_seconds("epoch").alias("timestamp"), "value"
        )

    write_whisper(pts("srv.fast", 0, 30), d, archives="10:200", merge=True)
    write_whisper(pts("srv.slow", 0, 10), d, archives="10:200", merge=True)
    sdf = spark.readStream.format("whisper").option("base_dir", d).load(d)
    q = (
        sdf.writeStream.format("memory").queryName("lag_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("lag_tail").count() == 40
        # slow file catches up: its new points (ts base+100..base+190) are
        # ALL below srv.fast's max (base+290) — a global watermark drops
        # them; per-file marks emit exactly the delta
        write_whisper(pts("srv.slow", 10, 20), d, archives="10:200", merge=True)
        q.processAllAvailable()
        got = spark.table("lag_tail").groupBy("metric").count().collect()
        counts = {r["metric"]: r["count"] for r in got}
        assert counts == {"srv.fast": 30, "srv.slow": 20}
    finally:
        q.stop()


def test_stream_rollup_replay_entry_reentrant(spark, sf_dir):
    """The driver-visible availableNow replay entry must (a) equal the
    batch rollup bucket-for-bucket and (b) survive being invoked twice in
    one session (memory-sink queryName reuse)."""
    from whisper_pandas_spark.queries_rollup import _oracle_rollup, _spark_rollup
    from whisper_pandas_spark.queries_streaming import _ORACLE, stream_rollup_replay

    # the inlined oracle must stay in lock-step with rollup_average's
    assert " ".join(_ORACLE.split()) == " ".join(_oracle_rollup("average").split())
    got1 = stream_rollup_replay(spark, sf_dir).collect()
    got2 = stream_rollup_replay(spark, sf_dir).collect()
    batch = _spark_rollup(spark, sf_dir, "average").collect()
    assert got1 == got2 == batch


def test_whisper_stream_survives_corrupt_file(spark, tmp_path):
    """A half-written file appearing in a LIVE tree must not kill the
    stream when on_error=skip: the healthy file keeps emitting, the
    corrupt one contributes nothing, and once it heals (is rewritten
    whole) its points flow."""
    from whisper_pandas_spark.sources.whisper import register_whisper
    from whisper_pandas_spark.sources.whisper_write import write_whisper

    register_whisper(spark)
    d = tmp_path / "tree"
    base = 1_599_999_960

    def batch(metric, lo, hi):
        return spark.createDataFrame(
            [(metric, base + 10 * i, float(i)) for i in range(lo, hi)],
            ["metric", "epoch", "value"],
        ).select(
            "metric", F.timestamp_seconds("epoch").alias("timestamp"), "value"
        )

    write_whisper(batch("srv.cpu", 0, 20), str(d), archives="10:200,60:50", merge=True)
    sdf = (
        spark.readStream.format("whisper")
        .option("base_dir", str(d))
        .option("on_error", "skip")
        .load(str(d))
    )
    q = (
        sdf.writeStream.format("memory").queryName("wsp_skip_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("wsp_skip_tail").count() == 20

        # a corrupt file lands mid-stream (half-written copy)
        bad = d / "srv" / "broken.wsp"
        bad.parent.mkdir(parents=True, exist_ok=True)
        bad.write_bytes(b"\x00\x02garbage")
        write_whisper(batch("srv.cpu", 20, 40), str(d), archives="10:200,60:50", merge=True)
        q.processAllAvailable()
        assert q.isActive  # stream survived the corrupt file
        got = spark.table("wsp_skip_tail").collect()
        assert len(got) == 40
        assert {r["metric"] for r in got} == {"srv.cpu"}

        # the file heals (full rewrite) -> its points start flowing
        import shutil

        shutil.rmtree(bad.parent)
        write_whisper(
            batch("srv.disk", 0, 5), str(d), archives="10:200,60:50", merge=True
        )
        q.processAllAvailable()
        metrics = {r["metric"] for r in spark.table("wsp_skip_tail").collect()}
        assert metrics == {"srv.cpu", "srv.disk"}
    finally:
        q.stop()


def test_stream_offsets_carry_mark_through_transient_error(spark, tmp_path):
    """A TRACKED file whose peek fails transiently must keep its last
    known high-water mark in the offset map (on_error=skip). Omitting it
    would make the next committed offset read the file's mark as 0, so
    the whole ring would re-emit once the file heals — duplicating every
    already-emitted point and breaking deterministic replay."""
    import os

    from whisper_pandas_spark.sources.whisper_write import write_whisper
    from whisper_pandas_spark.streaming.source import WhisperStreamReader

    d = tmp_path / "tree"
    base = 1_599_999_960

    def batch(lo, hi):
        return spark.createDataFrame(
            [("srv.cpu", base + 10 * i, float(i)) for i in range(lo, hi)],
            ["metric", "epoch", "value"],
        ).select(
            "metric", F.timestamp_seconds("epoch").alias("timestamp"), "value"
        )

    write_whisper(batch(0, 20), str(d), archives="10:200,60:50", merge=True)
    opts = {"path": str(d), "base_dir": str(d), "on_error": "skip"}
    reader = WhisperStreamReader(opts)
    off1 = reader.latestOffset()
    [f] = list(off1["files"])
    mark = off1["files"][f]
    assert mark == base + 10 * 19

    # the tracked file turns unreadable (half-written rewrite in place)
    good_bytes = open(f, "rb").read()
    with open(f, "wb") as fh:
        fh.write(b"\x00\x02garbage")
    os.utime(f, (1, 1))  # force an mtime change -> cache miss -> re-peek
    off2 = reader.latestOffset()
    assert off2["files"].get(f) == mark  # carried forward, not dropped
    # and nothing is planned for re-emission across that offset range
    parts = reader.partitions(off1, off2)
    assert all(p.path == "" for p in parts)

    # cold-cache path (driver restart): a fresh reader that has only
    # seen commit() must also carry the committed mark forward
    r2 = WhisperStreamReader(opts)
    r2.commit(off1)
    off3 = r2.latestOffset()
    assert off3["files"].get(f) == mark

    # the file heals with 5 NEW points -> exactly the delta is planned
    with open(f, "wb") as fh:
        fh.write(good_bytes)
    write_whisper(batch(0, 25), str(d), archives="10:200,60:50", merge=True)
    off4 = reader.latestOffset()
    assert off4["files"][f] == base + 10 * 24
    delta = [r for p in reader.partitions(off2, off4) for r in p.ranges]
    assert delta and all(r.ts_lo == mark + 1 for r in delta)


def test_stream_near_dup_replay_matches_batch(spark, sf_dir):
    """The incremental replay entry must (a) carry the same oracle text
    as the batch minhash entry, (b) equal the batch lsh_pairs result
    pair-for-pair (each pair emitted exactly once, in the younger side's
    micro-batch), and (c) survive being invoked twice in one session."""
    from whisper_pandas_spark.queries_dedup import _minhash_oracle, dedup_minhash_lsh
    from whisper_pandas_spark.queries_streaming import stream_near_dup_replay
    from whisper_pandas_spark.registry import ORACLES

    assert " ".join(ORACLES["stream_near_dup_replay"].split()) == " ".join(
        _minhash_oracle().split()
    ), "streaming replay oracle drifted from the batch minhash oracle"
    got1 = stream_near_dup_replay(spark, sf_dir).collect()
    got2 = stream_near_dup_replay(spark, sf_dir).collect()
    batch = dedup_minhash_lsh(spark, sf_dir).collect()
    assert got1 == got2 == batch
    assert len(got1) > 0  # the corpus has planted near-dups at every sf


def test_stream_offsets_never_regress_on_stale_overwrite(spark, tmp_path):
    """A tracked file overwritten IN PLACE by an OLDER parseable copy
    (stale rsync, half-restored backup) reports a regressed max_ts from
    a successful peek — the mark must still floor at the committed
    high-water mark, or every point in (stale, committed] re-emits when
    the file catches back up."""
    import os

    from whisper_pandas_spark.sources.whisper_write import write_whisper
    from whisper_pandas_spark.streaming.source import WhisperStreamReader

    d = tmp_path / "tree"
    base = 1_599_999_960

    def batch(lo, hi):
        return spark.createDataFrame(
            [("srv.cpu", base + 10 * i, float(i)) for i in range(lo, hi)],
            ["metric", "epoch", "value"],
        ).select(
            "metric", F.timestamp_seconds("epoch").alias("timestamp"), "value"
        )

    write_whisper(batch(0, 10), str(d), archives="10:200", merge=True)
    opts = {"path": str(d), "base_dir": str(d), "on_error": "skip"}
    reader = WhisperStreamReader(opts)
    [f] = list(reader.latestOffset()["files"])
    stale_bytes = open(f, "rb").read()  # snapshot at mark base+90

    write_whisper(batch(10, 20), str(d), archives="10:200", merge=True)
    off_new = reader.latestOffset()
    mark = off_new["files"][f]
    assert mark == base + 10 * 19
    reader.commit(off_new)

    # stale overwrite: parses fine, reports base+90 < committed mark
    with open(f, "wb") as fh:
        fh.write(stale_bytes)
    os.utime(f, (1, 1))
    off_stale = reader.latestOffset()
    assert off_stale["files"][f] == mark  # floored, not regressed
    assert all(
        p.path == "" for p in reader.partitions(off_new, off_stale)
    )  # nothing re-emits


# -- streaming CDC merge sink ---------------------------------------------


def test_stream_merge_into_parquet_matches_batch_merge(spark, tmp_path):
    from whisper_pandas_spark.operators.merge import read_current_state
    from whisper_pandas_spark.streaming.sink import stream_merge_into_parquet

    # change log: two parquet files = (at least) two micro-batches under
    # maxFilesPerTrigger; later seq for key 1 must win, key 2 deleted,
    # key 5 inserted late
    c1 = spark.createDataFrame(
        [(1, "a", 10, False), (2, "b", 11, False), (3, "c", 12, False)],
        "k long, v string, seq long, del boolean",
    )
    c2 = spark.createDataFrame(
        [(1, "a2", 20, False), (2, None, 21, True), (5, "e", 22, False)],
        "k long, v string, seq long, del boolean",
    )
    src = tmp_path / "changes"
    c1.coalesce(1).write.parquet(str(src / "f1"))
    c2.coalesce(1).write.parquet(str(src / "f2"))
    sdf = (
        spark.readStream.schema("k long, v string, seq long, del boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    base = str(tmp_path / "table")
    q = stream_merge_into_parquet(
        sdf,
        base,
        "k",
        "seq",
        delete_col="del",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # availableNow semantics via awaiting the bounded file stream
    q.processAllAvailable()
    q.stop()
    state = read_current_state(spark, base, delete_col="del", seq_col="seq")
    got = {r["k"]: r["v"] for r in state.collect()}
    assert got == {1: "a2", 3: "c", 5: "e"}  # update / keep / insert; 2 deleted


def test_stream_merge_batch_replay_and_fresh_checkpoint(spark, tmp_path):
    from pathlib import Path

    from whisper_pandas_spark.operators.merge import (
        current_version_path,
        read_current_state,
    )
    from whisper_pandas_spark.streaming.sink import stream_merge_into_parquet

    changes = spark.createDataFrame(
        [(1, "x", 1, False), (1, "y", 2, False)],
        "k long, v string, seq long, del boolean",
    )
    src = tmp_path / "changes"
    changes.coalesce(1).write.parquet(str(src / "f1"))
    sdf = spark.readStream.schema(
        "k long, v string, seq long, del boolean"
    ).parquet(str(src / "*"))
    base = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    q = stream_merge_into_parquet(
        sdf, base, "k", "seq", delete_col="del", checkpoint_dir=ckpt
    )
    q.processAllAvailable()
    q.stop()
    cur1 = current_version_path(base)
    # within-batch compression: seq 2 wins, picked as a whole row
    state = read_current_state(spark, base, delete_col="del", seq_col="seq")
    assert [r["v"] for r in state.collect()] == ["y"]
    # marker is checkpoint-scoped
    assert (Path(cur1) / "_LAST_BATCH").read_text() == f"{ckpt}:0"

    # same checkpoint, same batch replayed (fresh query, same ckpt dir
    # with no new input): nothing new to process — chain unchanged
    q1b = stream_merge_into_parquet(
        sdf, base, "k", "seq", delete_col="del", checkpoint_dir=ckpt
    )
    q1b.processAllAvailable()
    q1b.stop()
    assert current_version_path(base) == cur1

    # FRESH checkpoint: a different stream id — its batch 0 is NEW data
    # as far as the marker knows, so it re-merges... idempotently: the
    # version may advance but the visible state cannot change
    q2 = stream_merge_into_parquet(
        sdf, base, "k", "seq", delete_col="del",
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    q2.processAllAvailable()
    q2.stop()
    state2 = read_current_state(spark, base, delete_col="del", seq_col="seq")
    assert [r["v"] for r in state2.collect()] == ["y"]


def test_stream_merge_no_checkpoint_restart_drops_nothing(spark, tmp_path):
    """ADVICE r5 (medium): without a checkpoint, batch ids are not
    durable — a restarted query renumbers from 0, so honoring a marker
    would wrongly skip its early batches. The checkpoint-less path must
    write no marker and re-merge everything (idempotently)."""
    from pathlib import Path

    from whisper_pandas_spark.operators.merge import (
        current_version_path,
        read_current_state,
    )
    from whisper_pandas_spark.streaming.sink import stream_merge_into_parquet

    src = tmp_path / "changes"
    schema = "k long, v string, seq long, del boolean"
    spark.createDataFrame([(1, "x", 1, False)], schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    base = str(tmp_path / "table")

    sdf = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = stream_merge_into_parquet(sdf, base, "k", "seq", delete_col="del")
    q.processAllAvailable()
    q.stop()
    cur = current_version_path(base)
    assert not (Path(cur) / "_LAST_BATCH").exists()

    # restart WITHOUT a checkpoint: the query re-reads f1 as its batch 0
    # AND sees the new file f2 — under the old shared '<no-checkpoint>'
    # marker both would have been skipped (batch ids restarted at 0)
    spark.createDataFrame([(2, "new", 2, False)], schema).coalesce(1).write.parquet(
        str(src / "f2")
    )
    q2 = stream_merge_into_parquet(sdf, base, "k", "seq", delete_col="del")
    q2.processAllAvailable()
    q2.stop()
    state = read_current_state(spark, base, delete_col="del", seq_col="seq")
    got = {r["k"]: r["v"] for r in state.collect()}
    assert got == {1: "x", 2: "new"}


def test_stream_sketch_update_exact_and_replay_safe(spark, tmp_path):
    """Streaming quantile-sketch maintenance: final state equals the
    batch sketch of all data regardless of micro-batch geometry; a
    restart under the same checkpoint re-merges nothing (additive merge
    + batch markers = exactly-once); checkpoint-less use refuses."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.operators.sketches import hist_shard_sketches
    from whisper_pandas_spark.streaming.sketches import stream_sketch_update

    rows = [(i, "g" + str(i % 2), i % 50) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, grp string, v long")
    src = tmp_path / "changes"
    df.filter(F.col("id") < 150).coalesce(1).write.parquet(str(src / "f1"))
    df.filter((F.col("id") >= 150) & (F.col("id") < 300)).coalesce(1).write.parquet(str(src / "f2"))
    df.filter(F.col("id") >= 300).coalesce(1).write.parquet(str(src / "f3"))

    base = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    sdf = (
        spark.readStream.schema("id long, grp string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_sketch_update(sdf, base, ("grp",), "v", 0.0, 50.0, 50, ckpt)
    q.processAllAvailable()
    q.stop()

    cur = current_version_path(base)
    assert Path(cur).name == "v2"  # one version per micro-batch
    got = {r["grp"]: r["cnt"] for r in spark.read.parquet(cur).collect()}
    want = {
        r["grp"]: r["cnt"]
        for r in hist_shard_sketches(df, ("grp",), "v", 0.0, 50.0, 50).collect()
    }
    assert got == want  # merged == whole-data sketch, element-wise exact

    # restart under the same checkpoint: no new input -> state unchanged
    q2 = stream_sketch_update(sdf, base, ("grp",), "v", 0.0, 50.0, 50, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert current_version_path(base) == cur
    got2 = {r["grp"]: r["cnt"] for r in spark.read.parquet(cur).collect()}
    assert got2 == want  # nothing double-counted

    import pytest as _pt

    with _pt.raises(ValueError, match="checkpoint_dir is required"):
        stream_sketch_update(sdf, base, ("grp",), "v", 0.0, 50.0, 50, "")


def test_stream_merge_out_of_order_batches_converge(spark, tmp_path):
    """The file source delivers f1 before f2 (mtime order); f1 carries
    the NEWER seqs. The seq-aware merge must not let f2's stale batch
    regress state or resurrect f1's delete."""
    import time

    from whisper_pandas_spark.operators.merge import read_current_state
    from whisper_pandas_spark.streaming.sink import stream_merge_into_parquet

    newer = spark.createDataFrame(
        [(1, "new", 20, False), (2, None, 21, True)],
        "k long, v string, seq long, del boolean",
    )
    stale = spark.createDataFrame(
        [(1, "old", 10, False), (2, "zombie", 11, False), (3, "c", 12, False)],
        "k long, v string, seq long, del boolean",
    )
    src = tmp_path / "changes"
    newer.coalesce(1).write.parquet(str(src / "f1"))
    time.sleep(1.1)  # distinct mtimes => deterministic file order
    stale.coalesce(1).write.parquet(str(src / "f2"))
    sdf = (
        spark.readStream.schema("k long, v string, seq long, del boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    base = str(tmp_path / "table")
    q = stream_merge_into_parquet(
        sdf, base, "k", "seq", delete_col="del",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["k"]: r["v"]
        for r in read_current_state(
            spark, base, delete_col="del", seq_col="seq"
        ).collect()
    }
    # k=1 keeps the newer value, k=2 stays deleted, k=3 (new key) lands
    assert got == {1: "new", 3: "c"}


def test_stream_kmv_update_converges_and_replay_is_idempotent(spark, tmp_path):
    """Streaming KMV maintenance: final state equals the direct batch
    sketch (set-union mergeability), and re-merging an already-included
    batch leaves the state bit-identical — the at-least-once safety
    the additive histogram merge does not have."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.operators.sketches import (
        kmv_rollup,
        kmv_shard_sketches,
    )
    from whisper_pandas_spark.streaming.sketches import stream_kmv_update

    rows = [("a" if i % 3 else "b", f"u{i % 41}") for i in range(300)]
    df = spark.createDataFrame(rows, "grp string, user string")
    d = str(tmp_path)
    df.filter(F.length("user") <= 2).coalesce(1).write.parquet(f"{d}/c/f1")
    df.filter(F.length("user") > 2).coalesce(1).write.parquet(f"{d}/c/f2")
    sdf = (
        spark.readStream.schema("grp string, user string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/c/*")
    )
    q = stream_kmv_update(
        sdf, f"{d}/state", ("grp",), "user", k=32,
        checkpoint_dir=f"{d}/ckpt",
    )
    q.processAllAvailable()
    q.stop()
    state = spark.read.parquet(current_version_path(f"{d}/state"))
    got = {r["grp"]: (r["k"], r["hs"]) for r in state.collect()}
    direct = {
        r["grp"]: (r["k"], r["hs"])
        for r in kmv_shard_sketches(df, ("grp",), "user", k=32).collect()
    }
    assert got == direct
    # idempotence: merging ANY already-included batch changes nothing
    batch1 = kmv_shard_sketches(
        df.filter(F.length("user") <= 2), ("grp",), "user", k=32
    )
    remerged = {
        r["grp"]: (r["k"], r["hs"])
        for r in kmv_rollup(
            state.select("grp", "k", "hs").unionByName(batch1), ("grp",)
        ).collect()
    }
    assert remerged == got


def test_stream_bucket_sums_update_exact_and_replay_safe(spark, tmp_path):
    """Streaming changepoint-state maintenance: final bucket-sum state
    equals the batch recompute regardless of micro-batch geometry; a
    restart under the same checkpoint re-merges nothing; checkpoint-less
    use refuses (additive merge)."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.changepoint import bucket_sums
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.streaming.changepoint import (
        stream_bucket_sums_update,
    )

    rows = [
        (i, f"2024-03-{(i % 9) + 1:02d} 06:00:00", "g" + str(i % 2), float(i % 7))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, ts string, grp string, v double").select(
        "id", F.col("ts").cast("timestamp").alias("ts"), "grp", "v"
    )
    src = tmp_path / "changes"
    df.filter(F.col("id") < 100).coalesce(1).write.parquet(str(src / "f1"))
    df.filter((F.col("id") >= 100) & (F.col("id") < 200)).coalesce(1).write.parquet(str(src / "f2"))
    df.filter(F.col("id") >= 200).coalesce(1).write.parquet(str(src / "f3"))

    base = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    sdf = (
        spark.readStream.schema("id long, ts timestamp, grp string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_bucket_sums_update(
        sdf, base, ("grp",), "ts", "v", checkpoint_dir=ckpt
    )
    q.processAllAvailable()
    q.stop()

    cur = current_version_path(base)
    assert Path(cur).name == "v2"
    key = lambda r: (r["grp"], str(r["bucket_ts"]))
    got = {key(r): r["y"] for r in spark.read.parquet(cur).collect()}
    want = {key(r): r["y"] for r in bucket_sums(df, ["grp"], "ts", "v").collect()}
    assert got == want

    q2 = stream_bucket_sums_update(
        sdf, base, ("grp",), "ts", "v", checkpoint_dir=ckpt
    )
    q2.processAllAvailable()
    q2.stop()
    assert current_version_path(base) == cur
    assert {key(r): r["y"] for r in spark.read.parquet(cur).collect()} == want

    import pytest as _pt

    with _pt.raises(ValueError, match="checkpoint_dir is required"):
        stream_bucket_sums_update(sdf, base, ("grp",), "ts", "v", checkpoint_dir="")


def test_stream_topk_update_exact_replay_safe_and_bounded(spark, tmp_path):
    """Streaming top-k: exact regime equals the batch recompute across
    micro-batch geometry; replay under the same checkpoint is a no-op;
    in the TRUNCATED regime the two-sided bound lo <= true <= lo +
    rest_max holds for every surviving item."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.operators.sketches import topk_rollup
    from whisper_pandas_spark.streaming.sketches import stream_topk_update

    rows = [(i, "g", f"it{i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, grp string, it string")
    src = tmp_path / "changes"
    df.filter(F.col("id") < 100).coalesce(1).write.parquet(str(src / "f1"))
    df.filter(F.col("id") >= 100).coalesce(1).write.parquet(str(src / "f2"))
    base, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    sdf = (
        spark.readStream.schema("id long, grp string, it string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_topk_update(sdf, base, ("grp",), "it", 16, checkpoint_dir=ckpt)
    q.processAllAvailable(); q.stop()
    cur = current_version_path(base)
    got = {
        (r.rnk, r.item): (r.count_lo, r.count_hi)
        for r in topk_rollup(spark.read.parquet(cur), ("grp",), 7).collect()
    }
    true = {f"it{j}": sum(1 for i in range(200) if i % 7 == j) for j in range(7)}
    ranked = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))
    want = {
        (rnk, it): (c, c) for rnk, (it, c) in enumerate(ranked, start=1)
    }
    assert got == want  # exact regime across two micro-batches

    q2 = stream_topk_update(sdf, base, ("grp",), "it", 16, checkpoint_dir=ckpt)
    q2.processAllAvailable(); q2.stop()
    assert current_version_path(base) == cur  # replay no-op

    # truncated regime: capacity 3 over 7 items, two batches
    base2, ckpt2 = str(tmp_path / "state2"), str(tmp_path / "ckpt2")
    q3 = stream_topk_update(sdf, base2, ("grp",), "it", 3, checkpoint_dir=ckpt2)
    q3.processAllAvailable(); q3.stop()
    state2 = spark.read.parquet(current_version_path(base2)).collect()[0]
    assert state2.rest_max > 0
    for e in state2.items:
        assert e.cnt <= true[e.item] <= e.cnt + state2.rest_max
