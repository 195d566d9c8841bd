"""Golden tests for the Whisper DataSource + meta API, porting the
reference's test strategy (SURVEY.md §5; reference assertions at
/root/reference/test_whisper_pandas.py:19-103) onto synthetic fixtures.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.wsp_fixtures import DEFAULT_ARCHIVES, END_TS, build_wsp


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    d = tmp_path_factory.mktemp("wsp")
    (d / "sensors").mkdir()
    golden = build_wsp(str(d / "sensors" / "temp.wsp"))
    build_wsp(str(d / "sensors" / "hum.wsp"), seed=7)
    build_wsp(str(d / "gz.wsp.gz"), gzip_out=True)
    # header (16+36=52B) + a bit of data, well short of full size
    build_wsp(str(d / "trunc.wsp"), truncate_to=5_000)
    return d, golden


def test_header_golden(fixtures):
    from whisper_pandas_spark.sources.format import read_header

    d, _ = fixtures
    info = read_header(str(d / "sensors" / "temp.wsp"))
    assert info.aggregation_method == "average"
    assert info.x_files_factor == pytest.approx(0.5)
    assert info.archive_count == 3
    assert info.header_size == 16 + 12 * 3
    assert [(a.seconds_per_point, a.points) for a in info.archives] == [
        (10, 1600), (60, 5300), (3600, 90)
    ]
    assert info.archives[0].retention == 16000
    assert info.archives[0].size == 12 * 1600
    assert info.file_size == info.header_size + 12 * (1600 + 5300 + 90)
    assert info.file_size_mismatch is False


def test_header_truncated(fixtures):
    """Truncated file: header parses, mismatch exposed, not enforced
    (reference: test_whisper_pandas.py:100-103)."""
    from whisper_pandas_spark.sources.format import read_header

    d, _ = fixtures
    info = read_header(str(d / "trunc.wsp"))
    assert info.archive_count == 3
    assert info.file_size_actual == 5_000
    assert info.file_size_mismatch is True


def test_header_gzip_and_bad_compression(fixtures):
    from whisper_pandas_spark.sources.format import read_header

    d, _ = fixtures
    info = read_header(str(d / "gz.wsp.gz"))
    assert info.archive_count == 3
    assert info.file_size_mismatch is True  # compressed on-disk size differs
    with pytest.raises(ValueError, match="Invalid compression"):
        read_header(str(d / "gz.wsp.gz"), compression="bogus")


def test_scan_golden(spark, fixtures):
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d, golden = fixtures
    df = spark.read.format("whisper").load(str(d / "sensors" / "temp.wsp"))
    assert [f.name for f in df.schema.fields] == [
        "metric", "archive", "slot", "timestamp", "value"
    ]
    pdf = df.toPandas()
    # per-archive filled row counts match the generator
    for i, (spp, points, fill) in enumerate(DEFAULT_ARCHIVES):
        sub = pdf[pdf.archive == i]
        assert len(sub) == len(golden[i].filled)
        # chronological order within archive partitions → global compare via sort
        sub = sub.sort_values("timestamp")
        ts = sub.timestamp.astype("int64") // 10**9
        np.testing.assert_array_equal(ts.to_numpy(), golden[i].filled[:, 0])
        np.testing.assert_allclose(
            sub.value.to_numpy(), golden[i].filled[:, 1], atol=1e-5
        )
        # timestamps unique + monotonic per archive (reference :62-67)
        assert ts.is_unique and ts.is_monotonic_increasing
        # newest point is END_TS
        assert ts.iloc[-1] == END_TS
    assert (pdf.metric == "temp").all()


def test_scan_ring_wrap_slot(spark, fixtures):
    """Earliest timestamp lives at a mid-buffer slot (ring wrap —
    reference: test_whisper_pandas.py:47-51)."""
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d, golden = fixtures
    pdf = (
        spark.read.format("whisper")
        .load(str(d / "sensors" / "temp.wsp"))
        .filter("archive = 0")
        .toPandas()
        .sort_values("timestamp")
    )
    first_slot = pdf.slot.iloc[0]
    ts0 = int(pdf.timestamp.iloc[0].timestamp())
    assert first_slot == (ts0 // 10) % 1600
    assert first_slot != 0  # wrapped


def test_scan_options(spark, fixtures):
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d, golden = fixtures
    path = str(d / "sensors" / "temp.wsp")
    # to_datetime=false → LONG epoch; dtype=float32 → FLOAT
    df = (
        spark.read.format("whisper")
        .option("to_datetime", "false")
        .option("dtype", "float32")
        .load(path)
    )
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["timestamp"] == "bigint"
    assert types["value"] == "float"
    row = df.filter("archive = 2").orderBy("timestamp").limit(1).collect()[0]
    assert row.timestamp == int(golden[2].filled[0, 0])
    # drop_time_zero=false → all declared slots surface
    df_all = (
        spark.read.format("whisper").option("drop_time_zero", "false").load(path)
    )
    counts = {r["archive"]: r["count"] for r in df_all.groupBy("archive").count().collect()}
    assert counts == {0: 1600, 1: 5300, 2: 90}


def test_scan_directory_multi_file(spark, fixtures):
    """A directory of .wsp files is ONE DataFrame with a metric column."""
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d, _ = fixtures
    df = spark.read.format("whisper").load(str(d / "sensors"))
    metrics = {r.metric for r in df.select("metric").distinct().collect()}
    assert metrics == {"temp", "hum"}


def test_scan_gzip(spark, fixtures):
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d, _ = fixtures
    df = spark.read.format("whisper").load(str(d / "gz.wsp.gz"))
    assert df.count() == sum(
        max(1, int(p * f)) for _, p, f in DEFAULT_ARCHIVES
    )


def test_meta_dataframes(spark, fixtures):
    from whisper_pandas_spark.sources.meta import archive_meta, file_meta

    d, _ = fixtures
    fm = file_meta(spark, str(d / "sensors")).toPandas()
    assert len(fm) == 2
    assert set(fm.aggregation_method) == {"average"}
    am = archive_meta(spark, str(d / "sensors")).toPandas()
    assert len(am) == 6
    assert set(am.seconds_per_point) == {10, 60, 3600}


def test_cli(fixtures, capsys):
    from whisper_pandas_spark.cli import main

    d, _ = fixtures
    main([str(d / "sensors" / "temp.wsp")])
    out = capsys.readouterr().out
    assert "aggregation_method:  average" in out
    assert "archive_count:       3" in out
    # explicit subcommand form is equivalent (bare paths = reference CLI)
    main(["info", str(d / "sensors" / "temp.wsp")])
    assert "archive_count:       3" in capsys.readouterr().out


def test_cli_convert_materializes_parquet(spark, fixtures, tmp_path, capsys):
    """`convert` writes metric-partitioned parquet equal to the scan."""
    from whisper_pandas_spark.cli import main
    from whisper_pandas_spark.sources.whisper import register_whisper

    d, _ = fixtures
    out = str(tmp_path / "pq")
    main(["convert", str(d / "sensors"), out])
    text = capsys.readouterr().out
    assert "wrote" in text and "partitioned by metric" in text
    register_whisper(spark)
    scan_n = (
        spark.read.format("whisper").load(str(d / "sensors")).count()
    )
    pq = spark.read.parquet(out)
    assert pq.count() == scan_n
    assert "metric" in pq.columns


def test_cli_no_args_usage(capsys):
    """Bare invocation prints usage and exits 2 (no AttributeError)."""
    import pytest

    from whisper_pandas_spark.cli import main

    with pytest.raises(SystemExit) as exc:
        main([])
    assert exc.value.code == 2
    assert "usage:" in capsys.readouterr().out


def test_timestamp_pushdown_equivalence(spark, fixtures):
    """Pushed timestamp bounds must be lossless: filtered scan == full scan
    + post-filter, for both TIMESTAMP and LONG epoch columns."""
    from pyspark.sql import functions as F

    d, _ = fixtures
    path = str(d / "sensors" / "temp.wsp")
    full = spark.read.format("whisper").load(path).collect()
    mid = sorted(r["timestamp"] for r in full)[len(full) // 2]

    pushed = (
        spark.read.format("whisper").load(path)
        .filter(F.col("timestamp") >= F.lit(mid))
        .collect()
    )
    want = [r for r in full if r["timestamp"] >= mid]
    assert sorted((r["archive"], r["slot"]) for r in pushed) == sorted(
        (r["archive"], r["slot"]) for r in want
    )

    # LONG epoch variant (to_datetime=false): bounds arrive as ints
    full_l = (
        spark.read.format("whisper").option("to_datetime", "false").load(path).collect()
    )
    mid_ep = sorted(r["timestamp"] for r in full_l)[len(full_l) // 2]
    pushed_l = (
        spark.read.format("whisper").option("to_datetime", "false").load(path)
        .filter((F.col("timestamp") > F.lit(mid_ep)) & (F.col("timestamp") < F.lit(mid_ep + 7 * 86400)))
        .collect()
    )
    want_l = [r for r in full_l if mid_ep < r["timestamp"] < mid_ep + 7 * 86400]
    assert len(pushed_l) == len(want_l)


def test_materialize_roundtrip(spark, fixtures, tmp_path):
    """Whisper -> partitioned parquet -> read back: same rows, metric
    directories on disk, and parquet scans get partition pruning."""
    from whisper_pandas_spark.sources.materialize import (
        materialize_to_parquet,
        read_whisper,
    )

    d, _ = fixtures
    src = str(d / "sensors")
    out = str(tmp_path / "pq")
    back = materialize_to_parquet(spark, src, out, with_date=True)

    direct = read_whisper(spark, src)
    assert back.count() == direct.count()
    a = sorted(
        (r["metric"], r["archive"], r["slot"], r["value"]) for r in back.collect()
    )
    b = sorted(
        (r["metric"], r["archive"], r["slot"], r["value"]) for r in direct.collect()
    )
    assert a == b
    import os

    dirs = os.listdir(out)
    assert any(x.startswith("metric=") for x in dirs)

    # time_sorted layout: every written file is internally timestamp-
    # ordered (tight disjoint row-group min/max ranges for skipping)
    import glob as g

    import pyarrow.parquet as pq

    for f in g.glob(f"{out}/**/*.parquet", recursive=True):
        ts = pq.read_table(f, columns=["timestamp"])["timestamp"].to_pylist()
        assert ts == sorted(ts), f


def test_read_whisper_total_sort(spark, fixtures):
    from whisper_pandas_spark.sources.materialize import read_whisper

    d, _ = fixtures
    df = read_whisper(spark, str(d / "sensors"), total_sort=True)
    rows = df.select("metric", "timestamp").collect()
    assert rows == sorted(rows, key=lambda r: (r["metric"], r["timestamp"]))


def test_metric_filter_prunes_partitions(spark, fixtures):
    """metric equality must prune at PARTITION PLANNING time (driver skips
    whole files), not merely mask rows: Spark pushes the filter and the
    planner plans only the matching file's ranges."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo

    from whisper_pandas_spark.plans.inspect import formatted_plan
    from whisper_pandas_spark.sources.whisper import WhisperScanReader

    d, _ = fixtures
    path = str(d / "sensors")
    pruned = spark.read.format("whisper").load(path).filter(
        F.col("metric") == "temp"
    )
    pushed = [ln for ln in formatted_plan(pruned).splitlines() if "PushedFilters" in ln]
    assert "EqualTo(metric,temp)" in pushed[0]
    assert {r["metric"] for r in pruned.select("metric").distinct().collect()} == {"temp"}

    full, _ = WhisperScanReader({"path": path}).plan_ranges()
    assert {r.path for r in full} == {str(d / "sensors" / f) for f in ("temp.wsp", "hum.wsp")}
    reader = WhisperScanReader({"path": path})
    assert list(reader.pushFilters([EqualTo(("metric",), "temp")])) == []
    ranges, _ = reader.plan_ranges()
    assert {r.path for r in ranges} == {str(d / "sensors" / "temp.wsp")}


def test_fetch_selects_archive_and_pushes_bounds(spark, tmp_path):
    """Graphite fetch semantics: finest archive covering (now - from),
    both predicates pushed into the source."""
    from wsp_fixtures import END_TS, build_wsp

    from whisper_pandas_spark.sources.fetch import fetch, select_archive

    p = str(tmp_path / "f.wsp")
    synth = build_wsp(p)  # archives: 10s x 1600 (16ks), 60s x 5300, 3600s x 90

    # short span -> archive 0; beyond fine retention -> archive 1
    assert select_archive(p, 1000) == 0
    assert select_archive(p, 10 * 1600 + 1) == 1
    assert select_archive(p, 10**9) == 2  # beyond all retentions -> coarsest

    lo, hi = END_TS - 500, END_TS - 100
    df = fetch(spark, p, lo, hi, now_epoch=END_TS)
    rows = df.collect()
    assert {r["archive"] for r in rows} == {0}
    got = sorted(int(r["timestamp"].timestamp()) for r in rows)
    exp = sorted(
        int(t) for t, _ in synth[0].filled if lo <= t <= hi
    )
    assert got == exp and len(got) == 41

    # the timestamp bounds and archive equality must reach the source
    # (and be consumed: no residual post-scan Filter)
    from whisper_pandas_spark.plans.inspect import formatted_plan

    plan = formatted_plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "EqualTo(archive,0)" in pushed, plan
    assert "GreaterThanOrEqual(timestamp" in pushed, plan
    assert "LessThanOrEqual(timestamp" in pushed, plan
    assert "(3) Filter" not in plan, plan
    # archive selection spanning into the coarse archive
    df2 = fetch(spark, p, END_TS - 10 * 1600 - 50, END_TS, now_epoch=END_TS)
    assert {r["archive"] for r in df2.collect()} == {1}


def test_metric_prefix_pushdown_prunes_partitions(spark, fixtures):
    """`metric LIKE 'sensors.%'` (StringStartsWith) must prune the other
    files' partitions at PLANNING time and stay lossless."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.sources.whisper import WhisperScanReader

    d, _ = fixtures
    path = str(d / "sensors")

    full = spark.read.format("whisper").option("base_dir", str(d)).load(path)
    pushed = full.filter(F.col("metric").startswith("sensors.temp"))
    expected = [r for r in full.collect() if r["metric"].startswith("sensors.temp")]
    got = pushed.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))
    assert {r["metric"] for r in got} == {"sensors.temp"}

    # planner-level proof: the reader plans no ranges for hum.wsp
    reader = WhisperScanReader({"path": path, "base_dir": str(d)})
    from pyspark.sql.datasource import StringStartsWith

    consumed = list(reader.pushFilters([StringStartsWith(("metric",), "sensors.temp")]))
    assert consumed == []  # filter fully consumed
    ranges, _ = reader.plan_ranges()
    assert ranges and all(r.metric == "sensors.temp" for r in ranges)


def test_fully_pruned_scan_returns_empty(spark, fixtures):
    """Filters that prune EVERY partition must yield an empty DataFrame,
    not crash (Spark invokes read(None) on an empty partition list; the
    planner emits an explicit empty sentinel instead)."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d, _ = fixtures
    df = spark.read.format("whisper").option("base_dir", str(d)).load(
        str(d / "sensors")
    )
    assert df.filter(F.col("metric") == "no.such.metric").count() == 0
    assert df.filter(F.col("metric").startswith("zzz")).count() == 0
    assert df.filter(F.col("archive") == 99).count() == 0


def test_fetch_gzip_and_directory(spark, tmp_path):
    """fetch() resolves gzip files and directory trees (archive selected
    from the first file's header — uniform-retention assumption)."""
    from wsp_fixtures import END_TS, build_wsp

    from whisper_pandas_spark.sources.fetch import fetch

    d = tmp_path / "tree"
    (d / "sub").mkdir(parents=True)
    build_wsp(str(d / "sub" / "a.wsp"))
    build_wsp(str(d / "sub" / "b.wsp.gz"), seed=5, gzip_out=True)

    lo, hi = END_TS - 300, END_TS
    rows = fetch(spark, str(d), lo, hi, now_epoch=END_TS).collect()
    mets = {r["metric"] for r in rows}
    assert len(mets) == 2  # both plain and gzip files contribute
    assert {r["archive"] for r in rows} == {0}
    assert all(
        lo <= int(r["timestamp"].timestamp()) <= hi for r in rows
    )


def _raw_wsp(path, archives, points_by_archive, agg=1, xff=0.5):
    """Hand-craft a .wsp: archives = [(offset, spp, points)], points_by_archive
    = {archive_index: [(slot, ts, value), ...]}. Returns nothing; slots not
    listed stay zeroed (empty)."""
    import struct

    FILE_HEADER = struct.Struct(">LLfL")
    ARCHIVE_HEADER = struct.Struct(">LLL")
    POINT = struct.Struct(">Ld")
    max_ret = max(spp * pts for _, spp, pts in archives)
    buf = bytearray(FILE_HEADER.pack(agg, max_ret, xff, len(archives)))
    for off, spp, pts in archives:
        buf += ARCHIVE_HEADER.pack(off, spp, pts)
    end = max(off + 12 * pts for off, _, pts in archives)
    buf += b"\x00" * (end - len(buf))
    for ai, pb in points_by_archive.items():
        off = archives[ai][0]
        for slot, ts, val in pb:
            POINT.pack_into(buf, off + 12 * slot, ts, val)
    with open(path, "wb") as f:
        f.write(bytes(buf))


def test_epoch_zero_is_empty_not_a_timestamp(spark, tmp_path):
    """SURVEY §7 hard point 5: ts==0 means EMPTY SLOT, never the epoch —
    a slot explicitly written as (0, value) must vanish under the default
    drop_time_zero and surface (with its value) only when the option is
    off, exactly the reference convention (whisper_pandas.py:214-215)."""
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    p = str(tmp_path / "zero.wsp")
    header = 16 + 12
    # one archive, 8 slots; slot 3 holds (ts=0, value=7.5) — an "empty"
    # slot that nonetheless carries bytes; slots 1,2 are real points
    _raw_wsp(
        p,
        [(header, 10, 8)],
        {0: [(1, 1000, 1.0), (2, 1010, 2.0), (3, 0, 7.5)]},
    )
    dropped = (
        spark.read.format("whisper").option("to_datetime", "false").load(p)
    )
    got = {(r.timestamp, r.value) for r in dropped.collect()}
    assert got == {(1000, 1.0), (1010, 2.0)}  # (0, 7.5) gone by default
    kept = (
        spark.read.format("whisper")
        .option("to_datetime", "false")
        .option("drop_time_zero", "false")
        .load(p)
    )
    by_slot = {r.slot: (r.timestamp, r.value) for r in kept.collect()}
    assert len(by_slot) == 8  # every declared slot surfaces
    assert by_slot[3] == (0, 7.5)  # the zero-epoch slot keeps its bytes


def test_overlapping_archive_offsets_decode_independently(spark, tmp_path):
    """Archive headers whose data regions OVERLAP (corrupt/adversarial
    header) must not crash or cross-contaminate: each archive decodes its
    declared (offset, points) window; shared bytes appear in both."""
    from whisper_pandas_spark.sources.format import read_header
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    p = str(tmp_path / "overlap.wsp")
    header = 16 + 2 * 12
    # archive 1's offset points INSIDE archive 0's region: arch0 covers
    # slots [0,8) at `header`, arch1 claims 4 slots starting at slot 2
    _raw_wsp(
        p,
        [(header, 10, 8), (header + 12 * 2, 60, 4)],
        {0: [(2, 2000, 9.0), (3, 2010, 8.0)]},
    )
    info = read_header(p)
    assert info.archives[1].offset < info.archives[0].offset + 12 * 8
    pdf = (
        spark.read.format("whisper")
        .option("to_datetime", "false")
        .load(p)
        .toPandas()
    )
    a0 = pdf[pdf.archive == 0].set_index("slot")
    a1 = pdf[pdf.archive == 1].set_index("slot")
    # archive 0 sees its two points at slots 2,3
    assert {(int(r.timestamp), r.value) for r in a0.itertuples()} == {
        (2000, 9.0), (2010, 8.0)
    }
    # archive 1 reads the SAME bytes as its slots 0,1 — byte-window
    # semantics, no error, no phantom rows beyond its declared 4 slots
    assert {(int(r.timestamp), r.value) for r in a1.itertuples()} == {
        (2000, 9.0), (2010, 8.0)
    }


def test_gzip_decompressed_size_mismatch(spark, tmp_path):
    """A .wsp.gz whose DECOMPRESSED size is short of the header's implied
    size: header parsing succeeds, file_size_mismatch is exposed (not
    enforced, whisper_pandas.py:142-145), intact archives still scan, and
    the archive extending past EOF fails with the clean truncation error."""
    import gzip as _gzip

    import pytest as _pytest

    from whisper_pandas_spark.sources.format import (
        read_file_bytes,
        read_header,
        read_points,
    )
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    plain = tmp_path / "sz.wsp"
    header = 16 + 2 * 12
    # arch0: 4 slots right after header; arch1: 6 slots after arch0
    _raw_wsp(
        str(plain),
        [(header, 10, 4), (header + 12 * 4, 60, 6)],
        {0: [(0, 3000, 1.0)], 1: [(0, 3600, 2.0)]},
    )
    raw = plain.read_bytes()
    cut = raw[: header + 12 * 4 + 12 * 2]  # arch1 loses its last 4 slots
    gz = tmp_path / "sz_cut.wsp.gz"
    gz.write_bytes(_gzip.compress(cut))

    info = read_header(str(gz))
    assert info.compression == "gzip"
    assert info.file_size_mismatch  # declared > actual — flagged, tolerated
    buf = read_file_bytes(str(gz))
    # intact archive decodes fine
    pts = read_points(buf, info.archives[0])
    assert int(pts["timestamp"][0]) == 3000
    # the truncated archive's full-slot read reports truncation cleanly
    with _pytest.raises(ValueError, match="truncated"):
        read_points(buf, info.archives[1])
    # the Spark scan of the intact archive (archive pruning) still works
    rows = (
        spark.read.format("whisper")
        .option("to_datetime", "false")
        .load(str(gz))
        .filter("archive = 0")
        .collect()
    )
    assert {(r.timestamp, r.value) for r in rows} == {(3000, 1.0)}


def test_on_error_skip_tolerates_corrupt_files(spark, tmp_path):
    """A million-file tree must survive half-written members: with
    on_error=skip a garbage-header file and a data-truncated file are
    dropped (plan time / scan time respectively) while every healthy
    file still decodes fully; the default mode still fails fast."""
    import pytest as _pytest

    from wsp_fixtures import build_wsp

    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d = tmp_path / "tree"
    d.mkdir()
    golden = build_wsp(str(d / "good.wsp"), archives=[(10, 64, 1.0)])
    # header garbage: not even a parseable archive count
    (d / "badheader.wsp").write_bytes(b"\x00\x01")
    # valid header, data section cut mid-archive
    build_wsp(str(d / "cut.wsp"), archives=[(10, 64, 1.0)], truncate_to=100)

    skipped = (
        spark.read.format("whisper")
        .option("on_error", "skip")
        .option("to_datetime", "false")
        .load(str(d))
    )
    rows = skipped.collect()
    metrics = {r.metric for r in rows}
    assert metrics == {"good"}  # both bad files dropped, good intact
    assert len([r for r in rows]) == len(golden[0].filled)

    with _pytest.raises(Exception):
        spark.read.format("whisper").load(str(d)).collect()

    with _pytest.raises(Exception):
        spark.read.format("whisper").option("on_error", "bogus").load(
            str(d)
        ).collect()


def test_on_error_skip_mixed_tree_chunked_and_adaptive(spark, tmp_path):
    """The 48-file scale scenario in miniature: a tree with one healthy
    member, one data-truncated member (half-written copy), and one
    garbage-header member. With explicit chunking, the truncated file's
    chunks BELOW the cut still decode (scan-time skip is per-partition);
    with the adaptive splitter its single chunk drops whole. The healthy
    file is byte-complete in every case and the garbage header never
    reaches an executor (plan-time drop)."""
    from wsp_fixtures import build_wsp

    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d = tmp_path / "tree"
    d.mkdir()
    good = build_wsp(str(d / "good.wsp"), archives=[(10, 5000, 1.0)])
    # header = 16 + 12 = 28 bytes; cut the data section at slot 2500
    build_wsp(
        str(d / "cut.wsp"),
        archives=[(10, 5000, 1.0)],
        truncate_to=28 + 12 * 2500,
    )
    (d / "garbage.wsp").write_bytes(b"\x00\x01junk")

    # explicit 1000-slot chunks: slots [0,2000) of cut.wsp are intact
    # chunks and decode; [2000,3000) reads short and is skipped; good.wsp
    # is untouched by its neighbor's corruption
    df = (
        spark.read.format("whisper")
        .option("on_error", "skip")
        .option("chunk_points", "1000")
        .option("to_datetime", "false")
        .load(str(d))
    )
    counts = {
        r["metric"]: r["count"] for r in df.groupBy("metric").count().collect()
    }
    assert counts == {"good": len(good[0].filled), "cut": 2000}

    # adaptive splitter (no chunk_points): this tiny tree sizes to one
    # chunk per archive, so the truncated member drops whole — counts are
    # exactly clean-tree-minus-bad-files
    df2 = (
        spark.read.format("whisper")
        .option("on_error", "skip")
        .option("to_datetime", "false")
        .load(str(d))
    )
    counts2 = {
        r["metric"]: r["count"] for r in df2.groupBy("metric").count().collect()
    }
    assert counts2 == {"good": len(good[0].filled)}


def test_u32_timestamp_boundaries_roundtrip(spark, tmp_path):
    """SURVEY §1.3's non-limitation claim, pinned: the reference documents
    a 2038 int32 downcast caveat (whisper_pandas.py:217-221 casts the u32
    timestamps to datetime64 via int32); this engine decodes ``>u4`` ->
    int64 end to end, so timestamps past 2^31 (2038) and right up to the
    format's own ceiling 2^32-1 (2106) survive the write -> scan round
    trip exactly.  One file per boundary: the two ranges are ~2.1e9 s
    apart, far beyond any single ring's retention."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.sources.whisper import register_whisper
    from whisper_pandas_spark.sources.whisper_write import write_whisper

    register_whisper(spark)
    step = 10
    base38 = (2**31 // step) * step  # 2147483640 < 2^31 < base38 + step
    cases = {
        # straddle 2^31: the int32-downcast failure point (2038-01-19).
        # All points step-aligned — the writer buckets to the step grid.
        "epoch2038": [base38 - 2 * step, base38 - step, base38,
                      base38 + step],
        # top of the u32 range (2106-02-07): 2^32 - 6 is the largest
        # 10-aligned u32... (2^32 = 4294967296; last multiple of 10 below
        # is 4294967290)
        "epoch2106": [(2**32 - 1) // step * step - k * step
                      for k in range(3, -1, -1)],
    }
    for name, ts_list in cases.items():
        rows = [(f"b.{name}", int(t), float(i)) for i, t in enumerate(ts_list)]
        df = spark.createDataFrame(rows, ["metric", "epoch", "value"]).select(
            "metric", F.timestamp_seconds("epoch").alias("timestamp"), "value"
        )
        out = str(tmp_path / name)
        write_whisper(df, out, archives=f"{step}:50", aggregation="average")

        # scan as LONG epochs: exact integer compare, no datetime layer
        got = {
            (r["metric"], r["timestamp"]): r["value"]
            for r in spark.read.format("whisper")
            .option("base_dir", out)
            .option("to_datetime", "false")
            .load(out)
            .collect()
        }
        for i, t in enumerate(ts_list):
            assert got[(f"b.{name}", t)] == float(i), (name, t)
        assert all(t > 2**31 - 3 * step for (_m, t) in got), name

        # and as TIMESTAMPs: the datetime layer must place them in the
        # right century (the downcast failure mode wraps 2106 -> 1970s)
        ts_vals = sorted(
            int(r["timestamp"].replace(tzinfo=__import__("datetime").timezone.utc)
                .timestamp())
            for r in spark.read.format("whisper")
            .option("base_dir", out)
            .load(out)
            .collect()
        )
        assert ts_vals == sorted(int(t) for t in ts_list), name


def test_isin_filters_on_metric_and_archive(spark, fixtures):
    """`metric IN (...)` and `archive IN (...)` arrive at pushFilters as
    ``In`` filters: the scan returns the right rows and the planner keeps
    only the listed files and archives."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import In

    from whisper_pandas_spark.sources.whisper import WhisperScanReader, register_whisper

    register_whisper(spark)
    d, _ = fixtures
    path = str(d / "sensors")
    df = spark.read.format("whisper").option("to_datetime", "false").load(path)
    want = [r for r in df.collect() if r.metric == "temp" and r.archive in (0, 2)]
    got = df.filter(F.col("metric").isin("temp", "nope") & F.col("archive").isin(0, 2))
    assert want and sorted(map(tuple, got.collect())) == sorted(map(tuple, want))

    reader = WhisperScanReader({"path": path})
    pushed = [In(("metric",), ("temp", "nope")), In(("archive",), (0, 2))]
    assert list(reader.pushFilters(pushed)) == []
    ranges, _ = reader.plan_ranges()
    assert {r.path for r in ranges} == {str(d / "sensors" / "temp.wsp")}
    assert {r.archive_index for r in ranges} == {0, 2}


@pytest.mark.parametrize("server", ["srv*", "srv00?", "srv00[12]"])
def test_glob_metric_names_cut_at_first_magic_component(tmp_path, server):
    """The metric base is the directory above the first glob component,
    whichever glob character (``*``, ``?``, ``[...]``) it uses."""
    from whisper_pandas_spark.sources.whisper import WhisperScanReader

    for s in ("srv001", "srv002"):
        (tmp_path / s).mkdir()
        build_wsp(str(tmp_path / s / "cpu.wsp"), archives=[(10, 16, 1.0)])
    reader = WhisperScanReader({"path": str(tmp_path / server / "cpu.wsp")})
    ranges, _ = reader.plan_ranges()
    assert {r.metric for r in ranges} == {"srv001.cpu", "srv002.cpu"}


def test_nothing_matches_per_caller(spark, tmp_path):
    """Each caller's answer to a load path that names no Whisper file: the
    batch scan and fetch raise, the stream plans an empty micro-batch, and
    meta raises for a path that matches nothing but returns an empty frame
    for an empty directory."""
    from whisper_pandas_spark.sources.fetch import fetch
    from whisper_pandas_spark.sources.meta import archive_meta, file_meta, scan_headers
    from whisper_pandas_spark.sources.whisper import WhisperScanReader, register_whisper
    from whisper_pandas_spark.streaming.source import WhisperStreamReader

    register_whisper(spark)
    empty = tmp_path / "empty"
    empty.mkdir()
    unmatched = [str(tmp_path / "nope.wsp"), str(tmp_path / "srv*" / "*.wsp")]
    for path in [str(empty), *unmatched]:
        with pytest.raises(FileNotFoundError):
            WhisperScanReader({"path": path}).partitions()
        with pytest.raises(FileNotFoundError):
            fetch(spark, path, END_TS - 100, END_TS)
        stream = WhisperStreamReader({"path": path})
        assert stream.latestOffset() == {"files": {}}
        parts = stream.partitions({"files": {}}, {"files": {}})
        assert [(p.path, p.slot_count) for p in parts] == [("", 0)]
    with pytest.raises(Exception, match="no whisper files match"):
        spark.read.format("whisper").load(str(empty)).collect()
    for path in unmatched:
        with pytest.raises(FileNotFoundError):
            scan_headers(path)
    assert file_meta(spark, str(empty)).count() == 0
    assert archive_meta(spark, str(empty)).count() == 0


def test_read_slots_matches_whole_file_decode(fixtures):
    """The slot-range reader returns the same points as decoding the whole
    file, for plain (byte-range) and gzip files, and reports truncation."""
    from whisper_pandas_spark.sources.format import (
        metric_name,
        metric_path,
        read_file_bytes,
        read_header,
        read_points,
        read_slots,
    )

    d, _ = fixtures
    for path in (str(d / "sensors" / "temp.wsp"), str(d / "gz.wsp.gz")):
        info = read_header(path)
        whole = read_file_bytes(path)
        for arch in info.archives:
            np.testing.assert_array_equal(
                read_slots(path, arch, 7, 50), read_points(whole, arch, 7, 50)
            )
            np.testing.assert_array_equal(read_slots(path, arch), read_points(whole, arch))
    trunc = str(d / "trunc.wsp")
    with pytest.raises(ValueError, match="truncated"):
        read_slots(trunc, read_header(trunc).archives[1])
    assert metric_name(metric_path(str(d), "a.b.cpu"), str(d)) == "a.b.cpu"


def _metric_counts(reader, partitions):
    """Rows per metric, read in-process task by task."""
    counts: dict[str, int] = {}
    for p in partitions:
        for batch in reader.read(p):
            for m in batch.column("metric").to_pylist():
                counts[m] = counts.get(m, 0) + 1
    return counts


def test_packing_parity_on_small_file_tree(spark, tmp_path):
    """Packing changes which task reads a slot range, never what the range
    emits: a tree of 20 small ring-wrapped files, some gzip, collects the
    same rows with one range per task (chunk_points=16) as with the
    default packing, which reads the whole tree in one task."""
    from whisper_pandas_spark.sources.whisper import WhisperScanReader, register_whisper

    register_whisper(spark)
    d = tmp_path / "tree"
    filled = 0
    for i in range(20):
        sub = d / f"srv{i % 4}"
        sub.mkdir(parents=True, exist_ok=True)
        gz = i % 5 == 0
        synth = build_wsp(
            str(sub / (f"m{i}.wsp.gz" if gz else f"m{i}.wsp")),
            archives=[(10, 32, 1.0), (60, 20, 0.5)],
            seed=i,
            gzip_out=gz,
        )
        filled += sum(len(a.filled) for a in synth)

    def load(**opts):
        reader = spark.read.format("whisper").option("to_datetime", "false")
        for k, v in opts.items():
            reader = reader.option(k, v)
        df = reader.load(str(d))
        return df, sorted(map(tuple, df.collect()))

    one, want = load(chunk_points="16")
    packed, got = load()
    assert got == want and len(got) == filled
    ranges, _ = WhisperScanReader({"path": str(d), "chunk_points": "16"}).plan_ranges()
    assert one.rdd.getNumPartitions() == len(ranges)
    assert packed.rdd.getNumPartitions() == 1


def test_pack_respects_budget_and_order():
    """Consecutive ranges share a task up to the slot budget; a range over
    the budget is a task of its own; no ranges plan the empty sentinel."""
    from whisper_pandas_spark.sources.whisper import SlotRange, pack

    def rng(path, count):
        return SlotRange(path, "none", path, 0, 28, 10, count, 0, count)

    ranges = [rng("a", 6), rng("b", 4), rng("c", 1), rng("d", 30), rng("e", 2)]
    tasks = pack(ranges, 10)
    assert [[r.path for r in t.ranges] for t in tasks] == [["a", "b"], ["c"], ["d"], ["e"]]
    assert [(t.path, t.slot_count) for t in tasks] == [("a", 10), ("c", 1), ("d", 30), ("e", 2)]
    assert [(t.path, t.slot_count) for t in pack([], 10)] == [("", 0)]


def test_on_error_skip_is_per_range_in_a_packed_task(tmp_path):
    """A truncated range drops only its own rows: the ranges before and
    after it in the same task still emit."""
    from whisper_pandas_spark.sources.whisper import WhisperScanReader

    d = tmp_path / "tree"
    d.mkdir()
    build_wsp(str(d / "a.wsp"), archives=[(10, 500, 1.0)])
    # header = 16 + 12 bytes; the data section ends at slot 100
    build_wsp(str(d / "b.wsp"), archives=[(10, 500, 1.0)], truncate_to=28 + 12 * 100)
    build_wsp(str(d / "c.wsp"), archives=[(10, 500, 1.0)], seed=3)

    reader = WhisperScanReader({"path": str(d), "on_error": "skip"})
    [task] = reader.partitions()
    assert [r.metric for r in task.ranges] == ["a", "b", "c"]
    assert _metric_counts(reader, [task]) == {"a": 500, "c": 500}
    with pytest.raises(ValueError, match="truncated"):
        _metric_counts(WhisperScanReader({"path": str(d)}), [task])


def test_gzip_file_decompressed_once_per_task(tmp_path, monkeypatch):
    """The three archive ranges of one .wsp.gz file share a task, and the
    task decompresses the file once for all three."""
    from whisper_pandas_spark.sources import format as wsp_format
    from whisper_pandas_spark.sources import whisper as wsp_source

    path = str(tmp_path / "g.wsp.gz")
    synth = build_wsp(path, gzip_out=True)
    calls = []
    real = wsp_format.read_file_bytes

    def counting(*args, **kwargs):
        calls.append(args[0])
        return real(*args, **kwargs)

    monkeypatch.setattr(wsp_format, "read_file_bytes", counting)
    monkeypatch.setattr(wsp_source, "read_file_bytes", counting)
    reader = wsp_source.WhisperScanReader({"path": path})
    [task] = reader.partitions()
    assert [r.archive_index for r in task.ranges] == [0, 1, 2]
    rows = sum(batch.num_rows for batch in reader.read(task))
    assert calls == [path]
    assert rows == sum(len(a.filled) for a in synth)


def test_register_whisper_once_per_session(spark, fixtures, monkeypatch):
    """Registering pickles the source class to the JVM: a session that has
    it already is left alone, and a second session of the same context
    registers its own copy once and reads with it."""
    from pyspark.sql.datasource import DataSourceRegistration

    from whisper_pandas_spark.sources.whisper import register_whisper

    calls = []
    real = DataSourceRegistration.register

    def counting(self, source):
        calls.append(self.sparkSession)
        return real(self, source)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    first, second = spark.newSession(), spark.newSession()
    for s in (first, first, second, first, second):
        register_whisper(s)
    assert calls == [first, second]
    d, _ = fixtures
    assert second.read.format("whisper").load(str(d / "sensors")).count() > 0


def _epochs(df):
    return sorted((r.metric, int(r.timestamp.timestamp()), r.value) for r in df.collect())


def test_fetch_reuses_relation_and_sees_new_files(spark, tmp_path):
    """The second fetch of a path reuses the first one's loaded relation,
    yet a file added between the two is read: each query plans afresh."""
    from whisper_pandas_spark.sources import fetch as fetch_mod

    d = tmp_path / "tree"
    d.mkdir()
    build_wsp(str(d / "a.wsp"))
    lo, hi = END_TS - 300, END_TS
    assert {m for m, _, _ in _epochs(fetch_mod.fetch(spark, str(d), lo, hi))} == {"a"}
    loaded = fetch_mod._loaded[spark][(str(d), "infer")]

    build_wsp(str(d / "b.wsp"), seed=3)
    rows = _epochs(fetch_mod.fetch(spark, str(d), lo, hi))
    assert fetch_mod._loaded[spark][(str(d), "infer")] is loaded
    assert {m for m, _, _ in rows} == {"a", "b"} and len(rows) == 2 * 31


def test_fetch_sees_merge_between_fetches(spark, tmp_path):
    """A ``write_whisper(merge=True)`` into a fetched tree is visible to
    the next fetch of the same path."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.sources.fetch import fetch
    from whisper_pandas_spark.sources.whisper_write import write_whisper

    d = str(tmp_path / "tree")
    base = 1_599_999_960

    def points(lo, hi):
        return spark.createDataFrame(
            [("srv.cpu", base + 10 * i, float(i)) for i in range(lo, hi)],
            ["metric", "epoch", "value"],
        ).select("metric", F.timestamp_seconds("epoch").alias("timestamp"), "value")

    write_whisper(points(0, 10), d, archives="10:200", merge=True)
    until = base + 10 * 30
    assert _epochs(fetch(spark, d, base, until)) == [
        ("srv.cpu", base + 10 * i, float(i)) for i in range(10)
    ]
    write_whisper(points(10, 20), d, archives="10:200", merge=True)
    assert _epochs(fetch(spark, d, base, until)) == [
        ("srv.cpu", base + 10 * i, float(i)) for i in range(20)
    ]


def test_fetch_relation_is_per_session_and_bounded(spark, tmp_path, monkeypatch):
    """A new session loads its own relation instead of reusing another
    session's; the cache holds sessions weakly and keeps at most
    ``LOADED_PER_SESSION`` relations per session."""
    import gc
    import weakref

    from whisper_pandas_spark.sources import fetch as fetch_mod

    d = tmp_path / "tree"
    d.mkdir()
    build_wsp(str(d / "a.wsp"))
    lo, hi = END_TS - 300, END_TS
    want = _epochs(fetch_mod.fetch(spark, str(d), lo, hi))

    other = spark.newSession()
    got = fetch_mod.fetch(other, str(d), lo, hi)
    assert got.sparkSession is other
    assert got._jdf.sparkSession().equals(other._jsparkSession)
    key = (str(d), "infer")
    assert fetch_mod._loaded[other][key] is not fetch_mod._loaded[spark][key]
    assert _epochs(got) == want

    monkeypatch.setattr(fetch_mod, "LOADED_PER_SESSION", 2)
    for name in ("x", "y", "z"):
        (d / name).mkdir()
        build_wsp(str(d / name / "m.wsp"))
        fetch_mod.fetch(other, str(d / name), lo, hi)
    assert list(fetch_mod._loaded[other]) == [(str(d / "y"), "infer"), (str(d / "z"), "infer")]

    gone = weakref.ref(other)
    del other, got
    # pyspark's RDD.toDF closes over the newest session: move it on
    spark.newSession()
    gc.collect()
    assert gone() is None


def test_fetch_relation_cache_under_threads(spark, tmp_path, monkeypatch):
    """Threads fetching from fresh sessions register the source once per
    session and share its relation cache: paths that keep evicting each
    other from a cache of 2 all return correct rows, and the cache stays
    within its bound."""
    import sys
    import threading

    from whisper_pandas_spark.sources import fetch as fetch_mod

    monkeypatch.setattr(fetch_mod, "LOADED_PER_SESSION", 2)
    paths = []
    for name in ("p", "q", "r"):
        (tmp_path / name).mkdir()
        build_wsp(str(tmp_path / name / "m.wsp"))
        paths.append(str(tmp_path / name))
    lo, hi = END_TS - 300, END_TS
    errors, counts = [], []

    def work(session, k):
        try:
            for i in range(3):
                df = fetch_mod.fetch(session, paths[(k + i) % 3], lo, hi)
            counts.append(len(df.collect()))
        except Exception as exc:  # reported below, not lost in the thread
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(4):
            session = spark.newSession()
            threads = [threading.Thread(target=work, args=(session, k)) for k in range(6)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
            assert not any(t.is_alive() for t in threads)
            assert len(fetch_mod._loaded[session]) <= 2
    finally:
        sys.setswitchinterval(interval)
    assert [str(e)[:300] for e in errors] == []
    assert counts == [31] * 24
