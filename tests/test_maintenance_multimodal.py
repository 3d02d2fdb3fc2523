"""Compaction + the remaining multimodal plumbing (audio features, resize
stub): small-file rewrite preserves data and hits the target count; audio
features match an independent numpy computation on the same bytes."""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from kafka_etl_consumer_spark.maintenance import compact_parquet
from kafka_etl_consumer_spark.operators.multimodal import (
    attach_binary,
    extract_audio_features,
    resize_images,
)


def test_compact_parquet(spark, sf_dir, tmp_path):
    src = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = str(tmp_path / "landed")
    # simulate minute-rolling: many tiny files
    src.repartition(40).write.parquet(out)
    assert len(glob.glob(f"{out}/*.parquet")) == 40
    before = src.count()
    n_files = compact_parquet(spark, out, target_file_mb=256)
    assert n_files == 1  # sf0.001 lineitem ≪ 256 MiB
    assert len(glob.glob(f"{out}/*.parquet")) == 1
    back = spark.read.parquet(out)
    assert back.count() == before
    assert not glob.glob(f"{out}__*")  # no temp/backup dirs left behind


@pytest.mark.parametrize("op", ["compact_parquet", "forget_keys"])
def test_failed_directory_swap_keeps_the_table(spark, tmp_path, monkeypatch, op):
    from kafka_etl_consumer_spark import maintenance

    real_fs = maintenance._fs

    class SecondRenameFails:
        """The table's FileSystem, except that its second rename (the new
        directory into the table's place) fails as Hadoop reports it."""

        def __init__(self, fs):
            self._fs, self._renames = fs, 0

        def rename(self, src, dst):
            self._renames += 1
            return self._renames != 2 and self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def fake_fs(spark, path):
        fs, jvm = real_fs(spark, path)
        return SecondRenameFails(fs), jvm

    path = str(tmp_path / "table")
    spark.range(10).withColumnRenamed("id", "k").repartition(4).write.parquet(path)
    monkeypatch.setattr(maintenance, "_fs", fake_fs)
    with pytest.raises(OSError, match="unchanged"):
        if op == "compact_parquet":
            maintenance.compact_parquet(spark, path)
        else:
            keys = spark.range(3).withColumnRenamed("id", "k")
            maintenance.forget_keys(spark, path, "k", keys)
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == list(range(10))


def test_audio_features_match_numpy(spark, sf_dir):
    docs = attach_binary(
        spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20), media_type="audio"
    )
    got = {r.doc_id: r for r in extract_audio_features(docs).collect()}
    for row in docs.select("doc_id", "media").collect():
        x = np.frombuffer(bytes(row.media), dtype=np.int8).astype(np.float64)
        r = got[row.doc_id]
        assert r.n_samples == len(x)
        assert r.rms == pytest.approx(float(np.sqrt((x * x).mean())))
        assert r.zero_crossings == int(((x[:-1] * x[1:]) < 0).sum())
        assert r.peak == int(np.abs(x).max())


def test_parse_image_ppm_pgm_bmp_and_rejects_compressed():
    from kafka_etl_consumer_spark.operators.multimodal import _parse_image, encode_ppm

    # PPM round-trip, with a header comment
    rgb = np.arange(2 * 3 * 3, dtype=np.uint8)
    ppm = encode_ppm(rgb, 3, 2)
    commented = ppm[:2] + b"\n# a comment\n" + ppm[2:]
    for payload in (ppm, commented):
        w, h, ch, data = _parse_image(payload)
        assert (w, h, ch) == (3, 2, 3)
        np.testing.assert_array_equal(data, rgb)

    # PGM (grayscale)
    gray = np.arange(6, dtype=np.uint8)
    w, h, ch, data = _parse_image(b"P5\n3 2\n255\n" + gray.tobytes())
    assert (w, h, ch) == (3, 2, 1)
    np.testing.assert_array_equal(data, gray)

    # 24-bit bottom-up BMP, 2x2: rows padded to 4-byte multiples, BGR order
    px = np.array(
        [[[1, 2, 3], [4, 5, 6]], [[7, 8, 9], [10, 11, 12]]], dtype=np.uint8
    )  # RGB, row 0 = top
    stride = (2 * 3 + 3) // 4 * 4
    raster = b""
    for row in px[::-1]:  # bottom-up
        rowb = row[:, ::-1].tobytes()  # BGR
        raster += rowb + b"\x00" * (stride - len(rowb))
    header = (
        b"BM" + (14 + 40 + len(raster)).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + (2).to_bytes(4, "little", signed=True)
        + (2).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + b"\x00" * 20
    )
    w, h, ch, data = _parse_image(header + raster)
    assert (w, h, ch) == (2, 2, 3)
    np.testing.assert_array_equal(data.reshape(2, 2, 3), px)

    # JPEG/WebP: documented raise without PIL; decoded through the PIL
    # capability probe when the container has it (env-gated, the
    # spark-avro jar pattern — activates on a real cluster image).
    # PNG no longer gates on PIL: the round-9 stdlib decoder handles it.
    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        with pytest.raises(ValueError, match="unsupported image magic"):
            _parse_image(b"\xff\xd8\xff\xe0....")  # JPEG SOI/APP0 magic


def test_parse_image_compressed_via_pil_probe():
    """When PIL is present, JPEG/PNG route through the probe with the same
    output contract as the numpy path (RGB interleaved, gray 1-channel).
    Skips cleanly in containers without an imaging lib."""
    PIL = pytest.importorskip("PIL")  # noqa: F841
    import io

    from PIL import Image

    from kafka_etl_consumer_spark.operators.multimodal import _parse_image

    rgb = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    buf = io.BytesIO()
    Image.fromarray(rgb, "RGB").save(buf, format="PNG")
    w, h, ch, data = _parse_image(buf.getvalue())
    assert (w, h, ch) == (3, 2, 3)
    np.testing.assert_array_equal(data.reshape(2, 3, 3), rgb)

    gray = np.arange(6, dtype=np.uint8).reshape(2, 3)
    buf = io.BytesIO()
    Image.fromarray(gray, "L").save(buf, format="PNG")
    w, h, ch, data = _parse_image(buf.getvalue())
    assert (w, h, ch) == (3, 2, 1)
    np.testing.assert_array_equal(data.reshape(2, 3), gray)


def test_decode_and_resize_real_pixels(spark):
    from kafka_etl_consumer_spark.operators.multimodal import (
        _parse_image,
        decode_image_pixels,
        encode_ppm,
        image_channel_stats,
    )

    W, H = 4, 4
    rows = []
    for i in range(3):
        flat = (np.arange(W * H * 3) * (i + 1)) % 256
        rows.append((i, bytearray(encode_ppm(flat, W, H))))
    df = spark.createDataFrame(rows, "doc_id long, media binary")

    px = decode_image_pixels(df).toPandas().set_index("doc_id")
    for i in range(3):
        expect = (np.arange(W * H * 3) * (i + 1)) % 256
        np.testing.assert_array_equal(
            np.frombuffer(bytes(px.loc[i, "pixels"]), np.uint8), expect
        )

    # nearest-neighbor 4x4 -> 2x2 must pick pixels (0,0),(0,2),(2,0),(2,2)
    rz = resize_images(df, 2, 2).toPandas().set_index("doc_id")
    w, h, ch, data = _parse_image(bytes(rz.loc[1, "media"]))
    assert (w, h, ch) == (2, 2, 3)
    src = ((np.arange(W * H * 3) * 2) % 256).reshape(H, W, 3)
    np.testing.assert_array_equal(data.reshape(2, 2, 3), src[[0, 2]][:, [0, 2]])

    stats = image_channel_stats(decode_image_pixels(df)).toPandas().set_index("doc_id")
    flat0 = (np.arange(W * H * 3)) % 256
    assert stats.loc[0, "mean_c0"] == flat0.reshape(-1, 3)[:, 0].mean()


def test_resize_rejects_non_image_bytes(spark, sf_dir):
    docs = attach_binary(spark.read.parquet(f"{sf_dir}/documents.parquet").limit(1))
    with pytest.raises(Exception, match="unsupported image magic"):
        resize_images(docs, 224, 224).collect()


def test_theta_distinct_ungrouped(spark, sf_dir):
    from kafka_etl_consumer_spark.operators.sketch import theta_distinct
    from kafka_etl_consumer_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    exact = ev.select("user_id").distinct().count()
    # scale=1 keeps every hash → the sketch degenerates to the exact count
    assert theta_distinct(ev, "user_id", scale=1).first().est_distinct == exact
    # coarser scale stays a non-negative multiple-of-scale estimate
    est = theta_distinct(ev, "user_id", scale=4).first().est_distinct
    assert est is not None and est >= 0 and est % 4 == 0


def test_vacuum_streaming_sink_removes_phantom_files(spark, tmp_path):
    """Orphan parquet (failed-task leftovers) are invisible to Spark's
    manifest-driven reads but WOULD be read by external engines — vacuum
    must find exactly them and make the directory glob-safe."""
    import glob as _glob
    import shutil

    import duckdb
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from kafka_etl_consumer_spark.maintenance import vacuum_streaming_sink

    schema = T.StructType([T.StructField("x", T.LongType())])
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    spark.createDataFrame([Row(x=i) for i in range(10)], schema).coalesce(1).write.parquet(src)
    q = (
        spark.readStream.schema(schema).parquet(src)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    committed = _glob.glob(os.path.join(out, "*.parquet"))
    assert committed
    orphan = os.path.join(out, "part-99999-deadbeef.c000.snappy.parquet")
    shutil.copy(committed[0], orphan)

    n_spark = spark.read.parquet(out).count()
    n_duck = duckdb.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0]
    assert n_spark == 10 and n_duck > 10  # phantom rows for external readers

    found = vacuum_streaming_sink(out)
    assert found == [os.path.abspath(orphan)]
    vacuum_streaming_sink(out, delete=True)
    assert duckdb.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0] == 10
    assert spark.read.parquet(out).count() == 10  # committed files untouched


def test_vacuum_restart_guard_refuses_pre_restart_committed_data(spark, tmp_path):
    """ADVICE r6 (high): a stream restarted into the same directory with a
    fresh checkpoint writes a FRESH _spark_metadata naming only post-restart
    files — the pre-restart COMMITTED files then look like orphans and an
    unconditional delete would destroy them. The vacuum must refuse unless
    force=True."""
    import time

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from kafka_etl_consumer_spark.maintenance import vacuum_streaming_sink

    schema = T.StructType([T.StructField("x", T.LongType())])
    out = str(tmp_path / "out")

    def _run(src, ckpt, lo, hi):
        spark.createDataFrame(
            [Row(x=i) for i in range(lo, hi)], schema
        ).coalesce(1).write.parquet(src)
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _run(str(tmp_path / "src1"), str(tmp_path / "ck1"), 0, 10)
    old_files = glob.glob(os.path.join(out, "*.parquet"))
    assert old_files
    # the restart flow: log dropped (e.g. after a backfill's partition
    # overwrite), then a NEW stream with a fresh checkpoint lands here
    import shutil

    shutil.rmtree(os.path.join(out, "_spark_metadata"))
    time.sleep(0.2)  # pre-restart files must predate the fresh log
    _run(str(tmp_path / "src2"), str(tmp_path / "ck2"), 100, 105)

    # the fresh log hides the 10 pre-restart rows; they are NOT orphans
    with pytest.raises(RuntimeError, match="restart"):
        vacuum_streaming_sink(out, delete=True)
    # non-destructive listing still reports them, and nothing was deleted
    listed = vacuum_streaming_sink(out)
    assert set(listed) == {os.path.abspath(f) for f in old_files}
    assert all(os.path.exists(f) for f in old_files)
    # explicit opt-in after manual verification proceeds
    vacuum_streaming_sink(out, delete=True, force=True)
    assert not any(os.path.exists(f) for f in old_files)


def test_forget_keys_escaped_partition_directory(spark, tmp_path):
    """ADVICE r6 (low): a fully-erased partition whose VALUE needs Hive
    escaping ('/' ':') must still have its directory deleted — the dir on
    disk is the ESCAPED spelling the writer produced, not the raw value."""
    from pyspark.sql import Row

    from kafka_etl_consumer_spark.maintenance import forget_keys

    table = str(tmp_path / "t")
    rows = [
        Row(user_id=u, s="x/y:z" if u <= 2 else "plain", v=u)
        for u in range(1, 7)
    ]
    spark.createDataFrame(rows).write.partitionBy("s").parquet(table)
    assert os.path.isdir(f"{table}/s=x%2Fy%3Az")  # writer escaped it

    audit = forget_keys(
        spark, table, "user_id",
        spark.createDataFrame([Row(user_id=1), Row(user_id=2)]),
        partition_col="s",
    )
    # strict=True (default) did not raise => residual is provably 0
    assert audit["residual_matches"] == 0
    assert audit["rows_deleted"] == 2
    assert not os.path.exists(f"{table}/s=x%2Fy%3Az")
    left = spark.read.parquet(table)
    assert left.filter(F.col("s") == "x/y:z").count() == 0
    assert left.count() == 4


# ---------------------------------------------------------------------------
# PNG decoder (round 9): stdlib zlib + all five scanline filters, bit-exact
# ---------------------------------------------------------------------------


def _make_png(px: np.ndarray, ctype: int, filters: list[int],
              plte: np.ndarray | None = None, depth: int = 8,
              interlace: int = 0) -> bytes:
    """Minimal PNG writer for tests: applies the REQUESTED per-row filter
    so every unfilter branch is exercised (an independent encoder — the
    decoder cannot self-confirm through it)."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big") + typ + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    h, w = px.shape[0], px.shape[1]
    nch = 1 if px.ndim == 2 else px.shape[2]
    flat = px.reshape(h, w * nch).astype(np.int16)
    raw = bytearray()
    prev = np.zeros(w * nch, np.int16)
    for y in range(h):
        f = filters[y % len(filters)]
        line = flat[y]
        enc = np.zeros(w * nch, np.int16)
        for x in range(w * nch):
            a = line[x - nch] if x >= nch else 0
            b = prev[x]
            c = prev[x - nch] if x >= nch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            enc[x] = (line[x] - pred) & 0xFF
        raw.append(f)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", plte.astype(np.uint8).tobytes())
    comp = zlib.compress(bytes(raw))
    # split IDAT in two to prove multi-chunk concatenation
    out += chunk(b"IDAT", comp[: len(comp) // 2])
    out += chunk(b"IDAT", comp[len(comp) // 2 :])
    out += chunk(b"IEND", b"")
    return out


def test_parse_png_all_filters_and_color_types():
    from kafka_etl_consumer_spark.operators.multimodal import _parse_image

    rng = np.random.default_rng(7)

    # RGB (ctype 2), every filter type across rows
    rgb = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    w, h, ch, data = _parse_image(_make_png(rgb, 2, [0, 1, 2, 3, 4]))
    assert (w, h, ch) == (4, 5, 3)
    np.testing.assert_array_equal(data.reshape(5, 4, 3), rgb)

    # grayscale (ctype 0) stays 1-channel
    gray = rng.integers(0, 256, size=(3, 6), dtype=np.uint8)
    w, h, ch, data = _parse_image(_make_png(gray, 0, [4, 3, 1]))
    assert (w, h, ch) == (6, 3, 1)
    np.testing.assert_array_equal(data.reshape(3, 6), gray)

    # RGBA (ctype 6): alpha dropped, lands as RGB
    rgba = rng.integers(0, 256, size=(2, 3, 4), dtype=np.uint8)
    w, h, ch, data = _parse_image(_make_png(rgba, 6, [2, 4]))
    assert (w, h, ch) == (3, 2, 3)
    np.testing.assert_array_equal(data.reshape(2, 3, 3), rgba[..., :3])

    # palette (ctype 3): indices resolve through PLTE to RGB
    plte = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(4, 4), dtype=np.uint8)
    w, h, ch, data = _parse_image(_make_png(idx, 3, [0, 1], plte=plte))
    assert (w, h, ch) == (4, 4, 3)
    np.testing.assert_array_equal(data.reshape(4, 4, 3), plte[idx])

    # gray+alpha (ctype 4): gray replicated to RGB (the PIL convert
    # contract), alpha dropped
    ga = rng.integers(0, 256, size=(2, 2, 2), dtype=np.uint8)
    w, h, ch, data = _parse_image(_make_png(ga, 4, [3]))
    assert (w, h, ch) == (2, 2, 3)
    np.testing.assert_array_equal(
        data.reshape(2, 2, 3), np.repeat(ga[..., 0:1], 3, axis=2)
    )


def test_parse_png_matches_recorded_bytes():
    """Golden-bytes check: a fixed 2x2 RGB PNG (filter None) decodes to
    the recorded array — guards the writer+reader pair against a shared
    drifting bug in _make_png."""
    import zlib

    from kafka_etl_consumer_spark.operators.multimodal import _parse_image

    # hand-assembled: IHDR 2x2 depth8 ctype2, raster rows
    # (0,'RGBRGB'), (0,'RGBRGB') with distinct bytes
    raster = bytes([0, 10, 20, 30, 40, 50, 60, 0, 70, 80, 90, 100, 110, 120])
    ihdr = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])

    def chunk(typ, data):
        return (len(data).to_bytes(4, "big") + typ + data
                + zlib.crc32(typ + data).to_bytes(4, "big"))

    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(raster)) + chunk(b"IEND", b""))
    w, h, ch, data = _parse_image(png)
    assert (w, h, ch) == (2, 2, 3)
    np.testing.assert_array_equal(
        data, np.array([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120],
                       dtype=np.uint8)
    )


def test_parse_png_rejects_16bit_and_interlaced():
    from kafka_etl_consumer_spark.operators.multimodal import _parse_image

    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    with pytest.raises(ValueError, match="8-bit-depth"):
        _parse_image(_make_png(rgb, 2, [0], depth=16))
    with pytest.raises(ValueError, match="interlaced"):
        _parse_image(_make_png(rgb, 2, [0], interlace=1))


def test_decode_image_pixels_handles_png(spark):
    """The Spark-side plumbing decodes PNG rows in the same mapInPandas
    pass as PPM/BMP — mixed-format corpora need no routing."""
    from kafka_etl_consumer_spark.operators.multimodal import (
        decode_image_pixels,
        encode_ppm,
    )

    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    png_bytes = _make_png(rgb, 2, [0, 1, 2, 3, 4])
    ppm_bytes = encode_ppm(rgb.reshape(-1), 5, 3)
    df = spark.createDataFrame(
        [(1, png_bytes), (2, ppm_bytes)], "doc_id long, media binary"
    )
    rows = {r.doc_id: r for r in decode_image_pixels(df).collect()}
    assert (rows[1].width, rows[1].height, rows[1].channels) == (5, 3, 3)
    np.testing.assert_array_equal(
        np.frombuffer(rows[1].pixels, np.uint8),
        np.frombuffer(rows[2].pixels, np.uint8),
    )
