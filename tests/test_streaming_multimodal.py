"""Streaming plans deliver the same results incrementally; multimodal
mapInPandas plumbing produces schema-correct, deterministic features."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapipelinedemo_spark.streaming.windows import (
    session_aggregates,
    sliding_counts,
)
from datapipelinedemo_spark.tables import table


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    # materialize the (nanos-converted) events as a clean parquet dir a
    # file stream source can consume
    path = str(tmp_path_factory.mktemp("events_stream"))
    table(spark, sf_dir, "events").coalesce(2).write.mode("overwrite").parquet(path)
    return path


def test_streaming_sliding_equals_batch(spark, events_dir):
    batch_df = spark.read.parquet(events_dir)
    expected = {
        (r.window_start, r.event_type): r.event_count
        for r in sliding_counts(batch_df).collect()
    }

    stream = spark.readStream.schema(batch_df.schema).parquet(events_dir)
    q = (
        sliding_counts(stream)
        .writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.window_start, r.event_type): r.event_count
            for r in spark.sql("SELECT * FROM sliding_test").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_streaming_session_windows_run(spark, events_dir):
    batch_df = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(batch_df.schema).parquet(events_dir)
    q = (
        session_aggregates(stream, with_watermark=True)
        .writeStream.format("memory")
        .queryName("session_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        n_stream = spark.sql("SELECT count(*) FROM session_test").collect()[0][0]
    finally:
        q.stop()
    # append mode only emits sessions the watermark has closed; all
    # rows arrive in one batch here so late sessions may be withheld —
    # assert plan compatibility + that emitted rows agree with batch
    batch = session_aggregates(batch_df)
    n_batch = batch.count()
    assert 0 <= n_stream <= n_batch


def test_sliding_batch_window_membership(spark, events_dir):
    ev = spark.read.parquet(events_dir)
    out = sliding_counts(ev, "2 hours", "1 hour")
    total = out.agg(F.sum("event_count")).collect()[0][0]
    # each event appears in exactly width/slide = 2 windows
    assert total == 2 * ev.count()


def test_multimodal_features_deterministic(spark, sf_dir):
    import hashlib

    from datapipelinedemo_spark.multimodal import (
        attach_fake_media,
        extract_features,
    )

    docs = table(spark, sf_dir, "documents").limit(20)
    media = attach_fake_media(docs, "doc_id", "text")
    feats = extract_features(media).collect()
    assert len(feats) == 20
    texts = {r.doc_id: r.text for r in docs.collect()}
    for r in feats:
        raw = texts[r.media_id].encode()
        assert r.n_bytes == len(raw)
        assert r.checksum == hashlib.md5(raw).hexdigest()
        assert len(r.feature) == 8
        assert r.feature[0] == pytest.approx(
            hashlib.md5(raw).digest()[0] / 255.0
        )


def test_parse_image_header_crafted_bytes():
    """Byte-level fixtures for every container the parser claims:
    dimensions planted in real header layouts must come back exactly;
    garbage and truncation degrade safely."""
    import struct

    from datapipelinedemo_spark.multimodal.media import (
        _jpeg_bytes,
        _png_bytes,
        parse_image_header,
    )

    assert parse_image_header(_png_bytes(640, 480)) == ("png", 640, 480, 8)
    assert parse_image_header(_png_bytes(1, 1, depth=16)) == ("png", 1, 1, 16)
    # JPEG with the JFIF APP0 before SOF0 — the marker walk must skip it
    assert parse_image_header(_jpeg_bytes(1920, 1080)) == (
        "jpeg", 1920, 1080, 8,
    )
    # progressive JPEG (SOF2) with a DHT (C4 — NOT a frame marker) first
    prog = (
        b"\xff\xd8"
        + b"\xff\xc4" + struct.pack(">H", 4) + b"\x00\x00"
        + b"\xff\xc2" + struct.pack(">H", 17)
        + b"\x08" + struct.pack(">HH", 600, 800)
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    assert parse_image_header(prog) == ("jpeg", 800, 600, 8)
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + bytes([0xF7, 0, 0])
    assert parse_image_header(gif) == ("gif", 320, 200, 8)
    bmp = (
        b"BM" + b"\x00" * 16
        + struct.pack("<ii", 1024, -768)  # top-down BMPs store -height
        + b"\x01\x00" + struct.pack("<H", 24) + b"\x00" * 8
    )
    assert parse_image_header(bmp) == ("bmp", 1024, 768, 24)

    assert parse_image_header(b"") == (None, None, None, None)
    assert parse_image_header(b"plain text bytes") == (
        None, None, None, None,
    )
    # PNG magic but truncated before IHDR payload
    assert parse_image_header(b"\x89PNG\r\n\x1a\n\x00\x00") == (
        None, None, None, None,
    )
    # JPEG magic but no SOF before the bytes run out
    assert parse_image_header(b"\xff\xd8\xff\xe0\x00\x04\x00\x00") == (
        "jpeg", None, None, None,
    )


def test_parse_media_container_crafted_bytes():
    """WAV RIFF chunk walk and MP4 box walk on byte fixtures: planted
    fields come back exactly; v1 mvhd, odd-sized RIFF chunks, and
    garbage all handled."""
    import struct

    from datapipelinedemo_spark.multimodal.media import (
        _mp4_bytes,
        _wav_bytes,
        parse_media_container,
    )

    assert parse_media_container(_wav_bytes(44100, 2, 16, 44100)) == (
        "wav", 44100, 2, 16, 1000, None,
    )
    # odd-sized extra chunk before fmt: the walk must pad to word align
    odd = (
        b"RIFF" + struct.pack("<I", 100) + b"WAVE"
        + b"LIST" + struct.pack("<I", 3) + b"abc\x00"
        + _wav_bytes(8000, 1, 16, 800)[12:]
    )
    assert parse_media_container(odd) == ("wav", 8000, 1, 16, 100, None)

    assert parse_media_container(_mp4_bytes(1000, 5321)) == (
        "mp4", None, None, None, 5321, "isom",
    )
    # mvhd version 1 (64-bit duration), timescale 90000
    mvhd1 = (
        struct.pack(">I", 120) + b"mvhd" + b"\x01\x00\x00\x00"
        + struct.pack(">QQ", 0, 0)
        + struct.pack(">I", 90000) + struct.pack(">Q", 90000 * 7)
        + b"\x00" * 80
    )
    v1 = (
        struct.pack(">I", 16) + b"ftyp" + b"mp42" + struct.pack(">I", 0)
        + struct.pack(">I", 8 + len(mvhd1)) + b"moov" + mvhd1
    )
    assert parse_media_container(v1) == (
        "mp4", None, None, None, 7000, "mp42",
    )

    assert parse_media_container(b"") == (
        None, None, None, None, None, None,
    )
    assert parse_media_container(b"RIFFxxxxAVI LIST") == (
        None, None, None, None, None, None,
    )


def test_media_container_operator_roundtrip(spark):
    from datapipelinedemo_spark.multimodal import (
        attach_synthetic_media_containers,
        media_container_info,
    )

    base = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    got = {
        r["media_id"]: r.asDict()
        for r in media_container_info(
            attach_synthetic_media_containers(base, "doc_id")
        ).collect()
    }
    assert len(got) == 8
    for i in range(0, 8, 2):
        rate = 8000 * (i % 6 + 1)
        assert got[i]["container"] == "wav"
        assert got[i]["sample_rate"] == rate
        assert got[i]["channels"] == i % 4 // 2 + 1
        assert got[i]["duration_ms"] == (i % 1000 + 1) * 1000 // rate
        assert got[i]["major_brand"] is None
    for i in range(1, 8, 2):
        assert got[i]["container"] == "mp4"
        assert got[i]["duration_ms"] == i % 100000 + 1
        assert got[i]["major_brand"] == "isom"
        assert got[i]["sample_rate"] is None


def test_image_dimensions_operator_roundtrip(spark):
    """The mapInPandas plumbing end-to-end: synthesized headers in,
    planted dimensions out, nulls for undecodable rows."""
    from datapipelinedemo_spark.multimodal import (
        attach_synthetic_image_headers,
        image_dimensions,
    )

    base = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    media = attach_synthetic_image_headers(base, "doc_id")
    got = {
        r["media_id"]: (r["fmt"], r["width"], r["height"], r["bit_depth"])
        for r in image_dimensions(media).collect()
    }
    assert len(got) == 10
    for i in range(10):
        fmt = "png" if i % 2 == 0 else "jpeg"
        assert got[i] == (fmt, i % 640 + 1, i % 480 + 1, 8)

    junk = spark.createDataFrame(
        [(99, bytearray(b"not an image"))], "media_id long, content binary"
    )
    row = image_dimensions(junk).collect()[0]
    assert (row["fmt"], row["width"]) == (None, None)


def test_stream_static_join(spark, sf_dir, events_dir):
    """Streaming events joined to a static dimension (customer →
    nation) with a windowed count — the stream-static broadcast join
    pattern; results must equal the batch plan."""
    from datapipelinedemo_spark.tables import table as load

    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    batch_df = spark.read.parquet(events_dir)

    def plan(ev):
        return (
            ev.join(F.broadcast(cust), "user_id")
            .groupBy(F.window("ts", "6 hours").alias("w"), "c_nationkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
                "c_nationkey",
                "n",
            )
        )

    expected = {(r.ws, r.c_nationkey): r.n for r in plan(batch_df).collect()}
    stream = spark.readStream.schema(batch_df.schema).parquet(events_dir)
    q = (
        plan(stream)
        .writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.ws, r.c_nationkey): r.n
            for r in spark.sql("SELECT * FROM ssj_test").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_frame_sampling(spark, sf_dir):
    import hashlib

    from datapipelinedemo_spark.multimodal import attach_fake_media
    from datapipelinedemo_spark.multimodal.media import sample_frames
    from datapipelinedemo_spark.tables import table as load

    docs = load(spark, sf_dir, "documents").limit(10)
    media = attach_fake_media(docs, "doc_id", "text")
    frames = sample_frames(media, frame_size=100, stride=2).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r)
    for mid, fs in by_media.items():
        raw = texts[mid].encode()
        n = (len(raw) + 99) // 100
        assert sorted(f.frame_idx for f in fs) == list(range(0, n, 2))
        for f in fs:
            chunk = raw[f.frame_idx * 100 : (f.frame_idx + 1) * 100]
            assert f.frame_bytes == len(chunk)
            assert f.frame_checksum == hashlib.md5(chunk).hexdigest()


def test_streaming_checkpoint_resume(spark, sf_dir, tmp_path):
    """File-sink exactly-once with checkpoint resume: stop the query,
    add more source data, restart with the same checkpoint — the sink
    must contain each input row exactly once."""
    from datapipelinedemo_spark.tables import table as load

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "value")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("overwrite").parquet(src)

    def start():
        stream = spark.readStream.schema(ev.schema).parquet(src)
        return (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n1 = spark.read.parquet(sink).count()
    assert n1 == first.count()

    # append the second half as new files, resume from checkpoint
    second.coalesce(1).write.mode("append").parquet(src)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(sink)
    assert out.count() == ev.count()
    assert out.select("event_id").distinct().count() == ev.count()


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg with a watermark: an event arriving
    AFTER the watermark passed its window is dropped, one arriving
    within the delay is counted. This pins the bounded-state contract
    the 100 TB stream relies on."""
    import time as _time

    src = tmp_path / "late_src"
    src.mkdir()
    schema = "ts timestamp, user_id long, event_type string, value double"

    def _write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    from datetime import datetime as dt

    # batch 1: events up to 12:00 -> watermark (delay 1h) ends at 11:00
    _write("b1", [
        (dt(2024, 1, 1, 9, 30), 1, "click", 1.0),
        (dt(2024, 1, 1, 12, 0), 2, "click", 1.0),
    ])
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one on-time event (11:30, within delay) and one very
        # late event for the long-closed 9:00 window
        _write("b2", [
            (dt(2024, 1, 1, 11, 30), 3, "click", 1.0),
            (dt(2024, 1, 1, 9, 45), 4, "click", 1.0),  # LATE: dropped
        ])
        q.processAllAvailable()
        # advance the watermark past every open window so they emit
        _write("b3", [(dt(2024, 1, 1, 15, 0), 5, "click", 1.0)])
        q.processAllAvailable()
        _time.sleep(0.5)
        got = {
            r.ws.hour: r.n
            for r in spark.sql("SELECT * FROM late_test").collect()
        }
    finally:
        q.stop()
    # 9:00 window counts ONLY the on-time 9:30 event (the 9:45 replay
    # was behind the watermark); 11:00 window has the 11:30 event
    assert got.get(9) == 1
    assert got.get(11) == 1
    assert got.get(12) == 1
