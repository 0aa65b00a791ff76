"""Multimodal plumbing + Structured Streaming ingest tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from multi_source_financial_data_pipeline_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    _bmp_bytes,
    _decode_bmp,
    _decode_wav,
    _wav_bytes,
    decode_media_features,
    resize_media,
    sample_frames,
    synthetic_media,
    synthetic_real_media,
    synthetic_real_video,
)
from multi_source_financial_data_pipeline_spark.schemas import TESTDATA
from multi_source_financial_data_pipeline_spark.sources import load_table
from multi_source_financial_data_pipeline_spark.sources.sinks import (
    append_first_request_wins,
)
from multi_source_financial_data_pipeline_spark.streaming.ingest import (
    dedup_with_watermark,
    read_event_stream,
    run_available_now,
)


def test_media_feature_extraction_plumbing(spark):
    media = synthetic_media(spark, n=100)
    feats = decode_media_features(media, batch_size=16)
    assert feats.schema == FEATURE_SCHEMA
    rows = feats.collect()
    assert len(rows) == 100
    by_id = {r["media_id"]: r for r in rows}
    assert all(len(r["feature"]) == 8 for r in rows)
    assert all(64 <= r["width"] < 256 for r in rows)
    # deterministic: same payload -> same features on re-run
    rows2 = decode_media_features(media, batch_size=64).collect()
    assert {r["media_id"]: r["feature"] for r in rows2} == {
        k: v["feature"] for k, v in by_id.items()
    }


def test_media_decode_stub_raises_cleanly(spark):
    media = synthetic_media(spark, n=3)
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        decode_media_features(media, require_codecs=True).collect()


def test_real_bmp_wav_decode_byte_level(spark):
    """Real-format payloads decode without the stub (require_codecs=True
    succeeds): BMP dimensions + pixel mean and WAV rate/duration + sample
    mean all come from parsing the actual little-endian bytes."""
    media = synthetic_real_media(spark, n=20, seed=7)
    rows = {
        r["media_id"]: r
        for r in decode_media_features(media, require_codecs=True).collect()
    }
    assert len(rows) == 20
    for mid, r in rows.items():
        if mid % 2 == 0:
            w, h = 2 + mid % 6, 3 + mid % 5
            assert (r["kind"], r["width"], r["height"]) == ("image", w, h)
            assert r["sample_rate"] is None
            exp = sum((mid + 7 + y) % 256 for y in range(h)) / (h * 255.0)
            assert abs(r["feature"][0] - exp) < 1e-6  # float32 storage
        else:
            rate, ns = 8000 + 500 * (mid % 8), 64 + mid % 32
            assert (r["kind"], r["sample_rate"]) == ("audio", rate)
            assert r["width"] is None
            assert r["duration_ms"] == ns * 1000.0 / rate


def test_real_bmp_resize_and_y4m_demux(spark):
    """The real resize re-encodes a valid BMP (re-decode succeeds under
    require_codecs); the Y4M demuxer extracts exact luma planes."""
    media = synthetic_real_media(spark, n=10, seed=7).filter(F.col("kind") == "image")
    resized = resize_media(media, max_side=4, require_codecs=True)
    rows = {r["media_id"]: r for r in resized.collect()}
    for mid, r in rows.items():
        w, h = 2 + mid % 6, 3 + mid % 5
        scale = min(1.0, 4 / max(w, h))
        assert r["width"] == max(1, int(w * scale))
        assert r["height"] == max(1, int(h * scale))
        assert _decode_bmp(bytes(r["data"]))["width"] == r["width"]

    video = synthetic_real_video(spark, n=6, seed=7)
    frames = sample_frames(video, every_n_frames=2).collect()
    assert frames
    for r in frames:
        mid, j = r["media_id"], r["frame_index"]
        w, h = 4 + 2 * (mid % 3), 2 + 2 * (mid % 2)
        assert j % 2 == 0
        assert bytes(r["frame_bytes"]) == bytes([(mid * 13 + j * 29 + 7) % 256]) * (w * h)


def test_bmp_parser_rejects_corrupt_headers():
    bmp = _bmp_bytes(4, 3, [10, 20, 30])
    assert _decode_bmp(bmp)["width"] == 4
    assert _decode_bmp(bmp[:-1]) is None  # size field no longer matches
    assert _decode_bmp(b"BM" + bmp[2:]) is not None
    assert _decode_bmp(b"XX" + bmp[2:]) is None  # bad magic
    wav = _wav_bytes(8000, [1, -1, 32767, -32768])
    assert _decode_wav(wav)["sample_rate"] == 8000
    assert _decode_wav(wav[:-2]) is None
    assert _decode_bmp(wav) is None and _decode_wav(bmp) is None


def test_parsers_reject_degenerate_fields_without_raising():
    """ADVICE r05: crafted headers with zero/negative geometry or rates must
    return None (malformed), never raise inside a Spark task."""
    import struct as _s

    from multi_source_financial_data_pipeline_spark.operators.multimodal import (
        _parse_y4m,
        _y4m_bytes,
    )

    # BMP with width=0: rebuild header with zero width, fix file_size check
    bmp = _bmp_bytes(4, 3, [10, 20, 30])
    zero_w = bytearray(bmp)
    _s.pack_into("<i", zero_w, 18, 0)  # width := 0
    _s.pack_into("<I", zero_w, 2, len(zero_w))
    assert _decode_bmp(bytes(zero_w)) is None
    neg_w = bytearray(bmp)
    _s.pack_into("<i", neg_w, 18, -4)
    assert _decode_bmp(bytes(neg_w)) is None

    # WAV with channels=0 / sample_rate=0: patch fmt chunk fields in place
    wav = _wav_bytes(8000, [1, -1])
    zero_ch = bytearray(wav)
    _s.pack_into("<H", zero_ch, 22, 0)  # channels := 0 (fmt body offset 2)
    assert _decode_wav(bytes(zero_ch)) is None
    zero_rate = bytearray(wav)
    _s.pack_into("<I", zero_rate, 24, 0)  # sample_rate := 0
    assert _decode_wav(bytes(zero_rate)) is None

    # Y4M with a non-numeric W token: None, not ValueError
    y4m = _y4m_bytes(4, 2, [10])
    assert _parse_y4m(y4m)["width"] == 4
    assert _parse_y4m(y4m.replace(b"W4", b"Wx")) is None


def test_truncated_trailing_chunks_degrade_not_crash():
    """Code-review repro: a valid WAV followed by a degenerate trailing
    'fmt ' chunk (declared size past the buffer) must parse as malformed in
    EVERY wav consumer — the old rms re-walk unpacked past the buffer and
    raised struct.error inside the Spark task."""
    import struct as _s

    from multi_source_financial_data_pipeline_spark.operators.multimodal import (
        _wav_rms,
    )

    import math

    wav = _wav_bytes(8000, [1, -1, 5])
    clean_rms = _wav_rms(wav)
    assert clean_rms == math.sqrt((1 + 1 + 25) / 3) / 32768.0
    for trailer in (
        b"fmt " + _s.pack("<I", 16) + b"\x00\x00",  # declares 16, carries 2
        b"fmt " + _s.pack("<I", 2) + b"\x00\x00",  # 2-byte degenerate body
    ):
        evil = bytearray(wav + trailer)
        _s.pack_into("<I", evil, 4, len(evil) - 8)  # fix RIFF size
        evil = bytes(evil)
        # truncated trailing chunk is skipped, never unpacked past the
        # buffer: both consumers agree and neither raises
        assert _decode_wav(evil)["sample_rate"] == 8000
        assert _wav_rms(evil) == clean_rms
    # a fmt chunk whose 4-byte zero body would once have yielded channels=0
    zero_fmt = bytearray(wav)
    _s.pack_into("<H", zero_fmt, 22, 0)
    assert _decode_wav(bytes(zero_fmt)) is None
    assert _wav_rms(bytes(zero_fmt)) is None


def test_channel_means_and_rms_byte_level():
    import math

    from multi_source_financial_data_pipeline_spark.operators.multimodal import (
        _bmp_channel_means,
        _bmp_encode,
        _wav_rms,
    )

    # 2x2 BMP, rows (B,G,R) = (10,20,30) and (40,50,60): channel means are
    # the per-channel row averages
    logical = [bytes([10, 20, 30] * 2), bytes([40, 50, 60] * 2)]
    means = _bmp_channel_means(_bmp_encode(2, 2, logical))
    assert means == (25 / 255.0, 35 / 255.0, 45 / 255.0)
    wav = _wav_bytes(8000, [3, -4])
    assert _wav_rms(wav) == math.sqrt((9 + 16) / 2) / 32768.0
    assert _bmp_channel_means(wav) is None and _wav_rms(b"junk") is None


def test_frame_sampling_only_video(spark):
    media = synthetic_media(spark, n=30)
    frames = sample_frames(media, every_n_bytes=64)
    pdf = frames.toPandas()
    n_videos = media.filter(F.col("kind") == "video").count()
    assert set(pdf["media_id"].unique()) == {
        r["media_id"] for r in media.filter(F.col("kind") == "video").collect()
    }
    # 128-byte payloads (md5 hex ×8 unhexed) / 64 -> 2 frames per video
    assert len(pdf) == n_videos * 2
    assert (pdf.groupby("media_id")["frame_index"].max() == 1).all()


def test_streaming_available_now_dedup(spark, sf_dir, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    events = load_table(spark, sf_dir, "events")
    # drop 1: first 600 events; drop 2: overlapping 400-1000 (400-599 are
    # late duplicates that must be dropped by key)
    events.filter(F.col("event_id") < 600).write.mode("append").parquet(landing)
    events.filter(F.col("event_id") >= 400).write.mode("append").parquet(landing)

    stream = read_event_stream(spark, landing, TESTDATA["events"])
    deduped = dedup_with_watermark(stream, ["event_id"], "1 day")

    def writer(batch_df, _batch_id):
        append_first_request_wins(batch_df, out, ["event_id"])

    run_available_now(deduped, ckpt, writer)

    result = spark.read.parquet(out)
    total = events.count()
    assert result.count() == total
    assert result.select("event_id").distinct().count() == total
    assert os.path.isdir(ckpt)


def test_streaming_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Recovery contract: a SECOND availableNow query resumed from the SAME
    checkpoint must (a) not re-emit anything the first drain already
    produced and (b) drop late duplicates of keys the first drain saw —
    the dropDuplicates state lives in the checkpointed state store, so
    exactly-once holds ACROSS restarts, not just within one query."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    events = load_table(spark, sf_dir, "events")
    events.filter(F.col("event_id") < 500).write.mode("append").parquet(landing)

    stream = read_event_stream(spark, landing, TESTDATA["events"])
    deduped = dedup_with_watermark(stream, ["event_id"], "30 days")

    def writer(batch_df, _batch_id):
        append_first_request_wins(batch_df, out, ["event_id"])

    run_available_now(deduped, ckpt, writer)
    n_first = spark.read.parquet(out).count()
    assert n_first == events.filter(F.col("event_id") < 500).count()

    # late arrivals: 300-499 are duplicates of drain-1 keys, 500-799 new
    events.filter(
        (F.col("event_id") >= 300) & (F.col("event_id") < 800)
    ).write.mode("append").parquet(landing)

    stream2 = read_event_stream(spark, landing, TESTDATA["events"])
    deduped2 = dedup_with_watermark(stream2, ["event_id"], "30 days")
    seen2 = []

    def writer2(batch_df, _batch_id):
        seen2.extend(r["event_id"] for r in batch_df.select("event_id").collect())
        append_first_request_wins(batch_df, out, ["event_id"])

    run_available_now(deduped2, ckpt, writer2)

    # restored state dropped every drain-1 duplicate before the sink
    assert seen2 and min(seen2) >= 500, (min(seen2), len(seen2))
    result = spark.read.parquet(out)
    assert result.count() == 800
    assert result.select("event_id").distinct().count() == 800


def test_png_round_trip_all_filters():
    """Encoder applies / decoder reconstructs every RFC 2083 scanline
    filter; randomized rows over gray/RGB/RGBA must round-trip losslessly
    and every structural corruption must reject (CRC, truncation, bogus
    signature tail)."""
    import random

    from multi_source_financial_data_pipeline_spark.operators import multimodal as mm

    rng = random.Random(1)
    for _ in range(40):
        w, h = rng.randint(1, 9), rng.randint(1, 9)
        ch = rng.choice([1, 3, 4])
        rows = [bytes(rng.randrange(256) for _ in range(w * ch)) for _ in range(h)]
        filters = [rng.randrange(5) for _ in range(h)]
        data = mm._png_encode(w, h, rows, filters=filters)
        parsed = mm._parse_png(data)
        assert parsed is not None
        assert (parsed["width"], parsed["height"], parsed["channels"]) == (w, h, ch)
        assert parsed["rows"] == rows, filters
    good = mm._png_encode(3, 3, [bytes(9)] * 3)
    bad = bytearray(good)
    bad[20] ^= 0xFF  # flip an IHDR byte → CRC mismatch
    assert mm._parse_png(bytes(bad)) is None
    assert mm._parse_png(good[:-5]) is None  # truncated IEND
    assert mm._parse_png(b"\x89PNG\r\n\x1a\nnot a real chunk stream") is None
    # dispatch tags the codec; alpha is excluded from the intensity mean
    rows4 = [bytes([10, 20, 30, 255] * 4) for _ in range(4)]
    img4 = mm._png_encode(4, 4, rows4, filters=[4, 3, 2, 1])
    out = mm._decode_any(img4)
    assert out["codec"] == "png"
    assert abs(out["feature"][0] - 20 / 255.0) < 1e-12


def test_png_resize_through_spark(spark):
    """resize_media takes the REAL path for PNG payloads (require_codecs
    never trips), halving dims by nearest-neighbor and re-encoding a valid
    PNG whose pixels match the source sampling rule."""
    from multi_source_financial_data_pipeline_spark.operators import multimodal as mm

    media = mm.synthetic_png_media(spark, n=20, seed=7)
    resized = mm.resize_media(media, max_side=3, require_codecs=True)
    rows = {r["media_id"]: r for r in resized.collect()}
    assert len(rows) == 20
    for mid, r in rows.items():
        w, h = 2 + mid % 6, 3 + mid % 5
        scale = min(1.0, 3 / max(w, h))
        assert (r["width"], r["height"]) == (max(1, int(w * scale)), max(1, int(h * scale)))
        parsed = mm._parse_png(bytes(r["data"]))
        assert parsed is not None and parsed["channels"] == 3
        # constant-per-row pattern survives: row y of the resized image is
        # source row y*h//nh, whose (R,G,B) is the generation formula
        for y, row in enumerate(parsed["rows"]):
            sy = y * h // r["height"]
            want = bytes(
                [(mid + 7 + sy) % 256, (2 * mid + 7 + sy) % 256, (3 * mid + 7 + sy) % 256]
                * r["width"]
            )
            assert row == want


def test_stream_scd2_state_survives_restart(spark, sf_dir, tmp_path):
    """The open interval lives in the checkpointed state store: a second
    availableNow drain resumed from the SAME checkpoint must close
    intervals that OPENED in the first drain (state restored), never
    re-emit drain-1 closes (exactly-once), and the union of both drains'
    closes must equal the batch lead-window result over the full log."""
    from multi_source_financial_data_pipeline_spark.streaming.stateful import scd2_closed_intervals

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    events = load_table(spark, sf_dir, "events")
    cutoff = events.selectExpr("percentile(unix_micros(ts), 0.5)").first()[0]
    first = events.filter(F.unix_micros("ts") < cutoff)
    second = events.filter(F.unix_micros("ts") >= cutoff)
    first.write.mode("append").parquet(landing)

    def drain():
        stream = read_event_stream(spark, landing, TESTDATA["events"])
        closed = scd2_closed_intervals(stream)
        q = (
            closed.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n_first = spark.read.parquet(out).count()
    second.write.mode("append").parquet(landing)
    drain()
    got = spark.read.parquet(out)
    assert got.count() > n_first  # drain 2 emitted new closes only

    # batch truth over the FULL log: every non-open interval
    from multi_source_financial_data_pipeline_spark.plans.registry import QUERIES

    batch = QUERIES["scd2_intervals"].fn(spark, sf_dir).filter(
        ~F.col("is_current")
    ).select(
        "user_id", F.col("state").alias("state_value"),
        "valid_from_us", "valid_to_us",
    )
    a = {tuple(r) for r in got.select(
        "key", "state_value", "valid_from_us", "valid_to_us").collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b
    # a close SPANNING the restart boundary proves state restoration
    spanned = [r for r in a if r[2] < cutoff <= r[3]]
    assert spanned, "no interval crossed the restart boundary"


def test_stream_bars_rsi_matches_batch_twin(spark, sf_dir):
    """`stream_bars_rsi` (the live twin of `rsi_bars_4h`, VERDICT r11
    item 8) must be BIT-IDENTICAL to the batch composition: the streaming
    tumbling-window bar state (min/max-struct open/close) drained via
    availableNow is the same bar table `resample_bars` derives, and the
    same Wilder fold runs on the closes."""
    from multi_source_financial_data_pipeline_spark.plans.financial import q_rsi_bars_4h
    from multi_source_financial_data_pipeline_spark.plans.mmstream import q_stream_bars_rsi

    live = {r["user_id"]: r.asDict() for r in q_stream_bars_rsi(spark, sf_dir).collect()}
    batch = {r["user_id"]: r.asDict() for r in q_rsi_bars_4h(spark, sf_dir).collect()}
    assert live == batch
    assert live  # non-vacuous


def test_stream_scd2_hot_key_spanning_arrow_chunks(spark, tmp_path):
    """A key whose micro-batch rows exceed arrow.maxRecordsPerBatch reaches
    the stateful fold as MULTIPLE pandas chunks whose relative order after
    the hash shuffle is arbitrary — the fold must globally sort the group,
    not each chunk. Regression: rows land in DESCENDING event time with a
    16-row chunk size, so a per-chunk sort folds time backwards and emits
    wrong intervals; the global sort must reproduce the exact alternating
    history."""
    import datetime

    from pyspark.sql import types as T

    from multi_source_financial_data_pipeline_spark.streaming.ingest import read_event_stream
    from multi_source_financial_data_pipeline_spark.streaming.stateful import scd2_closed_intervals

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = datetime.datetime(2024, 1, 1)
    n = 200
    rows = [
        (
            7,
            base + datetime.timedelta(microseconds=i),
            i,
            "A" if i % 2 == 0 else "B",
        )
        for i in range(n)
    ]
    rows.reverse()  # land in descending event time
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(landing)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        closed = scd2_closed_intervals(read_event_stream(spark, landing, schema))
        q = (
            closed.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    base_us = int(base.timestamp() * 1_000_000)
    want = {
        (7, "A" if i % 2 == 0 else "B", base_us + i, base_us + i + 1)
        for i in range(n - 1)
    }
    got = {
        tuple(r)
        for r in spark.read.parquet(out)
        .select("key", "state_value", "valid_from_us", "valid_to_us")
        .collect()
    }
    assert got == want


def test_jpeg_round_trip_and_strict_detection():
    """Baseline JPEG codec (operators/jpegcodec): gradient images must
    round-trip within lossy-codec error bounds (PSNR — the Annex K
    tables' expected fidelity), block-constant images must round-trip
    within the +/-1 DC-quantization step, a restart-interval stream must
    decode identically to the plain stream, and corrupt payloads must
    reject rather than mis-decode."""
    import os

    import numpy as np

    from multi_source_financial_data_pipeline_spark.operators import jpegcodec as J
    from multi_source_financial_data_pipeline_spark.operators import multimodal as mm

    for w, h in [(8, 8), (24, 16), (17, 9)]:  # incl. non-multiple-of-8 pad
        # smooth gradients (no wrap discontinuities): sharp sawtooth edges
        # legitimately ring at Annex-K quantization strength, which would
        # test the tables' aggressiveness, not the codec's correctness
        rows = [
            bytes(
                b
                for x in range(w)
                for b in (
                    min(255, 30 + x * 4 + y * 3),
                    min(255, 60 + x * 3 + y * 5),
                    min(255, 90 + x * 2 + y * 4),
                )
            )
            for y in range(h)
        ]
        data = J.jpeg_encode(w, h, rows)
        dec = J.parse_jpeg(data)
        assert dec is not None
        assert (dec["width"], dec["height"], dec["channels"]) == (w, h, 3)
        orig = np.frombuffer(b"".join(rows), dtype=np.uint8).astype(float)
        got = np.frombuffer(b"".join(dec["rows"]), dtype=np.uint8).astype(float)
        psnr = 10 * np.log10(255.0**2 / max(np.mean((orig - got) ** 2), 1e-12))
        assert psnr > 30.0, (w, h, psnr)

    # block-constant: within one DC quantization step everywhere
    w, h = 16, 16
    rows = []
    for y in range(h):
        row = bytearray()
        for x in range(w):
            bx, by = x // 8, y // 8
            row += bytes([40 + 90 * bx + 30 * by, 70 + 50 * bx, 120 + 20 * by])
        rows.append(bytes(row))
    data = J.jpeg_encode(w, h, rows)
    dec = J.parse_jpeg(data)
    orig = np.frombuffer(b"".join(rows), dtype=np.uint8).astype(float)
    got = np.frombuffer(b"".join(dec["rows"]), dtype=np.uint8).astype(float)
    assert np.abs(orig - got).max() <= 3.0

    # restart markers: DRI/RSTn stream decodes bit-identically
    plain = J.parse_jpeg(J.jpeg_encode(w, h, rows))
    rst = J.parse_jpeg(J.jpeg_encode(w, h, rows, restart_interval=2))
    assert plain["rows"] == rst["rows"]

    # strict detection / rejection
    assert J.parse_jpeg(os.urandom(400)) is None
    assert J.parse_jpeg(b"\xff\xd8\xff\xd9") is None
    good = J.jpeg_encode(8, 8, [bytes([100, 100, 100] * 8)] * 8)
    assert J.parse_jpeg(good[: len(good) // 2]) is None  # truncated scan
    sof2 = bytearray(good)
    sof2[good.index(b"\xff\xc0") + 1] = 0xC2  # progressive → out of scope
    assert J.parse_jpeg(bytes(sof2)) is None
    # a random BMP/PNG/WAV cannot fall into the JPEG parser and vice versa
    png = mm._png_encode(4, 4, [bytes(12)] * 4)
    assert J.parse_jpeg(png) is None
    out = mm._decode_any(good)
    assert out["codec"] == "jpeg"
    assert abs(out["feature"][0] - 100 / 255.0) < 2.0 / 255.0


def test_jpeg_channel_stats_through_spark(spark):
    """media_channel_stats takes the real JPEG path: per-channel means of
    the distributed block-constant corpus equal the closed-form
    quantization-round-trip replay (the same arithmetic the DuckDB oracle
    runs)."""
    import math

    from multi_source_financial_data_pipeline_spark.operators import multimodal as mm

    seed, n = 7, 24
    media = mm.synthetic_jpeg_media(spark, n=n, seed=seed)
    got = {r["media_id"]: r for r in mm.media_channel_stats(media).collect()}
    assert len(got) == n

    fl = math.floor

    def clip(v):
        return min(255.0, max(0.0, v))

    def rt(v, q):
        s = 1.0 if v >= 128.0 else -1.0
        return s * fl(8.0 * abs(v - 128.0) / q + 0.5) * q / 8.0 + 128.0

    for mid in range(n):
        bw, bh = 2 + mid % 2, 1 + (mid % 3) % 2
        sums = [0.0, 0.0, 0.0]
        for by in range(bh):
            for bx in range(bw):
                r = (mid * 7 + 31 * bx + 17 * by + seed) % 256
                g = (mid * 11 + 13 * bx + 29 * by + seed) % 256
                b = (mid * 3 + 23 * bx + 19 * by + seed) % 256
                y = clip(fl(0.299 * r + 0.587 * g + 0.114 * b + 0.5))
                cb = clip(fl(128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b + 0.5))
                cr = clip(fl(128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b + 0.5))
                yv, cbv, crv = rt(y, 16.0), rt(cb, 17.0), rt(cr, 17.0)
                sums[0] += clip(fl(yv + 1.402 * (crv - 128.0) + 0.5))
                sums[1] += clip(
                    fl(yv - 0.344136286 * (cbv - 128.0) - 0.714136286 * (crv - 128.0) + 0.5)
                )
                sums[2] += clip(fl(yv + 1.772 * (cbv - 128.0) + 0.5))
        d = bw * bh * 255.0
        row = got[mid]
        assert row["mean_r"] == sums[0] / d, mid
        assert row["mean_g"] == sums[1] / d, mid
        assert row["mean_b"] == sums[2] / d, mid
        assert row["rms"] is None


def test_mp4_ogg_container_demux_strict():
    """Container demux (operators/containers): ISO-BMFF box walk extracts
    brand/duration/track layout from the real bytes and rejects size-field
    corruption, truncation and random blobs; OGG page walk validates every
    page CRC. The codec bitstream inside a track stays stubbed — the
    parsers never pretend to decode it."""
    import os

    from multi_source_financial_data_pipeline_spark.operators import containers as C
    from multi_source_financial_data_pipeline_spark.operators import multimodal as mm

    mp4 = C.mp4_build(4321, [("vide", 64, 48), ("soun", 0, 0)], payload=b"x" * 64)
    p = C.parse_mp4(mp4)
    assert p["brand"] == "isom"
    assert p["duration_ms"] == 4321.0
    assert p["tracks"] == [("vide", 64, 48), ("soun", 0, 0)]
    assert C.parse_mp4(os.urandom(300)) is None
    assert C.parse_mp4(mp4[:40]) is None  # truncated moov
    bad = bytearray(mp4)
    bad[3] ^= 0x40  # ftyp size no longer lands on a box boundary
    assert C.parse_mp4(bytes(bad)) is None

    ogg = C.ogg_build(9, [b"head", b"a" * 300, b"tail"], [0, 960, 1920])
    o = C.parse_ogg(ogg)
    assert o == {
        "n_pages": 3,
        "serials": [9],
        "last_granule": 1920,
        "bos_packets": {9: b"head"},
    }
    crc_bad = bytearray(ogg)
    crc_bad[40] ^= 1  # flip a body bit → page CRC mismatch
    assert C.parse_ogg(bytes(crc_bad)) is None
    assert C.parse_ogg(ogg[:-3]) is None
    assert C.parse_ogg(os.urandom(200)) is None

    # dispatch: containers are recognized, cross-format confusion is not
    out = mm._decode_any(mp4)
    assert out["codec"] == "mp4"
    assert (out["width"], out["height"], out["duration_ms"]) == (64, 48, 4321.0)
    assert out["feature"] == [2.0]
    out = mm._decode_any(ogg)
    assert out["codec"] == "ogg"
    assert out["feature"] == [3.0, 1.0, 1920.0]
    assert mm._decode_any(mp4 + b"junk")["codec"] == "stub"


def test_mp4_metadata_through_spark(spark):
    """decode_media_features takes the real demux path for the synthetic
    MP4 corpus: duration/dims/track-count match the generation formulas
    (the same arithmetic the DuckDB oracle replays)."""
    from multi_source_financial_data_pipeline_spark.operators import multimodal as mm

    seed, n = 7, 30
    media = mm.synthetic_mp4_media(spark, n=n, seed=seed)
    rows = {r["media_id"]: r for r in mm.decode_media_features(media).collect()}
    assert len(rows) == n
    for mid in range(n):
        r = rows[mid]
        assert r["kind"] == "video"
        assert r["width"] == 64 + 8 * (mid % 5)
        assert r["height"] == 48 + 8 * (mid % 3)
        assert r["duration_ms"] == 1000.0 + 137 * mid + seed
        assert r["feature"] == [float(1 + mid % 2)]


def test_jpeg_resize_through_spark(spark):
    """resize_media takes the REAL path for baseline JPEG payloads
    (require_codecs never trips): aspect-preserving nearest-neighbor
    downscale + re-encode to a valid JPEG with the expected dimensions,
    pixel content within lossy-roundtrip bounds of the source sampling
    rule."""
    import numpy as np

    from multi_source_financial_data_pipeline_spark.operators import jpegcodec as J
    from multi_source_financial_data_pipeline_spark.operators import multimodal as mm

    media = mm.synthetic_jpeg_media(spark, n=12, seed=7)
    originals = {r["media_id"]: bytes(r["data"]) for r in media.collect()}
    resized = mm.resize_media(media, max_side=8, require_codecs=True)
    rows = {r["media_id"]: r for r in resized.collect()}
    assert len(rows) == 12
    for mid, r in rows.items():
        w, h = 8 * (2 + mid % 2), 8 * (1 + mid % 3 % 2)
        scale = min(1.0, 8 / max(w, h))
        nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
        assert (r["width"], r["height"]) == (nw, nh)
        dec = J.parse_jpeg(bytes(r["data"]))
        assert dec is not None and (dec["width"], dec["height"]) == (nw, nh)
        # second-leg loss bound vs sampling the first decode
        src = J.parse_jpeg(originals[mid])
        mid_px = np.frombuffer(b"".join(src["rows"]), dtype=np.uint8).reshape(
            h, w, 3
        ).astype(float)
        got = np.frombuffer(b"".join(dec["rows"]), dtype=np.uint8).reshape(
            nh, nw, 3
        ).astype(float)
        want = np.stack(
            [[mid_px[y * h // nh, x * w // nw] for x in range(nw)]
             for y in range(nh)]
        )
        assert np.abs(got - want).max() <= 40, mid


def test_jpeg_nyquist_checkerboard_no_eob_path():
    """A pure 8x8 checkerboard puts all AC energy at the (7,7) Nyquist
    coefficient — the one block shape whose zigzag run reaches index 63
    with a nonzero value, so the encoder emits NO EOB and the decoder's
    k==64 loop exit (not the EOB branch) is load-bearing. Phase must
    survive the round-trip: bright cells decode far brighter than dark."""
    import numpy as np

    from multi_source_financial_data_pipeline_spark.operators import jpegcodec as J

    w = h = 8
    rows = [
        bytes(
            ([255, 255, 255] if (x + y) % 2 == 0 else [0, 0, 0])[c]
            for x in range(w)
            for c in range(3)
        )
        for y in range(h)
    ]
    dec = J.parse_jpeg(J.jpeg_encode(w, h, rows))
    assert dec is not None
    got = np.frombuffer(b"".join(dec["rows"]), dtype=np.uint8).reshape(h, w, 3)
    bright = got[::2, ::2, 0].astype(float).mean()
    dark = got[1::2, ::2, 0].astype(float).mean()
    assert bright > dark + 100, (bright, dark)


def test_new_parsers_never_raise_on_mutated_bytes():
    """The _decode_any degrade contract for the r09 parsers: arbitrary
    corruption of a valid JPEG/MP4/OGG (byte flips, truncation, garbage
    tails) must yield None or a valid parse — NEVER an exception inside a
    Spark task. Seeded mutation fuzz, 600 payloads x 3 parsers."""
    import random

    from multi_source_financial_data_pipeline_spark.operators import containers as C
    from multi_source_financial_data_pipeline_spark.operators import jpegcodec as J

    rng = random.Random(11)
    w = h = 16
    rows = [bytes(rng.randrange(256) for _ in range(3 * w)) for _ in range(h)]
    seeds = [
        J.jpeg_encode(w, h, rows),
        C.mp4_build(1234, [("vide", 32, 24)], b"p" * 40),
        C.ogg_build(5, [b"abc", b"d" * 600], [0, 960]),
        # r11: vorbis-headed stream — corrupted id headers must degrade
        # through parse_vorbis_id, never raise
        C.ogg_build(6, [C.vorbis_id_packet(2, 44100), b"d" * 200], [0, 960]),
        # r11: aac-configured mp4 — corrupted esds descriptor chains must
        # degrade through parse_audio_specific_config, never raise
        C.mp4_build(1234, [("soun", 0, 0)], b"p" * 40, aac=(2, 48000, 2)),
        # r11: avc-configured mp4 — corrupted avcC/SPS bits must degrade
        # through parse_h264_sps (Exp-Golomb reads bounds-checked)
        C.mp4_build(1234, [("vide", 70, 50)], b"p" * 40, avc=(66, 30)),
        # r11: opus-headed stream — corrupted OpusHead must degrade
        # through parse_opus_id, never raise
        C.ogg_build(7, [C.opus_id_packet(2, 48000), b"e" * 150], [0, 1920]),
    ]
    for _ in range(600):
        b = bytearray(rng.choice(seeds))
        for _ in range(rng.randrange(1, 6)):
            op = rng.randrange(3)
            if op == 0 and b:
                b[rng.randrange(len(b))] = rng.randrange(256)
            elif op == 1 and len(b) > 4:
                del b[rng.randrange(len(b)):]
            else:
                b += bytes(rng.randrange(256) for _ in range(rng.randrange(8)))
        for fn in (J.parse_jpeg, C.parse_mp4, C.parse_ogg):
            out = fn(bytes(b))  # must not raise
            assert out is None or isinstance(out, dict)


def test_jpeg_sof_dimension_bomb_degrades_with_bounded_memory():
    """A crafted SOF0 header claiming 65535x65535 must be rejected BEFORE
    plane allocation (3 planes x 34 GB would kill the executor), and any
    MemoryError that does escape a parser must be swallowed by
    _decode_any's degrade contract. Builds a real JPEG, rewrites the SOF
    dims in place, and asserts parse_jpeg -> None with bounded RSS."""
    import resource
    import struct

    from multi_source_financial_data_pipeline_spark.operators import jpegcodec as J
    from multi_source_financial_data_pipeline_spark.operators import multimodal as mm

    w = h = 16
    rows = [bytes((x * 7 + y * 13 + c) % 256 for x in range(w) for c in range(3))
            for y in range(h)]
    good = J.jpeg_encode(w, h, rows)
    # locate the SOF0 segment (FF C0 <len:2> <prec:1> <H:2> <W:2> ...)
    i = good.index(b"\xff\xc0")
    bombs = []
    for bw, bh in ((65535, 65535), (65535, 2), (2, 65535), (9000, 9000)):
        b = bytearray(good)
        struct.pack_into(">HH", b, i + 5, bh, bw)
        bombs.append(bytes(b))
    rss_before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss  # KiB
    for bomb in bombs:
        assert J.parse_jpeg(bomb) is None
        out = mm._decode_any(bomb)  # must not raise
        assert out["codec"] == "stub"
    rss_after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    # rejection happens pre-allocation: peak RSS must not have grown by
    # anything near even ONE 9000x9000 float64 plane (~618 MiB)
    assert rss_after - rss_before < 200 * 1024, (rss_before, rss_after)
    # the in-cap path still decodes: restore true dims -> full round-trip
    assert J.parse_jpeg(good) is not None
    # and a just-over-cap frame is rejected by the cap itself
    over = bytearray(good)
    side = int(J.MAX_PIXELS**0.5) + 1
    struct.pack_into(">HH", over, i + 5, side, side)
    assert J.parse_jpeg(bytes(over)) is None


def test_mp4_tkhd_body_is_84_bytes_on_spec_offsets():
    """ISO-BMFF 8.3.2 tkhd v0: version(1) + 24-bit flags(3) + four
    4-byte fields (creation, modification, track_ID, reserved) + duration
    at byte 20, width/height 16.16 fixed-point in the LAST 8 of an
    84-byte body. An earlier builder emitted version+flags as 6 bytes
    (86-byte body), shifting every field off-spec — it round-tripped
    through our own parser but an external demuxer would read garbage."""
    import struct

    from multi_source_financial_data_pipeline_spark.operators import containers as C

    b = C.mp4_build(1234, [("vide", 32, 24), ("soun", 0, 0)], b"p" * 40)
    pos = 0
    bodies = []
    while True:
        i = b.find(b"tkhd", pos)
        if i < 0:
            break
        (size,) = struct.unpack_from(">I", b, i - 4)
        bodies.append(b[i + 4 : i - 4 + size])
        pos = i + 4
    assert len(bodies) == 2
    for tid, body in enumerate(bodies, start=1):
        assert len(body) == 84
        assert body[0] == 0                                  # version
        assert int.from_bytes(body[1:4], "big") == 0x000007  # flags
        creation, modification, track_id, reserved = struct.unpack_from(
            ">IIII", body, 4
        )
        assert (creation, modification, reserved) == (0, 0, 0)
        assert track_id == tid
        (duration,) = struct.unpack_from(">I", body, 20)
        assert duration == 1234
    w16, h16 = struct.unpack_from(">II", bodies[0], 84 - 8)
    assert (w16 >> 16, h16 >> 16) == (32, 24)
    assert C.parse_mp4(b)["tracks"] == [("vide", 32, 24), ("soun", 0, 0)]


def test_jpeg_fullac_roundtrip_psnr_bound():
    """Full-AC accuracy regression guard (the probe's contract in fast
    form): non-block-constant content — every 8×8 block carrying AC
    energy through the zigzag/Huffman path — must round-trip at ≥ 25 dB
    PSNR with the Annex K tables. Block-constant fixtures (the oracle
    path) exercise only the DC coefficient; this is the other half."""
    import math

    import numpy as np

    from scale_probe import jpeg_fullac_probe

    out = jpeg_fullac_probe(n_images=8, size=64)
    assert out["psnr_min_db"] >= 25.0, out
    assert math.isfinite(out["encode_imgs_per_sec"])


def test_vorbis_id_header_strict_parse_and_spark_query():
    """Vorbis I §4.2.2 id-header contract: spec-valid headers round-trip
    channels/rate; every MUST-reject condition (magic, version, zero
    channels/rate, misordered or out-of-range blocksizes, unset framing
    bit) returns None; and the OGG page walk surfaces the BOS packet so
    _decode_any converts granules to real duration — while the legacy
    opaque-packet fixtures stay byte-for-byte on the stub path."""
    import struct

    from multi_source_financial_data_pipeline_spark.operators import containers as C
    from multi_source_financial_data_pipeline_spark.operators import multimodal as mm

    pkt = C.vorbis_id_packet(2, 44100, 128000)
    assert len(pkt) == 30
    assert C.parse_vorbis_id(pkt) == {
        "channels": 2, "sample_rate": 44100, "bitrate_nominal": 128000,
    }
    # MUST-reject mutations
    rejects = [
        b"\x02" + pkt[1:],                       # packet type
        b"\x01norbis" + pkt[7:],                 # magic
        pkt[:7] + struct.pack("<I", 1) + pkt[11:],   # version != 0
        pkt[:11] + b"\x00" + pkt[12:],           # channels == 0
        pkt[:12] + struct.pack("<I", 0) + pkt[16:],  # rate == 0
        pkt[:28] + bytes([(8 << 4) | 11]) + pkt[29:],   # b0 > b1
        pkt[:28] + bytes([(14 << 4) | 6]) + pkt[29:],   # b1 out of range
        pkt[:29] + b"\x00",                      # framing bit unset
        pkt[:29],                                # truncated
    ]
    for bad in rejects:
        assert C.parse_vorbis_id(bad) is None, bad.hex()

    # through the page walk: granule → seconds via the parsed rate
    ogg = C.ogg_build(9, [pkt, b"\xaa" * 100, b"\xbb" * 40], [0, 960, 1920])
    out = mm._decode_any(ogg)
    assert out["codec"] == "ogg"
    assert out["sample_rate"] == 44100
    assert out["duration_ms"] == 1920 * 1000.0 / 44100
    assert out["feature"][:4] == [3.0, 1.0, 1920.0, 2.0]
    # opaque first packet (the legacy ogg fixtures): no vorbis fields
    ogg2 = C.ogg_build(9, [b"\x99" * 48, b"\xaa" * 10], [960, 1920])
    out2 = mm._decode_any(ogg2)
    assert out2["codec"] == "ogg"
    assert out2["sample_rate"] is None and out2["duration_ms"] is None
    assert len(out2["feature"]) == 3


def test_aac_asc_strict_parse_and_esds_chain():
    """AAC AudioSpecificConfig contract (ISO/IEC 14496-3 §1.6.2.1): the
    builder's mp4a → esds → DecSpecificInfo chain round-trips object
    type / rate / channels through the strict descriptor walk for every
    Table 1.18 rate; the escape-index 24-bit explicit-rate form parses;
    and each reject condition (object type 0, reserved rate index, PCE
    channel config 0, truncation, malformed descriptor sizes) returns
    None — a crafted esds degrades, never raises."""
    import struct

    from multi_source_financial_data_pipeline_spark.operators import containers as C
    from multi_source_financial_data_pipeline_spark.operators import multimodal as mm

    for rate in C.AAC_SAMPLE_RATES:
        for chans in (1, 2, 7):
            blob = C.mp4_build(1500, [("soun", 0, 0)], aac=(2, rate, chans))
            parsed = C.parse_mp4(blob)
            assert parsed["audio"] == {
                "object_type": 2, "sample_rate": rate, "channels": chans,
            }, (rate, chans)

    # escape index 15: 24-bit explicit rate
    obj, rate, ch = 2, 19200, 2
    asc = bytes([
        (obj << 3) | (15 >> 1),
        ((15 & 1) << 7) | (rate >> 17),
        (rate >> 9) & 0xFF,
        (rate >> 1) & 0xFF,
        ((rate & 1) << 7) | (ch << 3),
    ])
    assert C.parse_audio_specific_config(asc) == {
        "object_type": 2, "sample_rate": 19200, "channels": 2,
    }

    # MUST-reject forms
    assert C.parse_audio_specific_config(b"") is None
    assert C.parse_audio_specific_config(b"\x12") is None          # 1 byte
    assert C.parse_audio_specific_config(b"\x00\x10") is None      # type 0
    bad_idx = struct.pack(">H", (2 << 11) | (13 << 7) | (2 << 3))  # idx 13
    assert C.parse_audio_specific_config(bad_idx) is None
    pce = struct.pack(">H", (2 << 11) | (4 << 7) | (0 << 3))       # chan 0
    assert C.parse_audio_specific_config(pce) is None
    assert C.parse_audio_specific_config(asc[:4]) is None  # short escape
    # AOT 31 = escape to 6-bit audioObjectTypeExt (xHE-AAC etc.): a
    # different bit layout — parser must degrade, builder must refuse
    aot31 = struct.pack(">H", (31 << 11) | (4 << 7) | (2 << 3))
    assert C.parse_audio_specific_config(aot31) is None
    with pytest.raises(ValueError):
        C.aac_audio_specific_config(31, 44100, 2)

    # descriptor chain robustness: byte-level mutations of a valid esds
    # region must degrade (audio key absent), never raise
    good = C.mp4_build(1500, [("soun", 0, 0)], aac=(2, 44100, 2))
    pos = good.find(b"esds")
    assert pos > 0
    for off in range(pos + 4, min(pos + 24, len(good))):
        for val in (0x00, 0x7F, 0x80, 0xFF):
            mutated = good[:off] + bytes([val]) + good[off + 1:]
            p = C.parse_mp4(mutated)  # may be None (box sizes) — fine
            if p is not None and "audio" in p:
                a = p["audio"]
                assert set(a) == {"object_type", "sample_rate", "channels"}

    # through the media decode path: audio fields join the feature vector
    out = mm._decode_any(good)
    assert out["codec"] == "mp4"
    assert out["sample_rate"] == 44100
    assert out["feature"][1:3] == [2.0, 2.0]  # channels, object type
    # an aac-less build keeps the legacy single-element feature
    out2 = mm._decode_any(C.mp4_build(1000, [("vide", 64, 48)]))
    assert out2["sample_rate"] is None
    assert len(out2["feature"]) == 1


def test_h264_sps_strict_parse_and_avcc_chain():
    """H.264 SPS contract (ITU-T H.264 §7.3.2.1.1 header syntax): the
    builder's avc1 → avcC → SPS chain round-trips profile/level and the
    CODED dimensions through the strict Exp-Golomb parse, including the
    macroblock-grid + frame-cropping arithmetic for dims that are not
    16-aligned and emulation-prevention byte stripping; reject conditions
    (wrong NAL type, truncation, forbidden bit) return None; and random
    bit corruption of the SPS region degrades, never raises."""
    from multi_source_financial_data_pipeline_spark.operators import containers as C
    from multi_source_financial_data_pipeline_spark.operators import multimodal as mm

    # cropping both axes, none, and HD shapes
    for w, h in ((66, 50), (64, 48), (1920, 1080), (1280, 720), (18, 2)):
        for profile, level in ((66, 30), (77, 41)):
            sps = C.h264_sps(w, h, profile, level)
            assert C.parse_h264_sps(sps) == {
                "profile_idc": profile, "level_idc": level,
                "width": w, "height": h,
            }, (w, h, profile)
            blob = C.mp4_build(1500, [("vide", w, h)], avc=(profile, level))
            assert C.parse_mp4(blob)["video"]["width"] == w

    # emulation prevention: a level_idc of 0 forces 00 00 runs in the RBSP
    sps0 = C.h264_sps(16, 16, 66, 0)
    assert b"\x00\x00\x00" not in sps0[1:]
    assert C.parse_h264_sps(sps0)["level_idc"] == 0

    # MUST-reject forms
    assert C.parse_h264_sps(b"") is None
    assert C.parse_h264_sps(b"\x68\x42\x00\x1e") is None   # PPS nal type
    assert C.parse_h264_sps(b"\xe7\x42\x00\x1e") is None   # forbidden bit
    good = C.h264_sps(66, 50)
    assert C.parse_h264_sps(good[:5]) is None              # truncated

    # bit-corruption sweep over the whole SPS: degrade-or-parse, never raise
    for off in range(1, len(good)):
        for bit in (0x01, 0x80):
            mutated = bytearray(good)
            mutated[off] ^= bit
            p = C.parse_h264_sps(bytes(mutated))
            if p is not None:
                assert set(p) == {"profile_idc", "level_idc", "width", "height"}

    # through the media decode path: SPS fields join the feature vector
    out = mm._decode_any(C.mp4_build(1500, [("vide", 70, 50)], avc=(77, 31)))
    assert out["codec"] == "mp4"
    assert out["feature"][1:5] == [77.0, 31.0, 70.0, 50.0]
    # a/v file: audio fields first, then video, deterministic order
    both = C.mp4_build(
        1500, [("vide", 70, 50), ("soun", 0, 0)], aac=(2, 48000, 2),
        avc=(66, 30),
    )
    outb = mm._decode_any(both)
    assert outb["feature"][1:7] == [2.0, 2.0, 66.0, 30.0, 70.0, 50.0]


def test_opus_id_header_strict_parse_and_duration():
    """OpusHead contract (RFC 7845 §5.1): spec-valid headers round-trip
    channels/pre-skip/input-rate; MUST-reject conditions (magic, major
    version, mapping family needing a table, family-0 channel bounds,
    truncation) return None; and through the page walk the granule
    position converts to duration at the FIXED 48 kHz decode rate minus
    pre-skip (§4.1) — Vorbis streams keep their own id-rate path."""
    from multi_source_financial_data_pipeline_spark.operators import containers as C
    from multi_source_financial_data_pipeline_spark.operators import multimodal as mm

    pkt = C.opus_id_packet(2, 44100, pre_skip=312, output_gain_q8=-128)
    assert len(pkt) == 19
    assert C.parse_opus_id(pkt) == {
        "channels": 2, "pre_skip": 312,
        "input_sample_rate": 44100, "output_gain_q8": -128,
    }
    rejects = [
        b"OpusTags" + pkt[8:],            # wrong magic
        pkt[:8] + b"\x10" + pkt[9:],      # major version 1
        pkt[:18] + b"\x01",               # mapping family 1 (needs table)
        pkt[:9] + b"\x00" + pkt[10:],     # 0 channels
        pkt[:9] + b"\x03" + pkt[10:],     # 3 channels under family 0
        pkt[:18],                         # truncated
    ]
    for bad in rejects:
        assert C.parse_opus_id(bad) is None, bad.hex()
    # minor version bump is compatible per the RFC
    assert C.parse_opus_id(pkt[:8] + b"\x0f" + pkt[9:]) is not None

    ogg = C.ogg_build(11, [pkt, b"\xaa" * 80, b"\xbb" * 30], [0, 960, 4152])
    out = mm._decode_any(ogg)
    assert out["codec"] == "ogg"
    assert out["sample_rate"] == 48000
    assert out["duration_ms"] == (4152 - 312) * 1000.0 / 48000.0
    assert out["feature"][:6] == [3.0, 1.0, 4152.0, 2.0, 312.0, 44100.0]
    # a vorbis stream still takes the vorbis branch (id-rate duration)
    v = mm._decode_any(
        C.ogg_build(12, [C.vorbis_id_packet(1, 8000), b"x" * 40], [0, 800])
    )
    assert v["sample_rate"] == 8000 and v["duration_ms"] == 100.0


def test_stream_ann_topk_equals_batch_ivf_probe(spark, sf_dir):
    """Streaming retrieval's contract: the drained-and-ranked stream
    result is EXACTLY the batch IVF query's rows — the stream changes
    delivery, never semantics. The streaming leg itself must be
    stateless (append mode with no watermark/agg/dedup — a stateful
    operator would imply the plan grew semantics the batch twin lacks)."""
    from multi_source_financial_data_pipeline_spark.plans.registry import QUERIES

    got = sorted(
        tuple(r) for r in QUERIES["stream_ann_topk"].fn(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r) for r in QUERIES["ann_topk_ivf"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_stream_ann_topk_sink_writes_only_k_rows_per_query(spark, sf_dir):
    """The production sink's contract (r17 VERDICT item 5): same rows as
    the batch IVF query AND the sink files hold ONLY the ranked top-k —
    at most TOPK rows per query, every rank in [1, TOPK] — never the raw
    |q|·nprobe·|cell| scored-pair stream the memory-sink harness drains
    to the driver."""
    from collections import Counter

    from multi_source_financial_data_pipeline_spark.plans import mmstream
    from multi_source_financial_data_pipeline_spark.plans.registry import QUERIES

    rows = QUERIES["stream_ann_topk_sink"].fn(spark, sf_dir).collect()
    got = sorted(tuple(r) for r in rows)
    want = sorted(
        tuple(r) for r in QUERIES["ann_topk_ivf"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0
    per_query = Counter(r["query_id"] for r in rows)
    assert all(n <= mmstream.TOPK for n in per_query.values()), per_query
    assert all(1 <= r["rank"] <= mmstream.TOPK for r in rows)
