"""Structured Streaming + multimodal plumbing tests.

The streaming test materializes the events table as NDJSON, streams it
back with Trigger.AvailableNow, and checks the windowed aggregation
matches the batch run of the same expression — the batch/stream parity
contract.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from agentic_etl_poc_spark.io_tables import table
from agentic_etl_poc_spark.operators.multimodal import (
    attach_binary_payload,
    frame_sample,
    image_features,
)
from agentic_etl_poc_spark.streaming.events import (
    run_to_memory,
    sessionize,
    stream_events,
    windowed_counts,
)


@pytest.fixture(scope="module")
def events_json_dir(spark, sf_smoke, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_json"))
    (
        table(spark, sf_smoke, "events")
        .coalesce(4)
        .write.mode("overwrite")
        .json(out)
    )
    return out


def test_stream_windowed_counts_match_batch(spark, sf_smoke, events_json_dir):
    stream = stream_events(spark, events_json_dir, watermark="1 minute")
    # complete mode: append-mode watermarking would (correctly) hold back the
    # final still-open window, which batch has no notion of — parity needs all
    # windows emitted.
    run_to_memory(windowed_counts(stream), "stream_win", output_mode="complete")
    got = {
        (r["w"]["start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM stream_win").collect()
    }

    batch = windowed_counts(table(spark, sf_smoke, "events"))
    want = {
        (r["w"]["start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_sessionize(spark, events_json_dir):
    stream = stream_events(spark, events_json_dir, watermark="1 minute")
    run_to_memory(
        sessionize(stream, gap_seconds=3600), "stream_sessions"
    )
    rows = spark.sql("SELECT * FROM stream_sessions").collect()
    # closed sessions only; each is internally consistent
    for r in rows:
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1
    assert len(rows) > 0


def test_multimodal_image_features_fake(spark, sf_smoke):
    docs = table(spark, sf_smoke, "documents")
    payloads = attach_binary_payload(docs)
    feats = image_features(payloads, fake=True)
    rows = feats.collect()
    assert len(rows) == docs.count()
    for r in rows[:20]:
        assert r["payload_bytes"] > 0
        assert 64 <= r["width"] < 576
        assert r["n_channels"] == 3
        assert 0.0 <= r["mean_luma"] <= 1.0
    # deterministic: same payload -> same features on rerun
    again = {r["item_id"]: r["mean_luma"] for r in image_features(payloads, fake=True).collect()}
    assert all(again[r["item_id"]] == r["mean_luma"] for r in rows)


def test_multimodal_real_decode_rejects_unknown_format(spark, sf_smoke):
    """Real decode on a non-image payload (text bytes) must fail loudly
    with the format name, not return garbage."""
    docs = table(spark, sf_smoke, "documents").limit(1)
    payloads = attach_binary_payload(docs)
    with pytest.raises(Exception) as exc_info:
        image_features(payloads, fake=False).collect()
    assert "unsupported image format" in str(exc_info.value)


def _ppm_bytes(width, height, pixel_fn):
    """Build a P6 PPM: pixel_fn(x, y) -> (r, g, b)."""
    raster = bytearray()
    for y in range(height):
        for x in range(width):
            raster.extend(pixel_fn(x, y))
    return b"P6\n# test\n%d %d\n255\n" % (width, height) + bytes(raster)


def _wav_bytes(rate, samples_i16):
    import struct

    import numpy as np

    data = np.asarray(samples_i16, dtype="<i2").tobytes()
    return (
        struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF", 36 + len(data), b"WAVE",
            b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16,
            b"data", len(data),
        )
        + data
    )


def _payload_df(spark, payloads):
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [StructField("item_id", LongType()), StructField("payload", BinaryType())]
    )
    return spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)], schema
    )


def test_real_ppm_decode_exact(spark):
    # 2x2 image: pixels (10,20,30) everywhere -> luma = .299*10+.587*20+.114*30
    img = _ppm_bytes(2, 2, lambda x, y: (10, 20, 30))
    rows = image_features(_payload_df(spark, [img]), fake=False).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["width"], r["height"], r["n_channels"]) == (2, 2, 3)
    expect = (0.299 * 10 + 0.587 * 20 + 0.114 * 30) / 255.0
    assert abs(r["mean_luma"] - expect) < 1e-12
    assert r["payload_bytes"] == len(img)


def test_real_wav_decode_exact(spark):
    # 16000 Hz, 8000 samples of constant amplitude 16384 -> 0.5s, rms 0.5
    wav = _wav_bytes(16000, [16384] * 8000)
    from agentic_etl_poc_spark.operators.multimodal import audio_features

    r = audio_features(_payload_df(spark, [wav]), fake=False).collect()[0]
    assert r["sample_rate"] == 16000
    assert r["duration_sec"] == 0.5
    assert r["rms"] == 16384 / 32768.0


def test_walk_riff_rejects_malformed_containers():
    """Every malformation is a ValueError, never a silent truncation or a
    raw struct/buffer error: chunk size overrunning the buffer, fmt chunk
    under 16 bytes, odd-length PCM16 data, data length not a multiple of
    the sample width."""
    import struct

    import numpy as np

    from agentic_etl_poc_spark.operators.multimodal import (
        _decode_audio_real,
        _walk_riff,
        _wav_pcm16,
    )

    def riff(*chunks: bytes) -> bytes:
        body = b"WAVE" + b"".join(chunks)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    fmt16 = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, 1, 8000, 16000, 2, 16
    )
    # declared data size overruns the remaining buffer
    overrun = riff(fmt16, b"data" + struct.pack("<I", 1_000_000) + b"\x00\x00")
    with pytest.raises(ValueError, match="remain"):
        _walk_riff(overrun)
    # fmt chunk below the 16-byte PCM minimum (used to raise struct.error)
    tiny_fmt = riff(
        b"fmt " + struct.pack("<I", 8) + b"\x00" * 8,
        b"data" + struct.pack("<I", 2) + b"\x00\x00",
    )
    with pytest.raises(ValueError, match="fmt chunk"):
        _walk_riff(tiny_fmt)
    # odd-length PCM16 data chunk (used to be a generic numpy buffer error)
    odd = riff(fmt16, b"data" + struct.pack("<I", 3) + b"\x00\x00\x00\x00")
    with pytest.raises(ValueError, match="sample width"):
        _decode_audio_real(odd)
    # a well-formed encoder payload still walks clean
    good = _wav_pcm16(np.array([1, -2, 3], dtype=np.int64), 8000)
    fmt, data = _walk_riff(good)
    assert fmt[0] == 1 and fmt[5] == 16 and len(data) == 6


def test_audio_resample_rejects_odd_pcm16_data(spark):
    import struct

    from agentic_etl_poc_spark.operators.multimodal import audio_resample

    fmt16 = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, 1, 8000, 16000, 2, 16
    )
    body = b"WAVE" + fmt16 + b"data" + struct.pack("<I", 3) + b"\x00" * 4
    odd = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(Exception, match="odd length"):
        audio_resample(_payload_df(spark, [odd]), 16000, fake=False).collect()


def test_real_frame_sample_ppm_stream(spark):
    # 5 concatenated frames; sample 2 evenly -> frames 0 and 2 (floor(j*5/2))
    frames = [
        _ppm_bytes(2, 1, lambda x, y, v=v: (v, v, v)) for v in (1, 2, 3, 4, 5)
    ]
    stream = b"".join(frames)
    rows = frame_sample(_payload_df(spark, [stream]), n_frames=2, fake=False).collect()
    assert [r["frame_idx"] for r in rows] == [0, 1]
    import hashlib

    def raster_md5(f):
        # header ends after the single whitespace following maxval
        off = f.index(b"255\n") + 4
        return hashlib.md5(f[off:]).hexdigest()

    assert rows[0]["frame_md5"] == raster_md5(frames[0])
    assert rows[1]["frame_md5"] == raster_md5(frames[2])


def test_real_frame_sample_rejects_p5_stream(spark):
    """A P5 (grayscale) frame in the stream must be rejected outright:
    the 3-channel frame_len arithmetic would split it at wrong offsets."""
    p5 = b"P5\n2 1\n255\n" + bytes([7, 8])
    with pytest.raises(Exception) as exc_info:
        frame_sample(_payload_df(spark, [p5]), n_frames=1, fake=False).collect()
    assert "unsupported frame magic" in str(exc_info.value)


def test_pluggable_codec_hook(spark):
    """A deployment with PIL/ffmpeg registers a codec and compressed
    payloads decode through it — while PNM payloads STILL go through the
    verified built-in parser (the plugin is only the ValueError
    fallback), and unregistering restores the clear rejection."""
    from agentic_etl_poc_spark.operators.multimodal import (
        image_features,
        register_codec,
        unregister_codec,
    )

    def fake_jpeg_codec(payload):
        # stands in for PIL: any payload "decodes" to fixed dims
        return 320, 240, 3, 0.25

    jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 32  # JPEG magic, no PNM parser
    ppm = _ppm_bytes(2, 2, lambda x, y: (10, 20, 30))
    df = _payload_df(spark, [jpeg, ppm])
    prev = register_codec("image_decode", fake_jpeg_codec)
    try:
        rows = {r["payload_bytes"]: r for r in image_features(df, fake=False).collect()}
        assert rows[len(jpeg)]["width"] == 320  # plugin handled the JPEG
        # PNM still decodes through the verified builtin, not the plugin
        expect = (0.299 * 10 + 0.587 * 20 + 0.114 * 30) / 255.0
        assert abs(rows[len(ppm)]["mean_luma"] - expect) < 1e-12
        assert rows[len(ppm)]["width"] == 2
    finally:
        if prev is None:
            unregister_codec("image_decode")
        else:
            register_codec("image_decode", prev)
    with pytest.raises(Exception) as exc_info:
        image_features(_payload_df(spark, [jpeg]), fake=False).collect()
    assert "unsupported image format" in str(exc_info.value)
    with pytest.raises(ValueError, match="unknown codec kind"):
        register_codec("video_transcode", fake_jpeg_codec)


def test_real_image_resize_roundtrip(spark):
    from agentic_etl_poc_spark.operators.multimodal import image_resize

    # 4x4 with distinct per-pixel values; downscale to 2x2 nearest-neighbor
    img = _ppm_bytes(4, 4, lambda x, y: (x * 16, y * 16, 128))
    rows = image_resize(
        _payload_df(spark, [img]), width=2, height=2, fake=False
    ).collect()
    out = bytes(rows[0]["payload"])
    from agentic_etl_poc_spark.operators.multimodal import _decode_image_real

    w, h, c, _ = _decode_image_real(out)
    assert (w, h, c) == (2, 2, 3)
    # nearest-neighbor with center sampling picks src pixels 1 and 3
    raster = out[out.index(b"255\n") + 4 :]
    px = [tuple(raster[i : i + 3]) for i in range(0, len(raster), 3)]
    assert px == [
        (16, 16, 128), (48, 16, 128),
        (16, 48, 128), (48, 48, 128),
    ]


def test_multimodal_frame_sample(spark, sf_smoke):
    docs = table(spark, sf_smoke, "documents").limit(10)
    payloads = attach_binary_payload(docs)
    frames = frame_sample(payloads, n_frames=4, fake=True)
    rows = frames.collect()
    assert len(rows) == 40  # 10 items x 4 frames
    assert {r["frame_idx"] for r in rows} == {0, 1, 2, 3}


def test_stream_static_enrichment(spark, sf_smoke, events_json_dir):
    from agentic_etl_poc_spark.streaming.events import enrich_with_dim

    dim = spark.createDataFrame(
        [("click", "interactive"), ("view", "passive")],
        "event_type string, kind string",
    )
    stream = stream_events(spark, events_json_dir, watermark="1 minute")
    run_to_memory(
        enrich_with_dim(stream, dim, "event_type").select(
            "event_id", "event_type", "kind"
        ),
        "stream_enriched",
    )
    rows = spark.sql("SELECT * FROM stream_enriched").collect()
    n_events = table(spark, sf_smoke, "events").count()
    assert len(rows) == n_events  # left join preserves every event
    kinds = {r["event_type"]: r["kind"] for r in rows}
    assert kinds.get("click") == "interactive"
    assert kinds.get("view") == "passive"


def test_stream_dedup(spark, sf_smoke, tmp_path):
    """Duplicate every event in the source; the watermarked streaming dedup
    must restore the original count."""
    from agentic_etl_poc_spark.streaming.events import dedup_stream

    src = str(tmp_path / "dup_json")
    ev = table(spark, sf_smoke, "events")
    ev.unionByName(ev).coalesce(2).write.mode("overwrite").json(src)

    stream = stream_events(spark, src, watermark="1 minute")
    run_to_memory(dedup_stream(stream), "stream_dedup")
    got = spark.sql("SELECT COUNT(*) AS n FROM stream_dedup").collect()[0]["n"]
    assert got == ev.count()


def test_multimodal_audio_features_fake(spark, sf_smoke):
    from agentic_etl_poc_spark.operators.multimodal import audio_features

    docs = table(spark, sf_smoke, "documents").limit(50)
    payloads = attach_binary_payload(docs)
    rows = audio_features(payloads, fake=True).collect()
    assert len(rows) == 50
    for r in rows:
        assert r["duration_sec"] >= 0.5
        assert r["sample_rate"] in (8000, 16000, 22050, 44100)
        assert 0.0 <= r["rms"] <= 1.0


def test_stream_stream_join_matches_batch(spark, sf_smoke, events_json_dir):
    """Stream-stream time-bounded join drained with AvailableNow equals the
    same join expressed on the batch table."""
    from agentic_etl_poc_spark.streaming.events import join_click_to_view

    stream = stream_events(spark, events_json_dir, watermark="1 minute")
    sv = stream.filter(stream["event_type"] == "view")
    sc = stream.filter(stream["event_type"] == "click")
    run_to_memory(join_click_to_view(sv, sc), "stream_attrib")
    got = {
        (r["user_id"], r["click_id"], r["view_id"])
        for r in spark.sql("SELECT * FROM stream_attrib").collect()
    }

    batch = table(spark, sf_smoke, "events")
    bv = batch.filter(batch["event_type"] == "view")
    bc = batch.filter(batch["event_type"] == "click")
    want = {
        (r["user_id"], r["click_id"], r["view_id"])
        for r in join_click_to_view(bv, bc).collect()
    }
    assert got == want
    assert len(got) > 0


def test_multimodal_image_resize_fake(spark, sf_smoke):
    """Resize is binary-in/binary-out: the output payload column must be
    real bytes (re-encodable downstream), sized by the pixel ratio, and
    deterministic across runs."""
    from agentic_etl_poc_spark.operators.multimodal import image_resize

    docs = table(spark, sf_smoke, "documents").limit(50)
    payloads = attach_binary_payload(docs)
    out = image_resize(payloads, width=64, height=64, fake=True)
    rows = out.collect()
    assert len(rows) == 50
    for r in rows[:10]:
        assert isinstance(r["payload"], (bytes, bytearray))
        assert r["dst_bytes"] == len(r["payload"]) > 0
        assert r["dst_bytes"] <= max(16, r["src_bytes"])
        assert (r["width"], r["height"]) == (64, 64)
    again = {r["item_id"]: bytes(r["payload"]) for r in
             image_resize(payloads, width=64, height=64, fake=True).collect()}
    assert all(again[r["item_id"]] == bytes(r["payload"]) for r in rows)
    # feature extraction composes on the RESIZED payload
    feats = image_features(out, fake=True)
    assert feats.count() == 50


def test_multimodal_resize_real_rejects_unknown_format(spark, sf_smoke):
    """Real resize exists (pure-numpy PNM path); a non-PNM payload must be
    rejected with the clear format error, not mis-decoded."""
    from agentic_etl_poc_spark.operators.multimodal import image_resize

    docs = table(spark, sf_smoke, "documents").limit(1)
    with pytest.raises(Exception) as exc_info:
        image_resize(attach_binary_payload(docs), fake=False).collect()
    assert "unsupported image format" in str(exc_info.value)


def test_run_available_now_exactly_once_redrain(spark, sf_smoke, events_json_dir, tmp_path):
    """The cron-batch replacement contract: a second AvailableNow drain
    with the same checkpoint processes NOTHING new (exactly-once
    bookkeeping), and the parquet sink holds each input row exactly once."""
    from agentic_etl_poc_spark.streaming.events import (
        run_available_now,
        stream_events,
    )

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    n_in = table(spark, sf_smoke, "events").count()

    stream = stream_events(spark, events_json_dir, watermark="1 minute")
    run_available_now(stream, ckpt, out)
    assert spark.read.parquet(out).count() == n_in

    # re-drain: checkpoint marks every file processed -> no duplicates
    stream2 = stream_events(spark, events_json_dir, watermark="1 minute")
    run_available_now(stream2, ckpt, out)
    assert spark.read.parquet(out).count() == n_in


def test_v05_watermark_drops_late_rows(spark, sf_smoke):
    """The v05 mechanism, asserted at the metrics level: the three-file
    eviction topic drained with maxFilesPerTrigger=1 must process three
    micro-batches, and the late-replay batch must report rows dropped BY
    THE WATERMARK (not merely absent from the output)."""
    from agentic_etl_poc_spark.queries.streamq import _eviction_stream_dir
    from agentic_etl_poc_spark.streaming.events import (
        run_to_memory,
        stream_events,
        windowed_counts,
    )

    src = _eviction_stream_dir(spark, sf_smoke)
    stream = stream_events(spark, src, watermark="1 hour", max_files_per_trigger=1)
    q = run_to_memory(
        windowed_counts(stream), "v05_mech_probe", output_mode="append"
    )
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) == 3, [p["numInputRows"] for p in data_batches]
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in data_batches
        for op in p["stateOperators"]
    )
    assert dropped > 0, "late replay was never suppressed by the watermark"


def test_vad_frames_contract():
    """The VAD kernel's frame math, pinned at the numpy level: fixed
    160-sample windows, trailing partial frame dropped, RMS exact on the
    Q15 grid for alternating-sign constant amplitude, and loud rejection
    of non-PCM16-mono containers."""
    import struct

    import numpy as np
    import pytest

    from agentic_etl_poc_spark.operators.multimodal import _vad_frames

    def wav(samples: np.ndarray, channels: int = 1, bits: int = 16) -> bytes:
        data = samples.tobytes()
        return struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF", 36 + len(data), b"WAVE",
            b"fmt ", 16, 1, channels, 8000,
            8000 * channels * bits // 8, channels * bits // 8, bits,
            b"data", len(data),
        ) + data

    # 2.5 frames of +/-1000: two full frames of rms exactly 1000, the
    # 80-sample tail dropped
    s = np.zeros(400, dtype="<i2")
    s[0::2] = 1000
    s[1::2] = -1000
    rms = _vad_frames(wav(s), 160)
    assert rms.tolist() == [1000, 1000]

    # fewer samples than one frame -> zero frames, not a crash
    assert _vad_frames(wav(s[:100]), 160).size == 0

    # silence frames are exactly zero
    assert _vad_frames(wav(np.zeros(160, dtype="<i2")), 160).tolist() == [0]

    with pytest.raises(ValueError, match="not RIFF"):
        _vad_frames(b"JUNK" * 10, 160)
    with pytest.raises(ValueError, match="channels=2"):
        _vad_frames(wav(s, channels=2), 160)


def test_vad_segments_run_detection(spark):
    """Run detection over a hand-built frame pattern: active-silent-
    active-active-silent must yield exactly two segments with the right
    starts, lengths, and peaks — including a segment that runs to the
    final frame (the off-by-one the trailing sentinel in the kernel
    guards)."""
    import struct

    import numpy as np

    from agentic_etl_poc_spark.operators.multimodal import vad_segments

    FRAME = 160
    amps = [2000, 0, 1500, 3000, 0, 2500]  # frames; last run ends at EOF?
    samples = np.zeros(len(amps) * FRAME, dtype="<i2")
    for f, amp in enumerate(amps):
        seg = samples[f * FRAME : (f + 1) * FRAME]
        seg[0::2] = amp
        seg[1::2] = -amp
    data = samples.tobytes()
    payload = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, 8000, 16000, 2, 16,
        b"data", len(data),
    ) + data
    df = spark.createDataFrame([(1, bytearray(payload))], "item_id long, payload binary")
    rows = [
        r.asDict()
        for r in vad_segments(df, frame_samples=FRAME, threshold_q15=500)
        .orderBy("seg_idx")
        .collect()
    ]
    assert rows == [
        {"item_id": 1, "seg_idx": 0, "start_frame": 0, "n_frames": 1,
         "peak_q15": 2000},
        {"item_id": 1, "seg_idx": 1, "start_frame": 2, "n_frames": 2,
         "peak_q15": 3000},
        {"item_id": 1, "seg_idx": 2, "start_frame": 5, "n_frames": 1,
         "peak_q15": 2500},
    ]


def test_stream_dedup_within_watermark_evicts_then_reemits(spark, tmp_path):
    """dropDuplicatesWithinWatermark's contract, both halves:

    1. duplicates arriving within the watermark delay of the first copy
       are suppressed — even when the dedup key omits the event-time
       column (the case plain dropDuplicates cannot bound state for);
    2. once the watermark passes first_seen + delay, the key's state is
       EVICTED, and a later re-delivery is emitted again — the documented
       at-least-once residue of any bounded-state dedup.
    """
    import json
    import time

    from agentic_etl_poc_spark.streaming.events import (
        dedup_stream_within_watermark,
    )

    src = str(tmp_path / "wm_dedup")
    os.makedirs(src)

    def write(fname, rows, age_sec):
        path = os.path.join(src, fname)
        with open(path, "w") as f:
            for eid, ts in rows:
                f.write(
                    json.dumps(
                        {
                            "event_id": eid,
                            "ts": ts,
                            "user_id": 1,
                            "event_type": "view",
                            "value": 1.0,
                            "props": "{}",
                        }
                    )
                    + "\n"
                )
        now = time.time()
        os.utime(path, (now - age_sec,) * 2)

    t0 = "2024-01-01 00:00:00"
    # batch 1: id=1 twice (in-batch duplicate) -> one survivor
    write("a.json", [(1, t0), (1, t0)], 240)
    # batch 2: advancer — event time far past t0 + delay, so id=1's state
    # (expiring at first_seen + 30 min) is evicted once the watermark
    # moves; id=1 re-sent in the SAME batch is still within the filter's
    # one-batch watermark lag and stays suppressed
    write("b.json", [(99, "2024-01-01 06:00:00"), (1, "2024-01-01 00:10:00")], 180)
    # batch 3: settling batch — the watermark (one-batch lag, pinned on
    # Spark 4.1 by v05) now reads 05:30 and id=1's state is evicted at
    # this batch's commit
    write("b2.json", [(98, "2024-01-01 06:00:00")], 120)
    # batch 4: id=1 re-delivered with a fresh event time (not late) AFTER
    # eviction -> emitted again
    write("c.json", [(1, "2024-01-01 07:00:00")], 60)

    stream = stream_events(
        spark, src, watermark="30 minutes", max_files_per_trigger=1
    )
    run_to_memory(
        dedup_stream_within_watermark(stream), "wm_dedup_reemit"
    )
    got = {
        (r["event_id"], str(r["ts"]))
        for r in spark.table("wm_dedup_reemit").collect()
    }
    ids = sorted(eid for eid, _ in got)
    # id=1 appears exactly TWICE: first copy + the post-eviction re-delivery
    assert ids == [1, 1, 98, 99], got
    assert (1, "2024-01-01 07:00:00") in got


def test_fold_sessions_kernel_islands_and_carry():
    """The gaps-and-islands kernel both stateful APIs share
    (streaming/events.py::_fold_sessions): island splitting, carried-state
    extension, and carried-state closure when the batch starts past the
    gap."""
    import datetime as dt

    import pandas as pd

    from agentic_etl_poc_spark.streaming.events import _fold_sessions

    def T(s):
        return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=s)

    batch = pd.DataFrame(
        {
            # out of order on purpose: kernel sorts; gap=60s
            "ts": [T(130), T(0), T(30), T(300)],
            "value": [3.0, 1.0, 2.0, 4.0],
        }
    )
    # no carried state: islands [0,30], [130], open [300]
    closed, state = _fold_sessions(batch, None, 60, user_id=7)
    assert closed == [[7, T(0), T(30), 2, 3.0], [7, T(130), T(130), 1, 3.0]]
    assert state == (T(300), T(300), 1, 4.0)

    # carried state extended by a batch starting within the gap
    closed, state = _fold_sessions(
        pd.DataFrame({"ts": [T(340)], "value": [5.0]}),
        (T(300), T(300), 1, 4.0),
        60,
        user_id=7,
    )
    assert closed == []
    assert state == (T(300), T(340), 2, 9.0)

    # carried state CLOSED as-is when the batch starts past the gap
    closed, state = _fold_sessions(
        pd.DataFrame({"ts": [T(1000)], "value": [6.0]}),
        (T(300), T(340), 2, 9.0),
        60,
        user_id=7,
    )
    assert closed == [[7, T(300), T(340), 2, 9.0]]
    assert state == (T(1000), T(1000), 1, 6.0)


def test_sessionize_tws_gate_reflects_environment():
    """tws_available() must mirror whether google.protobuf is importable —
    the dependency the transformWithStateInPandas state-server client
    needs (its absence crashes the stream's driver worker at startup)."""
    import importlib.util

    from agentic_etl_poc_spark.streaming.events import tws_available

    try:
        present = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        present = False
    assert tws_available() == present


def test_sessionize_tws_matches_applyinpandas(spark, events_json_dir):
    """State-API portability: the transformWithStateInPandas sessionizer
    must emit exactly the rows the applyInPandasWithState one does (both
    run _fold_sessions).  Runs only where google.protobuf exists — on this
    container the TWS Python state server cannot start without it
    (documented in COVERAGE.md)."""
    from agentic_etl_poc_spark.streaming.events import (
        sessionize_tws,
        tws_available,
    )

    if not tws_available():
        pytest.skip("google.protobuf absent: TWS state server cannot start")

    stream = stream_events(spark, events_json_dir, watermark="3650 days")
    run_to_memory(sessionize(stream, gap_seconds=3600), "tws_base_sessions")
    stream2 = stream_events(spark, events_json_dir, watermark="3650 days")
    run_to_memory(sessionize_tws(stream2, gap_seconds=3600), "tws_sessions")
    base = {
        tuple(r) for r in spark.table("tws_base_sessions").collect()
    }
    got = {tuple(r) for r in spark.table("tws_sessions").collect()}
    assert got == base


def test_image_center_crop_letterbox_and_reject(spark):
    """The crop kernel's letterbox path (source smaller than target is
    centered on a zero canvas) and its pad=False rejection — the paths
    m09's oracle never exercises (its sources are always >= the crop)."""
    import numpy as np

    from agentic_etl_poc_spark.operators.multimodal import (
        _pnm_header,
        image_center_crop,
    )

    w0, h0 = 4, 2
    raster = np.arange(1, w0 * h0 + 1, dtype=np.uint8).reshape(h0, w0)
    payload = b"P5\n4 2\n255\n" + raster.tobytes()
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "item_id bigint, payload binary"
    )
    out = image_center_crop(df, width=6, height=4, fake=False).collect()[0]
    data = bytes(out["payload"])
    _, w, h, _, off = _pnm_header(data)
    assert (w, h) == (6, 4)
    canvas = np.frombuffer(data, np.uint8, count=24, offset=off).reshape(4, 6)
    assert canvas.sum() == raster.sum()
    assert (canvas[1:3, 1:5] == raster).all()  # centered at (dy, dx) = (1, 1)
    assert canvas[0].sum() == 0 and canvas[3].sum() == 0  # letterbox rows

    with pytest.raises(Exception) as ei:
        image_center_crop(
            df, width=6, height=4, pad=False, fake=False
        ).collect()
    assert "smaller than crop" in str(ei.value)


def test_stream_quarantine_split_empty_side_reads_back(spark, tmp_path):
    """v14's split must survive a CLEAN stream: a side whose every batch
    filtered to zero rows has no parquet part files under it, and the
    read-back needs the explicit schema to return an empty frame instead
    of failing inference (round-8 review finding)."""
    import json
    import os

    from agentic_etl_poc_spark.streaming.events import EVENT_SCHEMA

    src = str(tmp_path / "clean_topic")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        for i in range(5):
            f.write(
                json.dumps(
                    {
                        "event_id": i, "ts": "2024-01-01 00:00:00",
                        "user_id": 1, "event_type": "view",
                        "value": 1.0, "props": "{}",
                    }
                )
                + "\n"
            )
    clean_root = str(tmp_path / "clean")
    quar_root = str(tmp_path / "quar")
    bad = F.col("event_type") == "error"

    def split(batch_df, batch_id):
        batch_df.filter(~bad).write.mode("overwrite").parquet(
            os.path.join(clean_root, f"b{batch_id}")
        )
        batch_df.filter(bad).write.mode("overwrite").parquet(
            os.path.join(quar_root, f"b{batch_id}")
        )

    stream = stream_events(spark, src, watermark="1 minute")
    q = (
        stream.writeStream.foreachBatch(split)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    quar = (
        spark.read.schema(EVENT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(quar_root)
    )
    clean = (
        spark.read.schema(EVENT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(clean_root)
    )
    assert quar.count() == 0
    assert clean.count() == 5


def test_map_rows_batching_is_invisible(spark):
    """The per-row kernels run through ``transform.map_rows``, one pandas
    frame per Arrow batch.  Their rows must not depend on the batch size,
    including a row-exploding kernel whose whole first batch yields
    nothing, and the output must carry the DDL schema's names and
    types."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StructType

    from agentic_etl_poc_spark.operators.multimodal import (
        IMAGE_FEATURES_SCHEMA,
        PAYLOAD_SCHEMA,
        VAD_SCHEMA,
        _wav_pcm16,
        image_features,
        vad_segments,
    )

    def wav(i: int) -> bytes:
        s = np.zeros(4 * 160, dtype="<i2")
        if i >= 3 and i != 7:  # items 0-2 and 7 are silent: no segments
            for f in range(i % 2, 4, 2):
                s[f * 160 : (f + 1) * 160 : 2] = 1000 + i
                s[f * 160 + 1 : (f + 1) * 160 : 2] = -(1000 + i)
        return _wav_pcm16(s, 8000)

    def pnm(i: int) -> bytes:
        w = 2 + i % 3
        return b"P5\n%d 2\n255\n" % w + bytes(range(i, i + 2 * w))

    audio = spark.createDataFrame(
        [(i, wav(i)) for i in range(10)], PAYLOAD_SCHEMA
    ).coalesce(1)
    images = spark.createDataFrame(
        [(i, pnm(i)) for i in range(10)], PAYLOAD_SCHEMA
    ).coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"

    def batch_sizes():
        return [
            r.n
            for r in audio.mapInPandas(
                lambda it: (pd.DataFrame({"n": [len(p)]}) for p in it), "n long"
            ).collect()
        ]

    def run():
        out = {}
        for df, ddl in (
            (vad_segments(audio).orderBy("item_id", "seg_idx"), VAD_SCHEMA),
            (image_features(images).orderBy("item_id"), IMAGE_FEATURES_SCHEMA),
        ):
            want = [(f.name, f.dataType) for f in StructType.fromDDL(ddl)]
            assert [(f.name, f.dataType) for f in df.schema] == want
            out[ddl] = df.collect()
        return out

    assert batch_sizes() == [10]
    default = run()
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        assert batch_sizes() == [3, 3, 3, 1]
        small = run()
    finally:
        spark.conf.set(key, prev)
    assert small == default
    segs = default[VAD_SCHEMA]
    assert {r.item_id for r in segs} == {3, 4, 5, 6, 8, 9}
    assert len(segs) == 12 and len(default[IMAGE_FEATURES_SCHEMA]) == 10
