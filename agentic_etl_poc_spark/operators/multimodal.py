"""Multimodal-column operators: opaque binary payloads + typed metadata.

Design (BASELINE.json extension surface): media travels as a ``binary``
column plus a metadata struct; every operator is one per-item kernel
run through ``transform.map_rows`` (Arrow-batched ``mapInPandas``), so
the kernels see whole byte buffers and the Spark plumbing (schema,
partitioning, batch shape, row explosion) is shared, real and tested.

The kernels are pure-Python/numpy parsers for the open uncompressed
formats — RIFF/WAV PCM audio, PNM (P5 grayscale / P6 RGB) images, and
concatenated-PPM frame streams for video — so decode, resize, crop,
frame-sample, shot detection, dHash and VAD are genuinely computed from
pixel / sample data, with zero native media dependencies.  Compressed
formats (JPEG/PNG/MP3/MP4) raise ``ValueError`` naming the format:
decoding them needs PIL/ffmpeg, deliberately out of scope in this
environment (a registered codec is the fallback, see ``register_codec``).
``fake=True`` on ``image_features``, ``audio_features``,
``frame_sample``, ``image_resize``, ``image_center_crop`` and
``audio_resample`` swaps in a deterministic pseudo-kernel derived from
a crc/md5 of the payload — runnable on ANY bytes, used to exercise the
pipeline end-to-end without media files.

Partitioning note for 100 TB of media: repartition by a size-balanced key
(e.g. ``hash(item_id)``) BEFORE mapInPandas so one huge video can't skew a
task; cap ``spark.sql.files.maxPartitionBytes`` so scans don't build
multi-GB Arrow batches.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Callable, Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agentic_etl_poc_spark.operators.transform import map_rows

#: Pluggable-codec registry.  A deployment that has PIL/ffmpeg available
#: registers decoders for the compressed formats the built-in pure-numpy
#: parsers reject; the per-item kernels are untouched — each kernel
#: consults the registry and the registered codec runs only as the
#: FALLBACK when the verified built-in raises
#: ValueError (so PNM/WAV keep the tested path, JPEG/MP3 route to the
#: plugin).  Contracts (same signatures as the built-ins they back up):
#:
#: - ``image_decode``:   fn(payload) -> (width, height, channels, mean_luma)
#: - ``audio_decode``:   fn(payload) -> (duration_sec, sample_rate, rms)
#: - ``image_resize``:   fn(payload, width, height) -> resized payload bytes
#: - ``audio_resample``: fn(payload, out_rate) -> (payload_out, src_rate,
#:                       n_src, n_out)
#: - ``frame_rasters``:  fn(payload) -> list of per-frame RASTER bytes
#: - ``image_dhash``:    fn(payload) -> 16-char hex dHash string
_CODECS: dict[str, Callable] = {}

CODEC_KINDS = (
    "image_decode",
    "audio_decode",
    "image_resize",
    "audio_resample",
    "frame_rasters",
    "image_dhash",
)


def register_codec(kind: str, fn: Callable) -> Callable | None:
    """Install a fallback codec for ``kind``; returns the previously
    registered one (or None) so callers can restore it."""
    if kind not in CODEC_KINDS:
        raise ValueError(f"unknown codec kind {kind!r}; expected one of {CODEC_KINDS}")
    prev = _CODECS.get(kind)
    _CODECS[kind] = fn
    return prev


def unregister_codec(kind: str) -> None:
    _CODECS.pop(kind, None)


def _with_codec(kind: str, builtin: Callable) -> Callable:
    """Builtin-first dispatch: the verified parser handles everything it
    understands; a registered codec catches only the payloads the builtin
    rejects with ValueError.  Resolution happens ON THE DRIVER when the
    operator is CONSTRUCTED (this _CODECS.get runs as the DataFrame is
    built): the resolved fn is captured into the closure and shipped with
    the task, which is exactly why driver-side register_codec() calls
    reach executors at all — a lookup deferred into the closure would
    read the executor's freshly-imported module registry and silently
    miss them.  Consequence: register BEFORE building the DataFrame;
    codecs registered after construction are ignored by that plan.  The
    registered fn must be picklable (module-level fn or closure, same
    rule as any map_rows kernel)."""
    ext = _CODECS.get(kind)
    if ext is None:
        return builtin

    def decode(payload, *args):
        try:
            return builtin(payload, *args)
        except ValueError:
            return ext(payload, *args)

    return decode


#: The (item_id, payload) frame every kernel reads and the synthesizers
#: in queries/ emit.
PAYLOAD_SCHEMA = "item_id bigint, payload binary"

IMAGE_FEATURES_SCHEMA = (
    "item_id bigint, payload_bytes bigint, width int, height int, "
    "n_channels int, mean_luma double"
)

AUDIO_FEATURES_SCHEMA = (
    "item_id bigint, payload_bytes bigint, duration_sec double, "
    "sample_rate int, rms double"
)

FRAME_SAMPLE_SCHEMA = (
    "item_id bigint, frame_idx int, frame_md5 string"
)


def attach_binary_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Adapter for the test corpus: treat a text column as an opaque binary
    payload with typed metadata — the schema real media would use."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("item_id"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).alias("n_bytes"),
            F.lit("application/octet-stream").alias("mime"),
            F.md5(F.col(text_col)).alias("digest"),
        ).alias("meta"),
    )


def _pnm_header(payload: bytes) -> tuple[bytes, int, int, int, int]:
    """Parse a PNM (P5/P6) header: returns (magic, width, height, maxval,
    raster_offset).  Pure parser — whitespace/comment handling per the
    netpbm spec."""
    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(
            f"unsupported image format (magic {payload[:2]!r}); real decode "
            "supports PNM P5/P6 — JPEG/PNG need PIL, out of scope here"
        )
    pos, tokens = 2, []
    n = len(payload)
    while len(tokens) < 3:
        while pos < n and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < n and payload[pos : pos + 1] == b"#":  # comment to EOL
            while pos < n and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < n and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PNM header")
        tokens.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte separates maxval from raster
    width, height, maxval = tokens
    if not (0 < maxval < 65536 and width > 0 and height > 0):
        raise ValueError(f"invalid PNM dimensions {width}x{height}/{maxval}")
    return magic, width, height, maxval, pos


def _pnm_raster(payload: bytes) -> tuple[bytes, int, np.ndarray]:
    """Decode a PNM (P5/P6) image: returns (magic, maxval, raster) with
    the raster shaped (height, width, channels) — uint8 samples below
    maxval 256, big-endian uint16 from there.  A short raster raises
    ValueError."""
    magic, width, height, maxval, off = _pnm_header(payload)
    channels = 3 if magic == b"P6" else 1
    dtype = np.uint8 if maxval < 256 else np.dtype(">u2")
    count = width * height * channels
    if len(payload) - off < count * np.dtype(dtype).itemsize:
        raise ValueError("truncated PNM raster")
    raster = np.frombuffer(payload, dtype=dtype, count=count, offset=off)
    return magic, maxval, raster.reshape(height, width, channels)


def _pnm_bytes(magic: bytes, maxval: int, raster: np.ndarray) -> bytes:
    """Encode a (height, width, channels) raster as a PNM payload."""
    height, width = raster.shape[:2]
    return b"%s\n%d %d\n%d\n" % (magic, width, height, maxval) + raster.tobytes()


def _luma(raster: np.ndarray) -> np.ndarray:
    """(height, width) float64 luma of a PNM raster: Rec.601 weights for
    RGB, the sample itself for grayscale."""
    px = raster.astype(np.float64)
    if px.shape[2] == 3:
        return 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
    return px[..., 0]


def _decode_image_real(payload: bytes) -> tuple[int, int, int, float]:
    """Real PNM decode: parse the header, read the raster, compute mean
    luma (Rec.601 weights for RGB) normalized to [0, 1]."""
    _, maxval, raster = _pnm_raster(payload)
    height, width, channels = raster.shape
    return width, height, channels, float(_luma(raster).mean() / maxval)


def _decode_image_fake(payload: bytes) -> tuple[int, int, int, float]:
    """Deterministic pseudo-decode: dimensions/luma derived from a crc of
    the payload — stable across engines/runs, no media libs."""
    crc = zlib.crc32(payload)
    width = 64 + (crc % 512)
    height = 64 + ((crc >> 9) % 512)
    return width, height, 3, (crc % 10_000) / 10_000.0


def _per_item(df: DataFrame, row: Callable, schema: str) -> DataFrame:
    """Run a per-item kernel ``row(item_id, payload)`` over ``df``."""
    return map_rows(df.select("item_id", "payload"), row, schema)


def _features(df: DataFrame, decode: Callable, schema: str) -> DataFrame:
    """One (item_id, payload_bytes, *decode(payload)) row per item."""

    def row(item_id, payload):
        yield (item_id, len(payload), *decode(payload))

    return _per_item(df, row, schema)


def image_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Extract image features per item.  ``df`` must have columns
    (item_id, payload)."""
    decode = (
        _decode_image_fake
        if fake
        else _with_codec("image_decode", _decode_image_real)
    )
    return _features(df, decode, IMAGE_FEATURES_SCHEMA)


def _iter_ppm_frames(payload: bytes) -> Iterator[bytes]:
    """Split a concatenated-PPM stream (the uncompressed 'video' container
    ffmpeg calls image2pipe/ppm) into one bytes object per frame."""
    pos, n = 0, len(payload)
    while pos < n:
        magic, width, height, maxval, off = _pnm_header(payload[pos:])
        if magic != b"P6":
            # frame_len below assumes 3 channels; a P5 (grayscale) frame
            # would be split at wrong offsets — reject it clearly instead
            raise ValueError(
                f"unsupported frame magic {magic!r} in PPM stream "
                "(only binary P6 frames are supported)"
            )
        frame_len = off + width * height * 3 * (1 if maxval < 256 else 2)
        if pos + frame_len > n:
            raise ValueError("truncated PPM frame in stream")
        yield payload[pos : pos + frame_len]
        pos += frame_len


def _ppm_frame_rasters(payload: bytes) -> list[bytes]:
    """Decode a concatenated-PPM stream to one RASTER bytes object per
    frame (headers stripped, so fingerprints are header-invariant)."""
    rasters = []
    for frame in _iter_ppm_frames(payload):
        off = _pnm_header(frame)[4]
        rasters.append(frame[off:])
    return rasters


def frame_sample(df: DataFrame, n_frames: int = 4, fake: bool = False) -> DataFrame:
    """Video frame sampling: one output row per sampled frame (the
    row-explosion plumbing, 1 item → N frames, is the contract).

    Real kernel: the payload is a concatenated-PPM frame stream
    (ffmpeg's image2pipe rawvideo interchange); frames are parsed and
    n_frames sampled evenly across the stream, each fingerprinted by its
    decoded RASTER bytes (header-invariant).  Fake kernel: fixed-size
    payload slices, runnable on any bytes."""
    rasterize = _with_codec("frame_rasters", _ppm_frame_rasters)

    def row(item_id, payload):
        if fake:
            step = max(1, len(payload) // n_frames)
            frames = [payload[i * step : (i + 1) * step] for i in range(n_frames)]
        else:
            rasters = rasterize(payload)
            k = len(rasters)
            take = min(n_frames, k)
            # even sampling: frame floor(j*k/take) for j in 0..take-1
            frames = [rasters[(j * k) // take] for j in range(take)]
        for idx, frame in enumerate(frames):
            yield item_id, idx, hashlib.md5(frame).hexdigest()

    return _per_item(df, row, FRAME_SAMPLE_SCHEMA)


RESIZE_SCHEMA = (
    "item_id bigint, payload binary, width int, height int, "
    "src_bytes bigint, dst_bytes bigint"
)


def image_resize(
    df: DataFrame, width: int = 224, height: int = 224, fake: bool = False
) -> DataFrame:
    """Resize kernel: payload in, (resized payload, target dims) out — the
    binary-in/binary-out plumbing a preprocessing pipeline needs (resize →
    re-encode → downstream feature extraction reads the NEW payload).

    Real kernel: PNM decode → nearest-neighbor resample with numpy index
    arithmetic → re-encode as P6/P5 — a genuine pixel-space resize with
    no native deps.  Fake kernel: re-chunks the payload proportionally to
    the pixel-count ratio (runnable on any bytes).  At scale this is
    map-only: no shuffle, Arrow batches both directions, output parquet
    can be written directly.
    """

    def resize_real(data: bytes) -> bytes:
        magic, maxval, raster = _pnm_raster(data)
        h0, w0 = raster.shape[:2]
        # nearest-neighbor: src index = floor((dst + 0.5) * src/dst)
        ys = ((np.arange(height) + 0.5) * h0 / height).astype(np.int64)
        xs = ((np.arange(width) + 0.5) * w0 / width).astype(np.int64)
        return _pnm_bytes(magic, maxval, raster[ys[:, None], xs[None, :], :])

    resizer = _with_codec("image_resize", lambda data, w, h: resize_real(data))

    def row(item_id, payload):
        if fake:
            w0, h0, _, _ = _decode_image_fake(payload)
            ratio = (width * height) / float(w0 * h0)
            dst_len = max(16, int(len(payload) * min(ratio, 1.0)))
            resized = (hashlib.md5(payload).digest() + payload)[:dst_len]
        else:
            resized = resizer(payload, width, height)
        yield item_id, resized, width, height, len(payload), len(resized)

    return _per_item(df, row, RESIZE_SCHEMA)


def image_center_crop(
    df: DataFrame,
    width: int = 224,
    height: int = 224,
    pad: bool = True,
    fake: bool = False,
) -> DataFrame:
    """Center-crop to (width, height) with optional LETTERBOX padding —
    the other half of CLIP-style preprocessing (resize shorter side, then
    center-crop; ``image_resize`` is the first half).  A source smaller
    than the target on either axis is centered on a zero (black) canvas
    when ``pad=True``, else rejected with ValueError.  There is no codec
    kind for cropping: a non-PNM payload raises the decoder's
    ValueError.

    Real kernel: PNM decode → numpy window slice (and zero-canvas paste
    for letterboxing) → P5/P6 re-encode.  Map-only at scale: no shuffle,
    Arrow batches both directions."""

    def crop_real(data: bytes) -> bytes:
        magic, maxval, raster = _pnm_raster(data)
        h0, w0, channels = raster.shape
        if (w0 < width or h0 < height) and not pad:
            raise ValueError(
                f"source {w0}x{h0} smaller than crop "
                f"{width}x{height} and pad=False"
            )
        cw, ch = min(width, w0), min(height, h0)
        sx, sy = (w0 - cw) // 2, (h0 - ch) // 2  # source window origin
        dx, dy = (width - cw) // 2, (height - ch) // 2  # letterbox origin
        out = np.zeros((height, width, channels), dtype=raster.dtype)
        out[dy : dy + ch, dx : dx + cw, :] = raster[
            sy : sy + ch, sx : sx + cw, :
        ]
        return _pnm_bytes(magic, maxval, out)

    def row(item_id, payload):
        if fake:
            cropped = (hashlib.md5(payload).digest() + payload)[
                : max(16, width * height)
            ]
        else:
            cropped = crop_real(payload)
        yield item_id, cropped, width, height, len(payload), len(cropped)

    return _per_item(df, row, RESIZE_SCHEMA)


def _walk_riff(payload: bytes) -> tuple[tuple, bytes]:
    """Strict RIFF/WAVE chunk walk shared by the decode, resample and VAD
    kernels: returns (fmt tuple, data bytes).  Every malformation raises
    ValueError — a payload that is not RIFF/WAVE at all, a declared chunk
    size overrunning the buffer, a fmt chunk under the 16-byte PCM
    minimum, or a missing fmt/data chunk — instead of silently
    truncating via slicing or surfacing a raw struct.error from deeper
    in."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(
            "unsupported audio format (not RIFF/WAVE); the real kernels "
            "support PCM WAV — MP3/AAC need ffmpeg, out of scope here"
        )
    pos, n = 12, len(payload)
    fmt = None
    data = None
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if pos + 8 + size > n:
            raise ValueError(
                f"malformed WAV: chunk {cid!r} declares {size} bytes but "
                f"only {n - pos - 8} remain"
            )
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError(
                    f"malformed WAV: fmt chunk is {size} bytes, PCM needs 16"
                )
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("malformed WAV: missing fmt/data chunk")
    return fmt, data


def _decode_audio_real(payload: bytes) -> tuple[float, int, float]:
    """Real RIFF/WAV decode: chunk-walk the container, read the fmt
    block, decode PCM samples, return (duration_sec, sample_rate, rms in
    [0, 1]).  Supports integer PCM (8/16/32-bit) and float32 (format 3);
    compressed codecs raise ValueError (they need ffmpeg)."""
    fmt, data = _walk_riff(payload)
    audio_format, channels, sample_rate, _, _, bits = fmt
    if len(data) % max(bits // 8, 1):
        raise ValueError(
            f"malformed WAV: data chunk length {len(data)} is not a "
            f"multiple of the {bits}-bit sample width"
        )
    if audio_format == 1 and bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif audio_format == 1 and bits == 8:
        samples = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif audio_format == 1 and bits == 32:
        samples = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
    elif audio_format == 3 and bits == 32:
        samples = np.frombuffer(data, dtype="<f4").astype(np.float64)
    else:
        raise ValueError(
            f"unsupported WAV encoding (format={audio_format}, bits={bits}); "
            "real decode supports PCM 8/16/32 and float32"
        )
    n_frames = len(samples) // max(channels, 1)
    duration = n_frames / float(sample_rate)
    rms = float(np.sqrt(np.mean(samples**2))) if len(samples) else 0.0
    return duration, sample_rate, rms


def _decode_audio_fake(payload: bytes) -> tuple[float, int, float]:
    """Deterministic pseudo-decode: duration/rate/rms derived from a crc of
    the payload — stable across engines/runs, no audio libs."""
    crc = zlib.crc32(payload)
    duration = 0.5 + (crc % 6000) / 100.0
    sample_rate = (8000, 16000, 22050, 44100)[crc % 4]
    rms = ((crc >> 2) % 10_000) / 10_000.0
    return duration, sample_rate, rms


def audio_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Extract audio features per item.  ``df`` must have columns
    (item_id, payload)."""
    decode = (
        _decode_audio_fake
        if fake
        else _with_codec("audio_decode", _decode_audio_real)
    )
    return _features(df, decode, AUDIO_FEATURES_SCHEMA)


RESAMPLE_SCHEMA = (
    "item_id bigint, payload binary, src_rate int, dst_rate int, "
    "n_src bigint, n_out bigint"
)


def _wav_pcm16(samples: "np.ndarray", rate: int) -> bytes:
    """Minimal mono PCM16 WAV encoder (RIFF + fmt + data)."""
    data = samples.astype("<i2").tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def audio_resample(df: DataFrame, out_rate: int, fake: bool = False) -> DataFrame:
    """Sample-rate conversion kernel: WAV payload in, resampled WAV out —
    the audio twin of ``image_resize`` (decode → nearest-neighbor
    resample via numpy index arithmetic → re-encode, no native deps).

    Real kernel scope: mono PCM16 (the uncompressed open format);
    anything else raises a ValueError naming the needed lib.  Output
    length is ``n_src * out_rate // src_rate`` (integer floor) and the
    NN index map is ``src = floor((dst + 0.5) * n_src / n_out)`` — the
    same multiply-then-divide double expression an arithmetic oracle can
    replay exactly.  Map-only at scale: Arrow batches both directions,
    no shuffle.
    """

    def resample_real(data: bytes) -> tuple[bytes, int, int, int]:
        fmt, body = _walk_riff(data)
        audio_format, channels, src_rate, _, _, bits = fmt
        if not (audio_format == 1 and bits == 16 and channels == 1):
            raise ValueError(
                f"unsupported WAV encoding for resample (format="
                f"{audio_format}, bits={bits}, channels={channels}); "
                "real resample supports mono PCM16"
            )
        if len(body) % 2:
            raise ValueError(
                f"malformed WAV: PCM16 data chunk has odd length {len(body)}"
            )
        samples = np.frombuffer(body, dtype="<i2")
        n_src = len(samples)
        n_out = n_src * out_rate // src_rate
        idx = ((np.arange(n_out) + 0.5) * n_src / n_out).astype(np.int64)
        resampled = samples[idx]
        return _wav_pcm16(resampled, out_rate), src_rate, n_src, n_out

    resampler = _with_codec(
        "audio_resample", lambda data, rate: resample_real(data)
    )

    def row(item_id, payload):
        if fake:
            n_src = max(len(payload) // 2, 1)
            n_out = n_src * out_rate // (8000, 16000)[zlib.crc32(payload) % 2]
            resampled = (hashlib.md5(payload).digest() + payload)[: max(n_out, 16)]
            yield item_id, resampled, 8000, out_rate, n_src, n_out
        else:
            resampled, src_rate, n_src, n_out = resampler(payload, out_rate)
            yield item_id, resampled, src_rate, out_rate, n_src, n_out

    return _per_item(df, row, RESAMPLE_SCHEMA)


SHOT_SCHEMA = "item_id bigint, n_frames int, n_cuts int, first_cut int"


def shot_detect(df: DataFrame, threshold: float = 64.0) -> DataFrame:
    """Video SHOT-BOUNDARY detection over a concatenated-PPM frame
    stream: decode every frame's raster, compute per-frame mean
    intensity, and flag a cut wherever the absolute mean jump between
    consecutive frames exceeds ``threshold`` — the classic
    luma-difference shot segmenter every scene-based sampling pipeline
    starts from.  Emits (n_frames, n_cuts, first_cut; -1 if none) per
    item.  Real decode path shares the verified ``_ppm_frame_rasters``
    parser (and the ``frame_rasters`` codec hook, so a PIL/ffmpeg
    deployment slots compressed video in unchanged).  Map-only at
    scale: Arrow batches in, scalar features out, no shuffle."""
    rasterize = _with_codec("frame_rasters", _ppm_frame_rasters)

    def row(item_id, payload):
        means = [
            float(np.frombuffer(r, dtype=np.uint8).mean())
            for r in rasterize(payload)
        ]
        cuts = [
            j
            for j in range(1, len(means))
            if abs(means[j] - means[j - 1]) > threshold
        ]
        yield item_id, len(means), len(cuts), cuts[0] if cuts else -1

    return _per_item(df, row, SHOT_SCHEMA)


DHASH_COLS = 9  # classic dHash grid: 9 columns -> 8 horizontal gradients
DHASH_ROWS = 8  # x 8 rows = 64 bits, emitted as a 16-char hex string


def _dhash_hex(payload: bytes) -> str:
    """Perceptual difference-hash of a PNM image: decode with the real
    parser, reduce the luma raster to a DHASH_ROWS x DHASH_COLS grid by
    block mean (exact-size rasters skip resampling entirely), then one
    bit per horizontal gradient (right pixel strictly brighter), packed
    row-major into a 64-bit hex string.  Brightness-shift invariant by
    construction: adding a constant to every pixel cannot flip a
    gradient sign — the property that makes dHash a NEAR-duplicate key
    (re-encoded / brightness-shifted variants collide) where md5 of the
    payload is an exact-duplicate key."""
    luma = _luma(_pnm_raster(payload)[2])
    height, width = luma.shape
    if (height, width) != (DHASH_ROWS, DHASH_COLS):
        if width < DHASH_COLS or height < DHASH_ROWS:
            # upsampling would leave empty grid buckets (0/0 -> NaN cells
            # silently hashing as 0-bits); reject so the registered-codec
            # fallback path gets the payload instead
            raise ValueError(
                f"image {width}x{height} smaller than the "
                f"{DHASH_COLS}x{DHASH_ROWS} dHash grid"
            )
        # block-mean downsample via row/column bucket averaging (area
        # interpolation on the integer grid)
        r_idx = (np.arange(height) * DHASH_ROWS) // height
        c_idx = (np.arange(width) * DHASH_COLS) // width
        grid = np.zeros((DHASH_ROWS, DHASH_COLS))
        counts = np.zeros((DHASH_ROWS, DHASH_COLS))
        np.add.at(grid, (r_idx[:, None], c_idx[None, :]), luma)
        np.add.at(counts, (r_idx[:, None], c_idx[None, :]), 1.0)
        luma = grid / counts
    bits = luma[:, 1:] > luma[:, :-1]  # ROWS x (COLS-1)
    weights = 1 << np.arange(DHASH_COLS - 2, -1, -1)
    row_bytes = (bits * weights).sum(axis=1).astype(np.uint64)
    return "".join(f"{int(b):02x}" for b in row_bytes)


def dhash_hashes(df: DataFrame) -> DataFrame:
    """Per-item perceptual hash.  ``df`` must have columns (item_id,
    payload); output (item_id, dhash)."""
    hasher = _with_codec("image_dhash", _dhash_hex)

    def row(item_id, payload):
        yield item_id, hasher(payload)

    return _per_item(df, row, "item_id bigint, dhash string")


VAD_SCHEMA = (
    "item_id bigint, seg_idx int, start_frame int, n_frames int, peak_q15 int"
)


def _vad_frames(payload: bytes, frame_samples: int) -> "np.ndarray":
    """Decode a PCM16 mono WAV and return per-frame RMS in int16 units
    (Q15 grid): frames are fixed windows of ``frame_samples``; a trailing
    partial frame is dropped (matching every streaming VAD's hop
    convention)."""
    fmt, data = _walk_riff(payload)
    audio_format, channels, _, _, _, bits = fmt
    if audio_format != 1 or bits != 16 or channels != 1:
        raise ValueError(
            f"VAD kernel supports PCM16 mono (format={audio_format}, "
            f"bits={bits}, channels={channels})"
        )
    samples = np.frombuffer(data, dtype="<i2").astype(np.float64)
    n_frames = len(samples) // frame_samples
    if n_frames == 0:
        return np.empty(0, dtype=np.int64)
    framed = samples[: n_frames * frame_samples].reshape(n_frames, frame_samples)
    return np.rint(np.sqrt(np.mean(framed**2, axis=1))).astype(np.int64)


def vad_segments(
    df: DataFrame, frame_samples: int = 160, threshold_q15: int = 500
) -> DataFrame:
    """Energy-threshold voice-activity detection: fixed-size frames,
    per-frame RMS on the int16 (Q15) grid, runs of consecutive
    above-threshold frames emitted as (start, length, peak) segments.
    ``df`` must have columns (item_id, payload: PCM16 mono WAV).

    One ``map_rows`` kernel, map-only (each item's segments derive
    from its own payload alone) — at 100 TB this runs embarrassingly
    parallel over whatever partitioning the payloads arrive in, and the
    run detection is flat numpy (diff/flatnonzero), not a per-frame
    Python loop."""

    def row(item_id, payload):
        rms = _vad_frames(payload, frame_samples)
        active = rms >= threshold_q15
        edges = np.diff(np.concatenate(([0], active.view(np.int8), [0])))
        starts = np.flatnonzero(edges == 1)
        ends = np.flatnonzero(edges == -1)
        for seg_idx, (s, e) in enumerate(zip(starts, ends)):
            yield item_id, seg_idx, int(s), int(e - s), int(rms[s:e].max())

    return _per_item(df, row, VAD_SCHEMA)
