"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

The 100 TB-training-pipeline pattern: media lives in parquet as
``binary`` payloads beside typed metadata; decode / feature-extraction /
resize / frame-sampling run as Arrow-batched ``mapInPandas`` stages so the
Python cost is amortized per batch and the operator chain stays a single
map (no shuffle).

Decode kernels: the REAL path (``fake=False``) decodes WAV via the stdlib
``wave`` module and PNG via a dependency-free zlib scanline decoder —
both run and are tested on valid in-test-generated media — including
video: AVI containers parse via ``avi_min`` and MPNG frames decode to
real pixels through the same PNG decoder; any other image payload (JPEG,
MJPG frames) fails loudly as not PNG, and interframe codecs (H.264 etc.)
stay ffmpeg-gated. The deterministic fake featureizer
(``fake=True``, the default) remains for oracle-free determinism checks
and for payloads that are not real media (the synthetic bench table).
"""

from __future__ import annotations

import hashlib
import math
import os
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amazon_climate_data_etl_spark.operators._portable import (
    _moment_to_double,
    _moment_to_double_sql,
    stable_round,
)
from amazon_climate_data_etl_spark.session import ship_package_to_workers

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("content", T.BinaryType()),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        # compressed length as an INTEGER next to the double ratio: the
        # portable avg_entropy aggregation (media_summary) needs an
        # exact-integer form of the per-item entropy so both engines can
        # replay it without any double→decimal cast
        T.StructField("comp_len", T.IntegerType()),
        T.StructField("entropy_proxy", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FEATURE_DIM = 16


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_decode_minimal(content: bytes) -> np.ndarray:
    """Dependency-free PNG decode: 8-bit gray/RGB/RGBA, non-interlaced.

    Chunk walk → zlib inflate → per-scanline unfilter (types 0-4, the full
    PNG filter set). Covers everything the in-repo encoder and the test
    fixtures produce; any other payload (JPEG, an MJPG frame) raises."""
    if content[:8] != _PNG_MAGIC:
        raise ValueError(
            f"not a PNG payload (starts {bytes(content[:4])!r}); only PNG "
            "images decode in-container"
        )
    pos, width, height, channels, idat = 8, None, None, None, []
    while pos < len(content):
        length = int.from_bytes(content[pos : pos + 4], "big")
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width = int.from_bytes(data[0:4], "big")
            height = int.from_bytes(data[4:8], "big")
            bit_depth, color_type, _, _, interlace = data[8:13]
            if bit_depth != 8 or interlace != 0:
                raise NotImplementedError("minimal PNG decoder: 8-bit non-interlaced only")
            channels = {0: 1, 2: 3, 6: 4}.get(color_type)
            if channels is None:
                raise NotImplementedError(f"minimal PNG decoder: color type {color_type}")
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc
    raw = zlib.decompress(b"".join(idat))
    stride = width * channels
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev).astype(np.uint8)
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: sequential in x
            cur = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                a = int(cur[x - channels]) if x >= channels else 0
                b = int(prev[x])
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    c = int(prev[x - channels]) if x >= channels else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = cur
        prev = cur
    return out.reshape(height, width, channels)


def png_encode_minimal(pixels: np.ndarray) -> bytes:
    """Dependency-free PNG encode (filter 0, 8-bit gray/RGB/RGBA)."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    height, width, channels = pixels.shape
    color_type = {1: 0, 3: 2, 4: 6}[channels]
    raw = b"".join(
        b"\x00" + pixels[y].astype(np.uint8).tobytes() for y in range(height)
    )

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + ctype
            + data
            + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([8, color_type, 0, 0, 0])
    )
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _decode_wav(content: bytes) -> np.ndarray:
    """WAV bytes → float64 samples in [-1, 1], via the stdlib wave module
    (a REAL audio decode — no third-party dependency needed)."""
    import io
    import wave

    with wave.open(io.BytesIO(content)) as w:
        n = w.getnframes()
        width = w.getsampwidth()
        frames = w.readframes(n)
    if width == 2:
        samples = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:  # 8-bit WAV is unsigned
        samples = (np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"WAV sample width {width} not supported")
    return samples


def _featurize_signal(values: np.ndarray) -> np.ndarray:
    """Decoded signal (pixels or samples) → FEATURE_DIM floats: global
    moments + a fixed 12-bin normalized histogram. Deterministic, scale-
    bounded, same output contract as the fake featureizer."""
    flat = values.astype(np.float64).ravel()
    lo, hi = float(flat.min()), float(flat.max())
    span = (hi - lo) or 1.0
    unit = (flat - lo) / span
    hist, _ = np.histogram(unit, bins=FEATURE_DIM - 4, range=(0.0, 1.0))
    head = np.array(
        [unit.mean(), unit.std(), lo / (abs(lo) + 1.0), hi / (abs(hi) + 1.0)]
    )
    return np.concatenate([head, hist / max(1, flat.size)]).astype(np.float32)


def _decode_real(content: bytes, kind: str) -> np.ndarray:
    """Real decode + feature-extract kernel.

    - image: PNG (minimal decoder) → pixel moments/histogram features.
    - audio: WAV via the stdlib wave module → sample moments/histogram.
    - video: intra-only AVI (MPNG frames) → middle-frame pixel features;
      other codecs stay ffmpeg-gated.
    """
    if kind == "image":
        return _featurize_signal(_png_decode_minimal(content))
    if kind == "audio":
        return _featurize_signal(_decode_wav(content))
    return _featurize_signal(_decode_video_middle_frame(content))


def _decode_video_middle_frame(content: bytes) -> np.ndarray:
    """Video bytes → the middle frame's pixels. Real decode for intra-only
    AVI containers (MPNG frames via the minimal PNG decoder; an MJPG
    frame raises as not PNG); interframe codecs (H.264 etc.) cannot be
    decoded frame-by-frame and stay gated behind ffmpeg."""
    from amazon_climate_data_etl_spark.sources.avi_min import read_avi

    try:
        video = read_avi(content)
    except ValueError as exc:
        raise NotImplementedError(
            "non-AVI video containers require ffmpeg, not present in this "
            "container; use fake=True for the deterministic featureizer"
        ) from exc
    if video.codec.upper() not in ("MPNG", "MJPG") or not video.frames:
        raise NotImplementedError(
            f"AVI codec {video.codec!r} is interframe-compressed; frame "
            "decode requires ffmpeg (MPNG frames decode in-container)"
        )
    return _png_decode_minimal(video.frames[len(video.frames) // 2])


def _decode_fake(content: bytes, kind: str) -> np.ndarray:
    """Deterministic stand-in 'decode + feature-extract': FEATURE_DIM floats
    derived from the sha256 of the payload. Same signature/batch shape as a
    real embedding model."""
    h = hashlib.sha256(content).digest()
    raw = np.frombuffer((h * ((FEATURE_DIM * 4) // len(h) + 1))[: FEATURE_DIM * 4],
                        dtype=np.uint32.newbyteorder("<") if False else "<u4")
    return (raw.astype(np.float64) / np.iinfo(np.uint32).max).astype(np.float32)


def extract_features(
    media: DataFrame, fake: bool = True, batch_hint: int = 64
) -> DataFrame:
    """media(binary) → per-item content features via Arrow-batched
    mapInPandas. One Python roundtrip per Arrow batch; no shuffle."""
    spark = media.sparkSession
    ship_package_to_workers(spark)
    decode = _decode_fake if fake else _decode_real

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode(bytes(c), k) for c, k in zip(pdf["content"], pdf["kind"])]
            comp = [len(zlib.compress(bytes(c))) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "sha256": [hashlib.sha256(bytes(c)).hexdigest() for c in pdf["content"]],
                    "n_bytes": [len(bytes(c)) for c in pdf["content"]],
                    "comp_len": comp,
                    "entropy_proxy": [
                        min(1.0, cl / max(1, len(bytes(c))))
                        for cl, c in zip(comp, pdf["content"])
                    ],
                    "feature": [f.tolist() for f in feats],
                }
            )

    return media.mapInPandas(worker, schema=FEATURES_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("resized", T.BinaryType()),
    ]
)


def resize_images(
    media: DataFrame, out_w: int = 32, out_h: int = 32, fake: bool = True
) -> DataFrame:
    """Image resize stage: images only, aspect metadata carried through,
    payload replaced by the resized encoding. Same plumbing rules as
    extract_features — Arrow-batched mapInPandas, map-only (the
    kind-filter prunes non-images BEFORE Python so audio/video bytes never
    cross the Arrow boundary). The fake kernel emits a deterministic
    out_w*out_h-byte payload derived from the content hash; the real kernel
    decodes (the minimal PNG path), nearest-neighbor resamples, and
    re-encodes PNG — same signature, same schema."""
    spark = media.sparkSession
    ship_package_to_workers(spark)

    def _resize_real(content: bytes) -> bytes:
        px = _png_decode_minimal(content)
        h, w = px.shape[:2]
        ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
        xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
        return png_encode_minimal(px[ys][:, xs])

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for c in pdf["content"]:
                if fake:
                    h = hashlib.sha256(bytes(c)).digest()
                    out.append(
                        bytes((h * ((out_w * out_h) // len(h) + 1))[: out_w * out_h])
                    )
                else:
                    out.append(_resize_real(bytes(c)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "out_w": out_w,
                    "out_h": out_h,
                    "resized": out,
                }
            )

    return media.filter(F.col("kind") == "image").mapInPandas(
        worker, schema=RESIZED_SCHEMA
    )


def wav_encode_minimal(samples: np.ndarray, rate: int) -> bytes:
    """float samples in [-1, 1] → 16-bit PCM WAV bytes (stdlib wave)."""
    import io
    import wave

    pcm = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    pcm16 = np.round(pcm * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm16.tobytes())
    return buf.getvalue()


def _decode_wav_with_rate(content: bytes) -> tuple[np.ndarray, int]:
    import io
    import wave

    with wave.open(io.BytesIO(content)) as w:
        rate = w.getframerate()
    return _decode_wav(content), rate


RESAMPLED_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("in_hz", T.IntegerType()),
        T.StructField("out_hz", T.IntegerType()),
        T.StructField("n_in", T.IntegerType()),
        T.StructField("n_out", T.IntegerType()),
        T.StructField("resampled", T.BinaryType()),
    ]
)


def resample_audio(
    media: DataFrame, target_hz: int = 8000, fake: bool = True
) -> DataFrame:
    """Audio resample stage: audio rows only, payload replaced by the
    target-rate re-encoding — the audio twin of resize_images, same
    plumbing rules (Arrow-batched mapInPandas, map-only, kind-filter
    prunes non-audio BEFORE Python). The REAL kernel decodes WAV via the
    stdlib, linearly interpolates onto the target-rate sample grid, and
    re-encodes 16-bit PCM WAV — fully dependency-free. The fake kernel
    emits a deterministic content-hash payload with the same schema."""
    spark = media.sparkSession
    ship_package_to_workers(spark)

    def _resample_real(content: bytes):
        samples, rate = _decode_wav_with_rate(content)
        n_out = max(1, int(round(len(samples) * target_hz / rate)))
        t_in = np.arange(len(samples)) / rate
        t_out = np.arange(n_out) / target_hz
        out = np.interp(t_out, t_in, samples)
        return rate, len(samples), n_out, wav_encode_minimal(out, target_hz)

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            in_hz, n_in, n_out, payloads = [], [], [], []
            for c in pdf["content"]:
                if fake:
                    h = hashlib.sha256(bytes(c)).digest()
                    in_hz.append(16000)
                    n_in.append(len(bytes(c)))
                    n_out.append(len(h))
                    payloads.append(h)
                else:
                    r, ni, no, raw = _resample_real(bytes(c))
                    in_hz.append(r)
                    n_in.append(ni)
                    n_out.append(no)
                    payloads.append(raw)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "in_hz": in_hz,
                    "out_hz": target_hz,
                    "n_in": n_in,
                    "n_out": n_out,
                    "resampled": payloads,
                }
            )

    return media.filter(F.col("kind") == "audio").mapInPandas(
        worker, schema=RESAMPLED_AUDIO_SCHEMA
    )


AUDIO_SEGMENTS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_active", T.IntegerType()),
        T.StructField("n_segments", T.IntegerType()),
        T.StructField("longest_run", T.IntegerType()),
        T.StructField("active_ms", T.IntegerType()),
        T.StructField("first_active", T.IntegerType()),
    ]
)

_SEGMENT_FRAME_MS = 25


def _energy_segment_profile(content: bytes, frame_ms: int = _SEGMENT_FRAME_MS):
    """VAD-style activity profile of one WAV payload, ALL-INTEGER math:
    raw 16-bit PCM samples are framed into non-overlapping ``frame_ms``
    windows (partial tail frame dropped), per-frame energy is the exact
    int64 sum of squares, and a frame is ACTIVE iff its energy strictly
    exceeds the item mean (cross-multiplied: energy·n_frames > total — no
    division, so the twin replays it exactly). Segments are maximal active
    runs. Constant-energy audio (silence included) has no strict-mean
    exceeders and profiles as 0 segments by construction."""
    import io
    import wave

    with wave.open(io.BytesIO(content)) as w:
        rate = w.getframerate()
        pcm = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    flen = max(1, rate * frame_ms // 1000)
    n_frames = len(pcm) // flen
    if n_frames == 0:
        return 0, 0, 0, 0, 0, -1
    e = (pcm[: n_frames * flen].astype(np.int64) ** 2).reshape(n_frames, flen).sum(axis=1)
    total = int(e.sum())
    active = (e * n_frames) > total
    n_active = int(active.sum())
    # run-length via boundary count: a segment starts where active rises
    starts = np.flatnonzero(active & ~np.concatenate(([False], active[:-1])))
    n_segments = int(len(starts))
    longest = 0
    if n_segments:
        ends = np.flatnonzero(active & ~np.concatenate((active[1:], [False])))
        longest = int((ends - starts + 1).max())
    first = int(starts[0]) if n_segments else -1
    return n_frames, n_active, n_segments, longest, n_active * frame_ms, first


def audio_energy_segments_stage(media: DataFrame, fake: bool = True) -> DataFrame:
    """Audio activity segmentation: audio rows only, one profile row per
    item — same plumbing rules as resample_audio (Arrow-batched
    mapInPandas, map-only, kind-filter prunes non-audio BEFORE Python).
    The real kernel is ``_energy_segment_profile``; the fake kernel emits
    content-hash-derived integers with the same schema."""
    spark = media.sparkSession
    ship_package_to_workers(spark)

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                if fake:
                    h = hashlib.sha256(bytes(c)).digest()
                    nf = 1 + h[0]
                    na = h[1] % (nf + 1)
                    rows.append((int(mid), nf, na, min(na, 1 + h[2] % 4),
                                 na and 1 + h[3] % na, na * _SEGMENT_FRAME_MS,
                                 -1 if na == 0 else h[4] % nf))
                else:
                    rows.append((int(mid), *_energy_segment_profile(bytes(c))))
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_SEGMENTS_SCHEMA.fields]
            )

    return media.filter(F.col("kind") == "audio").mapInPandas(
        worker, schema=AUDIO_SEGMENTS_SCHEMA
    )


SCENE_CHANGES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_cuts", T.IntegerType()),
        T.StructField("first_cut", T.IntegerType()),
        T.StructField("max_diff", T.LongType()),
        T.StructField("total_diff", T.LongType()),
    ]
)


def _scene_change_profile(content: bytes):
    """Shot-boundary profile of one intra-only AVI, ALL-INTEGER math:
    consecutive decoded frames diff as exact int64 sums of absolute pixel
    deltas; a boundary is a diff STRICTLY above the item mean (cross-
    multiplied — no division), the same portable threshold rule as the
    audio profiler. Single-frame videos have no diffs → no cuts."""
    from amazon_climate_data_etl_spark.sources.avi_min import read_avi

    video = read_avi(content)
    if video.codec.upper() not in ("MPNG", "MJPG") or not video.frames:
        raise NotImplementedError(
            f"AVI codec {video.codec!r} is interframe-compressed; frame "
            "decode requires ffmpeg (MPNG frames decode in-container)"
        )
    frames = [_png_decode_minimal(f).astype(np.int64) for f in video.frames]
    nf = len(frames)
    if nf < 2:
        return nf, 0, -1, 0, 0
    diffs = np.array(
        [int(np.abs(frames[i] - frames[i - 1]).sum()) for i in range(1, nf)],
        dtype=np.int64,
    )
    total = int(diffs.sum())
    cuts = (diffs * len(diffs)) > total
    n_cuts = int(cuts.sum())
    first = int(np.flatnonzero(cuts)[0]) + 1 if n_cuts else -1
    return nf, n_cuts, first, int(diffs.max()), total


def video_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: per-item shot-boundary profiles over the
    synthesized media table's video rows — the video-analysis member of
    the multimodal family (frame sampling and perceptual hashing cover
    extraction/dedup; this is the temporal-structure kernel a video
    curation pipeline runs to split clips at cuts). Hash-checked at the
    driver (VIDEO_SCENES_SQL below): the container/frame decode
    is not SQL-expressible, but its per-boundary diff sums are a pure
    function of media_id and live in the committed pure-Python sidecar
    (fixtures/media_framediffs.parquet, tools/gen_media_sidecars.py); the
    oracle replays the strict-mean cut rule in SQL over those rows. The
    recomputation twin in tests/test_media_twin.py independently certifies
    both the Spark decode kernel and the sidecar's freshness. Scale:
    kind-pruned synthesis, one map-only Arrow-batched pass, one short row
    per item, sort-only exchange."""
    media = synthetic_media(spark, n=media_count_for(sf_dir), kinds=("video",))
    ship_package_to_workers(spark)

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (int(m), *_scene_change_profile(bytes(c)))
                for m, c in zip(pdf["media_id"], pdf["content"])
            ]
            yield pd.DataFrame(
                rows, columns=[f.name for f in SCENE_CHANGES_SCHEMA.fields]
            )

    # persist the per-item profile BEFORE the output sort: the
    # pipeline up to here is map-only — no exchange — so the global
    # sort's range-sampling pass would otherwise re-execute the entire
    # container/frame decode a second time (measured 1.74 -> 0.96 s).
    # One short row per item, so the cache is profile-sized at any scale.
    return (
        media.filter(F.col("kind") == "video")
        .mapInPandas(worker, schema=SCENE_CHANGES_SCHEMA)
        .persist()
        .orderBy("media_id")
    )


def audio_energy_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: per-item audio activity profiles over the
    synthesized media table (tone/noise-half WAVs → real segment
    structure). Hash-checked at the driver (AUDIO_SEGMENTS_SQL
    below): the WAV decode kernel is not SQL-expressible, but its
    per-frame int64 energies are a pure function of media_id and live in
    the committed pure-Python sidecar (fixtures/media_energies.parquet,
    tools/gen_media_sidecars.py); the oracle replays the strict-mean
    threshold + gaps-and-islands run-length segmentation in DuckDB window
    SQL over those rows. The recomputation twin in
    tests/test_media_twin.py independently certifies both the Spark
    kernel (sample-by-sample plain-int replay) and the sidecar's
    freshness. Scale: one map-only Arrow-batched pass over audio rows
    (pruned before Python), profile output is one short row per item; the
    only exchange is the output sort."""
    media = synthetic_media(spark, n=media_count_for(sf_dir), kinds=("audio",))
    # persist before the sort: map-only pipeline, so the range-sampling
    # pass would re-run the WAV decode (see video_scene_changes; measured
    # 1.85 -> 1.04 s). Profile-sized cache (one row per item).
    return (
        audio_energy_segments_stage(media, fake=False)
        .persist()
        .orderBy("media_id")
    )


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(media: DataFrame, every_ms: int = 500, fake: bool = True) -> DataFrame:
    """Video frame sampling: one output row per sampled timestamp — the
    flatMap-shaped member of the multimodal family (output cardinality
    sum(duration_ms // every_ms + 1) > input). mapInPandas is the right
    surface exactly because the 1→N fan-out stays inside the Arrow batch:
    no explode of pre-materialized arrays, no shuffle; downstream stages
    see ordinary rows. The fake kernel derives each frame's bytes from
    sha256(content || frame_idx). The REAL kernel (``fake=False``) parses
    the AVI container (``avi_min``), maps each sampled timestamp to the
    frame on screen via the stream's frame interval, and emits that
    frame's actual bytes — with the MPNG codec those are real PNGs the
    minimal image decoder turns into pixels; interframe codecs raise with
    the ffmpeg pointer. Both kernels emit the same sampling grid
    (duration // every_ms + 1 rows), so the cardinality law holds for
    either."""
    spark = media.sparkSession
    ship_package_to_workers(spark)

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from amazon_climate_data_etl_spark.sources.avi_min import read_avi

        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for mid, dur, c in zip(pdf["media_id"], pdf["duration_ms"], pdf["content"]):
                content = bytes(c)
                video = None if fake else read_avi(content)
                for i in range(int(dur) // every_ms + 1):
                    ids.append(mid)
                    idxs.append(i)
                    tss.append(i * every_ms)
                    frames.append(
                        hashlib.sha256(content + i.to_bytes(4, "little")).digest()
                        if fake
                        else video.frames[video.frame_at_ms(i * every_ms)]
                    )
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "ts_ms": tss, "frame": frames}
            )

    return media.filter(F.col("kind") == "video").mapInPandas(
        worker, schema=FRAMES_SCHEMA
    )


PHASH_BANDS = 8          # 8 bands x 8 bits over the 64-bit dHash
PHASH_HAMMING_MAX = 6    # ≤6 differing bits → at least 2 clean bands


def dhash64(pixels: np.ndarray) -> int:
    """64-bit difference hash (dHash, the classic perceptual-hash family
    member): channel-summed grayscale → nearest-neighbor downsample to
    8 rows × 9 cols → 8×8 horizontal-gradient sign bits. Integer-only, so
    the Spark kernel and the pure-Python twin agree bit-for-bit. Returned
    as a SIGNED 64-bit value (two's complement) so it fits LongType."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    gray = pixels.astype(np.int32).sum(axis=2)
    h, w = gray.shape
    ys = (np.arange(8) * h // 8).clip(0, h - 1)
    xs = (np.arange(9) * w // 9).clip(0, w - 1)
    g = gray[ys][:, xs]
    bits = (g[:, 1:] > g[:, :-1]).ravel()
    val = 0
    for idx in np.nonzero(bits)[0]:
        val |= 1 << int(idx)
    return val - (1 << 64) if val >= (1 << 63) else val


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def image_phashes(media: DataFrame) -> DataFrame:
    """image rows → (media_id, 64-bit dHash) via Arrow-batched mapInPandas
    (decode + hash are per-item Python; the kind-filter prunes non-images
    before the Arrow boundary, map-only, no shuffle)."""
    ship_package_to_workers(media.sparkSession)

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": [dhash64(_png_decode_minimal(bytes(c))) for c in pdf["content"]],
                }
            )

    return media.filter(F.col("kind") == "image").mapInPandas(
        worker, schema=PHASH_SCHEMA
    )


def image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-duplicate pairs — the image-modality
    member of the dedup family (same banded candidate-generation shape as
    ``dedup.simhash_near_pairs``): decode PNG → 64-bit dHash → split into
    8×8-bit bands → candidates share a band value (equi-join, never
    all-pairs) → verify full Hamming ≤ 6 via bit_count(xor).

    Scale shape: the hash frame is 16 bytes/image; the only shuffles are
    the band equi-join keys and the final pair distinct — candidate count
    is sub-quadratic because random 8-bit bands collide at 1/256. Each
    hash rides THROUGH the band join, so verification needs no join-back.
    Pigeonhole recall guarantee: ≤6 differing bits leave ≥2 of 8 bands
    identical, so every true near-dup pair is a candidate.

    Hash-checked at the driver (see IMAGE_PHASH_SQL below): the
    decode→dHash stage is not SQL-expressible, but its output is a pure
    function of media_id, so the oracle joins the committed pure-Python
    hash sidecar with the NAIVE all-pairs Hamming form — certifying the
    banded join end-to-end. The pure-Python recomputation twin
    (tests/test_media_twin.py) independently certifies both the Spark
    decode kernel and the sidecar's freshness."""
    media = synthetic_media(spark, n=media_count_for(sf_dir))
    # both join sides read the hash frame; persist it (16 bytes/image) so
    # the PNG decode + hash runs ONCE per image, not once per side
    hashes = image_phashes(media).persist()
    bands = hashes.select(
        "media_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("phash", 8 * b)
                        .bitwiseAND(F.lit(255))
                        .alias("val"),
                    )
                    for b in range(PHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("media_id", "phash", "bv.band", "bv.val")
    ba = bands.select(
        F.col("media_id").alias("id_a"), F.col("phash").alias("h_a"), "band", "val"
    )
    bb = bands.select(
        F.col("media_id").alias("id_b"), F.col("phash").alias("h_b"), "band", "val"
    )
    return (
        ba.join(bb, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= PHASH_HAMMING_MAX)
        .distinct()
        .orderBy("id_a", "id_b")
    )


# per-item entropy as an exact INTEGER (parts-per-billion): half-up
# integer rounding of comp_len/n_bytes, clamped at 1.0 — pure int64
# arithmetic both engines execute identically (comp_len ≤ ~10^8, so the
# product is < 10^17, well inside int64), replacing the double-avg whose
# partition-order-dependent sum could not be oracled.
# The DuckDB twin is _ENT_PPB_SQL below (// is DuckDB's integer divide,
# `div` Spark's — both floor on the nonnegative domain used here).
_ENT_PPB = (
    "least(CAST(1000000000 AS BIGINT), "
    "(CAST(comp_len AS BIGINT) * 1000000000 + "
    "(greatest(CAST(n_bytes AS BIGINT), 1) div 2)) "
    "div greatest(CAST(n_bytes AS BIGINT), 1))"
)
_ENT_PPB_SQL = (
    "least(1000000000, (comp_len * 1000000000 + "
    "(greatest(n_bytes, 1) // 2)) // greatest(n_bytes, 1))"
)


def media_summary(features: DataFrame) -> DataFrame:
    """Typed-metadata aggregation over extracted features (pure JVM).
    Unsorted — callers that need an order add their own (keeps the agg
    reusable under a union without a buried mid-plan sort).

    ``avg_entropy`` goes through the _portable moment contract: the
    per-item ratio is quantized to an exact ppb INTEGER (``_ENT_PPB``),
    summed as exact decimal (order-independent), portably converted to
    double and divided — so the value is bit-identical in any
    partitioning AND replayable by the DuckDB oracle (the hash check of
    media_pipeline_profile rests on this)."""
    ent_sum = F.sum(F.expr(_ENT_PPB).cast("decimal(38,0)"))
    return features.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_bytes").alias("total_bytes"),
        stable_round(
            _moment_to_double(ent_sum, 0, "media_summary.avg_entropy")
            / F.lit(1e9)
            / F.count(F.lit(1)),
            4,
        ).alias("avg_entropy"),
        F.countDistinct("sha256").alias("n_unique"),
    )


def media_count_for(sf_dir: str) -> int:
    """Media-table size for a test-data dir: 96 items at sf0.001, scaling
    linearly with the scale factor (so bench timings mean something —
    a fixed count would measure constant work at every sf)."""
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        return 96
    return max(96, int(round(96 * sf / 0.001)))


def media_feature_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-summary stage query (merged into ``media_pipeline_profile``
    — kept as the twin-test surface): synthesize binary media,
    Arrow-batched decode/feature-extract (mapInPandas), typed metadata
    aggregation. Deterministic output; the VALUES are certified by the
    pure-Python recomputation twin in tests/test_media_twin.py and, via
    the merged registration, by the sidecar oracle. Media is synthesized
    executor-side, with the item count scaled to ``sf_dir``'s scale factor
    (96 at sf0.001). Every payload is real decodable media,
    so this runs the REAL decode kernels (PNG/WAV/AVI → pixels/samples →
    moment+histogram features), not the sha256 stand-in."""
    media = synthetic_media(spark, n=media_count_for(sf_dir))
    return media_summary(extract_features(media, fake=False)).orderBy("kind")


def media_frame_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize + frame-sample stage query (merged into
    ``media_pipeline_profile`` — kept as the twin-test surface):
    per-stage row/byte profile over the synthesized media table.
    Determinism and the cardinality law (frames = duration//step + 1)
    are pinned in tests. Item count scales with ``sf_dir``'s scale
    factor.

    The media frame feeds TWO downstream branches (frames + resize). An
    unpersisted branch point re-runs the upstream mapInPandas per branch,
    and every extra Python eval in the chain costs a runner round-trip per
    task — so the branch point is persisted, the same DAG-branch
    materialization you'd do before fanning a decoded media scan out to
    multiple extractors on a cluster."""
    media = synthetic_media(spark, n=media_count_for(sf_dir)).persist()
    # real sampler: the synthetic table's video rows are genuine MPNG AVIs,
    # so the gated pipeline exercises the actual container
    # parse + frame extraction, not the sha256 stand-in
    frames = sample_frames(media, fake=False).select(
        F.lit("frames").alias("stage"),
        F.col("media_id"),
        F.length("frame").alias("n_bytes"),
    )
    # real resize kernel: the table's image rows are genuine PNGs, so
    # decode → nearest-neighbor resample → re-encode runs
    resized = resize_images(media, fake=False).select(
        F.lit("resize").alias("stage"),
        F.col("media_id"),
        F.length("resized").alias("n_bytes"),
    )
    return (
        frames.unionByName(resized)
        .groupBy("stage")
        .agg(
            F.countDistinct("media_id").alias("n_items"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_bytes").alias("total_bytes"),
        )
        .orderBy("stage")
    )


def media_pipeline_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: the FULL multimodal chain in one profile —
    the consolidation of the former ``media_feature_summary`` +
    ``media_frame_pipeline`` registrations (both rows-only, same decode
    path; every operator shape of both is preserved): synthesize binary
    media once, then (a) Arrow-batched decode/feature-extract
    (mapInPandas) → typed per-kind metadata aggregation (``features:*``
    stages, with entropy/uniqueness columns), and (b) the frame-sample +
    resize stages' row/byte profile (``frames``/``resize`` stages —
    cardinality law frames = duration//step + 1). HASH-CHECKED at the
    driver (MEDIA_PIPELINE_SQL below): the decode kernels are
    not SQL-expressible, but every aggregated number is a pure function
    of media_id and lives in the committed stage-discriminated sidecar
    (fixtures/media_pipeline.parquet, tools/gen_media_sidecars.py); the
    oracle replays the per-kind feature aggregation (exact-integer ppb
    entropy average — see ``media_summary``) and the stage profiles in
    DuckDB SQL over those rows. The recomputation twins in
    tests/test_media_twin.py independently certify both the Spark
    kernels and the sidecar's freshness.

    The media frame feeds THREE downstream Python branches (features,
    frames, resize), so the branch point is persisted — an unpersisted
    branch re-runs the synthesis mapInPandas per branch, and every extra
    Python eval costs a runner round-trip per task (the same DAG-branch
    materialization you'd do before fanning a decoded media scan out to
    multiple extractors on a cluster). Item count scales with ``sf_dir``'s
    scale factor (96 at sf0.001); all three branches are map-only up to
    their short per-stage aggregates."""
    media = synthetic_media(spark, n=media_count_for(sf_dir)).persist()
    feats = media_summary(extract_features(media, fake=False)).select(
        F.concat(F.lit("features:"), F.col("kind")).alias("stage"),
        F.col("n_items"),
        F.col("n_items").alias("n_rows"),  # feature extraction is 1 row/item
        "total_bytes",
        "avg_entropy",
        "n_unique",
    )
    frames = sample_frames(media, fake=False).select(
        F.lit("frames").alias("stage"),
        F.col("media_id"),
        F.length("frame").alias("n_bytes"),
    )
    resized = resize_images(media, fake=False).select(
        F.lit("resize").alias("stage"),
        F.col("media_id"),
        F.length("resized").alias("n_bytes"),
    )
    stages = (
        frames.unionByName(resized)
        .groupBy("stage")
        .agg(
            F.countDistinct("media_id").alias("n_items"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_bytes").alias("total_bytes"),
        )
        .withColumn("avg_entropy", F.lit(None).cast("double"))
        .withColumn("n_unique", F.lit(None).cast("long"))
    )
    return feats.unionByName(stages).orderBy("stage")


QUERIES = {
    "media_pipeline_profile": media_pipeline_profile,
    "image_phash_neardup": image_phash_neardup,
    "audio_energy_segments": audio_energy_segments,
    "video_scene_changes": video_scene_changes,
}

# image_phash_neardup is hash-checked, not rows-only: the
# PNG-decode→dHash stage itself is not SQL-expressible, but its OUTPUT is a
# deterministic pure function of media_id (payloads derive from
# (seed, media_id) only, and tables at different SFs are row-subsets), so
# the hashes live in a committed parquet sidecar generated by the
# INDEPENDENT pure-Python twin path (png_encode_minimal →
# _png_decode_minimal → dhash64 — the same recomputation
# tests/test_media_twin.py certifies the Spark kernel against; freshness
# re-asserted in test_media_twin.test_phash_sidecar_matches_twin). The
# oracle then checks the whole banded-Hamming join against the NAIVE
# theta form over the sidecar — banding is lossless by pigeonhole (≤6
# differing bits leave ≥2 of 8 bands intact), so the sets must be equal.
# n_media is derived from the registered customer view (150k rows per
# TPC-H SF; media_count_for = max(96, 96·sf/0.001)), and the arithmetic
# right shift's fill bits never reach the low byte for shifts ≤ 56, so
# (phash >> 8b) & 255 equals Spark's shiftrightunsigned band extraction.
_PHASH_SIDECAR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "media_phashes.parquet",
)

IMAGE_PHASH_SQL = f"""
WITH nm AS (
  SELECT greatest(96, CAST(round(96 * count(*) / 150.0) AS BIGINT)) AS n
  FROM customer
),
hashes AS (
  SELECT media_id, phash
  FROM read_parquet('{_PHASH_SIDECAR}')
  WHERE media_id < (SELECT n FROM nm)
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       bit_count(xor(a.phash, b.phash)) AS hamming
FROM hashes a JOIN hashes b ON a.media_id < b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_HAMMING_MAX}
ORDER BY id_a, id_b
"""

# audio_energy_segments / video_scene_changes are hash-checked, not
# rows-only, the pattern image_phash_neardup proved: the
# WAV/AVI decode stage is not SQL-expressible, but its OUTPUT (per-frame
# int64 energies; per-boundary int64 abs-diff sums) is a pure function of
# media_id, so those integers live in committed parquet sidecars generated
# by the INDEPENDENT pure-Python twin path (tools/gen_media_sidecars.py —
# stdlib wave decode / avi_min+PNG decode with plain-int loops, the same
# recomputation tests/test_media_twin.py certifies the Spark kernels
# against; freshness re-asserted in test_media_twin's sidecar tests). The
# oracles then replay the SQL-EXPRESSIBLE half — the cross-multiplied
# strict-mean threshold, run-length segmentation, cut counting — in DuckDB
# window/aggregate SQL, so the driver hash certifies the kernels' in-Python
# segmentation math against an independent SQL implementation. n_media is
# derived from the registered customer view exactly as IMAGE_PHASH_SQL
# does; both sidecars cover every id < 9600 (sf0.1, the largest SF the
# oracles serve), and lower-SF media tables are row-subsets by
# construction, so the `media_id < n` predicate is the whole SF story.
_ENERGY_SIDECAR = os.path.join(
    os.path.dirname(_PHASH_SIDECAR), "media_energies.parquet"
)
_FRAMEDIFF_SIDECAR = os.path.join(
    os.path.dirname(_PHASH_SIDECAR), "media_framediffs.parquet"
)

# a frame is ACTIVE iff energy·n_frames > total (strict, cross-multiplied —
# replayed verbatim from _energy_segment_profile); segments are maximal
# active runs found by the classic gaps-and-islands lag() start-marker
AUDIO_SEGMENTS_SQL = f"""
WITH nm AS (
  SELECT greatest(96, CAST(round(96 * count(*) / 150.0) AS BIGINT)) AS n
  FROM customer
),
e AS (
  SELECT media_id, frame_idx, energy
  FROM read_parquet('{_ENERGY_SIDECAR}')
  WHERE media_id < (SELECT n FROM nm)
),
tot AS (
  SELECT media_id, count(*) AS nf, sum(energy) AS total
  FROM e GROUP BY media_id
),
act AS (
  SELECT e.media_id, e.frame_idx, (e.energy * t.nf > t.total) AS active
  FROM e JOIN tot t USING (media_id)
),
marked AS (
  SELECT media_id, frame_idx, active,
         CASE WHEN active AND NOT coalesce(
                lag(active) OVER (PARTITION BY media_id ORDER BY frame_idx),
                FALSE)
              THEN 1 ELSE 0 END AS is_start
  FROM act
),
seg AS (
  SELECT media_id, frame_idx, active,
         sum(is_start) OVER (PARTITION BY media_id ORDER BY frame_idx) AS seg_id
  FROM marked
),
seg_stats AS (
  SELECT media_id, seg_id, count(*) AS run_len, min(frame_idx) AS seg_start
  FROM seg WHERE active GROUP BY media_id, seg_id
),
per_seg AS (
  SELECT media_id, count(*) AS n_segments, max(run_len) AS longest_run,
         min(seg_start) AS first_active
  FROM seg_stats GROUP BY media_id
),
per_act AS (
  SELECT media_id, sum(CASE WHEN active THEN 1 ELSE 0 END) AS n_active
  FROM act GROUP BY media_id
)
SELECT t.media_id,
       CAST(t.nf AS INTEGER) AS n_frames,
       CAST(coalesce(a.n_active, 0) AS INTEGER) AS n_active,
       CAST(coalesce(s.n_segments, 0) AS INTEGER) AS n_segments,
       CAST(coalesce(s.longest_run, 0) AS INTEGER) AS longest_run,
       CAST(coalesce(a.n_active, 0) * {_SEGMENT_FRAME_MS} AS INTEGER) AS active_ms,
       CAST(coalesce(s.first_active, -1) AS INTEGER) AS first_active
FROM tot t
LEFT JOIN per_act a USING (media_id)
LEFT JOIN per_seg s USING (media_id)
ORDER BY media_id
"""

# a boundary is a CUT iff diff·n_diffs > total (same strict cross-multiplied
# rule, replayed from _scene_change_profile); diff_idx is already the later
# frame's index, so first_cut = min matching diff_idx with no +1 adjustment
VIDEO_SCENES_SQL = f"""
WITH nm AS (
  SELECT greatest(96, CAST(round(96 * count(*) / 150.0) AS BIGINT)) AS n
  FROM customer
),
d AS (
  SELECT media_id, n_frames, diff_idx, diff
  FROM read_parquet('{_FRAMEDIFF_SIDECAR}')
  WHERE media_id < (SELECT n FROM nm)
),
tot AS (
  SELECT media_id, max(n_frames) AS nf, count(*) AS nd,
         sum(diff) AS total, max(diff) AS max_diff
  FROM d GROUP BY media_id
),
cuts AS (
  SELECT d.media_id, count(*) AS n_cuts, min(d.diff_idx) AS first_cut
  FROM d JOIN tot t USING (media_id)
  WHERE d.diff * t.nd > t.total
  GROUP BY d.media_id
)
SELECT t.media_id,
       CAST(t.nf AS INTEGER) AS n_frames,
       CAST(coalesce(c.n_cuts, 0) AS INTEGER) AS n_cuts,
       CAST(coalesce(c.first_cut, -1) AS INTEGER) AS first_cut,
       CAST(t.max_diff AS BIGINT) AS max_diff,
       CAST(t.total AS BIGINT) AS total_diff
FROM tot t LEFT JOIN cuts c USING (media_id)
ORDER BY media_id
"""

# media_pipeline_profile is hash-checked, not rows-only, completing the
# decode-sidecar program (phash, audio/video): the
# decode kernels are not SQL-expressible, but every number the profile
# aggregates — payload/compressed lengths, sha256, per-sampled-frame byte
# sizes, resized-PNG sizes — is a pure function of media_id, so those live
# in the committed stage-discriminated sidecar
# (fixtures/media_pipeline.parquet, tools/gen_media_sidecars.py, pure-
# Python twin path). The oracle replays the SQL-EXPRESSIBLE half — the
# per-kind feature aggregation (incl. the exact-integer ppb entropy
# average through the _portable moment contract) and the frames/resize
# stage profiles — so the driver hash certifies the Spark decode +
# aggregation chain against an independent SQL implementation. n_media
# derives from the registered customer view exactly as the three earlier
# sidecar oracles do; the sidecar covers ids < 9600 (sf0.1) and lower-SF
# tables are row-subsets, so `media_id < n` is the whole SF story.
_PIPELINE_SIDECAR = os.path.join(
    os.path.dirname(_PHASH_SIDECAR), "media_pipeline.parquet"
)

MEDIA_PIPELINE_SQL = f"""
WITH nm AS (
  SELECT greatest(96, CAST(round(96 * count(*) / 150.0) AS BIGINT)) AS n
  FROM customer
),
sc AS (
  SELECT stage, media_id, kind, n_bytes, sha256, comp_len
  FROM read_parquet('{_PIPELINE_SIDECAR}')
  WHERE media_id < (SELECT n FROM nm)
),
feat AS (
  SELECT 'features:' || kind AS stage,
         count(*) AS n_items,
         count(*) AS n_rows,
         CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         round({_moment_to_double_sql(f"sum({_ENT_PPB_SQL})", 0)}
               / 1000000000.0 / count(*), 4) AS avg_entropy,
         count(DISTINCT sha256) AS n_unique
  FROM sc WHERE stage = 'features' GROUP BY kind
),
st AS (
  SELECT stage,
         count(DISTINCT media_id) AS n_items,
         count(*) AS n_rows,
         CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         CAST(NULL AS DOUBLE) AS avg_entropy,
         CAST(NULL AS BIGINT) AS n_unique
  FROM sc WHERE stage IN ('frames', 'resize') GROUP BY stage
)
SELECT * FROM feat
UNION ALL
SELECT * FROM st
ORDER BY stage
"""

ORACLE: dict[str, str] = {
    "media_pipeline_profile": MEDIA_PIPELINE_SQL,
    "image_phash_neardup": IMAGE_PHASH_SQL,
    "audio_energy_segments": AUDIO_SEGMENTS_SQL,
    "video_scene_changes": VIDEO_SCENES_SQL,
}


_MEDIA_KINDS = ("image", "audio", "video")
_MEDIA_MIMES = {"image": "image/png", "audio": "audio/wav", "video": "video/x-msvideo"}


_AUDIO_HZ = 4000


def _synth_image_pixels(k: int, seed: int) -> np.ndarray:
    """Pixels for image index ``k`` (media_id = 3k). Images come in PAIRS:
    group g = k//2 owns the base pixels; the odd member (k = 2g+1) is the
    base with 3 pixels bumped by +128 mod 256 — a planted perceptual
    NEAR-duplicate whose dHash differs by at most 6 bits (each perturbed
    pixel lands on at most one downsample cell → at most 2 gradient
    comparisons flip), while staying sha256-distinct. Even groups are full
    noise, odd groups are 4-level quantized noise (≈0.4 zlib ratio), so
    the entropy_proxy spread survives the move to real payloads."""
    grp = k // 2
    w = 16 + (grp % 5) * 4
    h = 12 + ((grp * 3) % 5) * 4
    rng = np.random.default_rng([seed, 101, grp])
    if grp % 2 == 0:
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    else:
        px = (rng.integers(0, 4, (h, w, 3)) * 64).astype(np.uint8)
    if k % 2 == 1:  # near-dup twin of (k - 1)
        prng = np.random.default_rng([seed, 102, k])
        for _ in range(3):
            y = int(prng.integers(0, h))
            x = int(prng.integers(0, w))
            c = int(prng.integers(0, 3))
            px[y, x, c] = (int(px[y, x, c]) + 128) % 256
    return px


def synthesize_media_item(i: int, seed: int = 42) -> dict:
    """One media row, pure Python — shared by the Spark generator AND the
    test-side recomputation twins, so any divergence between what Spark
    materializes and what the twins expect fails loudly.

    Every payload is REAL decodable media: PNG images (with
    planted perceptual near-dup pairs), 16-bit PCM WAV audio (alternating
    exactly-periodic quantized tone / noise, for the compressibility
    spread), and MPNG AVI video."""
    from amazon_climate_data_etl_spark.sources.avi_min import write_avi

    kind = _MEDIA_KINDS[i % 3]
    # bounded duration (1-11 s): total frame fan-out stays LINEAR in the
    # table size (an unbounded i*33 made it quadratic)
    dur = 1000 + (i % 300) * 33 if kind != "image" else None
    width = height = None
    if kind == "video":
        # a REAL (if tiny) MPNG AVI: 2 fps of 8x8 PNG frames, so the real
        # container-parse/frame-decode path runs on this table
        rng = np.random.default_rng([seed, i])
        n_frames = max(1, int(dur) // 500)
        payload = write_avi(
            [
                png_encode_minimal(rng.integers(0, 256, (8, 8, 3), dtype=np.uint8))
                for _ in range(n_frames)
            ],
            8, 8, us_per_frame=500_000,
        )
    elif kind == "image":
        px = _synth_image_pixels(i // 3, seed)
        height, width = int(px.shape[0]), int(px.shape[1])
        payload = png_encode_minimal(px)
    else:  # audio: real WAV; tone halves compress, noise halves do not
        n_samp = _AUDIO_HZ * dur // 1000
        if (i // 3) % 2 == 0:
            # 220 Hz tone quantized to 41 levels; the period is EXACTLY
            # 200 samples at 4 kHz so zlib collapses it (low entropy_proxy)
            samples = (
                np.round(np.sin(2 * np.pi * 220 * np.arange(n_samp) / _AUDIO_HZ) * 20)
                / 64.0
            )
        else:
            arng = np.random.default_rng([seed, 201, i])
            samples = arng.integers(-16000, 16000, n_samp) / 32768.0
        payload = wav_encode_minimal(samples, _AUDIO_HZ)
    return {
        "media_id": i,
        "kind": kind,
        "mime": _MEDIA_MIMES[kind],
        "width": width,
        "height": height,
        "duration_ms": dur,
        "content": payload,
    }


def synthetic_media(
    spark: SparkSession,
    n: int = 64,
    seed: int = 42,
    rows_per_partition: int = 4096,
    kinds: tuple[str, ...] | None = None,
) -> DataFrame:
    """Deterministic media table for tests/bench — REAL binary payloads
    (PNG/WAV/AVI, per-row recipe in ``synthesize_media_item``) of varying
    size and compressibility.

    Generated EXECUTOR-side: the driver ships only (n, seed) and each
    payload derives from rngs keyed by (seed, media_id), so the table is
    identical under any partitioning and never materializes on the driver —
    the shape a real 100 TB media table has (parquet on executors), unlike
    a driver-built createDataFrame list."""
    from amazon_climate_data_etl_spark.session import ship_package_to_workers

    ship_package_to_workers(spark)

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # kind-prune BEFORE synthesis: a single-kind consumer (e.g. the
            # audio profiler) must not pay for encoding the other kinds'
            # payloads only to filter them out — media_id identity (= i)
            # is unchanged, so pruned tables are row-subsets of the full one
            ids = [
                int(i)
                for i in pdf["id"]
                if kinds is None or _MEDIA_KINDS[int(i) % 3] in kinds
            ]
            rows = [synthesize_media_item(i, seed) for i in ids]
            yield pd.DataFrame(
                {f.name: [r[f.name] for r in rows] for f in MEDIA_SCHEMA.fields},
                columns=[f.name for f in MEDIA_SCHEMA.fields],
            )

    # at least one split per core (the downstream decode/frame stages are
    # compute-bound Python; 3 fat partitions would idle 29 of 32 cores), at
    # most one row per partition
    num_parts = max(
        1,
        min(n, max(math.ceil(n / rows_per_partition),
                   spark.sparkContext.defaultParallelism)),
    )
    return spark.range(0, n, 1, num_parts).mapInPandas(worker, schema=MEDIA_SCHEMA)
