"""Multimodal columns: images/audio/video as opaque ``binary`` with
typed metadata; decode / feature-extract / frame-sample as per-document
``pipeline.flat_map_rows`` stages (``mapInArrow``; each operator keeps
only its per-row body).

The decode step is REAL (pure-Python/numpy codecs, ops/media_codecs):
PNG (all five scanline filters), 24-bit BMP, PCM WAV, and YUV4MPEG2
raw video.  Fixtures are ENCODED from deterministic pixel/sample
arrays whose ground-truth features are recorded at construction time;
the pipeline then DECODES the payload bytes independently — the oracle
comparison is a genuine encode→decode round trip, not a replay of the
decoder.  Unknown formats surface as ``decode_error`` rows (poison
payloads are data, not exceptions, at 10^12 scale).

``strict_decoder`` raises the way a production build surfaces a
missing codec.
"""

from __future__ import annotations

import hashlib
from typing import Callable, List, Tuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..pipeline import flat_map_rows
from .media_codecs import (
    PNG_SIG, bmp_decode, bmp_encode, mean_from_sum, png_decode, png_encode,
    wav_decode, wav_encode, y4m_decode, y4m_encode,
)

MEDIA_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("media_type", T.StringType(), False),  # image|audio|video
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
])

FEATURES_SCHEMA = (
    "url string, media_type string, n_bytes bigint, width int, height int,"
    " channels int, duration_ms int, mean_luma double, sha256 string,"
    " decode_error string"
)

FRAMES_SCHEMA = (
    "url string, frame_no int, ts_ms int, frame_sha256 string"
)


# ------------------------------------------------------------ decoders
def sniff_decoder(media_type: str, payload: bytes) -> dict:
    """Magic-byte dispatch to the real codecs.  Features:
    * image (PNG/BMP): width/height/channels; mean_luma = exact mean
      over every channel sample / 255.
    * audio (WAV): channels, duration_ms; mean_luma = exact mean |s| of
      int16 samples / 32768 (signal level in the same 0-1 range).
    * video (Y4M): width/height, 3 channels, duration from frame count
      and fps; mean_luma over the Y planes only.
    Anything else raises — callers record it as ``decode_error``."""
    if payload[:8] == PNG_SIG:
        arr = png_decode(payload)
        channels = 1 if arr.ndim == 2 else arr.shape[2]
        return {
            "width": arr.shape[1], "height": arr.shape[0],
            "channels": channels, "duration_ms": 0,
            "mean_luma": mean_from_sum(int(arr.sum(dtype=np.int64)),
                                       arr.size, 255.0),
        }
    if payload[:2] == b"BM":
        arr = bmp_decode(payload)
        return {
            "width": arr.shape[1], "height": arr.shape[0],
            "channels": arr.shape[2], "duration_ms": 0,
            "mean_luma": mean_from_sum(int(arr.sum(dtype=np.int64)),
                                       arr.size, 255.0),
        }
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        samples, framerate, channels = wav_decode(payload)
        nframes = len(samples) // channels
        return {
            "width": None, "height": None, "channels": channels,
            "duration_ms": nframes * 1000 // framerate,
            "mean_luma": mean_from_sum(
                int(np.abs(samples.astype(np.int64)).sum()),
                len(samples), 32768.0),
        }
    if payload[:9] == b"YUV4MPEG2":
        w, h, num, den, frames = y4m_decode(payload)
        ysum = sum(
            int(np.frombuffer(f[:w * h], dtype=np.uint8).sum(dtype=np.int64))
            for f in frames
        )
        return {
            "width": w, "height": h, "channels": 3,
            "duration_ms": len(frames) * 1000 * den // num,
            "mean_luma": mean_from_sum(ysum, len(frames) * w * h, 255.0),
        }
    raise ValueError("unsupported media format")


def strict_decoder(media_type: str, payload: bytes) -> dict:
    raise NotImplementedError(
        "no %s codec in this environment — plug in Pillow/ffmpeg here"
        % media_type
    )


# ------------------------------------------------------------ operators
# decoder dict keys, in FEATURES_SCHEMA order
_FEATURE_KEYS = ("width", "height", "channels", "duration_ms", "mean_luma")


def media_features(
    media: DataFrame,
    decoder: Callable[[str, bytes], dict] = sniff_decoder,
) -> DataFrame:
    """Decode+featurize each media row in Arrow batches.  Decoder
    errors never kill the task: they land in ``decode_error``."""

    def rows_of(url, media_type, payload):
        payload = payload if payload is not None else b""
        feats, err = None, None
        try:
            feats = decoder(media_type, payload)
        except Exception as exc:
            err = "%s: %s" % (type(exc).__name__, exc)
        yield (url, media_type, len(payload),
               *(feats[k] if feats else None for k in _FEATURE_KEYS),
               hashlib.sha256(payload).hexdigest(), err)

    return flat_map_rows(media.select("url", "media_type", "payload"),
                         FEATURES_SCHEMA, rows_of)


def frame_plan(duration_ms: int, n_frames: int, fps_num: int, fps_den: int,
               every_ms: int, max_frames: int) -> List[Tuple[int, int, int]]:
    """Sampling policy shared by the operator and the ground-truth
    generator: (frame_no, ts_ms, source frame index) per sample —
    one sample per ``every_ms`` of wall time, mapped to the frame
    on-screen at that instant."""
    n = min(max_frames, max(duration_ms // every_ms, 1))
    plan = []
    for k in range(n):
        ts = k * every_ms
        src = min(n_frames - 1, ts * fps_num // (1000 * fps_den))
        plan.append((k, ts, src))
    return plan


def sample_frames(media: DataFrame, every_ms: int = 1000,
                  max_frames: int = 32) -> DataFrame:
    """REAL frame sampling for Y4M video rows: decodes the container,
    picks the frame on-screen at each sample instant, hashes its raw
    C420 bytes.  A flatMap-shaped ``flat_map_rows`` pass — output
    cardinality greater than input, same Arrow batching.  Undecodable
    videos emit no frames (their error surfaces in media_features)."""

    def rows_of(url, media_type, payload):
        if media_type != "video" or payload is None:
            return
        try:
            w, h, num, den, frames = y4m_decode(payload)
        except Exception:
            return
        duration_ms = len(frames) * 1000 * den // num
        for k, ts, src in frame_plan(duration_ms, len(frames),
                                     num, den, every_ms, max_frames):
            yield url, k, ts, hashlib.sha256(frames[src]).hexdigest()

    return flat_map_rows(media.select("url", "media_type", "payload"),
                         FRAMES_SCHEMA, rows_of)


# ------------------------------------------------------------ fixtures
def _image_arrays(i: int):
    w, h = 24 + (i % 7) * 8, 16 + (i % 5) * 8
    yy, xx = np.mgrid[0:h, 0:w]
    if (i // 3) % 2 == 0:  # grayscale → PNG (filters 0..4 cycled)
        return ((xx * 7 + yy * 13 + i * 29) % 256).astype(np.uint8), "png"
    rgb = np.stack([(xx * 3 + i) % 256, (yy * 5 + i) % 256,
                    (xx + yy + i) % 256], axis=-1).astype(np.uint8)
    return rgb, "bmp"


def _audio_arrays(i: int):
    framerate = 8000
    channels = 1 + (i // 3) % 2
    nframes = 1600 + 320 * (i % 9)
    t = np.arange(nframes * channels, dtype=np.int64)
    samples = (((t * (i + 3) * 2654435761) >> 7) % 24001 - 12000) \
        .astype(np.int16)
    return samples, framerate, channels, nframes


def _video_arrays(i: int):
    w, h = 32 + (i % 4) * 16, 24 + (i % 3) * 8
    n_frames = 4 + (i % 5) * 2
    fps_num, fps_den = 5, 1
    yy, xx = np.mgrid[0:h, 0:w]
    frames = []
    for k in range(n_frames):
        y = ((xx * 11 + yy * 17 + k * 23 + i) % 256).astype(np.uint8)
        u = np.full((h // 2, w // 2), (16 * k + i) % 256, dtype=np.uint8)
        v = np.full((h // 2, w // 2), (32 * k + 2 * i) % 256, dtype=np.uint8)
        frames.append((y, u, v))
    return frames, fps_num, fps_den


def fixture_media(n: int = 60) -> List[dict]:
    """Deterministic media corpus WITH construction-time ground truth.

    Every 10th row is a poison payload in an unknown format (exercises
    the decode_error path).  Each dict carries the row fields plus
    ``truth`` (expected feature values, computed from the ENCODE-side
    arrays — never by running the decoder) and, for videos,
    ``frame_truth`` inputs (raw frame bytes)."""
    out = []
    for i in range(n):
        mt = ("image", "audio", "video")[i % 3]
        url = "https://fixtures.test/media/%s/%04d" % (mt, i)
        frames_bytes = None
        if i % 10 == 9:  # poison: unknown container
            payload = (b"GARBAGE0"
                       + hashlib.sha256(b"junk-%d" % i).digest() * 3)
            truth = {"width": None, "height": None, "channels": None,
                     "duration_ms": None, "mean_luma": None,
                     "decode_error": "ValueError: unsupported media format"}
            codec = "none"
        elif mt == "image":
            arr, codec = _image_arrays(i)
            payload = png_encode(arr) if codec == "png" else bmp_encode(arr)
            truth = {
                "width": arr.shape[1], "height": arr.shape[0],
                "channels": 1 if arr.ndim == 2 else arr.shape[2],
                "duration_ms": 0,
                "mean_luma": mean_from_sum(int(arr.sum(dtype=np.int64)),
                                           arr.size, 255.0),
                "decode_error": None,
            }
        elif mt == "audio":
            samples, framerate, channels, nframes = _audio_arrays(i)
            payload = wav_encode(samples, framerate, channels)
            codec = "wav"
            truth = {
                "width": None, "height": None, "channels": channels,
                "duration_ms": nframes * 1000 // framerate,
                "mean_luma": mean_from_sum(
                    int(np.abs(samples.astype(np.int64)).sum()),
                    len(samples), 32768.0),
                "decode_error": None,
            }
        else:
            frames, num, den = _video_arrays(i)
            payload = y4m_encode(frames, num, den)
            codec = "y4m"
            w, h = frames[0][0].shape[1], frames[0][0].shape[0]
            ysum = sum(int(f[0].sum(dtype=np.int64)) for f in frames)
            truth = {
                "width": w, "height": h, "channels": 3,
                "duration_ms": len(frames) * 1000 * den // num,
                "mean_luma": mean_from_sum(ysum, len(frames) * w * h, 255.0),
                "decode_error": None,
            }
            frames_bytes = [
                y.tobytes() + u.tobytes() + v.tobytes()
                for y, u, v in frames
            ]
            truth["fps"] = (num, den)
        truth["n_bytes"] = len(payload)
        truth["sha256"] = hashlib.sha256(payload).hexdigest()
        out.append({
            "url": url, "media_type": mt, "payload": payload,
            "meta": {"codec": codec, "idx": str(i)},
            "truth": truth, "frames_bytes": frames_bytes,
        })
    return out


def fixture_media_df(spark: SparkSession, n: int = 60) -> DataFrame:
    rows = [
        (d["url"], d["media_type"], bytearray(d["payload"]), d["meta"])
        for d in fixture_media(n)
    ]
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def expected_feature_rows(n: int = 60) -> List[dict]:
    """Ground-truth media_features rows (encode-side)."""
    rows = []
    for d in fixture_media(n):
        t = d["truth"]
        rows.append({
            "url": d["url"], "media_type": d["media_type"],
            "n_bytes": t["n_bytes"], "width": t["width"],
            "height": t["height"], "channels": t["channels"],
            "duration_ms": t["duration_ms"], "mean_luma": t["mean_luma"],
            "sha256": t["sha256"], "decode_error": t["decode_error"],
        })
    return rows


def expected_frame_rows(n: int = 60, every_ms: int = 1000,
                        max_frames: int = 32) -> List[dict]:
    """Ground-truth sample_frames rows (encode-side frame bytes)."""
    rows = []
    for d in fixture_media(n):
        if d["frames_bytes"] is None:
            continue
        num, den = d["truth"]["fps"]
        dur = d["truth"]["duration_ms"]
        for k, ts, src in frame_plan(dur, len(d["frames_bytes"]), num, den,
                                     every_ms, max_frames):
            rows.append({
                "url": d["url"], "frame_no": k, "ts_ms": ts,
                "frame_sha256": hashlib.sha256(
                    d["frames_bytes"][src]).hexdigest(),
            })
    return rows


# ---------------------------------------------- perceptual image hash

AHASH_SCHEMA = "url string, ahash bigint, decode_error string"

_AHASH_BANDS = 4          # 4 x 16-bit bands: pigeonhole guarantees a
_AHASH_BAND_BITS = 16     # shared band whenever hamming <= 3
_AHASH_MAX_HAMMING = 3
_AHASH_BUCKET_CAP = 64    # same super-bucket guard as the text LSH tier


def ahash64(pixels: np.ndarray) -> int:
    """64-bit block-mean average hash (aHash) in EXACT integer
    arithmetic: the image is partitioned into an 8x8 grid with
    floor-division boundaries, and bit (r,c) is set iff the block's
    luma mean exceeds the global mean — compared by exact cross
    multiplication ``block_sum * n_pixels > total_sum * block_px``,
    so no float ever enters and the hash is reproducible bit-for-bit
    on any platform (the determinism the oracle hash needs; classic
    pHash DCTs in float and is NOT).  RGB collapses to integer luma
    299R+587G+114B (no /1000 — scale cancels in the comparison).

    A few perturbed pixels move one or two block means barely past /
    not past the global mean: near-identical images land within a
    couple of bits, unrelated ones ~32 apart (the usual aHash
    behavior)."""
    if pixels.ndim == 3:
        luma = (pixels[..., 0].astype(np.int64) * 299
                + pixels[..., 1].astype(np.int64) * 587
                + pixels[..., 2].astype(np.int64) * 114)
    else:
        luma = pixels.astype(np.int64)
    h, w = luma.shape
    rb = [(r * h) // 8 for r in range(9)]
    cb = [(c * w) // 8 for c in range(9)]
    total = int(luma.sum())
    npx = h * w
    bits = 0
    for r in range(8):
        for c in range(8):
            blk = luma[rb[r]:rb[r + 1], cb[c]:cb[c + 1]]
            one = int(blk.sum()) * npx > total * blk.size
            bits = (bits << 1) | int(one)
    if bits >= 1 << 63:          # two's-complement into Spark's LongType
        bits -= 1 << 64
    return bits


def image_ahash(media: DataFrame) -> DataFrame:
    """Decode each image payload (real PNG/BMP codecs) and emit its
    ``ahash64`` — one ``flat_map_rows`` pass, column-pruned to
    (url, payload); decoder errors land in ``decode_error`` rows with
    a NULL hash (poison bytes are data at 10^12 scale, never task
    kills)."""

    def rows_of(url, payload):
        payload = payload if payload is not None else b""
        val, err = None, None
        try:
            if payload[:8] == PNG_SIG:
                val = ahash64(png_decode(payload))
            elif payload[:2] == b"BM":
                val = ahash64(bmp_decode(payload))
            else:
                raise ValueError("not a PNG/BMP payload")
        except Exception as exc:
            err = "%s: %s" % (type(exc).__name__, exc)
        yield url, val, err

    return flat_map_rows(media.select("url", "payload"), AHASH_SCHEMA,
                         rows_of)


def ahash_neardup(hashes: DataFrame,
                  max_hamming: int = _AHASH_MAX_HAMMING,
                  bucket_cap: int = _AHASH_BUCKET_CAP,
                  hash_col: str = "ahash") -> DataFrame:
    """Banded-Hamming near-duplicate pairs over 64-bit image hashes —
    the image twin of the SimHash text tier: split each hash into
    4 x 16-bit bands, equi-join on (band_no, band_val), verify the
    exact Hamming distance with JVM-side ``bit_count(a ^ b)``, and
    keep pairs at ``<= max_hamming``.  Pigeonhole: <= 3 differing
    bits across 4 bands leaves at least one band byte-identical, so
    banding at the default threshold has EXACT recall — the banded
    result equals brute force, which is what the golden oracle pins.

    Shape at 10^12 images: no all-pairs anywhere — candidates come
    from the band equi-join (shuffle on the 16-bit band key), with
    the same super-bucket cap as the text LSH tier (a degenerate
    band value — e.g. all-dark images hashing 0x0000 in a band —
    is dropped once its bucket exceeds ``bucket_cap``, bounding any
    bucket's pair blowup; wider bands buy smaller buckets at the
    price of a lower guaranteed-recall threshold).  The Hamming
    verify is a per-candidate integer op in whole-stage codegen."""
    from pyspark.sql import functions as F

    h = (hashes.where(F.col(hash_col).isNotNull())
         .select("url", F.col(hash_col).alias("ahash")))
    bands = h.select(
        "url", "ahash",
        F.posexplode(F.array(*[
            F.expr("shiftright(ahash, %d) & %d"
                   % (i * _AHASH_BAND_BITS, (1 << _AHASH_BAND_BITS) - 1))
            for i in range(_AHASH_BANDS)
        ])).alias("band_no", "band_val"))
    if bucket_cap is not None:
        ok = (bands.groupBy("band_no", "band_val")
              .agg(F.count("*").alias("n"))
              .where(F.col("n") <= bucket_cap)
              .select("band_no", "band_val"))
        bands = bands.join(ok, ["band_no", "band_val"], "inner")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (a.join(b, [F.col("a.band_no") == F.col("b.band_no"),
                       F.col("a.band_val") == F.col("b.band_val"),
                       F.col("a.url") < F.col("b.url")])
            .select(F.col("a.url").alias("url_a"),
                    F.col("b.url").alias("url_b"),
                    F.col("a.ahash").alias("ha"),
                    F.col("b.ahash").alias("hb"))
            .distinct())
    return (cand
            .withColumn("hamming",
                        F.expr("cast(bit_count(ha ^ hb) as int)"))
            .where(F.col("hamming") <= max_hamming)
            .select("url_a", "url_b", "hamming"))


# ----------------------------------- near-dup fixture + ground truth

def _neardup_image_arrays(i: int):
    """Deterministic base images with per-index spatial frequencies —
    unlike ``_image_arrays`` the gradient periods vary with ``i``, so
    two DIFFERENT bases never share a block-mean layout (a constant
    offset mod 256 would shift every block equally and collide the
    hash)."""
    w, h = 32 + (i % 5) * 8, 24 + (i % 4) * 8
    yy, xx = np.mgrid[0:h, 0:w]
    fx, fy = 3 + (i * 5) % 23, 2 + (i * 7) % 19
    # the cross term curves the field per-index — pure linear
    # gradients concentrate aHash onto half-plane patterns and
    # unrelated bases would collide within a few bits
    curve = (xx * yy) // (2 + i % 7)
    if i % 2 == 0:   # grayscale -> PNG
        return ((xx * fx + yy * fy + curve + i * 31) % 256
                ).astype(np.uint8), "png"
    rgb = np.stack([(xx * fx + curve + i) % 256,
                    (yy * fy + 2 * i) % 256,
                    (xx * (fx + 1) + yy * fy + curve + 3 * i) % 256],
                   axis=-1).astype(np.uint8)
    return rgb, "bmp"


def fixture_images_neardup(n: int = 48) -> List[dict]:
    """Image corpus with PLANTED near-duplicates: every 4th base image
    gets a ``-dup`` twin with one corner block edited (lands 0-3
    aHash bits away), and every 12th additionally a ``-copy`` exact
    byte-duplicate (hamming 0).  One UNplanted base pair also lands
    at hamming 1 — aHash is a coarse 64-bit sketch and such natural
    collisions are exactly why production pipelines verify candidates
    at pixel/embedding level; the ground truth (brute force) reports
    it and the banded pipeline must reproduce it.  Each dict carries
    url, payload, and the ENCODE-side pixel array for ground-truth
    computation that never runs the codecs."""
    out = []
    for i in range(n):
        arr, fmt = _neardup_image_arrays(i)
        enc = png_encode if fmt == "png" else bmp_encode
        base_url = "https://fixtures.test/imgs/%04d.%s" % (i, fmt)
        out.append({"url": base_url, "payload": enc(arr), "pixels": arr})
        if i % 4 == 0:
            pert = arr.copy()
            pert[0:6, 0:8] ^= 160   # one corner block, a real edit
            out.append({"url": base_url + "-dup", "payload": enc(pert),
                        "pixels": pert})
        if i % 12 == 0:
            out.append({"url": base_url + "-copy", "payload": enc(arr),
                        "pixels": arr})
    out.append({"url": "https://fixtures.test/imgs/poison",
                "payload": b"\x00not-an-image", "pixels": None})
    return out


def fixture_images_df(spark: SparkSession, n: int = 48) -> DataFrame:
    rows = [(d["url"], "image", bytearray(d["payload"]), None)
            for d in fixture_images_neardup(n)]
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def expected_neardup_rows(n: int = 48,
                          max_hamming: int = _AHASH_MAX_HAMMING
                          ) -> List[dict]:
    """Ground-truth near-dup pairs: brute-force O(n^2) Hamming over
    hashes computed from the ENCODE-side arrays (never the decoded
    payloads, never the band join) — independent of both halves the
    Spark pipeline exercises."""
    fixtures = [d for d in fixture_images_neardup(n)
                if d["pixels"] is not None]
    hashes = [(d["url"], ahash64(d["pixels"])) for d in fixtures]
    rows = []
    for x in range(len(hashes)):
        for y in range(len(hashes)):
            ua, ha = hashes[x]
            ub, hb = hashes[y]
            if ua >= ub:
                continue
            ham = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if ham <= max_hamming:
                rows.append({"url_a": ua, "url_b": ub, "hamming": ham})
    return rows


# --------------------------------------------- audio fingerprint tier

AUDIO_FP_SCHEMA = "url string, afp bigint, decode_error string"


def audio_fp64(samples: np.ndarray) -> int:
    """64-bit energy-envelope fingerprint in EXACT integer arithmetic —
    the audio analogue of ``ahash64``: the interleaved int16 stream is
    cut into 64 floor-boundary windows, and bit k is set iff window
    k's absolute-amplitude sum exceeds its share of the global sum
    (exact cross multiplication, no floats).  Amplitude jitter or a
    short edit moves a couple of window bits; unrelated signals land
    ~32 apart.  (A production system would fingerprint a spectral
    envelope per window — same banded-join serving shape; this stays
    integer-exact so the oracle can hash it.)"""
    a = np.abs(samples.astype(np.int64))
    n = a.shape[0]
    if n == 0:
        return 0
    total = int(a.sum())
    bounds = [(k * n) // 64 for k in range(65)]
    bits = 0
    for k in range(64):
        w = a[bounds[k]:bounds[k + 1]]
        one = int(w.sum()) * n > total * w.shape[0]
        bits = (bits << 1) | int(one)
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Decode each WAV payload (real codec) and emit ``audio_fp64`` —
    one ``flat_map_rows`` pass, column-pruned to (url, payload);
    decoder errors land in decode_error rows with a NULL hash.  Serve
    near-dups with ``ahash_neardup(..., hash_col='afp')`` — the image
    tier's banded-Hamming join is hash-agnostic."""

    def rows_of(url, payload):
        payload = payload if payload is not None else b""
        val, err = None, None
        try:
            if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
                samples, _, _ = wav_decode(payload)
                val = audio_fp64(samples)
            else:
                raise ValueError("not a WAV payload")
        except Exception as exc:
            err = "%s: %s" % (type(exc).__name__, exc)
        yield url, val, err

    return flat_map_rows(media.select("url", "payload"), AUDIO_FP_SCHEMA,
                         rows_of)


def _neardup_audio_arrays(i: int) -> np.ndarray:
    """Deterministic int16 sample streams whose ENVELOPE is a
    per-(index, window) pseudo-random gain staircase over the same 64
    floor-boundary windows the fingerprint reads — each clip gets its
    own energy layout, so unrelated fingerprints are well separated
    (a handful of smooth envelope shapes would collide them)."""
    n = 4000 + 400 * (i % 7)
    t = np.arange(n, dtype=np.int64)
    carrier = ((t * (i + 3) * 2654435761) >> 6) % 2000 + 100
    win = (t * 64) // n
    # two xorshift-multiply rounds: a single multiply leaves gain(win)
    # an arithmetic progression whose fingerprints are near-rotations
    # of each other across i
    g = (i * 1000003 + win * 7919).astype(np.uint64)
    g ^= g >> np.uint64(7)
    g = (g * np.uint64(2654435761)) & np.uint64(0xFFFFFFFF)
    g ^= g >> np.uint64(13)
    g = (g * np.uint64(2246822519)) & np.uint64(0xFFFFFFFF)
    gain = (100 + ((g >> np.uint64(16)) % np.uint64(900))).astype(np.int64)
    return ((carrier * gain) // 1000).clip(-32000, 32000) \
        .astype(np.int16)


def fixture_audio_neardup(n: int = 40) -> List[dict]:
    """WAV corpus with planted near-duplicates: every 4th clip gets a
    ``-dup`` twin with its first windows re-scaled (a level edit —
    moves 0-3 fingerprint bits), every 12th a ``-copy`` exact
    duplicate, plus one poison payload."""
    out = []
    for i in range(n):
        samples = _neardup_audio_arrays(i)
        url = "https://fixtures.test/audio/%04d.wav" % i
        out.append({"url": url,
                    "payload": wav_encode(samples, 8000, 1),
                    "samples": samples})
        if i % 4 == 0:
            pert = samples.astype(np.int64)
            cut = len(pert) // 16    # re-level the first 4 windows
            pert[:cut] = (pert[:cut] * 3) // 2
            pert = pert.clip(-32000, 32000).astype(np.int16)
            out.append({"url": url + "-dup",
                        "payload": wav_encode(pert, 8000, 1),
                        "samples": pert})
        if i % 12 == 0:
            out.append({"url": url + "-copy",
                        "payload": wav_encode(samples, 8000, 1),
                        "samples": samples})
    out.append({"url": "https://fixtures.test/audio/poison",
                "payload": b"RIFFxxxxNOPE", "samples": None})
    return out


def fixture_audio_df(spark: SparkSession, n: int = 40) -> DataFrame:
    rows = [(d["url"], "audio", bytearray(d["payload"]), None)
            for d in fixture_audio_neardup(n)]
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def expected_audio_neardup_rows(n: int = 40,
                                max_hamming: int = _AHASH_MAX_HAMMING
                                ) -> List[dict]:
    """Ground-truth pairs: brute-force Hamming over fingerprints from
    the ENCODE-side sample arrays (never the codec, never the band
    join)."""
    fixtures = [d for d in fixture_audio_neardup(n)
                if d["samples"] is not None]
    fps = [(d["url"], audio_fp64(d["samples"])) for d in fixtures]
    rows = []
    for x in range(len(fps)):
        for y in range(len(fps)):
            ua, ha = fps[x]
            ub, hb = fps[y]
            if ua >= ub:
                continue
            ham = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if ham <= max_hamming:
                rows.append({"url_a": ua, "url_b": ub, "hamming": ham})
    return rows


# ------------------------------------------ video sub-clip containment

_CLIP_PARTIAL_PCT = 80    # partial-overlap verdict bar (percent)


def video_frame_hashes(media: DataFrame) -> DataFrame:
    """Hash EVERY frame of each Y4M video (raw C420 plane bytes) —
    the exhaustive sibling of ``sample_frames`` that clip containment
    needs (time-sampled instants of a cut clip land on different
    source frames, so the sampled tier cannot prove subset-ness).
    flatMap-shaped ``flat_map_rows`` pass; undecodable videos emit no
    rows."""

    def rows_of(url, payload):
        if payload is None:
            return
        try:
            _, _, _, _, frames = y4m_decode(payload)
        except Exception:
            return
        for k, fb in enumerate(frames):
            yield url, k, hashlib.sha256(fb).hexdigest()

    return flat_map_rows(
        media.select("url", "payload"),
        "url string, frame_no int, frame_sha256 string", rows_of)


def video_clip_containment(frames: DataFrame,
                           partial_pct: int = _CLIP_PARTIAL_PCT
                           ) -> DataFrame:
    """Asymmetric sub-clip detection over frame-hash sets — the video
    twin of the text tier's Broder containment: candidate pairs come
    from an equi-join on frame_sha256 (the inverted-index shape — a
    pair is considered only if it SHARES a frame; no all-pairs), then
    containment(b in a) = |distinct common frames| / |b's distinct
    frames| as an exact integer percentage.  ``subclip`` = every frame
    of b appears in a; ``partial`` = at least ``partial_pct``%%.

    Shape at 10^12 videos: the hash join shuffles on frame_sha256
    (uniform, content-derived); per-pair counts are one hash-agg; the
    per-video distinct-frame counts broadcast back over a second
    equi-join.  Identical twin uploads collapse into both directions
    (a⊂b and b⊂a) — exactly what a keeper stage consumes."""
    from pyspark.sql import functions as F

    d = frames.select("url", "frame_sha256").distinct()
    sizes = d.groupBy("url").agg(F.count("*").alias("n_frames"))
    a = d.alias("a")
    b = d.alias("b")
    common = (a.join(b, [F.col("a.frame_sha256") == F.col("b.frame_sha256"),
                         F.col("a.url") != F.col("b.url")])
              .groupBy(F.col("a.url").alias("url_outer"),
                       F.col("b.url").alias("url_clip"))
              .agg(F.count("*").alias("n_common")))
    out = (common
           .join(sizes.withColumnRenamed("url", "url_clip")
                 .withColumnRenamed("n_frames", "n_clip"), "url_clip")
           .withColumn("containment_pct",
                       F.expr("cast((n_common * 100 - n_common * 100 % n_clip)"
                              " / n_clip as int)"))
           .where(F.col("containment_pct") >= partial_pct)
           .select("url_outer", "url_clip",
                   F.col("n_common").cast("int").alias("n_common"),
                   F.col("n_clip").cast("int").alias("n_clip"),
                   "containment_pct",
                   F.when(F.col("n_common") == F.col("n_clip"), "subclip")
                   .otherwise("partial").alias("verdict")))
    return out


def _clip_video_frames(i: int):
    """Per-index unique frames: every (i, k) plane set is distinct by
    the same xorshift mix the audio fixture uses, so unrelated videos
    share zero frames."""
    w, h = 32, 24
    n_frames = 6 + (i % 4) * 2
    frames = []
    for k in range(n_frames):
        g = np.uint64(i * 1000003 + k * 7919)
        g ^= g >> np.uint64(7)
        g = (g * np.uint64(2654435761)) & np.uint64(0xFFFFFFFF)
        seed = int(g)
        yy, xx = np.mgrid[0:h, 0:w]
        y = ((xx * (3 + seed % 13) + yy * (5 + seed % 7) + seed) % 256
             ).astype(np.uint8)
        u = np.full((h // 2, w // 2), seed % 256, dtype=np.uint8)
        v = np.full((h // 2, w // 2), (seed >> 8) % 256, dtype=np.uint8)
        frames.append((y, u, v))
    return frames


def fixture_videos_clips(n: int = 18) -> List[dict]:
    """Video corpus with planted cuts: every 3rd base video gets a
    ``-clip`` twin holding a contiguous interior frame RANGE
    (verdict: subclip) and every 6th a ``-mix`` twin holding most of
    the base's frames plus one frame of its OWN (verdict: partial —
    exercises the percentage bar), plus a poison payload."""
    out = []
    for i in range(n):
        frames = _clip_video_frames(i)
        url = "https://fixtures.test/video/%04d.y4m" % i
        out.append({"url": url, "frames": frames})
        if i % 3 == 0:
            lo, hi = 1, 1 + max(2, len(frames) // 2)
            out.append({"url": url + "-clip", "frames": frames[lo:hi]})
        if i % 6 == 0:
            alien = _clip_video_frames(1000 + i)[0]
            out.append({"url": url + "-mix",
                        "frames": frames[:5] + [alien]})
    rows = []
    for d in out:
        rows.append({"url": d["url"], "frames": d["frames"],
                     "payload": y4m_encode(d["frames"], 5, 1)})
    rows.append({"url": "https://fixtures.test/video/poison",
                 "frames": None, "payload": b"YUV4MPEG2 garbage"})
    return rows


def fixture_videos_df(spark: SparkSession, n: int = 18) -> DataFrame:
    rows = [(d["url"], "video", bytearray(d["payload"]), None)
            for d in fixture_videos_clips(n)]
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def expected_clip_rows(n: int = 18,
                       partial_pct: int = _CLIP_PARTIAL_PCT) -> List[dict]:
    """Ground truth from the ENCODE-side frame arrays (never the
    codec, never the join): brute-force pairwise distinct-frame
    containment."""
    vids = [d for d in fixture_videos_clips(n) if d["frames"] is not None]
    sets = {
        d["url"]: {hashlib.sha256(
            y.astype(np.uint8).tobytes() + u.astype(np.uint8).tobytes()
            + v.astype(np.uint8).tobytes()).hexdigest()
            for (y, u, v) in d["frames"]}
        for d in vids
    }
    rows = []
    for ua, sa in sets.items():
        for ub, sb in sets.items():
            if ua == ub:
                continue
            n_common = len(sa & sb)
            if n_common == 0:
                continue
            pct = (n_common * 100) // len(sb)
            if pct >= partial_pct:
                rows.append({
                    "url_outer": ua, "url_clip": ub,
                    "n_common": n_common, "n_clip": len(sb),
                    "containment_pct": pct,
                    "verdict": "subclip" if n_common == len(sb)
                    else "partial"})
    return rows


# ----------------------------------------------------- scene cuts

def video_scene_cuts(frames: DataFrame) -> DataFrame:
    """Shot-boundary detection over exhaustive frame hashes: a CUT is
    a frame whose hash differs from its predecessor; scenes are the
    runs between cuts.  Output one row per scene (url, scene_no,
    start_frame, n_frames).

    Real detectors threshold a perceptual frame distance; with the
    container's raw C420 planes, hash INEQUALITY is the deterministic,
    codec-free stand-in — the Spark-side contract (exhaustive decode →
    one per-video ordered window pass → run-length grouping) is
    identical either way, and a perceptual metric drops in by
    replacing the lag comparison.

    Shape at 10^12 videos: frames hash-partition by url for the lag
    window (one exchange), the scene rollup reuses the same
    partitioning (no second shuffle), and videos are independent —
    scene counts per video are bounded by frame counts, never by
    corpus size."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("url").orderBy("frame_no")
    cuts = frames.select(
        "url", "frame_no",
        F.when(F.lag("frame_sha256").over(w).isNull(), 0)
        .when(F.lag("frame_sha256").over(w) == F.col("frame_sha256"), 0)
        .otherwise(1).alias("is_cut"))
    scenes = cuts.withColumn(
        "scene_no",
        F.sum("is_cut").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
    return (scenes.groupBy("url", "scene_no")
            .agg(F.min("frame_no").cast("int").alias("start_frame"),
                 F.count("*").cast("int").alias("n_frames")))


def _scene_video_frames(i: int):
    """Per-video scene plan: 2 + i%3 scenes, scene s repeated
    3 + (i + s) % 4 frames — distinct scene images via the clip
    fixture's generator at a disjoint index range."""
    n_scenes = 2 + i % 3
    plan = []
    for s in range(n_scenes):
        img = _clip_video_frames(5000 + i * 17 + s)[0]
        plan.append((img, 3 + (i + s) % 4))
    return plan


def fixture_videos_scenes(n: int = 16) -> List[dict]:
    """Scene-structured video corpus: identical frames within a
    scene, hard cuts between scenes, plus a poison payload."""
    rows = []
    for i in range(n):
        frames = []
        for img, length in _scene_video_frames(i):
            frames.extend([img] * length)
        rows.append({
            "url": "https://fixtures.test/scenes/%04d.y4m" % i,
            "payload": y4m_encode(frames, 5, 1)})
    rows.append({"url": "https://fixtures.test/scenes/poison",
                 "payload": b"YUV4MPEG2 garbage"})
    return rows


def fixture_scenes_df(spark: SparkSession, n: int = 16) -> DataFrame:
    rows = [(d["url"], "video", bytearray(d["payload"]), None)
            for d in fixture_videos_scenes(n)]
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def expected_scene_rows(n: int = 16) -> List[dict]:
    """Ground truth from the ENCODE-side scene plan (never the codec,
    never the window)."""
    rows = []
    for i in range(n):
        url = "https://fixtures.test/scenes/%04d.y4m" % i
        start = 0
        for s, (_, length) in enumerate(_scene_video_frames(i)):
            rows.append({"url": url, "scene_no": s,
                         "start_frame": start, "n_frames": length})
            start += length
    return rows
