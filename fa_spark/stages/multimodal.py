"""Media decode stages: content bytes in, per-blob features out.

Each blob is sniffed (pure.sniff_bytes), its container envelope is parsed
(pure.extract_metadata), and DECODE_TABLE decides the rest. A row names a
content type, an optional `meta` gate, one of this repo's pure-Python
decoders and a featurizer:

  decoded       the first row for the content type whose gate passes
                decoded the payload: raster images, WAV/FLAC, MJPEG AVI
                and MP4, MPEG-1 video (I/P/B), MPEG-1 audio layers I-III,
                VP8L WebP, Vorbis and Y4M; the features are real
  decode_error  that row's decoder returned None (malformed or truncated
                payload); the feature is a deterministic hash of the bytes
  stubbed       a content type the table names, but no row's gate passes
                (opus, non-MJPEG AVI/MP4, lossy WebP, WebM, AAC, AVIF/HEIC,
                MPEG streams outside the decoders' subsets): the envelope
                still parses into `meta`, the feature is the byte hash
  skipped       not a media type

lineage.commit_lineage counts stubbed rows with stub_type(), the Spark
expression generated from the same table, so a run's counters say what
this stage did. The mode picks the target resolution, as the reference's
per-mode preprocessing tiers do (describe 512², detect 384², document
768²).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator
from functools import reduce
from operator import or_
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fa_spark import pure

MODE_RESOLUTION = {"describe": 512, "detect": 384, "document": 768}

MEDIA_FEATURES = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("target_res", T.IntegerType()),
        T.StructField("decode_status", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("ahash", T.LongType()),
    ]
)

FEATURE_DIM = 16


def _fake_decode(data: bytes, target_res: int) -> list[float]:
    """Deterministic stand-in feature for payloads that did not decode:
    the bytes hashed into a fixed-dim float vector, so downstream plumbing
    (schema, similarity join, batching) stays exercisable."""
    h = hashlib.sha256(data + str(target_res).encode()).digest()
    return [round(((h[i] / 255.0) * 2 - 1), 6) for i in range(FEATURE_DIM)]


def _raster_features(img: dict) -> tuple[list[float], int]:
    """FEATURE_DIM-float vector from a real raster decode (every raster
    codec returns the same {width,height,channels,pixels} dict):
    [mean_r, mean_g, mean_b, width, height, 8 luminance-histogram
    fractions, 0-padding] + aHash. Grayscale pads means with 0."""
    st = pure.image_stats(img)
    n = img["width"] * img["height"]
    means = st["means"] + [0.0] * (3 - len(st["means"]))
    vec = [round(m, 6) for m in means]
    vec += [float(img["width"]), float(img["height"])]
    vec += [round(c / n, 6) for c in st["hist"]]
    vec += [0.0] * (FEATURE_DIM - len(vec))
    ah = st["ahash"]
    if ah >= 1 << 63:  # fold into Spark's signed long
        ah -= 1 << 64
    return vec[:FEATURE_DIM], ah


def _video_features(vid: dict) -> tuple[list[float], None]:
    """FEATURE_DIM floats from a real video decode: [n_frames, width,
    height, fps, duration_s, n_sampled, sampled-frame luminance means...]"""
    vec = [
        float(vid["n_frames"]),
        float(vid["width"]),
        float(vid["height"]),
        round(vid["fps"], 6),
        round(vid["duration_s"], 6),
        float(len(vid["sampled_frames"])),
    ]
    vec += [round(m, 6) for m in vid["frame_means"]]
    return (vec + [0.0] * FEATURE_DIM)[:FEATURE_DIM], None


def _audio_features(aud: dict) -> tuple[list[float], None]:
    """FEATURE_DIM floats from a real audio decode: [rms, peak, zcr,
    n_samples, rate, duration_s, channels, codec, 0-padding]."""
    vec = [
        round(aud["rms"], 6),
        # rounded BEFORE the float32 feature-array store so the stored
        # value sits on a 6-dp grid point (identity for the integer PCM
        # peaks of wav/flac; required for vorbis' float peaks — a raw
        # float32 store could cross a 6-dp rounding boundary vs the
        # float64 oracle)
        round(float(aud["peak"]), 6),
        round(aud["zero_crossings"] / aud["n_samples"], 6),
        float(aud["n_samples"]),
        float(aud["rate"]),
        round(aud["duration_s"], 6),
        float(aud["n_channels"]),
        # WAV source-codec tag (0 pcm/other, 1 ima_adpcm, 2 mulaw,
        # 3 alaw) — lets the wav_codec_features oracle verify DISPATCH,
        # not just feature values
        float(aud.get("codec", 0)),
    ]
    return (vec + [0.0] * FEATURE_DIM)[:FEATURE_DIM], None


class Gate(NamedTuple):
    """``meta[key]`` holds one of ``values`` — upper-cased first when
    ``fold``, or as any item of its comma-separated list when ``items``.
    A missing key never passes. ``passes`` reads a Python meta dict (the
    stage), ``expr`` a Spark map column (lineage): one rule, two readers."""

    key: str
    values: tuple[str, ...]
    fold: bool = False
    items: bool = False

    def passes(self, meta: dict) -> bool:
        v = meta.get(self.key, "")
        if self.items:
            return not set(v.split(",")).isdisjoint(self.values)
        return (v.upper() if self.fold else v) in self.values

    def expr(self, meta: Column) -> Column:
        v = F.coalesce(meta.getItem(self.key), F.lit(""))
        if self.items:
            return F.arrays_overlap(
                F.split(v, ","), F.array(*map(F.lit, self.values))
            )
        return (F.upper(v) if self.fold else v).isin(*self.values)


class Codec(NamedTuple):
    """One DECODE_TABLE row: a blob sniffed as ``ct`` whose meta passes
    ``gate`` (None: every blob) decodes through ``decode`` and is
    featurized by ``features`` -> (feature vector, aHash or None). A row
    without a decoder names a container whose envelope parses but whose
    payload has no codec here: its blobs are always stubbed."""

    ct: str
    decode: Callable[[bytes], dict | None] | None = None
    features: Callable[[dict], tuple] | None = None
    gate: Gate | None = None

    def takes(self, meta: dict) -> bool:
        return self.decode is not None and (
            self.gate is None or self.gate.passes(meta)
        )

    def takes_expr(self, meta: Column) -> Column:
        if self.decode is None:
            return F.lit(False)
        return F.lit(True) if self.gate is None else self.gate.expr(meta)


_RASTER_DECODERS = {
    "png": pure.decode_png,
    "jpeg": pure.decode_jpeg,
    "jpeg_exif": pure.decode_jpeg,
    "bmp": pure.decode_bmp,
    "gif": pure.decode_gif,
    "tiff": pure.decode_tiff,
    # favicons: PNG-in-ICO via decode_png, BMP-in-ICO via decode_bmp with
    # a synthesized file header (pure.decode_ico)
    "ico": pure.decode_ico,
}

# the first row whose gate passes decodes; gate keys come from the envelope
# walks of pure.extract_metadata (a test pins that each one is emitted)
DECODE_TABLE: tuple[Codec, ...] = (
    *(Codec(ct, fn, _raster_features) for ct, fn in _RASTER_DECODERS.items()),
    Codec("riff", pure.decode_wav, _audio_features,
          Gate("riff:format", ("WAVE",))),
    Codec("flac", pure.decode_flac, _audio_features),
    # frame chunks are complete JPEGs through this repo's JPEG decoder
    Codec("riff", pure.decode_avi_mjpeg, _video_features,
          Gate("avi:codec", ("MJPG", "MJPEG"), fold=True)),
    # MJPEG when ANY trak carries a jpeg/mjpa sample entry
    Codec("mp4", pure.decode_mp4_mjpeg, _video_features,
          Gate("mp4:codecs", ("jpeg", "mjpa"), items=True)),
    # I, P and B pictures; D pictures and streams past the frame or
    # geometry bounds stay stubbed (pure._parse_mpeg_meta)
    Codec("mpeg", pure.decode_mpeg1, _video_features,
          Gate("mpeg:ipb_subset", ("1",))),
    # Layers I-III; every frame inside its layer decoder's documented
    # subset (pure._mpeg_audio_subset_frame)
    Codec("mp3", pure.decode_mpeg_audio, _audio_features,
          Gate("mp3:l3_subset", ("1",))),
    # VP8L, bare or as the still of a VP8X container
    Codec("webp", pure.decode_webp_lossless, _raster_features,
          Gate("webp:format", ("lossless",))),
    Codec("webp", pure.decode_webp_lossless, _raster_features,
          Gate("webp:has_vp8l", ("1",))),
    Codec("ogg", pure.decode_vorbis, _audio_features,
          Gate("ogg:codec", ("vorbis",))),
    Codec("y4m", pure.decode_y4m, _video_features),
    # envelope only: WebM (VP8/VP9), AAC, AVIF/HEIF (AV1/HEVC payloads)
    *(Codec(ct) for ct in ("webm", "aac", "avif", "heic")),
)

_ROWS_BY_CT = {
    c: tuple(r for r in DECODE_TABLE if r.ct == c)
    for c in dict.fromkeys(r.ct for r in DECODE_TABLE)
}


def stub_type(ct: Column, meta: Column) -> Column:
    """``ct`` where the feature stage would mark the blob ``stubbed`` (a
    content type DECODE_TABLE names, no row taking it), else NULL —
    generated from the table, over sniffed content-type and meta columns."""
    stubbed = reduce(or_, [
        (ct == c) & ~reduce(or_, [r.takes_expr(meta) for r in rows])
        for c, rows in _ROWS_BY_CT.items()
    ])
    return F.when(stubbed, ct)


def _decode_raster(ct: str, b: bytes):
    """The raster rows' decode of a sniffed blob; None when ``ct`` is not
    a raster type or the payload is malformed."""
    fn = _RASTER_DECODERS.get(ct)
    return fn(b) if fn else None


def media_features_fn(mode: str = "describe"):
    """mapInPandas generator over (media_id, content) batches."""
    target = MODE_RESOLUTION.get(mode, 512)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar accumulation: appending straight to per-column
            # lists is ~10% cheaper than letting pandas pivot row dicts
            cols: dict[str, list] = {
                f.name: [] for f in MEDIA_FEATURES.fields
            }
            for mid, data in zip(pdf["media_id"], pdf["content"]):
                b = bytes(data) if data is not None else b""
                ct = pure.sniff_bytes(b)["content_type"]
                meta = pure.extract_metadata(b)
                width = height = None
                for fam in ("png", "jpeg", "gif", "bmp", "tiff", "avif",
                            "heic"):
                    if meta.get(f"{fam}:width"):
                        width = meta.get(f"{fam}:width")
                        height = meta.get(f"{fam}:height")
                        break
                rows = _ROWS_BY_CT.get(ct, ())
                row = next((r for r in rows if r.takes(meta)), None)
                status, feature, ahash = "skipped", None, None
                if row is not None:
                    dec = row.decode(b)
                    if dec is None:
                        status = "decode_error"
                        feature = _fake_decode(b, target)
                    else:
                        status = "decoded"
                        feature, ahash = row.features(dec)
                        if "width" in dec:  # images and video, not audio
                            width, height = dec["width"], dec["height"]
                elif rows:
                    status = "stubbed"
                    feature = _fake_decode(b, target)
                cols["media_id"].append(mid)
                cols["content_type"].append(ct)
                cols["n_bytes"].append(len(b))
                cols["sha"].append(hashlib.sha256(b).hexdigest())
                cols["width"].append(int(width) if width else None)
                cols["height"].append(int(height) if height else None)
                cols["target_res"].append(target)
                cols["decode_status"].append(status)
                cols["feature"].append(feature)
                cols["ahash"].append(ahash)
            yield pd.DataFrame(cols, columns=[f.name for f in MEDIA_FEATURES.fields])

    return fn


OBJECTS = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("decode_status", T.StringType()),
        T.StructField(
            "objects",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("label", T.StringType()),
                        T.StructField("confidence", T.DoubleType()),
                        T.StructField("bbox", T.ArrayType(T.IntegerType())),
                    ]
                )
            ),
        ),
    ]
)


def _quadrant_objects(img: dict) -> list[dict]:
    """Deterministic region 'detection' from REAL decoded pixels: one object
    per image quadrant — label = luminance bin, confidence = mean/255,
    bbox = [x0, y0, x1, y1] (end-exclusive). The reference's detect mode is
    itself a mock adapter emitting typed objects[]
    (/root/reference/src/models/mock_adapter.py:190-206); this mirrors that
    contract while deriving every value from actual decoded content."""
    import numpy as _np

    w, h, ch = img["width"], img["height"], img["channels"]
    a = _np.frombuffer(bytes(img["pixels"]), dtype=_np.uint8).reshape(h, w, ch)
    if ch >= 3:
        lum = (
            a[:, :, 0].astype(_np.int32)
            + a[:, :, 1].astype(_np.int32)
            + a[:, :, 2].astype(_np.int32)
        ) // 3
    else:
        lum = a[:, :, 0].astype(_np.int32)
    mx, my = w // 2, h // 2
    quads = [
        (0, 0, mx, my),
        (mx, 0, w, my),
        (0, my, mx, h),
        (mx, my, w, h),
    ]
    out = []
    for x0, y0, x1, y1 in quads:
        if x1 <= x0 or y1 <= y0:  # degenerate (1-pixel-wide images)
            continue
        m = int(lum[y0:y1, x0:x1].sum()) // ((y1 - y0) * (x1 - x0))
        out.append(
            {
                "label": f"region_{m >> 5}",
                "confidence": round(m / 255, 6),
                "bbox": [x0, y0, x1, y1],
            }
        )
    return out


def _raster_stage(
    df: DataFrame, id_col: str, content_col: str, schema: T.StructType, per_image
) -> DataFrame:
    """df(media_id, content binary) -> ``schema`` rows (media_id,
    content_type, decode_status, <value>): each blob is sniffed, rasters are
    decoded with this repo's own codecs, and the value column is
    ``per_image(decoded image)`` — NULL unless a real decode succeeded.
    Same decode taxonomy as extract_media_features."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["content"]):
                b = bytes(data) if data is not None else b""
                ct = pure.sniff_bytes(b)["content_type"]
                status, value = "skipped", None
                if ct in _RASTER_DECODERS:
                    img = _decode_raster(ct, b)
                    if img is not None:
                        status, value = "decoded", per_image(img)
                    else:
                        status = "decode_error"
                rows.append((mid, ct, status, value))
            yield pd.DataFrame(rows, columns=schema.names)

    src = df.select(
        F.col(id_col).cast("string").alias("media_id"),
        F.col(content_col).alias("content"),
    )
    return src.mapInPandas(fn, schema)


def detect_objects(
    df: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """Detect-mode typed output (reference M7 objects[]): df(media_id,
    content binary) -> OBJECTS rows with an ArrayType(StructType) objects
    column. Same decode taxonomy as extract_media_features; objects is NULL
    unless a real decode succeeded."""
    return _raster_stage(df, id_col, content_col, OBJECTS, _quadrant_objects)


OCR = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("decode_status", T.StringType()),
        T.StructField("ocr_text", T.StringType()),
    ]
)


def _ocr_text(img: dict) -> str | None:
    # soft sub-cell matcher (round 5): reads anti-aliased rasters; equal
    # to the exact path on clean binary input. pitch='auto' (round 6):
    # also tries variable-pitch ink-gap segmentation (pure._ocr_match_prop)
    # and keeps whichever reading has the higher normalized confidence —
    # proportional-font renders read too
    return pure.ocr_image(img, soft=True, pitch="auto")


def ocr_media(
    df: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """OCR mode (reference M2 — its analyzer shells to tesseract): decode
    PNG/JPEG content with this repo's own codecs and read fixed-pitch
    glyph text (pure.ocr_image; scope documented there). Same taxonomy as
    the other media stages; ocr_text is NULL unless a real decode succeeds
    and the image holds at least one glyph row."""
    return _raster_stage(df, id_col, content_col, OCR, _ocr_text)


def extract_media_features(
    df: DataFrame, id_col: str = "media_id", content_col: str = "content",
    mode: str = "describe",
) -> DataFrame:
    """df(media_id, content binary) -> MEDIA_FEATURES rows.

    Partition-parallel; each Arrow batch is decoded independently, so the
    stage scales with executors exactly like the text pipeline.
    """
    src = df.select(
        F.col(id_col).cast("string").alias("media_id"),
        F.col(content_col).alias("content"),
    )
    return src.mapInPandas(media_features_fn(mode), MEDIA_FEATURES)
