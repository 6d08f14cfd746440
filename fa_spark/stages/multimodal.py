"""Multimodal column plumbing (images/audio/video as opaque binary).

Round 2 made PNG decode real (pure.decode_png: IDAT inflate + scanline
unfilter). Round 3: **EVERY raster format decodes for real** — baseline
JPEG (marker walk, canonical Huffman, integer IDCT, 4:4:4/4:2:0/4:2:2
chroma — the format a real CC image corpus is mostly made of), BMP
(uncompressed BI_RGB), GIF (LZW + palette + interlace), and baseline TIFF
(II/MM tag walk, multi-strip) — producing per-channel means, a luminance
histogram, and a 64-bit average-hash (perceptual fingerprint for image
dedup). Round 4: FLAC decodes for real too (pure.decode_flac — RFC 9639
frame walk, fixed/LPC subframes, Rice residuals, stereo decorrelation),
so lossless audio joins PCM WAV in the real-decode tier. Only
DSP-pipeline audio (ogg-vorbis/mp3/aac) and compressed-video containers
remain STUBS — a deterministic fake keyed on the content bytes, clearly
marked. Everything Spark-side is real and tested: schema, Arrow batch
shape, `mapInPandas` signature, partition behavior.

PCM WAV decode is real (stdlib wave + integer math — pure.decode_wav):
rms / peak / zero-crossing-rate / duration as the audio feature vector.
So is Y4M video (pure.decode_y4m: YUV4MPEG2 header + raw planes — frame
iteration, even frame-sampling, per-sampled-frame luminance means).

decode_status taxonomy:
  decoded      real decode succeeded (any raster format, PCM WAV, FLAC,
               or Y4M; features real)
  decode_error bytes sniffed as a decodable-for-real type but malformed
               (incl. arithmetic/lossless JPEG; progressive SOF2 decodes
               for REAL as of round 4)
  stubbed      decodable media type with no pure-Python DSP codec (ogg/
               mp3 audio, mp4/webm video, non-WAVE riff — avi etc.);
               their container envelopes still parse for real into the
               metadata map (round 4)
  skipped      not a media type

Design mirrors the reference's per-mode preprocessing tiers
(/root/reference/src/core/vision.py:211-304 — describe 512² / detect 384² /
document 768² letterboxed resize): mode picks the target shape.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fa_spark import pure

MODE_RESOLUTION = {"describe": 512, "detect": 384, "document": 768}

# container families the feature stage recognizes but has no pure-Python
# DSP codec for (their ENVELOPES still parse for real); riff is stubbed
# only for non-WAVE forms — WAVE decodes via pure.decode_wav — ogg only
# for non-Vorbis codecs (opus etc.) — Vorbis decodes for real as of
# round 5 via pure.decode_vorbis — and webp only for lossy/extended
# payloads without an embedded VP8L still — lossless decodes for real
# as of round 8 via pure.decode_webp_lossless. Shared with lineage stub
# accounting (lineage.commit_lineage) so the two stay in sync.
STUB_CONTAINER_TYPES = (
    "ogg", "riff", "mp3", "mp4", "webm", "mpeg", "webp", "aac",
    # round 8: AVIF/HEIF image envelopes parse (ispe dims, pixi bit
    # depth, codec config fourcc); AV1/HEVC payload decode stays the
    # documented stub tier beside VP9
    "avif", "heic",
)

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


_RASTER_DECODERS = {
    "png": pure.decode_png,
    "jpeg": pure.decode_jpeg,
    "jpeg_exif": pure.decode_jpeg,
    "bmp": pure.decode_bmp,
    "gif": pure.decode_gif,
    "tiff": pure.decode_tiff,
    # round 8: favicons — PNG-in-ICO via decode_png, BMP-in-ICO via
    # decode_bmp with the synthesized file header (pure.decode_ico)
    "ico": pure.decode_ico,
}


def _decode_raster(ct: str, b: bytes):
    """Dispatch to the real pure-Python raster codec for a sniffed type —
    ALL raster image formats decode for real as of round 3 (PNG round 2;
    JPEG/BMP/GIF/TIFF round 3). None = not a raster type."""
    fn = _RASTER_DECODERS.get(ct)
    return fn(b) if fn else None


def _fake_decode(data: bytes, target_res: int) -> list[float]:
    """Deterministic stand-in for decode+resize+feature-extract for formats
    whose codecs are not in this container (ogg/compressed video). The
    fake hashes the bytes into a fixed-dim float vector so downstream
    plumbing (schema, similarity join, batching) is fully exercisable."""
    h = hashlib.sha256(data + str(target_res).encode()).digest()
    return [round(((h[i] / 255.0) * 2 - 1), 6) for i in range(FEATURE_DIM)]


def _real_raster_features(img: dict) -> tuple[list[float], int]:
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


def _real_y4m_features(vid: dict) -> list[float]:
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
    return (vec + [0.0] * FEATURE_DIM)[:FEATURE_DIM]


def _real_wav_features(aud: dict) -> list[float]:
    """FEATURE_DIM floats from a real PCM decode: [rms, peak, zcr,
    n_samples, rate, duration_s, channels, 0-padding]."""
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
        # round 6: source-codec tag (0 pcm/other, 1 ima_adpcm, 2 mulaw,
        # 3 alaw) — lets the wav_codec_features oracle verify DISPATCH,
        # not just feature values
        float(aud.get("codec", 0)),
    ]
    return (vec + [0.0] * FEATURE_DIM)[:FEATURE_DIM]


def media_features_fn(mode: str = "describe"):
    """mapInPandas generator over (media_id, content) batches."""
    target = MODE_RESOLUTION.get(mode, 512)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar accumulation (round 9): building a dict per row and
            # letting pandas re-pivot 10 columns out of row dicts cost
            # ~10% of the stage; appending straight to per-column lists
            # yields the identical frame
            cols: dict[str, list] = {
                f.name: [] for f in MEDIA_FEATURES.fields
            }
            for mid, data in zip(pdf["media_id"], pdf["content"]):
                b = bytes(data) if data is not None else b""
                sn = pure.sniff_bytes(b)
                meta = pure.extract_metadata(b)
                width = height = None
                for fam in ("png", "jpeg", "gif", "bmp", "tiff", "avif",
                            "heic"):
                    if meta.get(f"{fam}:width"):
                        width = meta.get(f"{fam}:width")
                        height = meta.get(f"{fam}:height")
                        break
                ct = sn["content_type"]
                is_wav = ct == "riff" and b[8:12] == b"WAVE"
                # stubbable media: formats we recognize but have no pure-
                # Python codec for (DSP-pipeline audio, compressed video,
                # non-WAVE riff containers like avi) — the CONTAINER
                # envelopes still parse for real into `meta` (round 4)
                decodable = ct in STUB_CONTAINER_TYPES
                status, feature, ahash = "skipped", None, None
                if ct in _RASTER_DECODERS:
                    img = _decode_raster(ct, b)
                    if img is not None:
                        status = "decoded"
                        width, height = img["width"], img["height"]
                        feature, ahash = _real_raster_features(img)
                    else:
                        status = "decode_error"
                        feature = _fake_decode(b, target)
                elif is_wav or ct == "flac":
                    aud = pure.decode_wav(b) if is_wav else pure.decode_flac(b)
                    if aud is not None:
                        status = "decoded"
                        feature = _real_wav_features(aud)
                    else:
                        status = "decode_error"
                        feature = _fake_decode(b, target)
                elif ct == "riff" and meta.get("avi:codec", "").strip().upper() in (
                    "MJPG", "MJPEG",
                ):
                    # round 5: Motion-JPEG AVI decodes for REAL — frame
                    # chunks are complete JPEGs through this repo's own
                    # JPEG decoder (pure.decode_avi_mjpeg); other AVI
                    # codecs stay in the stub branch below
                    vid = pure.decode_avi_mjpeg(b)
                    if vid is not None:
                        status = "decoded"
                        width, height = vid["width"], vid["height"]
                        feature = _real_y4m_features(vid)
                    else:
                        status = "decode_error"
                        feature = _fake_decode(b, target)
                elif ct == "mp4" and (
                    set(meta.get("mp4:codecs", "").split(","))
                    & {"jpeg", "mjpa"}
                ):
                    # round 5: MJPEG-in-MP4 decodes for real — sample
                    # tables resolved, frames through the JPEG decoder
                    # (pure.decode_mp4_mjpeg); other mp4 codecs stub
                    vid = pure.decode_mp4_mjpeg(b)
                    if vid is not None:
                        status = "decoded"
                        width, height = vid["width"], vid["height"]
                        feature = _real_y4m_features(vid)
                    else:
                        status = "decode_error"
                        feature = _fake_decode(b, target)
                elif ct == "mpeg" and meta.get("mpeg:ipb_subset") == "1":
                    # round 6: real MPEG-1 video decode — I pictures
                    # (slice/macroblock/block parse, DC prediction,
                    # run-level AC VLCs, intra dequant, exact int64
                    # IDCT), P pictures (forward motion compensation
                    # at full/half pel, skip runs, non-intra residuals —
                    # pure.decode_mpeg1/_mpeg_decode_p_picture) AND B
                    # pictures (bidirectional MC with interpolated
                    # prediction, B skip semantics, temporal_reference
                    # display reordering — _mpeg_decode_b_picture). The
                    # envelope walk publishes the subset verdict as
                    # meta['mpeg:ipb_subset'], the same stage/lineage
                    # shared gate as mp3:l3_subset. Round 7: all
                    # f_codes 1-7 decode (motion_r residual bits); only
                    # D streams fall through to the stub branch below.
                    vid = pure.decode_mpeg1(b)
                    if vid is not None:
                        status = "decoded"
                        width, height = vid["width"], vid["height"]
                        feature = _real_y4m_features(vid)
                    else:
                        status = "decode_error"
                        feature = _fake_decode(b, target)
                elif ct == "mp3" and (
                    (aud := pure.decode_mp3(b)) is not None
                    or (aud := pure.decode_mp2(b)) is not None
                    or (aud := pure.decode_mp1(b)) is not None
                ):
                    # rounds 5-7: ALL THREE MPEG-1 audio layers decode
                    # for real — Layer III (side info + bit reservoir +
                    # Huffman + requantize + alias reduction + IMDCT +
                    # synthesis, pure.decode_mp3, incl. M/S joint
                    # stereo), Layer II (Table B.2a bit allocation +
                    # grouped requantization, pure.decode_mp2), Layer I
                    # (table-A, pure.decode_mp1 — mono/stereo/dual for
                    # Layers I/II as of round 7); the sniffer types all
                    # layers 'mp3', the raw MPEG-audio family; Layer
                    # III intensity stereo (mode_ext 01) also decodes
                    # as of late round 7. Only out-of-subset streams
                    # (M/S+intensity combined, intensity in Layers
                    # I/II, Huffman ESC tables beyond the pure.py
                    # subset, allocation tables B.2b/c/d — see the
                    # pure.py section headers) return None from their
                    # decoder and keep the honest stubbed tier below;
                    # the gate is the decode itself, like ogg's codec
                    # gate.
                    status = "decoded"
                    feature = _real_wav_features(aud)
                elif ct == "webp" and (
                    meta.get("webp:format") == "lossless"
                    or meta.get("webp:has_vp8l") == "1"
                ):
                    # round 8: real VP8L decode (canonical prefix codes,
                    # all four transforms, color cache, LZ77 —
                    # pure.decode_webp_lossless); webp leaves the stub
                    # tier for lossless payloads. VP8-lossy and VP8X
                    # payloads stay in the stub branch below, the
                    # AVC/VP9 envelope tier.
                    img = pure.decode_webp_lossless(b)
                    if img is not None:
                        status = "decoded"
                        width, height = img["width"], img["height"]
                        feature, ahash = _real_raster_features(img)
                    else:
                        status = "decode_error"
                        feature = _fake_decode(b, target)
                elif ct == "ogg" and meta.get("ogg:codec") == "vorbis":
                    # round 5: real Vorbis decode (floor1 + residue +
                    # IMDCT, pure.decode_vorbis) — ogg leaves the stub
                    # tier for vorbis payloads; opus/other ogg codecs
                    # fall through to the stub branch below
                    aud = pure.decode_vorbis(b)
                    if aud is not None:
                        status = "decoded"
                        feature = _real_wav_features(aud)
                    else:
                        status = "decode_error"
                        feature = _fake_decode(b, target)
                elif ct == "y4m":
                    vid = pure.decode_y4m(b)
                    if vid is not None:
                        status = "decoded"
                        width, height = vid["width"], vid["height"]
                        feature = _real_y4m_features(vid)
                    else:
                        status = "decode_error"
                        feature = _fake_decode(b, target)
                elif decodable:
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
