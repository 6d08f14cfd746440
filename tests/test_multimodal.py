"""Multimodal plumbing tests: schema, batching, stub-decode determinism."""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import functions as F

from fa_spark.stages.multimodal import (
    FEATURE_DIM,
    MODE_RESOLUTION,
    extract_media_features,
)


def _png(w: int, h: int) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    chunk = (
        struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    return b"\x89PNG\r\n\x1a\n" + chunk


def test_media_features_schema_and_stub(spark):
    rows = [
        ("img1", _png(100, 50)),
        ("img2", _png(8, 8) + b"payload"),
        ("doc1", b"%PDF-1.4 not an image"),
        ("nul", None),
    ]
    df = spark.createDataFrame(rows, "media_id string, content binary")
    out = {r["media_id"]: r for r in extract_media_features(df, mode="detect").collect()}

    assert out["img1"]["content_type"] == "png"
    assert out["img1"]["width"] == 100 and out["img1"]["height"] == 50
    # headers-only PNG (no IDAT): the REAL decoder (round 2) rejects it
    assert out["img1"]["decode_status"] == "decode_error"
    assert len(out["img1"]["feature"]) == FEATURE_DIM
    assert out["img1"]["target_res"] == MODE_RESOLUTION["detect"]
    assert out["img2"]["decode_status"] == "decode_error"  # junk after IHDR

    assert out["doc1"]["decode_status"] == "skipped"
    assert out["doc1"]["feature"] is None
    assert out["nul"]["n_bytes"] == 0


def test_media_features_deterministic(spark):
    rows = [(f"m{i}", _png(16, 16) + bytes([i])) for i in range(20)]
    df = spark.createDataFrame(rows, "media_id string, content binary")
    a = sorted(map(str, extract_media_features(df).collect()))
    b = sorted(map(str, extract_media_features(df.repartition(7)).collect()))
    assert a == b  # partitioning must not affect results


def test_media_features_partition_parallel(spark):
    rows = [(f"m{i}", _png(4, 4)) for i in range(100)]
    df = spark.createDataFrame(rows, "media_id string, content binary").repartition(8)
    out = extract_media_features(df)
    assert out.count() == 100
    assert out.select(F.countDistinct("sha")).collect()[0][0] == 1


def test_real_png_decode_through_stage(spark):
    """Round 2: valid PNGs decode for REAL (pure.decode_png) — means,
    histogram fractions, and aHash come from actual pixels."""
    from fa_spark import pure

    solid = pure.png_encode([[(10, 20, 30)] * 8 for _ in range(8)])
    grad = pure.png_encode(
        [[(x * 17, x * 17, x * 17) for x in range(16)] for _ in range(16)]
    )
    df = spark.createDataFrame(
        [("solid", solid), ("grad", grad)], "media_id string, content binary"
    )
    out = {r["media_id"]: r for r in extract_media_features(df).collect()}
    s = out["solid"]
    assert s["decode_status"] == "decoded"
    assert s["width"] == 8 and s["height"] == 8
    assert [round(v, 3) for v in s["feature"][:3]] == [10.0, 20.0, 30.0]
    assert s["ahash"] == -1  # solid image: every cell >= mean -> all 64 bits
    g = out["grad"]
    assert g["decode_status"] == "decoded"
    assert abs(g["feature"][0] - 127.5) < 1e-3
    assert g["ahash"] not in (None, -1, 0)


def test_ahash_matches_pure_oracle(spark):
    from fa_spark import pure

    rows = [[(x * 16 % 256, y * 16 % 256, (x + y) % 256) for x in range(16)] for y in range(16)]
    png = pure.png_encode(rows)
    df = spark.createDataFrame([("m", png)], "media_id string, content binary")
    got = extract_media_features(df).collect()[0]["ahash"]
    exp = pure.image_stats(pure.decode_png(png))["ahash"]
    if exp >= 1 << 63:
        exp -= 1 << 64
    assert got == exp


def test_real_wav_decode_through_stage(spark):
    """Round 2: PCM WAV decodes for real — rms/peak/zcr from actual samples;
    malformed RIFF reports decode_error."""
    from fa_spark import pure

    tone = pure.wav_encode([2000 if (i // 4) % 2 == 0 else -2000 for i in range(512)])
    df = spark.createDataFrame(
        [("ok", tone), ("bad", b"RIFF\x00\x00\x00\x00WAVEjunkjunk")],
        "media_id string, content binary",
    )
    out = {r["media_id"]: r for r in extract_media_features(df).collect()}
    ok = out["ok"]
    assert ok["decode_status"] == "decoded"
    assert abs(ok["feature"][0] - 2000.0) < 1e-3  # rms of a square wave == A
    assert ok["feature"][1] == 2000.0  # peak
    assert out["bad"]["decode_status"] == "decode_error"


def test_real_y4m_decode_through_stage(spark):
    """Round 2: Y4M video decodes for real — frame count, frame sampling,
    per-frame luminance means; malformed headers report decode_error."""
    from fa_spark import pure

    clip = pure.y4m_encode(
        [bytes([k * 20]) * 64 for k in range(5)], 8, 8, fps=10
    )
    df = spark.createDataFrame(
        [("ok", clip), ("bad", b"YUV4MPEG2 Wx Hy\nFRAME\n")],
        "media_id string, content binary",
    )
    out = {r["media_id"]: r for r in extract_media_features(df).collect()}
    ok = out["ok"]
    assert ok["decode_status"] == "decoded"
    assert ok["content_type"] == "y4m"
    assert ok["width"] == 8 and ok["height"] == 8
    assert ok["feature"][0] == 5.0  # n_frames
    assert ok["feature"][6] == 0.0 and ok["feature"][10] == 80.0  # frame means
    assert out["bad"]["decode_status"] == "decode_error"


def test_detect_objects_typed_array(spark):
    """Round 3 (reference M7 objects[]): detect mode emits a REAL
    ArrayType(StructType) column with per-quadrant regions derived from
    actual decoded pixels."""
    from pyspark.sql import types as T

    from fa_spark import pure
    from fa_spark.stages.multimodal import detect_objects

    quad = [[10 if x < 8 else 200 for x in range(16)] for y in range(8)] + [
        [255 if x < 8 else 0 for x in range(16)] for y in range(8)
    ]
    rows = [
        ("jpg", pure.jpeg_encode(quad, gray=True)),
        ("png", pure.png_encode([[(30, 30, 30)] * 8 for _ in range(8)])),
        ("txt", b"not an image"),
        ("bad", b"\xff\xd8\xff\xdb\x00\x04\x00\x00"),
    ]
    df = spark.createDataFrame(rows, "media_id string, content binary")
    out = detect_objects(df)
    f = dict(zip(out.schema.names, out.schema.fields))
    assert isinstance(f["objects"].dataType, T.ArrayType)
    assert isinstance(f["objects"].dataType.elementType, T.StructType)
    got = {r["media_id"]: r for r in out.collect()}
    objs = got["jpg"]["objects"]
    assert [o["label"] for o in objs] == [
        "region_0", "region_6", "region_7", "region_0"
    ]
    assert objs[0]["bbox"] == [0, 0, 8, 8] and objs[3]["bbox"] == [8, 8, 16, 16]
    assert objs[2]["confidence"] == 1.0  # 255/255
    png_objs = got["png"]["objects"]
    assert len(png_objs) == 4 and all(o["label"] == "region_0" for o in png_objs)
    assert got["txt"]["objects"] is None and got["txt"]["decode_status"] == "skipped"
    assert got["bad"]["decode_status"] == "decode_error"


def test_vorbis_decodes_opus_stays_stubbed(spark):
    """Round 5: ogg+vorbis payloads decode for REAL through the stage
    (pure.decode_vorbis); non-vorbis ogg (opus) keeps decode_status
    stubbed; malformed vorbis reports decode_error."""
    from fa_spark import pure

    good = pure.vorbis_tone_encode(3, 0.5, 8, 8000)
    # valid headers, corrupted audio page: flip a byte in the last page's
    # body so the CRC check drops it -> no PCM -> decode_error
    bad = bytearray(good)
    bad[-3] ^= 0xFF
    rows = [
        ("v1", good),
        ("v2", bytes(bad)),
        ("op", pure.ogg_envelope_encode(codec="opus")),
    ]
    df = spark.createDataFrame(rows, "media_id string, content binary")
    out = {
        r["media_id"]: r
        for r in extract_media_features(df, mode="describe").collect()
    }
    assert out["v1"]["content_type"] == "ogg"
    assert out["v1"]["decode_status"] == "decoded"
    feats = out["v1"]["feature"]
    assert feats[3] == 1024.0 and feats[4] == 8000.0  # n_samples, rate
    assert 0 < feats[0] < 1  # rms of a 0.5-amplitude tone
    assert out["v2"]["decode_status"] == "decode_error"
    assert out["op"]["decode_status"] == "stubbed"


def test_mjpeg_avi_decodes_other_codecs_stay_stubbed(spark):
    """Round 5: Motion-JPEG AVI decodes for real through the stage;
    other AVI codecs keep decode_status stubbed."""
    from fa_spark import pure

    frames = [
        pure.jpeg_encode([[(50 + i, 50 + i, 50 + i)] * 16] * 16)
        for i in range(4)
    ]
    rows = [
        ("mj", pure.avi_mjpeg_encode(frames, fps=25, width=16, height=16)),
        ("xv", pure.avi_envelope_encode(4, codec=b"XVID")),
    ]
    df = spark.createDataFrame(rows, "media_id string, content binary")
    out = {
        r["media_id"]: r
        for r in extract_media_features(df, mode="describe").collect()
    }
    assert out["mj"]["decode_status"] == "decoded"
    assert out["mj"]["width"] == 16 and out["mj"]["height"] == 16
    f = out["mj"]["feature"]
    assert f[0] == 4.0  # n_frames
    assert f[6] == 50.0  # first sampled mean
    assert out["xv"]["decode_status"] == "stubbed"


def test_mp3_decodes_joint_stereo_stays_stubbed(spark):
    """Round 6: in-subset MPEG-1 Layer III payloads decode for REAL
    through the stage (pure.decode_mp3); out-of-subset mp3 (joint
    stereo) keeps decode_status stubbed — the gate is the decode itself,
    so the stage and the lineage mp3:l3_subset accounting agree."""
    from fa_spark import pure

    rows = [
        ("tone", pure.mp3_tone_encode(3, 1)),
        ("sil", pure.mp3_envelope_encode(2, 128, 44100)),
        ("js", pure.mp3_envelope_encode(2, joint_stereo=True)),
    ]
    df = spark.createDataFrame(rows, "media_id string, content binary")
    out = {
        r["media_id"]: r
        for r in extract_media_features(df, mode="describe").collect()
    }
    assert out["tone"]["content_type"] == "mp3"
    assert out["tone"]["decode_status"] == "decoded"
    f = out["tone"]["feature"]
    assert f[3] == 1152.0 and f[4] == 32000.0  # n_samples, rate
    assert 0 < f[0] < f[1] < 1  # rms < peak of a 2^-1 dyadic line
    assert out["sil"]["decode_status"] == "decoded"
    assert out["sil"]["feature"][0] == 0.0  # digital silence
    assert out["js"]["decode_status"] == "stubbed"


def test_decode_table_gates_agree_with_lineage(spark):
    """The feature stage and lineage's stub counters read one decode
    table: on a fixture for each side of each `meta` gate, the stage says
    `stubbed` exactly when stub_type() (commit_lineage's stub column,
    over the analyzer's sniff and meta) names a type. Every gate key is
    also emitted by pure.extract_metadata for a fixture of its content
    type, so a renamed key cannot switch a gate off without failing here."""
    from fa_spark import pure
    from fa_spark.stages.analyze import analysis_udf
    from fa_spark.stages.multimodal import DECODE_TABLE, stub_type

    jpeg = pure.jpeg_encode([[(60, 60, 60)] * 16] * 16)
    vp8l = pure.webp_vp8l_encode([[(9, 80, 200)] * 4] * 4)
    i = vp8l.index(b"VP8L")
    vp8x = b"WEBP" + b"VP8X" + (10).to_bytes(4, "little") + bytes(4) + (
        (3).to_bytes(3, "little") * 2
    ) + vp8l[i:]  # a VP8L still inside the extended container
    mpeg_i = pure.mpeg1_encode([[[50] * 16 for _ in range(16)]] * 2)
    d_pic = bytearray(mpeg_i)  # first picture_coding_type -> D (4)
    at = mpeg_i.find(b"\x00\x00\x01\x00") + 5
    d_pic[at] = (d_pic[at] & 0b11000111) | (4 << 3)
    fixtures = {
        "wav": (pure.wav_encode([0, 80, -80, 40] * 200), "decoded"),
        "avi_mjpg": (pure.avi_mjpeg_encode([jpeg]), "decoded"),
        "avi_xvid": (pure.avi_envelope_encode(4, codec=b"XVID"), "stubbed"),
        "mp4_jpeg": (pure.mp4_mjpeg_encode([jpeg]), "decoded"),
        "mp4_mp4a": (pure.mp4_envelope_encode(1.5, codec=b"mp4a"), "stubbed"),
        "mpeg_i": (mpeg_i, "decoded"),
        "mpeg_ipb": (pure.mpeg1_encode_ipb(
            [[40] * 16 + [64] * 16 + [88] * 16 for _ in range(16)],
            -16, [("interp",)]), "decoded"),
        "mpeg_d": (bytes(d_pic), "stubbed"),
        "mp3_l3": (pure.mp3_tone_encode(3, 1), "decoded"),
        "mp3_l2": (pure.mp2_tone_encode(3, 1), "decoded"),
        "mp3_js": (pure.mp3_envelope_encode(2, joint_stereo=True), "stubbed"),
        "webp_vp8l": (vp8l, "decoded"),
        "webp_vp8x": (
            b"RIFF" + len(vp8x).to_bytes(4, "little") + vp8x, "decoded"
        ),
        "webp_lossy": (pure.webp_encode_envelope("lossy", 4, 4), "stubbed"),
        "vorbis": (pure.vorbis_tone_encode(2, 0.5, 4), "decoded"),
        "opus": (pure.ogg_envelope_encode(codec="opus"), "stubbed"),
        "avif": (pure.avif_envelope_encode(4, 4), "stubbed"),
        "png": (pure.png_encode([[(1, 2, 3)] * 4] * 4), "decoded"),
        "html": (b"<html><body><p>not media</p></body></html>", "skipped"),
    }
    df = spark.createDataFrame(
        [(k, b) for k, (b, _) in fixtures.items()],
        "media_id string, content binary",
    )
    status = {
        r["media_id"]: r["decode_status"]
        for r in extract_media_features(df).collect()
    }
    a = analysis_udf(("sniff", "meta"))("content")
    stub = {
        r["media_id"]: r["stub"]
        for r in df.select(
            "media_id", a.alias("a")
        ).select(
            "media_id",
            stub_type(F.col("a.sniff.content_type"), F.col("a.meta"))
            .alias("stub"),
        ).collect()
    }
    assert status == {k: want for k, (_, want) in fixtures.items()}
    for k, st in status.items():
        assert (st == "stubbed") == (stub[k] is not None), k

    by_ct: dict[str, list[dict]] = {}
    for b, _ in fixtures.values():
        ct = pure.sniff_bytes(b)["content_type"]
        by_ct.setdefault(ct, []).append(pure.extract_metadata(b))
    for row in DECODE_TABLE:
        if row.gate is not None:
            assert any(
                row.gate.key in m for m in by_ct.get(row.ct, ())
            ), (row.ct, row.gate.key)
