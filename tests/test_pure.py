"""Golden scalar-function tests — ports of the reference's pure-function test
strategy (SURVEY.md §5.1) against fa_spark.pure. Expected values pinned by
FIXTURES.md §3 (reference sources cited there)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from fa_spark import pure


# ---- tag cleaning (reference tests/test_filename_generation.py:24-89) ----

def test_clean_tags_generics_and_short():
    assert pure.clean_tags(["image", "photo", "shooting", "duck", "wizard", "sh"]) == [
        "duck",
        "wizard",
    ]


def test_clean_tags_case_dedup():
    assert pure.clean_tags(["duck", "Duck", "DUCK", "wizard", "wizard"]) == [
        "duck",
        "wizard",
    ]


def test_clean_tags_frequency_then_alpha():
    tags = ["rare", "common", "common", "common", "medium", "medium"]
    assert pure.clean_tags(tags) == ["common", "medium", "rare"]


def test_clean_tags_top10():
    tags = [f"tag{i:02d}" for i in range(20)]
    assert len(pure.clean_tags(tags)) == 10


def test_clean_tags_empty():
    assert pure.clean_tags([]) == []


# ---- filename cascade (reference tests/test_filename_generation.py:95-160) ----

@pytest.mark.parametrize(
    "desc,expected",
    [
        ("The image shows the letter 'T' in red", "letter-t"),
        ("The number 5 written in bold", "number-5"),
        ("An icon of a star", "icon-star"),
        ("A duck swimming in a pond", "duck"),
        ("A cat and dog playing", "cat-dog"),
        ("", "unknown-content"),
        ("   ", "unknown-content"),
        ("xyzzy plugh nothing here", "unknown-content"),
    ],
)
def test_filename_cascade(desc, expected):
    assert pure.generate_filename(desc) == expected


def test_filename_proper_nouns():
    assert pure.generate_filename("The Statue of Liberty in New York") in (
        "statue-liberty-new",
        "statue-liberty",
    )


def test_filename_unicode_and_long():
    assert pure.generate_filename("Ünïcödé line ærø" * 20) == "unknown-content"
    long_desc = "An icon of a " + "x" * 100
    assert pure.generate_filename(long_desc) != ""


def test_slugify():
    assert pure.slugify("Hello,  World!") == "hello-world"
    assert pure.slugify("--a---b--") == "a-b"


# ---- JSON extraction (reference tests/test_json_utils.py:32-120) ----

def test_json_whole_parse():
    assert pure.extract_json_from_text('{"description": "a", "tags": ["b"]}') == {
        "description": "a",
        "tags": ["b"],
    }


def test_json_embedded_in_noise():
    txt = 'Sure! Here is the JSON: {"description": "duck", "tags": ["bird"]} hope it helps'
    obj = pure.extract_json_from_text(txt)
    assert obj == {"description": "duck", "tags": ["bird"]}


def test_json_prefers_expected_fields_over_largest():
    txt = '{"noise": "xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"} {"description": "d", "tags": []}'
    obj = pure.extract_json_from_text(txt, ("description", "tags"))
    assert "description" in obj


def test_json_single_quotes_repair():
    txt = "{'description': 'a', 'tags': ['b']}"
    obj = pure.extract_json_from_text(txt)
    assert obj and obj["description"] == "a"


def test_json_escaped_quotes():
    txt = '{"description": "a \\"quoted\\" word", "tags": ["x"]}'
    obj = pure.extract_json_from_text(txt)
    assert obj["description"] == 'a "quoted" word'


def test_json_nested():
    txt = 'prefix {"a": {"b": {"c": 1}}, "description": "d", "tags": ["t"]} suffix'
    obj = pure.extract_json_from_text(txt)
    assert obj["a"]["b"]["c"] == 1


def test_json_plain_text_refusal():
    assert pure.extract_json_from_text("I cannot analyze this image.") is None


def test_json_truncated_repetitive():
    # 512-token truncation analogue: repeated tags then cut mid-string
    txt = '{"description": "a shark", "tags": ["shark", "shark", "shark", "sha'
    assert pure.extract_json_from_text(txt) is None


_EXPECTED_FIELDS_BY_MODE = {
    "describe": ("description", "tags"),
    "detect": ("objects", "description"),
    "document": ("text", "document_type"),
}


def _validate_json_structure(obj: dict | None, mode: str = "describe") -> bool:
    if not isinstance(obj, dict):
        return False
    fields = _EXPECTED_FIELDS_BY_MODE.get(
        mode, _EXPECTED_FIELDS_BY_MODE["describe"]
    )
    return all(f in obj for f in fields)


def test_validate_structure_modes():
    assert _validate_json_structure({"text": "x", "document_type": "y"}, "document")
    assert not _validate_json_structure({"text": "x"}, "document")
    assert _validate_json_structure(
        {"objects": [], "description": ""}, "detect"
    )


# ---- sniffing / decoding ----

@pytest.mark.parametrize(
    "data,expected",
    [
        (b"%PDF-1.4 stuff", "pdf"),
        (b"\x89PNG\r\n\x1a\n" + b"\x00" * 8, "png"),
        (b"GIF89a" + b"\x00" * 4, "gif"),
        (b"PK\x03\x04zipdata", "zip"),
        (b"\x1f\x8b\x08gz", "gzip"),
        (b"<!DOCTYPE html><html></html>", "html"),
        (b"<HTML><BODY>x</BODY></HTML>", "html"),
        (b"", "empty"),
        (b"\xff\xd8\xff\xe0jfif", "jpeg"),
        (b"plain text no markup here", "text"),
        (bytes(range(256)), "binary"),
    ],
)
def test_sniff(data, expected):
    assert pure.sniff_bytes(data)["content_type"] == expected


def test_sniff_embedded_interesting():
    data = b"<html><body>x</body></html>" + b"%PDF-1.4" + b"\x00" * 10
    sn = pure.sniff_bytes(data)
    assert sn["interesting"] and sn["embedded"][0][1] == "pdf"


def test_decode_bom():
    assert pure.decode_bytes("héllo".encode("utf-8-sig"))[1] == "utf-8-sig"


def test_decode_declared_mismatch_falls_back():
    data = ('<meta charset="utf-8"><p>café</p>').encode("latin-1")
    text, cs = pure.decode_bytes(data)
    assert cs == "latin-1" and "café" in text


# ---- extraction ----

def test_extract_simple_article():
    html = (
        b"<html><head><title>My Title</title></head><body>"
        b"<nav><a href='/'>home</a><a href='/x'>about</a></nav>"
        b"<main><h1>My Title</h1>"
        b"<p>one two three four five six seven eight nine ten.</p></main>"
        b"<footer>short footer text</footer></body></html>"
    )
    r = pure.extract_main_text(html)
    assert r.status == "success"
    assert r.text == "My Title\n\none two three four five six seven eight nine ten."
    assert r.title == "My Title"
    assert r.doc_type == "article"


def test_extract_boilerplate_only():
    html = b"<html><body><nav><a href='/'>a b c d e f g h i j</a></nav></body></html>"
    r = pure.extract_main_text(html)
    assert r.status in ("success_lenient", "empty")


def test_extract_truncated_is_lenient():
    html = b"<html><body><p>one two three four five six seven eight nine ten and th"
    r = pure.extract_main_text(html)
    assert r.status in ("success", "success_lenient")
    assert "one two three" in r.text


def test_extract_non_html_skipped():
    # PDFs now route through the layout parser (round 2); streamless bytes
    # yield an explicit empty result, not "skipped"
    r = pure.extract_main_text(b"%PDF-1.4 binary")
    assert r.status == "empty" and r.doc_type == "pdf" and r.text == ""
    r2 = pure.extract_main_text(b"\x89PNG\r\n\x1a\n" + b"\x00" * 32)
    assert r2.status == "skipped" and r2.doc_type == "png" and r2.text == ""


def test_extract_empty():
    assert pure.extract_main_text(b"").status == "skipped"
    assert pure.extract_main_text(None).status == "skipped"


def test_extract_deterministic():
    html = b"<html><body><p>" + b"word " * 50 + b"</p></body></html>"
    assert pure.extract_main_text(html).text == pure.extract_main_text(html).text


# ---- metadata ----

def test_png_metadata():
    import struct as st
    import zlib as zl

    ihdr = st.pack(">IIBBBBB", 32, 16, 8, 2, 0, 0, 0)
    chunk = st.pack(">I", len(ihdr)) + b"IHDR" + ihdr + st.pack(">I", zl.crc32(b"IHDR" + ihdr))
    data = b"\x89PNG\r\n\x1a\n" + chunk
    m = pure.extract_metadata(data)
    assert m["png:width"] == "32" and m["png:height"] == "16"


def test_pdf_metadata():
    data = b"%PDF-1.7\n1 0 obj\n<< /Title (Test Doc) >>\n/Type /Page\n"
    m = pure.extract_metadata(data)
    assert m["pdf:version"] == "1.7"
    assert m["pdf:title"] == "Test Doc"
    assert m["pdf:pages"] == "1"


def test_html_metadata():
    data = b'<html><head><meta charset="utf-8"><meta name="author" content="Ann"><title>T5</title></head><body></body></html>'
    m = pure.extract_metadata(data)
    assert m["meta:author"] == "Ann"
    assert m["title"] == "T5"


# ---- scanning ----

def test_scan_signatures():
    compiled = pure.compile_signatures()
    hits = pure.scan_text("x eval( base64_decode(zzz) y", compiled)
    assert hits == ["eval_b64"]
    assert pure.scan_text("clean text", compiled) == []


# ---- fingerprints ----

def test_minhash_similarity_ordering():
    a = "the quick brown fox jumps over the lazy dog " * 10
    b = a + " extra tail sentence appended here"
    c = "completely different content about databases and spark engines " * 10
    sa, sb, sc = (pure.minhash_signature(t) for t in (a, b, c))
    sim_ab = sum(x == y for x, y in zip(sa, sb)) / len(sa)
    sim_ac = sum(x == y for x, y in zip(sa, sc)) / len(sa)
    assert sim_ab > 0.5 > sim_ac


def test_simhash_close_for_near_dup():
    a = "the quick brown fox jumps over the lazy dog " * 10
    b = a + " one extra"
    assert (pure.simhash64(a) ^ pure.simhash64(b)).bit_count() <= 3
    c = "unrelated words entirely about spark partitions " * 10
    assert (pure.simhash64(a) ^ pure.simhash64(c)).bit_count() > 10


def test_fingerprint_deterministic():
    t = "alpha beta gamma delta epsilon zeta eta theta " * 5
    assert pure.rolling_fingerprint(t) == pure.rolling_fingerprint(t)


# ---- lang / quality ----

def test_detect_lang():
    assert pure.detect_lang("the cat and the dog are in the house with all of them") == "en"
    assert pure.detect_lang("der hund und die katze sind in dem haus mit der maus") == "de"
    assert pure.detect_lang("le chat et le chien sont dans la maison avec les autres") == "fr"
    assert pure.detect_lang("zzz qqq xxx www") == "und"
    assert pure.detect_lang("") == "und"


def test_quality_score():
    q = pure.quality_score("The cat sat. The cat sat again, happily!")
    assert q["n_words"] == 8
    assert 0 < q["alpha_ratio"] < 1
    assert q["uniq_ratio"] < 1


def test_token_count():
    ws, bpe = pure.token_count("Hello, world! 123")
    assert ws == 3
    assert bpe == 7  # Hello , world ! 1 2 3


# ---- fused single-pass path must equal the individual functions ----

def test_fused_equals_individual():
    from fa_spark.gen_fixtures import gen_pages

    rows = gen_pages(300).to_pylist()
    for r in rows:
        b = r["html"]
        d = pure.analyze_document(b)
        assert d["sniff"] == pure.sniff_bytes(b)
        assert d["meta"] == pure.extract_metadata(b)
        assert d["extract"] == pure.extract_main_text(b)
        text = d["extract"].text
        assert d["quality"] == pure.quality_score(text)
        assert d["detected_lang"] == pure.detect_lang(text)
        assert d["tags"] == pure.clean_tags(pure.tokenize(text))
        assert d["slug"] == pure.page_slug(d["extract"].title, text)
        assert d["token_count"] == pure.token_count(text)
        if text:
            assert d["simhash"] == pure.simhash64(text)
            assert d["minhash"] == pure.minhash_signature(text)
        else:
            assert d["simhash"] == 0 and d["minhash"] == []


_ANALYSIS_SUBSETS = {
    "entry": ("extract", "detected_lang", "n_tokens_ws", "tags", "slug"),
    "corpus": ("extract", "detected_lang", "quality", "minhash", "tags",
               "n_tokens_ws", "n_tokens_bpe"),
    "extract_synth": ("extract",),
    "pdf_extract": ("sniff", "extract"),
}


@pytest.fixture(scope="module")
def analyzed_fixture_pages():
    """gen_pages(300) html with its all-fields document and batch results."""
    import pandas as pd

    from fa_spark.gen_fixtures import gen_pages
    from fa_spark.stages.analyze import analyze_batch

    html = [r["html"] for r in gen_pages(300).to_pylist()]
    return html, [pure.analyze_document(b) for b in html], analyze_batch(pd.Series(html))


def _subset_cases():
    from fa_spark.stages.analyze import FIELDS

    return [pytest.param((f,), id=f) for f in FIELDS] + [
        pytest.param(fields, id=name) for name, fields in _ANALYSIS_SUBSETS.items()
    ]


@pytest.mark.parametrize("fields", _subset_cases())
def test_field_subset_equals_full(fields, analyzed_fixture_pages):
    """Asking for a subset of the analysis fields computes each of them
    exactly as the all-fields pass does, per document (pure) and per
    Arrow batch (stages.analyze, which adds the batch-wide minhash and
    simhash columns). Sniff and extract always run and always agree."""
    import pandas as pd

    from fa_spark.stages.analyze import analyze_batch

    html, full_docs, full_batch = analyzed_fixture_pages
    doc_key = {"sigs": "extract", "n_tokens_ws": "token_count",
               "n_tokens_bpe": "token_count"}
    for b, full in zip(html, full_docs):
        d = pure.analyze_document(b, fields=fields)
        assert d["sniff"] == full["sniff"]
        assert d["extract"] == full["extract"]
        assert {doc_key.get(f, f) for f in fields} <= d.keys()
        assert d == {k: full[k] for k in d}
    batch = analyze_batch(pd.Series(html), fields)
    assert list(batch.columns) == list(fields)
    assert batch.to_dict("list") == full_batch[list(fields)].to_dict("list")


def test_fixture_generator_deterministic():
    """seed=42 twice -> byte-identical tables (FIXTURES.md requirement)."""
    from fa_spark.gen_fixtures import gen_pages

    a = gen_pages(200)
    b = gen_pages(200)
    assert a.equals(b)
    assert a.column("html")[0].as_py() == b.column("html")[0].as_py()


# ---------------------------------------------------------------------------
# numpy-vectorized PNG unfilter (round 3): cross-check against the scalar
# reference for every filter type, channel count, and mixed-filter images
# ---------------------------------------------------------------------------


def _unfilter_scalar(raw: bytes, w: int, h: int, ch: int):
    """Byte-for-byte scalar reference (the round-2 implementation)."""
    stride = w * ch
    if len(raw) < h * (stride + 1):
        return None
    out = bytearray(h * stride)
    prev_off = -1
    pos = 0
    for y in range(h):
        f = raw[pos]
        line = raw[pos + 1 : pos + 1 + stride]
        pos += 1 + stride
        off = y * stride
        if f == 0:
            out[off : off + stride] = line
        elif f == 1:
            for i in range(stride):
                left = out[off + i - ch] if i >= ch else 0
                out[off + i] = (line[i] + left) & 0xFF
        elif f == 2:
            for i in range(stride):
                up = out[prev_off + i] if prev_off >= 0 else 0
                out[off + i] = (line[i] + up) & 0xFF
        elif f == 3:
            for i in range(stride):
                left = out[off + i - ch] if i >= ch else 0
                up = out[prev_off + i] if prev_off >= 0 else 0
                out[off + i] = (line[i] + ((left + up) >> 1)) & 0xFF
        elif f == 4:
            for i in range(stride):
                a = out[off + i - ch] if i >= ch else 0
                b = out[prev_off + i] if prev_off >= 0 else 0
                c = out[prev_off + i - ch] if (prev_off >= 0 and i >= ch) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[off + i] = (line[i] + pr) & 0xFF
        else:
            return None
        prev_off = off
    return out


def test_png_unfilter_matches_scalar_all_filters():
    import random

    rng = random.Random(1234)
    for ch in (1, 3, 4):
        for w, h in ((1, 1), (3, 2), (7, 5), (16, 16)):
            stride = w * ch
            for trial in range(6):
                raw = bytearray()
                for _y in range(h):
                    # per-row filter: sweep each type plus mixed
                    f = trial if trial < 5 else rng.randrange(5)
                    raw.append(f)
                    raw += bytes(rng.randrange(256) for _ in range(stride))
                got = pure._png_unfilter(bytes(raw), w, h, ch)
                exp = _unfilter_scalar(bytes(raw), w, h, ch)
                assert got == exp, (ch, w, h, trial)


def test_png_unfilter_rejects_bad_filter_and_short_input():
    assert pure._png_unfilter(b"\x05" + b"\x00" * 3, 1, 1, 3) is None
    assert pure._png_unfilter(b"\x00\x00", 2, 2, 3) is None


def test_image_stats_numpy_matches_known_values():
    """The closed-form values the round-2 scalar kernel produced (recorded
    before vectorizing) must be bit-identical from the numpy kernel."""
    side = 64
    rows = [
        [(x % 251, (x * 17) % 256, (y * 17) % 256) for x in range(side)]
        for y in range(side)
    ]
    st = pure.image_stats(pure.decode_png(pure.png_encode(rows)))
    n = side * side
    exp_r = sum(x % 251 for x in range(side)) * side / n
    exp_g = sum((x * 17) % 256 for x in range(side)) * side / n
    assert abs(st["means"][0] - exp_r) < 1e-9
    assert abs(st["means"][1] - exp_g) < 1e-9
    assert sum(st["hist"]) == n
    assert 0 <= st["ahash"] < (1 << 64)


def test_image_stats_gray_and_rgba():
    # gray: hand-build via decode dict (decoder path covered elsewhere)
    img = {"width": 4, "height": 2, "channels": 1,
           "pixels": bytearray([0, 32, 64, 96, 128, 160, 192, 255])}
    st = pure.image_stats(img)
    assert st["means"] == [sum([0, 32, 64, 96, 128, 160, 192, 255]) / 8]
    assert sum(st["hist"]) == 8
    rgba = {"width": 2, "height": 1, "channels": 4,
            "pixels": bytearray([10, 20, 30, 255, 40, 50, 60, 0])}
    st4 = pure.image_stats(rgba)
    assert st4["means"] == [25.0, 35.0, 45.0]  # alpha excluded from means


def test_png_all_encoder_filters_roundtrip():
    """Round 3: the encoder can emit every scanline filter, so each
    unfilter path round-trips against REAL encoded images (not only the
    hand-built scanlines of the cross-check test)."""
    import random

    rng = random.Random(31)
    rows = [
        [(rng.randrange(256), rng.randrange(256), rng.randrange(256)) for _ in range(13)]
        for _ in range(9)
    ]
    expected = None
    for ft in range(5):
        img = pure.decode_png(pure.png_encode(rows, filter_type=ft))
        assert img is not None, ft
        got = bytes(img["pixels"])
        if expected is None:
            expected = got
            flat = bytes(v for r in rows for px in r for v in px)
            assert got == flat
        assert got == expected, f"filter {ft} diverged"
    with __import__("pytest").raises(ValueError, match="filter_type"):
        pure.png_encode(rows, filter_type=7)


def test_png_decode_gray_and_rgba():
    """decode_png supports 8-bit grayscale (ctype 0) and RGBA (ctype 6);
    hand-built images with known pixels (the encoder is RGB-only)."""
    import struct as st
    import zlib as zl

    def png(ctype, w, h, raw):
        sig = b"\x89PNG\r\n\x1a\n"

        def chunk(typ, body):
            return st.pack(">I", len(body)) + typ + body + st.pack(
                ">I", zl.crc32(typ + body)
            )

        ihdr = st.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zl.compress(raw)) + chunk(
            b"IEND", b""
        )

    gray = png(0, 3, 2, b"\x00" + bytes([10, 20, 30]) + b"\x00" + bytes([40, 50, 60]))
    img = pure.decode_png(gray)
    assert img["channels"] == 1
    assert bytes(img["pixels"]) == bytes([10, 20, 30, 40, 50, 60])
    st_g = pure.image_stats(img)
    assert st_g["means"] == [sum([10, 20, 30, 40, 50, 60]) / 6]

    rgba_raw = b"\x00" + bytes([1, 2, 3, 255, 4, 5, 6, 0])
    img4 = pure.decode_png(png(6, 2, 1, rgba_raw))
    assert img4["channels"] == 4
    st4 = pure.image_stats(img4)
    assert st4["means"] == [2.5, 3.5, 4.5]  # alpha excluded

    # 16-bit depth and interlaced stay unsupported -> None, not garbage
    bad_depth = bytearray(png(0, 1, 1, b"\x00\x00"))
    bad_depth[24] = 16
    assert pure.decode_png(bytes(bad_depth)) is None


def test_metadata_dims_all_raster_formats():
    """M1 parity (round 3): exiftool reports dims for every raster type —
    the metadata walkers must too, without decoding."""
    rows = [[(1, 2, 3)] * 7 for _ in range(5)]
    m = pure.extract_metadata(pure.gif_encode(rows))
    assert (m["gif:width"], m["gif:height"]) == ("7", "5")
    assert m["gif:version"] == "87a"
    m = pure.extract_metadata(pure.bmp_encode(rows))
    assert (m["bmp:width"], m["bmp:height"], m["bmp:bpp"]) == ("7", "5", "24")
    m = pure.extract_metadata(pure.tiff_encode(rows))
    assert (m["tiff:width"], m["tiff:height"]) == ("7", "5")
    # truncation stays total
    for enc in (pure.gif_encode, pure.bmp_encode, pure.tiff_encode):
        blob = enc(rows)
        for cut in range(0, len(blob), 11):
            pure.extract_metadata(blob[:cut])


def _shingle_ids(toks: list[str], k: int) -> list[int]:
    """The deduplicated shingle ids of a token list, first-seen order: the
    id form the raw-window minhash path must agree with."""
    ids = pure._shingle_windows(toks, k)
    if ids.size == 0:
        return []
    _, first = np.unique(ids, return_index=True)
    first.sort()
    return [int(ids[i]) for i in first]


def test_shingles_k_above_coefficient_table():
    """Round-3 ADVICE: the 32-entry positional-coefficient table must grow
    on demand — k=33+ used to raise a numpy broadcast ValueError."""
    toks = [f"w{i}" for i in range(40)]
    out = _shingle_ids(toks, 33)
    assert len(out) == 40 - 33 + 1
    assert out == _shingle_ids(toks, 33)  # deterministic
    # windows at k>32 still distinguish position
    assert _shingle_ids(toks, 33) != _shingle_ids(toks[::-1], 33)


def test_simhash_batch_matches_per_doc():
    """Round 4: the batched reduceat simhash must be bit-identical to the
    per-doc form for every doc shape incl. empty docs interleaved."""
    import random

    rng = random.Random(17)
    cases = [[]] + [
        [f"w{rng.randrange(50)}" for _ in range(rng.randrange(0, 150))]
        for _ in range(400)
    ] + [[]]
    assert pure._simhash_toks_batch(cases) == [
        pure._simhash_toks(t) for t in cases
    ]


def test_minhash_raw_windows_match_deduped_ids():
    """Round 4: the minhash fast path consumes raw window hashes
    (duplicates kept); per-seed min must equal the deduped-id form."""
    import random

    rng = random.Random(23)
    for _ in range(60):
        toks = [f"w{rng.randrange(12)}" for _ in range(rng.randrange(0, 80))]
        raw = pure._minhash_shingles(pure._shingle_windows(toks, 5))
        ded = pure._minhash_shingles(_shingle_ids(toks, 5))
        assert raw == ded


def test_mp3_envelope_roundtrip():
    """Round 4: MPEG frame-header walk + ID3v2 — duration exact for CBR."""
    blob = pure.mp3_envelope_encode(100, 128, 48000, title="Söng", artist="A")
    m = pure.extract_metadata(blob)
    assert m["mp3:n_frames"] == "100"
    assert m["mp3:duration_s"] == "2.400"  # 100 * 1152 / 48000
    assert m["mp3:title"] == "Söng" and m["mp3:artist"] == "A"
    assert pure.sniff_bytes(blob)["content_type"] == "mp3"
    # bare sync (no ID3) sniffs too; random 0xFF binaries do not
    assert pure.sniff_bytes(pure.mp3_envelope_encode(3))["content_type"] == "mp3"
    assert pure.sniff_bytes(b"\xff\x01" + bytes(64))["content_type"] != "mp3"


def test_ogg_envelope_roundtrip():
    og = pure.ogg_envelope_encode("vorbis", 48000, 2, total_samples=96000,
                                  n_audio_pages=3)
    m = pure.extract_metadata(og)
    assert m["ogg:codec"] == "vorbis" and m["ogg:duration_s"] == "2.000"
    assert m["ogg:channels"] == "2" and m["ogg:n_pages"] == "4"
    op = pure.extract_metadata(pure.ogg_envelope_encode("opus", 48000, 1,
                                                        total_samples=48000))
    assert op["ogg:codec"] == "opus" and op["ogg:duration_s"] == "1.000"


def test_opus_toc_walk():
    # Every RFC 6716 config x frame-count code decodes to the table row.
    for cfg in range(32):
        for c in range(4):
            m_frames = 1 + (cfg % 2)
            blob = pure.ogg_opus_encode([(cfg, cfg % 2, c, m_frames, 6)])
            m = pure.extract_metadata(blob)
            assert m["opus:toc_status"] == "ok", (cfg, c, m)
            assert m["opus:mode"] == pure._OPUS_MODE[cfg]
            assert m["opus:bandwidth"] == pure._OPUS_BW[cfg]
            assert (m["opus:frame_ms"]
                    == f"{pure._OPUS_FRAME_TENTHMS[cfg] / 10:.1f}")
            assert m["opus:stereo"] == str(cfg % 2)
            exp_n = {0: 1, 1: 2, 2: 2, 3: m_frames}[c]
            assert m["opus:n_frames"] == str(exp_n), (cfg, c, m)
    # Multi-packet stream with a 255-lacing page-spanning packet: the
    # TOC-summed duration and the granule duration agree (pre_skip 0).
    blob = pure.ogg_opus_encode(
        [(14, 1, 0, 1, 4), (30, 0, 3, 2, 300), (5, 0, 1, 1, 8)],
        span_index=1,
    )
    m = pure.extract_metadata(blob)
    assert m["opus:n_packets"] == "3" and m["opus:n_frames"] == "5"
    assert m["opus:toc_duration_s"] == "0.0700"
    assert m["ogg:duration_s"] == "0.070"
    assert m["opus:mode"] == "hybrid" and m["opus:stereo"] == "1"


def test_opus_toc_rejects_malformed_packets():
    # R5: code-3 total duration > 120 ms
    assert pure._opus_toc(bytes([(11 << 3) | 3, 3, 1, 2, 3])) is None
    # code-3 with M = 0
    assert pure._opus_toc(bytes([(0 << 3) | 3, 0])) is None
    # R3: code-1 odd payload
    assert pure._opus_toc(bytes([(0 << 3) | 1, 1, 2, 3])) is None
    # R4: code-2 first-frame length missing / longer than the payload
    assert pure._opus_toc(bytes([(0 << 3) | 2])) is None
    assert pure._opus_toc(bytes([(0 << 3) | 2, 9, 1])) is None
    assert pure._opus_toc(b"") is None
    # An invalid packet inside a stream marks the walk, drops the fields.
    # Patch the audio packet's TOC (the blob's last 0x00 byte — config 0
    # code 0 followed by 0x20.. filler) to code 2: the first payload
    # byte 0x20 then reads as a 32-byte first-frame length against a
    # 3-byte remainder, an R4 violation.
    good = pure.ogg_opus_encode([(0, 0, 0, 1, 4)])
    bad = bytearray(good)
    bad[good.rindex(b"\x00")] = (0 << 3) | 2
    mb = pure.extract_metadata(bytes(bad))
    assert mb["opus:toc_status"] == "invalid"
    assert "opus:n_frames" not in mb
    # truncation at every cut never raises
    blob = pure.ogg_opus_encode([(20, 0, 2, 1, 300)], span_index=0)
    for cut in range(0, len(blob), 23):
        pure.extract_metadata(blob[:cut])


def test_svg_meta_surface():
    svg = (b'<?xml version="1.0"?><!-- c --><svg xmlns="x" width="120px" '
           b'height="80" viewBox="0 0 120 80"><rect/><rect/><path d="M0 0"/>'
           b'<circle r="5"/><text>hey</text><script>x()</script></svg>')
    m = pure.extract_metadata(svg)
    assert m["svg:width"] == "120px" and m["svg:height"] == "80"
    assert m["svg:view_box"] == "0 0 120 80"
    assert m["svg:n_elements"] == "7" and m["svg:n_paths"] == "1"
    assert m["svg:n_shapes"] == "3" and m["svg:n_text"] == "1"
    assert m["svg:has_script"] == "1"
    # event-handler attributes and javascript: hrefs also flag script
    ev = b'<svg width="9"><rect onclick="go()"/></svg>'
    assert pure.extract_metadata(ev)["svg:has_script"] == "1"
    clean = b'<svg height="4"><polygon points="1,2"/></svg>'
    mc = pure.extract_metadata(clean)
    assert mc["svg:has_script"] == "0" and mc["svg:n_shapes"] == "1"
    assert "svg:width" not in mc  # only attrs actually present emit
    # an svg EMBEDDED in html is not svg-rooted: no svg keys
    html = b"<html><body><svg width=\"5\"></svg></body></html>"
    assert not any(k.startswith("svg:") for k in pure.extract_metadata(html))
    # fused analyzer emits the identical surface
    fused = {k: v for k, v in pure.analyze_document(svg)["meta"].items()
             if k.startswith("svg:")}
    assert fused == {k: v for k, v in m.items() if k.startswith("svg:")}
    # hostile: truncations never raise
    for cut in range(0, len(svg), 5):
        pure.extract_metadata(svg[:cut])


def test_font_meta_surface():
    for c in ("ttf", "otf", "woff"):
        blob = pure.font_encode("Family X", "Bold", n_glyphs=99,
                                units_per_em=2048, container=c)
        assert pure.sniff_bytes(blob)["content_type"] == "font"
        m = pure.extract_metadata(blob)
        assert m["font:container"] == c and m["font:n_glyphs"] == "99"
        assert m["font:units_per_em"] == "2048"
        assert m["font:family"] == "Family X"
        assert m["font:subfamily"] == "Bold"
        for cut in range(0, len(blob), 11):
            pure.extract_metadata(blob[:cut])
    # WOFF2: honest header tier (table data is brotli, absent here)
    w2 = pure.font_encode(container="woff2")
    m2 = pure.extract_metadata(w2)
    assert m2["font:container"] == "woff2" and m2["font:n_tables"] == "3"
    assert "font:n_glyphs" not in m2
    # bare-sfnt magic without directory structure must NOT type font
    junk = b"\x00\x01\x00\x00" + b"\x00\x40" + b"\x00\x01" + bytes(40)
    assert pure.sniff_bytes(junk)["content_type"] != "font"


def test_wasm_and_tar_meta_surface():
    w = pure.wasm_encode(n_functions=7, n_exports=3, n_imports=2,
                         has_start=True)
    assert pure.sniff_bytes(w)["content_type"] == "wasm"
    m = pure.extract_metadata(w)
    assert m["wasm:n_functions"] == "7" and m["wasm:n_exports"] == "3"
    assert m["wasm:n_imports"] == "2" and m["wasm:has_start"] == "1"
    assert m["wasm:n_sections"] == "5" and m["wasm:version"] == "1"
    t = pure.tar_encode([("a/readme.txt", 100), ("b.bin", 1000), ("c", 0)])
    assert pure.sniff_bytes(t)["content_type"] == "tar"
    mt = pure.extract_metadata(t)
    assert mt["tar:n_members"] == "3" and mt["tar:total_size"] == "1100"
    assert mt["tar:first_name"] == "a/readme.txt"
    # a corrupted header checksum stops the walk (no member keys)
    bad = bytearray(t)
    bad[150] ^= 0x01
    assert "tar:n_members" not in pure.extract_metadata(bytes(bad))
    for blob in (w, t):
        for cut in range(0, len(blob), 37):
            pure.extract_metadata(blob[:cut])


def _flac_vorbis_comment_block(tags: dict[str, str], last: bool = False) -> bytes:
    """A VORBIS_COMMENT metadata block (fixture helper for tagged FLACs)."""
    body = len(b"fa_spark").to_bytes(4, "little") + b"fa_spark"
    body += len(tags).to_bytes(4, "little")
    for k, v in tags.items():
        item = f"{k}={v}".encode()
        body += len(item).to_bytes(4, "little") + item
    hdr = bytes([(0x80 if last else 0) | 4]) + len(body).to_bytes(3, "big")
    return hdr + body


def test_flac_tags_and_streaminfo_meta():
    base = bytearray(pure.flac_encode([9] * 1600, 16000))
    base[4] &= 0x7F  # STREAMINFO no longer the last metadata block
    si_len = int.from_bytes(base[5:8], "big")
    at = 8 + si_len
    vc = _flac_vorbis_comment_block({"title": "Tïtle", "album": "X"},
                                    last=True)
    tagged = bytes(base[:at]) + vc + bytes(base[at:])
    m = pure.extract_metadata(tagged)
    assert m["flac:duration_s"] == "0.100"
    assert m["flac:sample_rate"] == "16000"
    assert m["flac:title"] == "Tïtle" and m["flac:album"] == "X"
    d = pure.decode_flac(tagged)  # tag block must not break the decoder
    assert d is not None and d["n_samples"] == 1600


def test_audio_container_parsers_total_on_hostile_bytes():
    import random

    rng = random.Random(9)
    blobs = [
        pure.mp3_envelope_encode(20, 128, 44100, title="t"),
        pure.ogg_envelope_encode(),
        pure.flac_encode([1] * 500, 8000),
    ]
    for blob in blobs:
        for cut in range(0, len(blob), 37):
            pure.extract_metadata(blob[:cut])
        ba = bytearray(blob)
        for i in range(0, len(ba), 29):
            ba[i] ^= 0xFF
        pure.extract_metadata(bytes(ba))
    pure.extract_metadata(b"ID3" + bytes(rng.randrange(256) for _ in range(200)))
    pure.extract_metadata(b"OggS" + bytes(rng.randrange(256) for _ in range(200)))


def test_video_container_envelopes():
    """Round 4: mp4 box walk + webm EBML walk — duration/dims/codec."""
    mp4 = pure.mp4_envelope_encode(12.345, 1000, 640, 360, b"avc1")
    m = pure.extract_metadata(mp4)
    assert m["mp4:duration_s"] == "12.345"
    assert m["mp4:width"] == "640" and m["mp4:height"] == "360"
    assert m["mp4:codec"] == "avc1" and m["mp4:brand"] == "isom"
    assert pure.sniff_bytes(mp4)["content_type"] == "mp4"
    wb = pure.webm_envelope_encode(7.5, 1280, 720, "V_VP9")
    w = pure.extract_metadata(wb)
    assert w["webm:duration_s"] == "7.500"
    assert w["webm:width"] == "1280" and w["webm:codec"] == "V_VP9"
    assert pure.sniff_bytes(wb)["content_type"] == "webm"
    # totality
    import random

    rng = random.Random(2)
    for blob in (mp4, wb):
        for cut in range(0, len(blob), 17):
            pure.extract_metadata(blob[:cut])
        ba = bytearray(blob)
        for i in range(0, len(ba), 19):
            ba[i] ^= 0xFF
        pure.extract_metadata(bytes(ba))
    pure.extract_metadata(b"\x00\x00\x00\x14ftyp" + bytes(rng.randrange(256) for _ in range(120)))
    pure.extract_metadata(b"\x1a\x45\xdf\xa3" + bytes(rng.randrange(256) for _ in range(120)))


def test_avi_envelope():
    """Round 4: AVI RIFF chunk walk — the last non-WAVE riff stub now has
    a real envelope parse."""
    avi = pure.avi_envelope_encode(250, 25, 640, 480, b"MJPG")
    m = pure.extract_metadata(avi)
    assert m["avi:duration_s"] == "10.000" and m["avi:codec"] == "MJPG"
    assert m["avi:width"] == "640" and m["avi:n_frames"] == "250"
    for cut in range(0, len(avi), 13):
        pure.extract_metadata(avi[:cut])
    import random

    rng = random.Random(4)
    pure.extract_metadata(b"RIFF" + bytes(rng.randrange(256) for _ in range(256)))
    # WAV riffs are untouched by the avi walk
    wav = pure.wav_encode([100] * 64, 8000)
    assert not any(k.startswith("avi:") for k in pure.extract_metadata(wav))


def test_zip_gzip_metadata():
    """Round 4: archive envelope surface (binwalk/exiftool parity) —
    central-directory walk with Office/EPUB/JAR subtype detection and
    gzip member header fields."""
    import gzip as _gzip
    import io as _io
    import zipfile as _zipfile

    buf = _io.BytesIO()
    with _zipfile.ZipFile(buf, "w") as z:
        z.writestr("[Content_Types].xml", "<x/>")
        z.writestr("word/document.xml", "<d/>")
    m = pure.extract_metadata(buf.getvalue())
    assert m["zip:subtype"] == "docx" and m["zip:n_entries"] == "2"

    buf2 = _io.BytesIO()
    with _zipfile.ZipFile(buf2, "w") as z:
        z.writestr("mimetype", "application/epub+zip")
        z.writestr("OEBPS/content.opf", "x")
    assert pure.extract_metadata(buf2.getvalue())["zip:subtype"] == "epub"

    gz = _gzip.compress(b"payload bytes" * 9)
    gm = pure.extract_metadata(gz)
    assert gm["gzip:isize"] == str(len(b"payload bytes" * 9))

    import random

    rng = random.Random(8)
    corrupt = b"PK\x03\x04" + bytes(rng.randrange(256) for _ in range(300))
    assert pure.extract_metadata(corrupt).get("zip:valid") == "false"
    pure.extract_metadata(b"\x1f\x8b\x08" + bytes(rng.randrange(256) for _ in range(64)))


def test_sniff_id3_requires_structural_header():
    """Round-5 ADVICE: prose that merely starts with the ASCII letters
    "ID3" must NOT be swallowed as mp3 — classification requires a
    structurally valid ID3v2 header (version bytes < 0xFF, syncsafe
    size), mirroring the bare-frame-sync path's _mp3_frame validation."""
    prose = b"ID3 tags are a metadata container commonly used in files."
    assert pure.sniff_bytes(prose)["content_type"] == "text"
    # a real ID3v2 header (valid version + syncsafe size) still sniffs mp3
    real = b"ID3\x03\x00\x00\x00\x00\x00\x0a" + bytes(10)
    assert pure.sniff_bytes(real)["content_type"] == "mp3"
    # non-syncsafe size byte (high bit set) -> not a valid ID3v2 header
    bogus = b"ID3\x03\x00\x00\x80\x00\x00\x0a" + bytes(10)
    assert pure.sniff_bytes(bogus)["content_type"] != "mp3"


def test_mp4_truncated_stsd_does_not_read_sibling():
    """Round-5 ADVICE: a truncated stsd box (size < 24) must not report
    bytes of the following sibling box as mp4:codec."""
    def box(t, body):
        return (len(body) + 8).to_bytes(4, "big") + t + body

    data = (
        box(b"ftyp", b"isom\x00\x00\x00\x00")
        + box(b"stsd", bytes(8))          # size 16 — too small for a fourcc
        + box(b"free", b"AAAACODEC365")   # alnum bytes at the old read site
    )
    out = pure._parse_mp4_meta(data)
    assert "mp4:codec" not in out


# ---- Ogg Vorbis decode (round 5) ----

def test_vorbis_roundtrip_matches_closed_form():
    """decode_vorbis on a single-bin tone must equal the IMDCT cosine
    closed form to float64 exactness — the same identity the SQL oracle
    of ogg_features recomputes independently."""
    import math

    import numpy as np

    n, n2, H = 256, 128, 8
    w = np.sin(0.5 * math.pi * np.sin(math.pi * (np.arange(n) + 0.5) / n) ** 2)
    for k0, num in [(1, 1), (3, 3), (5, 7), (2, 4)]:
        v = num / 8.0
        blob = pure.vorbis_tone_encode(k0, v, H, 8000)
        assert pure.sniff_bytes(blob)["content_type"] == "ogg"
        assert pure.extract_metadata(blob)["ogg:codec"] == "vorbis"
        d = pure.decode_vorbis(blob)
        assert d is not None and d["n_samples"] == H * n2
        c = np.cos(
            math.pi / (2 * n) * (2 * np.arange(n) + 1 + n2) * (2 * k0 + 1)
        )
        p = v * (w[n2:] * c[n2:] + w[:n2] * c[:n2])
        assert abs(d["rms"] - math.sqrt(np.mean(p * p))) < 1e-12
        assert abs(d["peak"] - np.max(np.abs(p))) < 1e-12
        pos = p >= 0
        c_in = int(np.count_nonzero(pos[1:] != pos[:-1]))
        c_wrap = int(pos[-1] != pos[0])
        assert d["zero_crossings"] == H * c_in + (H - 1) * c_wrap
        assert d["rate"] == 8000 and d["n_channels"] == 1


def test_vorbis_total_on_hostile_bytes():
    """decode_vorbis must never raise: truncations of a valid stream at
    every byte, a corrupted page CRC, random bytes, and non-vorbis ogg
    (opus) all return None or a valid dict."""
    import random

    blob = pure.vorbis_tone_encode(2, 0.5, 4)
    for cut in range(0, len(blob), 7):
        r = pure.decode_vorbis(blob[:cut])
        assert r is None or r["n_samples"] > 0
    # flip bytes (CRC must catch body corruption; header corruption must
    # not escape as an exception either way)
    rng = random.Random(5)
    for _ in range(60):
        b = bytearray(blob)
        b[rng.randrange(len(b))] ^= 0xFF
        r = pure.decode_vorbis(bytes(b))
        assert r is None or isinstance(r, dict)
    assert pure.decode_vorbis(None) is None
    assert pure.decode_vorbis(b"") is None
    assert pure.decode_vorbis(bytes(rng.randrange(256) for _ in range(512))) is None
    opus = pure.ogg_envelope_encode(codec="opus")
    assert pure.decode_vorbis(opus) is None


def test_vorbis_codeword_assignment():
    """Spec §3.2.1 codeword assignment: entries in order take the lowest
    available codeword of their length; prefix-freeness holds."""
    words = pure._vorbis_codewords([2, 4, 4, 4, 4, 2, 3, 3])
    # classic example from the Vorbis I spec
    assert words[0] == (0b00, 2)
    assert words[1] == (0b0100, 4)
    assert words[2] == (0b0101, 4)
    assert words[3] == (0b0110, 4)
    assert words[4] == (0b0111, 4)
    assert words[5] == (0b10, 2)
    assert words[6] == (0b110, 3)
    assert words[7] == (0b111, 3)
    # over-specified tree rejected
    assert pure._vorbis_codewords([1, 1, 1]) is None


def test_vorbis_float32_pack_roundtrip():
    for v in (0.0, 0.125, 0.375, 0.875, 1.0, -0.5, 3.0):
        assert pure._vfloat32_unpack(pure._vfloat32_pack(v)) == v


def test_floor1_db_table_endpoints():
    """Inverse-dB table pinned to the spec's published endpoints; index
    255 exactly 1.0 (the flat-floor fixture identity relies on it)."""
    assert pure._F1_DB_TABLE[255] == 1.0
    assert abs(pure._F1_DB_TABLE[0] - 1.0649863e-07) < 1e-13
    # geometric: published second entry 1.1341951e-07 to ~5 significant figures
    assert abs(pure._F1_DB_TABLE[1] - 1.1341951e-07) < 1e-11


# ---- Motion-JPEG AVI decode (round 5) ----

def _gray_jpeg(v: int, side: int = 16) -> bytes:
    return pure.jpeg_encode([[(v, v, v)] * side] * side)


def test_avi_mjpeg_roundtrip():
    """Solid-gray JPEG frames DC-round-trip exactly, so every sampled
    mean is closed-form; geometry/fps/duration from the container."""
    frames = [_gray_jpeg(40 + i) for i in range(5)]
    avi = pure.avi_mjpeg_encode(frames, fps=25, width=16, height=16)
    assert pure.sniff_bytes(avi)["content_type"] == "riff"
    meta = pure.extract_metadata(avi)
    assert meta["avi:codec"] == "MJPG" and meta["riff:format"] == "AVI"
    d = pure.decode_avi_mjpeg(avi)
    assert d is not None
    assert d["n_frames"] == 5 and d["width"] == 16 and d["height"] == 16
    assert d["fps"] == 25.0 and d["duration_s"] == 0.2
    assert d["frame_means"] == [40.0, 41.0, 42.0, 43.0, 44.0]
    # more frames than the sample budget: first and last still included
    many = pure.avi_mjpeg_encode([_gray_jpeg(10 + i) for i in range(20)])
    d = pure.decode_avi_mjpeg(many)
    assert d["n_frames"] == 20
    assert len(d["sampled_frames"]) == pure.VIDEO_SAMPLE_FRAMES
    assert d["frame_means"][0] == 10.0 and d["frame_means"][-1] == 29.0


def test_avi_mjpeg_total_on_hostile_bytes():
    frames = [_gray_jpeg(99)]
    avi = pure.avi_mjpeg_encode(frames)
    for cut in range(0, len(avi), 11):
        r = pure.decode_avi_mjpeg(avi[:cut])
        assert r is None or r["n_frames"] >= 1
    assert pure.decode_avi_mjpeg(None) is None
    assert pure.decode_avi_mjpeg(b"RIFF\x04\x00\x00\x00AVI ") is None
    # envelope-only AVI (no frame chunks) and non-MJPG codec refuse
    assert pure.decode_avi_mjpeg(pure.avi_envelope_encode(4)) is None
    xvid = pure.avi_envelope_encode(4, codec=b"XVID")
    assert pure.decode_avi_mjpeg(xvid) is None
    # corrupt the frame payload -> sampled-frame decode fails -> None
    bad = bytearray(avi)
    bad[-10] ^= 0xFF
    assert pure.decode_avi_mjpeg(bytes(bad)) is None


def test_avi_mjpeg_multi_stream_selects_mjpg_stream():
    """Round-5 review: frame chunks carry their stream number; a second
    non-JPEG vids stream must neither reject the file nor inflate the
    MJPG stream's frame count."""
    def chunk(cid, body):
        pad = b"\x00" if len(body) & 1 else b""
        return cid + len(body).to_bytes(4, "little") + body + pad

    def lst(kind, body):
        return chunk(b"LIST", kind + body)

    jf = pure.jpeg_encode([[(70, 70, 70)] * 16] * 16)
    avih = (
        (40000).to_bytes(4, "little") + b"\x00" * 12
        + (1).to_bytes(4, "little") + b"\x00" * 12
        + (16).to_bytes(4, "little") + (16).to_bytes(4, "little")
        + b"\x00" * 16
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", b"vids" + b"MJPG" + b"\x00" * 48))
        + lst(b"strl", chunk(b"strh", b"vids" + b"XVID" + b"\x00" * 48)),
    )
    movi = lst(b"movi", chunk(b"00dc", jf) + chunk(b"01dc", b"not a jpeg"))
    body = b"AVI " + hdrl + movi
    d = pure.decode_avi_mjpeg(b"RIFF" + len(body).to_bytes(4, "little") + body)
    assert d is not None
    assert d["n_frames"] == 1 and d["frame_means"] == [70.0]
    # MJPG as the SECOND stream also resolves (chunk ids filter by number)
    hdrl2 = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", b"auds" + b"\x00" * 52))
        + lst(b"strl", chunk(b"strh", b"vids" + b"MJPG" + b"\x00" * 48)),
    )
    movi2 = lst(b"movi", chunk(b"00wb", b"audio") + chunk(b"01dc", jf))
    body2 = b"AVI " + hdrl2 + movi2
    d2 = pure.decode_avi_mjpeg(
        b"RIFF" + len(body2).to_bytes(4, "little") + body2
    )
    assert d2 is not None and d2["n_frames"] == 1


def test_vorbis_blocksize_cap_and_codebook_cap():
    """Round-5 review: blocksizes past VORBIS_MAX_BLOCK are a documented
    subset bound (hostile-input IMDCT-basis memory lever), and oversized
    lookup-type-2 codebooks are rejected BEFORE the multiplicand read."""
    blob = bytearray(pure.vorbis_tone_encode(2, 0.5, 4))
    # the id header's blocksize byte (0x88 = 256/256) lives in page 0;
    # patch it to 0xDD (8192/8192) and re-CRC the page
    i = blob.find(b"\x88")
    assert i > 0
    blob[i] = 0xDD
    nsegs = blob[26]
    page_len = 27 + nsegs + sum(blob[27 : 27 + nsegs])
    page = bytearray(blob[:page_len])
    page[22:26] = b"\x00" * 4
    blob[22:26] = pure._ogg_crc(bytes(page)).to_bytes(4, "little")
    assert pure.decode_vorbis(bytes(blob)) is None
    # oversized type-2 codebook: header parse must raise, not loop
    w = pure._VBitWriter()
    w.write(0x564342, 24)
    w.write(1 << 15, 16)  # dims
    w.write(1 << 23, 24)  # entries -> entries*dims = 2^38 cells
    w.write(1, 1)  # ordered
    w.write(0, 5)  # current length 1
    import pytest as _pytest

    with _pytest.raises((ValueError, EOFError)):
        pure._VCodebook(pure._VBitReader(w.getvalue() + b"\x00" * 64))


def test_mp4_mjpeg_roundtrip_and_hostility():
    """Round 5: MJPEG-in-MP4 — full sample-table resolution
    (stsd/stts/stsc/stsz/stco) into per-sample byte ranges, each frame a
    real JPEG decode; solid frames give closed-form means."""
    frames = [_gray_jpeg(30 + i) for i in range(6)]
    mp4 = pure.mp4_mjpeg_encode(frames, fps=25, width=16, height=16)
    assert pure.sniff_bytes(mp4)["content_type"] == "mp4"
    assert pure.extract_metadata(mp4)["mp4:codec"] == "jpeg"
    d = pure.decode_mp4_mjpeg(mp4)
    assert d is not None
    assert d["n_frames"] == 6 and d["width"] == 16 and d["height"] == 16
    assert d["fps"] == 25.0 and abs(d["duration_s"] - 0.24) < 1e-12
    assert d["frame_means"] == [30.0, 31.0, 32.0, 33.0, 34.0, 35.0]
    # sampling budget respected with first+last included
    many = pure.mp4_mjpeg_encode([_gray_jpeg(10 + i) for i in range(20)])
    d = pure.decode_mp4_mjpeg(many)
    assert d["n_frames"] == 20
    assert len(d["sampled_frames"]) == pure.VIDEO_SAMPLE_FRAMES
    assert d["frame_means"][0] == 10.0 and d["frame_means"][-1] == 29.0
    # hostility: truncations, bit flips, non-MJPEG codec, None
    import random

    rng = random.Random(4)
    for cut in range(0, len(mp4), 23):
        r = pure.decode_mp4_mjpeg(mp4[:cut])
        assert r is None or r["n_frames"] >= 1
    for _ in range(40):
        b = bytearray(mp4)
        b[rng.randrange(len(b))] ^= 0xFF
        r = pure.decode_mp4_mjpeg(bytes(b))
        assert r is None or isinstance(r, dict)
    assert pure.decode_mp4_mjpeg(None) is None
    assert pure.decode_mp4_mjpeg(pure.mp4_envelope_encode(1.0)) is None


# ---- PNG general decode path (round 5): palette / sub-byte / Adam7 ----

def _png_pack_row(vals: list, depth: int) -> bytes:
    """Pack single-sample values at ``depth`` bits, MSB-first."""
    if depth == 8:
        return bytes(vals)
    per_byte = 8 // depth
    out = bytearray((len(vals) + per_byte - 1) // per_byte)
    for i, v in enumerate(vals):
        shift = 8 - depth * (i % per_byte + 1)
        out[i // per_byte] |= (v & ((1 << depth) - 1)) << shift
    return bytes(out)


def _png_encode_palette(
    index_rows: list, palette: list, depth: int = 8, interlace: bool = False
) -> bytes:
    """Palette (color type 3) PNG writer — fixtures for the round-5
    general decode path: PLTE + index scanlines at 1/2/4/8 bits
    MSB-first, optional Adam7 interlace, filter 0 rows."""
    if depth not in (1, 2, 4, 8):
        raise ValueError("palette depth must be 1/2/4/8")
    h = len(index_rows)
    w = len(index_rows[0]) if h else 0
    plte = b"".join(bytes(c) for c in palette)
    passes = pure._PNG_ADAM7 if interlace else ((0, 0, 1, 1),)
    raw = bytearray()
    for xs, ys, xstep, ystep in passes:
        for y in range(ys, h, ystep):
            vals = [index_rows[y][x] for x in range(xs, w, xstep)]
            if vals:
                raw += b"\x00" + _png_pack_row(vals, depth)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 1 if interlace else 0)
    return (
        pure._PNG_SIG
        + pure._png_chunk(b"IHDR", ihdr)
        + pure._png_chunk(b"PLTE", plte)
        + pure._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + pure._png_chunk(b"IEND", b"")
    )


def _png_encode_interlaced(rows: list) -> bytes:
    """Adam7-interlaced RGB8 PNG writer (fixtures): the 7 passes'
    filter-0 scanlines in spec order."""
    h = len(rows)
    w = len(rows[0]) if h else 0
    raw = bytearray()
    for xs, ys, xstep, ystep in pure._PNG_ADAM7:
        for y in range(ys, h, ystep):
            cells = [rows[y][x] for x in range(xs, w, xstep)]
            if cells:
                raw += b"\x00" + bytes(v for px in cells for v in px)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    return (
        pure._PNG_SIG
        + pure._png_chunk(b"IHDR", ihdr)
        + pure._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + pure._png_chunk(b"IEND", b"")
    )


def test_png_palette_roundtrip_all_depths():
    """Palette PNGs (the most common PNG form on the web) decode through
    PLTE to exact RGB at every legal index depth, plain and Adam7."""
    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    for depth in (8, 4, 2, 1):
        k = min(4, 1 << depth)
        rows = [[(x + y) % k for x in range(9)] for y in range(7)]
        for inter in (False, True):
            d = pure.decode_png(
                _png_encode_palette(rows, pal, depth=depth, interlace=inter)
            )
            assert d is not None and d["channels"] == 3, (depth, inter)
            for y in range(7):
                for x in range(9):
                    off = (y * 9 + x) * 3
                    assert tuple(d["pixels"][off : off + 3]) == pal[(x + y) % k]


def test_png_adam7_rgb_roundtrip():
    rgb = [
        [(x * 10 % 256, y * 20 % 256, (x + y) % 256) for x in range(11)]
        for y in range(6)
    ]
    d = pure.decode_png(_png_encode_interlaced(rgb))
    assert d is not None and d["channels"] == 3
    for y in range(6):
        for x in range(11):
            off = (y * 11 + x) * 3
            assert tuple(d["pixels"][off : off + 3]) == rgb[y][x]


def test_png_gray_subbyte_and_hostility():
    import random
    import struct
    import zlib as z

    def gray_png(vals_rows, depth, inter=0):
        h, w = len(vals_rows), len(vals_rows[0])
        raw = bytearray()
        passes = pure._PNG_ADAM7 if inter else ((0, 0, 1, 1),)
        for xs, ys, xst, yst in passes:
            for y in range(ys, h, yst):
                v = [vals_rows[y][x] for x in range(xs, w, xst)]
                if v:
                    raw += b"\x00" + _png_pack_row(v, depth)
        ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, inter)
        return (
            pure._PNG_SIG + pure._png_chunk(b"IHDR", ihdr)
            + pure._png_chunk(b"IDAT", z.compress(bytes(raw)))
            + pure._png_chunk(b"IEND", b"")
        )

    g = [[(x + y) % 16 for x in range(10)] for y in range(5)]
    d = pure.decode_png(gray_png(g, 4))
    assert d is not None and d["channels"] == 1
    # sub-byte gray scales to full range: v * 255 // 15
    assert d["pixels"][1] == 255 // 15 and d["pixels"][9] == 9 * 255 // 15
    d2 = pure.decode_png(gray_png(g, 4, inter=1))
    assert bytes(d2["pixels"]) == bytes(d["pixels"])  # interlace-invariant

    png = _png_encode_palette(
        [[(x + y) % 4 for x in range(9)] for y in range(7)],
        [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)],
        depth=4, interlace=True,
    )
    rng = random.Random(2)
    for cut in range(0, len(png), 7):
        r = pure.decode_png(png[:cut])
        assert r is None or r["width"] == 9
    for _ in range(60):
        b = bytearray(png)
        b[rng.randrange(len(b))] ^= 0xFF
        r = pure.decode_png(bytes(b))
        assert r is None or isinstance(r, dict)
    # out-of-range palette index refuses (strict per spec)
    assert pure.decode_png(
        _png_encode_palette([[5]], [(1, 2, 3)], depth=8)
    ) is None


def test_bmp_8bit_palette_roundtrip():
    """Round 5: 8-bit palette BMP (the common legacy indexed form) —
    BGRA color table expanded to RGB, bottom-up rows, 4-byte stride."""
    import struct

    w, h = 5, 3
    pal = [(200, 10, 30), (0, 255, 0), (12, 34, 56)]
    tbl = b"".join(bytes([b, g, r, 0]) for r, g, b in pal) + bytes(
        4 * (256 - len(pal))
    )
    idx_rows = [[(x + y) % 3 for x in range(w)] for y in range(h)]
    stride = (w + 3) & ~3
    # BMP stores rows bottom-up
    px = b"".join(
        bytes(idx_rows[y]) + bytes(stride - w) for y in reversed(range(h))
    )
    off = 14 + 40 + len(tbl)
    hdr = b"BM" + struct.pack("<IHHI", off + len(px), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, 0, 0, 0, 256, 0)
    bmp = hdr + info + tbl + px
    d = pure.decode_bmp(bmp)
    assert d is not None and d["channels"] == 3
    for y in range(h):
        for x in range(w):
            o = (y * w + x) * 3
            assert tuple(d["pixels"][o : o + 3]) == pal[(x + y) % 3]
    # out-of-range index refuses
    bad_px = b"\x09" + bytes(stride - 1)
    info1 = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 8, 0, 0, 0, 0, 3, 0)
    small_tbl = tbl[: 3 * 4]
    off1 = 14 + 40 + len(small_tbl)
    bad = (
        b"BM" + struct.pack("<IHHI", off1 + len(bad_px), 0, 0, off1)
        + info1 + small_tbl + bad_px
    )
    assert pure.decode_bmp(bad) is None


def test_media_stage_fuzz_round5_decoders(spark):
    """Integration-level totality: heavy mutations of every round-5
    media fixture type pushed through the REAL feature stage — the
    stage must classify every row, never raise."""
    import random

    from fa_spark.stages.multimodal import extract_media_features

    rng = random.Random(55)
    fixtures = [
        pure.vorbis_tone_encode(3, 0.5, 6),
        pure.avi_mjpeg_encode([pure.jpeg_encode([[(90,) * 3] * 16] * 16)]),
        pure.mp4_mjpeg_encode([pure.jpeg_encode([[(91,) * 3] * 16] * 16)]),
        _png_encode_palette(
            [[x % 4 for x in range(8)]] * 8,
            [(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)],
            depth=4, interlace=True,
        ),
    ]
    rows = []
    i = 0
    for fx in fixtures:
        for _ in range(12):
            b = bytearray(fx)
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            rows.append((f"m{i}", bytes(b)))
            i += 1
    df = spark.createDataFrame(rows, "media_id string, content binary")
    out = extract_media_features(df, mode="describe").collect()
    assert len(out) == len(rows)
    assert all(
        r["decode_status"] in ("decoded", "decode_error", "stubbed", "skipped")
        for r in out
    )


def test_gif_full_compositing():
    """Round 8: the complete GIF89a model — partial frames, GCE
    transparency, disposal 2 (background-as-transparent-black, the
    browser convention) and 3 (restore previous), interlaced partial
    frames row-reordered before placement."""
    full = [[(100, 100, 100)] * 4 for _ in range(4)]
    patch = [[(200, 200, 200)] * 2 for _ in range(2)]
    strip = [[(50, 50, 50)] * 4]
    T = (1, 2, 3)
    d = pure.decode_gif_frames(pure.gif_composite_encode(4, 4, [
        (full, 0, 0, 10, 0, None), (patch, 1, 1, 10, 0, None),
    ]))
    assert d["frame_means"] == [100.0, (100 * 12 + 200 * 4) / 16]
    holed = [[(200, 200, 200), T], [T, (200, 200, 200)]]
    d = pure.decode_gif_frames(pure.gif_composite_encode(4, 4, [
        (full, 0, 0, 10, 0, None), (holed, 1, 1, 10, 0, T),
    ]))
    assert abs(d["frame_means"][1] - (100 * 14 + 200 * 2) / 16) < 1e-9
    d = pure.decode_gif_frames(pure.gif_composite_encode(4, 4, [
        (full, 0, 0, 10, 0, None), (patch, 1, 1, 10, 2, None),
        (strip, 0, 3, 10, 0, None),
    ]))
    assert abs(d["frame_means"][2] - (100 * 8 + 50 * 4) / 16) < 1e-9
    d = pure.decode_gif_frames(pure.gif_composite_encode(4, 4, [
        (full, 0, 0, 10, 0, None), (patch, 1, 1, 10, 3, None),
        (strip, 0, 3, 10, 0, None),
    ]))
    assert abs(d["frame_means"][2] - (100 * 12 + 50 * 4) / 16) < 1e-9
    # interlaced partial frame: store rows in pass order [0, 2, 1, 3],
    # toggle the descriptor's interlace bit; display order must restore
    rows = [[(10 * (r + 1),) * 3] * 2 for r in range(4)]  # display rows
    stored = [rows[0], rows[2], rows[1], rows[3]]
    blob = bytearray(pure.gif_composite_encode(4, 4, [
        (full, 0, 0, 10, 0, None), (stored, 1, 0, 10, 0, None),
    ]))
    i = blob.index(b"\x21\xf9", blob.index(b"\x21\xf9") + 1) + 8
    assert blob[i] == 0x2C
    blob[i + 9] |= 0x40  # interlace flag
    d = pure.decode_gif_frames(bytes(blob))
    # canvas col 1-2, rows 0-3 get 10/20/30/40 top-to-bottom
    exp = (100 * 8 + (10 + 20 + 30 + 40) * 2) / 16
    assert abs(d["frame_means"][1] - exp) < 1e-9, d["frame_means"]
    # region outside the logical screen still rejects
    bad = bytearray(pure.gif_composite_encode(4, 4, [
        (full, 0, 0, 10, 0, None)]))
    at = bad.index(b"\x2c")
    bad[at + 1 : at + 3] = (3).to_bytes(2, "little")
    assert pure.decode_gif_frames(bytes(bad)) is None
    # fuzz totality over a composite stream
    import random

    blob = pure.gif_composite_encode(4, 4, [
        (full, 0, 0, 10, 0, None), (holed, 1, 1, 10, 2, T)])
    rng = random.Random(3)
    for cut in range(0, len(blob), 5):
        pure.decode_gif_frames(blob[:cut])
    for _ in range(600):
        bb = bytearray(blob)
        for _ in range(rng.randint(1, 5)):
            bb[rng.randrange(len(bb))] ^= 1 << rng.randrange(8)
        pure.decode_gif_frames(bytes(bb))


def test_gif_animation_roundtrip_and_subset_rule():
    """Round 5: animated GIF clip decode — GCE delay chain,
    sample-budgeted LZW on the fast path; round 8 upgraded partial
    frames from refusal to full compositing (see
    test_gif_full_compositing)."""
    frames = [[[(40 + i,) * 3] * 12 for _ in range(8)] for i in range(5)]
    gif = pure.gif_animate_encode(frames, delays_cs=[5] * 5)
    d = pure.decode_gif_frames(gif)
    assert d is not None
    assert d["n_frames"] == 5 and d["width"] == 12 and d["height"] == 8
    assert d["frame_means"] == [40.0, 41.0, 42.0, 43.0, 44.0]
    assert abs(d["duration_s"] - 0.25) < 1e-12 and abs(d["fps"] - 20.0) < 1e-12
    # the single-frame decoder still reads frame 0
    assert pure.decode_gif(gif)["width"] == 12
    # over-budget animations sample first and last
    many = pure.gif_animate_encode(
        [[[(i % 200,) * 3] * 6 for _ in range(6)] for i in range(20)]
    )
    d = pure.decode_gif_frames(many)
    assert d["n_frames"] == 20
    assert len(d["sampled_frames"]) == pure.VIDEO_SAMPLE_FRAMES
    assert d["frame_means"][0] == 0.0 and d["frame_means"][-1] == 19.0
    # shrinking a descriptor under its LZW payload is a DATA/region
    # mismatch and still rejects (real partial frames — whose LZW
    # matches the region — composite; see test_gif_full_compositing)
    partial = bytearray(gif)
    # the first image descriptor sits right after the first GCE (8 bytes)
    i = partial.index(b"\x21\xf9") + 8
    assert partial[i] == 0x2C
    partial[i + 5 : i + 7] = (6).to_bytes(2, "little")
    assert pure.decode_gif_frames(bytes(partial)) is None
    # hostility
    import random

    rng = random.Random(7)
    for cut in range(0, len(gif), 9):
        r = pure.decode_gif_frames(gif[:cut])
        assert r is None or r["n_frames"] >= 1
    for _ in range(80):
        b = bytearray(gif)
        b[rng.randrange(len(b))] ^= 0xFF
        r = pure.decode_gif_frames(bytes(b))
        assert r is None or isinstance(r, dict)
    assert pure.decode_gif_frames(None) is None


def test_tiff_compressions_roundtrip():
    """Round 5: LZW (with the early code-width change), Deflate, and
    PackBits TIFF strips — with and without the horizontal predictor —
    decode to the exact uncompressed pixels."""
    import random

    rng = random.Random(12)
    rows = [
        [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
         for _ in range(40)]
        for _ in range(30)
    ]
    base = pure.decode_tiff(pure.tiff_encode(rows))
    assert base is not None
    for comp in (1, 5, 8, 32773):
        for pred in (1, 2):
            d = pure.decode_tiff(
                pure.tiff_encode(rows, compression=comp, predictor=pred)
            )
            assert d is not None, (comp, pred)
            assert bytes(d["pixels"]) == bytes(base["pixels"]), (comp, pred)
    # LZW raw stream: width transitions + the 4094-entry table reset
    data = bytes(rng.randrange(256) for _ in range(40000))
    assert bytes(pure._tiff_lzw_decode(pure._tiff_lzw_encode(data), len(data))) == data
    pat = b"abcabcdeffedxyz" * 4000
    assert bytes(pure._tiff_lzw_decode(pure._tiff_lzw_encode(pat), len(pat))) == pat
    # hostility on a compressed+predicted file
    t = pure.tiff_encode(rows, compression=5, predictor=2)
    for cut in range(0, len(t), 31):
        r = pure.decode_tiff(t[:cut])
        assert r is None or r["width"] == 40
    for _ in range(80):
        b = bytearray(t)
        b[rng.randrange(len(b))] ^= 0xFF
        r = pure.decode_tiff(bytes(b))
        assert r is None or isinstance(r, dict)


def test_mp4_multi_trak_codecs_and_malformed_stsc():
    """Round-5 review: a leading audio trak must not hide the MJPEG
    video trak (mp4:codecs lists every trak), and a 0-based stsc
    first_chunk (chunks are 1-based) refuses instead of indexing
    stco[-1]."""
    def box(t, body):
        return (len(body) + 8).to_bytes(4, "big") + t + body

    mp4 = pure.mp4_mjpeg_encode([_gray_jpeg(50)])
    stsd_a = box(
        b"stsd",
        b"\x00" * 4 + (1).to_bytes(4, "big") + box(b"mp4a", b"\x00" * 28),
    )
    trak_a = box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", stsd_a))))
    i = mp4.find(b"moov")
    moov_size = int.from_bytes(mp4[i - 4 : i], "big")
    hybrid = mp4[: i - 4] + box(b"moov", trak_a + mp4[i + 4 : i - 4 + moov_size])
    m = pure.extract_metadata(hybrid)
    assert m["mp4:codec"] == "mp4a" and m["mp4:codecs"] == "mp4a,jpeg"
    d = pure.decode_mp4_mjpeg(hybrid)
    assert d is not None and d["n_frames"] == 1
    # malformed sample-to-chunk table
    j = mp4.find(b"stsc")
    bad = bytearray(mp4)
    bad[j + 12 : j + 16] = (0).to_bytes(4, "big")
    assert pure.decode_mp4_mjpeg(bytes(bad)) is None
    # encoder refuses mismatched delay lists
    import pytest as _pytest

    with _pytest.raises(ValueError, match="delays"):
        pure.gif_animate_encode([[[(1, 1, 1)]]] * 3, delays_cs=[4])


# ---- MPEG-1 Layer III (mp3) decode (round 6) ----

def test_mp3_roundtrip_matches_closed_form():
    """decode_mp3 on the single-line tone fixture must equal the
    IMDCT+synthesis closed form to float64 exactness — the same identity
    the SQL oracle of mp3_features recomputes independently (granule 0 is
    digital silence, granule 1 one dyadic spectral line in subband 0)."""
    import numpy as np

    t = np.arange(18)
    j = np.arange(32)
    w_long = np.sin(np.pi * (2 * t + 1) / 72.0)
    A = np.cos(np.pi / 128.0 * (2 * j + 33))
    B = np.cos(np.pi / 128.0 * (2 * j + 97))
    w64 = np.sin(np.pi * (2 * np.arange(64) + 1) / 128.0)
    for k, e in [(0, 0), (1, 2), (3, 1), (5, 3), (7, 2)]:
        blob = pure.mp3_tone_encode(k, e)
        assert pure.sniff_bytes(blob)["content_type"] == "mp3"
        assert pure.extract_metadata(blob)["mp3:l3_subset"] == "1"
        d = pure.decode_mp3(blob)
        assert d is not None and d["n_samples"] == 1152
        v = 2.0 ** -e
        h = w_long * (np.cos(np.pi / 72.0 * ((2 * t + 19) * (2 * k + 1))) * v)
        pcm = np.zeros(1152)
        for ti in range(18):
            hp = h[ti - 1] if ti > 0 else 0.0
            pcm[576 + 32 * ti : 608 + 32 * ti] = (
                (h[ti] * A) * w64[:32] + (hp * B) * w64[32:]
            ) / 16.0
        assert d["rms"] == float(np.sqrt(np.mean(pcm * pcm)))
        assert d["peak"] == float(np.max(np.abs(pcm)))
        pos = pcm >= 0
        assert d["zero_crossings"] == int(np.count_nonzero(pos[1:] != pos[:-1]))
        assert d["rate"] == 32000 and d["n_channels"] == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bin_k"):
        pure.mp3_tone_encode(8, 1)


def test_mp3_subset_gate_and_silence():
    """All-zero Layer III payloads are legitimate digital silence and now
    decode; joint stereo stays outside the documented subset (None +
    mp3:l3_subset='0') so the stage keeps it in the honest stubbed tier."""
    sil = pure.mp3_envelope_encode(3, 128, 44100)
    d = pure.decode_mp3(sil)
    assert d is not None and d["rms"] == 0.0 and d["peak"] == 0.0
    assert d["n_samples"] == 3 * 1152 and d["n_channels"] == 2
    assert pure.extract_metadata(sil)["mp3:l3_subset"] == "1"
    js = pure.mp3_envelope_encode(3, joint_stereo=True)
    assert pure.decode_mp3(js) is None
    assert pure.extract_metadata(js)["mp3:l3_subset"] == "0"
    # ID3v2 tag is skipped before the first frame sync
    tagged = pure.mp3_envelope_encode(2, title="T", artist="A")
    assert pure.decode_mp3(tagged) is not None


def test_mp3_total_on_hostile_bytes():
    """decode_mp3 must never raise: truncations at every byte, random
    byte flips, random bytes, and a bitrate/samplerate mix mid-stream all
    return None or a valid dict."""
    import random

    blob = pure.mp3_tone_encode(4, 2) + pure.mp3_tone_encode(2, 1)
    for cut in range(0, len(blob), 3):
        r = pure.decode_mp3(blob[:cut])
        assert r is None or r["n_samples"] > 0
    rng = random.Random(11)
    for _ in range(80):
        b = bytearray(blob)
        b[rng.randrange(len(b))] ^= 0xFF
        r = pure.decode_mp3(bytes(b))
        assert r is None or isinstance(r, dict)
    assert pure.decode_mp3(None) is None
    assert pure.decode_mp3(b"") is None
    assert pure.decode_mp3(bytes(rng.randrange(256) for _ in range(400))) is None
    # a frame whose (rate, channels) disagrees with the first is rejected
    mixed = pure.mp3_tone_encode(1, 1, 32000, 32) + pure.mp3_envelope_encode(
        1, 128, 44100
    )
    r = pure.decode_mp3(mixed)
    assert r is None or r["n_samples"] == 1152


def test_adts_envelope_walk():
    """Round 7 (VERDICT r6 #7): AAC ADTS frame walk — profile, rate,
    channels, frame count, exact-ms duration."""
    b = pure.adts_encode(6, 1, 5, 2)  # LC, 32 kHz, stereo
    assert pure.sniff_bytes(b)["content_type"] == "aac"
    m = pure.extract_metadata(b)
    assert m["aac:kind"] == "adts"
    assert m["aac:mpeg_version"] == "4"
    assert m["aac:profile"] == "LC"
    assert m["aac:sample_rate"] == "32000"
    assert m["aac:channels"] == "2"
    assert m["aac:n_frames"] == "6"
    assert m["aac:duration_s"] == "0.192"
    # MPEG-2 flavor + every profile name
    for prof, name in enumerate(("Main", "LC", "SSR", "LTP")):
        m2 = pure._parse_adts_meta(pure.adts_encode(2, prof, 8, 1, mpeg2=1))
        assert m2["aac:profile"] == name
        assert m2["aac:mpeg_version"] == "2"
    # a trailing parameter change stops the walk but keeps the prefix
    mixed = pure.adts_encode(3, 1, 5, 2) + pure.adts_encode(2, 2, 8, 1)
    assert pure._parse_adts_meta(mixed)["aac:n_frames"] == "3"
    # ADTS must never be mistaken for mp3 (layer 00 is reserved there)
    assert pure._parse_mp3_meta(b) == {}


def test_adts_hostile_total():
    import random

    rnd = random.Random(41)
    base = pure.adts_encode(5, 0, 2, 1)
    for cut in range(len(base)):
        pure._parse_adts_meta(base[:cut])
        pure.sniff_bytes(base[:cut])
    for _ in range(300):
        b = bytearray(base)
        for _ in range(4):
            b[rnd.randrange(len(b))] ^= 1 << rnd.randrange(8)
        pure._parse_adts_meta(bytes(b))
        pure.extract_metadata(bytes(b))


def test_shingle_paths_warning_free():
    """Round 7: the hot shingle/minhash paths dropped their per-doc
    np.errstate contexts because every op is array-valued (numpy integer
    ARRAY ops wrap silently; only scalar ops warn). This pin turns any
    warning in those paths into a failure so a future scalar-op
    regression is caught."""
    import warnings

    toks = ("the quick brown fox jumps over the lazy dog " * 30).split()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        w = pure._shingle_windows(toks, 5)
        assert w.size == len(toks) - 4
        sig = pure._minhash_shingles(w)
        assert len(sig) == 64 and any(sig)
        assert pure._shingle_windows(["solo"], 5).size == 1
        assert pure._minhash_shingles([]) == [0] * 64


def test_minhash_batch_equals_per_doc(monkeypatch):
    """Round 7: the batched minhash (flat mix + minimum.reduceat) must be
    bit-identical to the per-doc form, including across chunk-flush
    boundaries, None (no-text) pass-through, and empty-window docs."""
    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "",  # -> None sentinel
        "short",  # < k tokens -> single joined-window hash
        "completely different content about spark shuffle partitioning",
        "!!! ...",  # tokenizes to nothing -> empty windows
    ] * 7
    windows = []
    for t in texts:
        if not t:
            windows.append(None)
        else:
            windows.append(pure._shingle_windows(pure.tokenize(t), 5))
    monkeypatch.setattr(pure, "_MINHASH_BATCH_CAP", 8)  # force many flushes
    got = pure._minhash_windows_batch(windows)
    for w, sig in zip(windows, got):
        if w is None:
            assert sig is None
        else:
            assert sig == pure._minhash_shingles(w)


def _id3v1_encode(
    title: str, artist: str, album: str = "", year: str = "",
    track: int = 0,
) -> bytes:
    """Fixture/writer for the 128-byte ID3v1(.1) trailer."""
    def pad(s: str, n: int) -> bytes:
        return s.encode("latin-1")[:n].ljust(n, b"\x00")

    blk = b"TAG" + pad(title, 30) + pad(artist, 30) + pad(album, 30)
    blk += pad(year, 4)
    if track:
        blk += pad("", 28) + b"\x00" + bytes([track])
    else:
        blk += pad("", 30)
    blk += b"\xff"  # genre: none
    assert len(blk) == 128
    return blk


def test_mp3_xing_and_id3v1_envelope():
    """Round 7: Xing/Info VBR header + ID3v1 trailer join the mp3
    envelope surface."""
    base = pure.mp3_tone_encode(3, 1)  # mono L3 frame, 32 kHz
    # plant an Xing header right after the mono side info (4 + 17)
    b = bytearray(base)
    off = 4 + 17
    b[off : off + 4] = b"Xing"
    b[off + 4 : off + 8] = (3).to_bytes(4, "big")  # frames + bytes
    b[off + 8 : off + 12] = (1234).to_bytes(4, "big")
    b[off + 12 : off + 16] = (567890).to_bytes(4, "big")
    m = pure._parse_mp3_meta(bytes(b))
    assert m["mp3:xing"] == "vbr"
    assert m["mp3:xing_frames"] == "1234"
    assert m["mp3:xing_bytes"] == "567890"
    b[off : off + 4] = b"Info"
    assert pure._parse_mp3_meta(bytes(b))["mp3:xing"] == "cbr"
    # no header -> no keys
    assert "mp3:xing" not in pure._parse_mp3_meta(base)
    # ID3v1(.1) trailer
    tagged = base + _id3v1_encode("My Song", "An Artist", "Album",
                                  "1999", track=7)
    m = pure._parse_mp3_meta(tagged)
    assert m["id3v1:title"] == "My Song"
    assert m["id3v1:artist"] == "An Artist"
    assert m["id3v1:album"] == "Album"
    assert m["id3v1:year"] == "1999"
    assert m["id3v1:track"] == "7"
    # extract_metadata routes through the same walk
    assert pure.extract_metadata(tagged)["id3v1:title"] == "My Song"


def test_mp3_xing_id3v1_hostile():
    import random

    rnd = random.Random(77)
    base = pure.mp3_tone_encode(2, 1) + _id3v1_encode("t", "a")
    for _ in range(300):
        b = bytearray(base)
        for _ in range(5):
            b[rnd.randrange(len(b))] ^= 1 << rnd.randrange(8)
        pure._parse_mp3_meta(bytes(b))
    for cut in range(0, len(base), 11):
        pure._parse_mp3_meta(base[:cut])


def test_gzip_member_walk():
    """Round 7: concatenated gzip members (the web-archive shape) are
    counted with their total decoded size; truncated tails stop the
    walk without dropping the header fields."""
    import gzip as _gz

    two = _gz.compress(b"hello ") + _gz.compress(b"world")
    m = pure._parse_gzip_meta(two)
    assert m["gzip:members"] == "2"
    assert m["gzip:decoded_bytes"] == "11"
    one = _gz.compress(b"payload" * 10)
    m1 = pure._parse_gzip_meta(one)
    assert m1["gzip:members"] == "1"
    assert m1["gzip:decoded_bytes"] == "70"
    assert m1["gzip:isize"] == "70"
    # truncated second member: first still counted
    cut = pure._parse_gzip_meta(two[:-3])
    assert cut.get("gzip:members") == "1"
    assert cut["gzip:decoded_bytes"] == "6"
    # garbage after a valid member stops the walk silently
    g = pure._parse_gzip_meta(_gz.compress(b"x") + b"\x1f\x8b\x08garbage!!!!!!!!!!")
    assert g["gzip:members"] == "1"


def test_gzip_walk_total_budget(monkeypatch):
    """Round-8 ADVICE: GZIP_WALK_MAX_BYTES is a TOTAL inflation budget
    across the member walk, not per-member — a small hostile
    concatenation of high-ratio members can no longer force
    members x cap worth of zlib work in the hot extract_metadata path."""
    import gzip as _gz

    member = _gz.compress(b"A" * 1000)  # ~1000:1-ish ratio member
    blob = member * 10
    monkeypatch.setattr(pure, "GZIP_WALK_MAX_BYTES", 2500)
    m = pure._parse_gzip_meta(blob)
    # members 1+2 fit (2000 <= 2500); member 3 would need 1000 against
    # the remaining 500 and stops the walk — total inflation is bounded
    # by the budget + one partial member, never members x cap
    assert m["gzip:members"] == "2"
    assert m["gzip:decoded_bytes"] == "2000"
    # exact-budget walk decodes fully
    monkeypatch.setattr(pure, "GZIP_WALK_MAX_BYTES", 10_000)
    full = pure._parse_gzip_meta(blob)
    assert full["gzip:members"] == "10"
    assert full["gzip:decoded_bytes"] == "10000"


def test_caption_and_playlist_meta():
    v = pure.vtt_encode([(0, 2500, "hello"), (3000, 61234, "world")])
    m = pure.extract_metadata(v)
    assert m["caption:format"] == "vtt" and m["caption:n_cues"] == "2"
    assert m["caption:start_s"] == "0.000"
    assert m["caption:end_s"] == "61.234"
    s = pure.vtt_encode([(500, 1500, "a"), (2000, 3723456, "b")], fmt="srt")
    ms = pure.extract_metadata(s)
    assert ms["caption:format"] == "srt" and ms["caption:end_s"] == "3723.456"
    master = pure.m3u8_encode(variants=[(800000, "lo.m3u8"),
                                        (2500000, "hi.m3u8")])
    mm = pure.extract_metadata(master)
    assert mm["m3u8:kind"] == "master" and mm["m3u8:n_variants"] == "2"
    assert mm["m3u8:peak_bandwidth"] == "2500000"
    media = pure.m3u8_encode(segments=[4.0, 4.0, 2.5])
    md = pure.extract_metadata(media)
    assert md["m3u8:kind"] == "media" and md["m3u8:n_segments"] == "3"
    assert md["m3u8:duration_s"] == "10.500"
    # prose with arrows/numbers emits no caption keys
    assert not any(k.startswith("caption")
                   for k in pure.extract_metadata(b"see 1 --> 2 mapping"))
    # BOM'd captions/playlists (common in the wild) still parse
    bom = b"\xef\xbb\xbf"
    assert pure.extract_metadata(bom + v).get("caption:format") == "vtt"
    assert pure.extract_metadata(bom + s).get("caption:format") == "srt"
    assert pure.extract_metadata(bom + media).get("m3u8:kind") == "media"
    # fused parity and truncation totality
    fused = {k: x for k, x in pure.analyze_document(v)["meta"].items()
             if k.startswith("caption:")}
    assert fused == {k: x for k, x in m.items() if k.startswith("caption:")}
    for blob in (v, s, master, media):
        for cut in range(0, len(blob), 13):
            pure.extract_metadata(blob[:cut])


def test_bmp_rle8_roundtrip():
    """BI_RLE8 (round 8): encoded runs, absolute mode, EOL/EOB escapes
    roundtrip through decode_bmp; delta escapes leave skipped pixels at
    index 0; malformed runs reject."""
    import random

    pal = [(i * 3 % 256, i * 5 % 256, i * 7 % 256) for i in range(256)]
    rng = random.Random(11)
    for _ in range(15):
        w, h = rng.randint(1, 40), rng.randint(1, 25)
        rows = []
        for _y in range(h):
            row = []
            while len(row) < w:
                if rng.random() < 0.5:
                    row += [rng.randrange(256)] * min(
                        rng.randint(1, 12), w - len(row))
                else:
                    row += [rng.randrange(256) for _ in range(
                        min(rng.randint(1, 5), w - len(row)))]
            rows.append(row)
        blob = pure.bmp_rle8_encode(rows, pal)
        img = pure.decode_bmp(blob)
        assert img and (img["width"], img["height"]) == (w, h)
        for y in range(h):
            for x in range(w):
                o = (y * w + x) * 3
                assert tuple(img["pixels"][o : o + 3]) == pal[rows[y][x]]
    # delta escape: jump (2, 1) then a run; skipped pixels stay index 0
    base = pure.bmp_rle8_encode([[0] * 6] * 3, pal)
    off = int.from_bytes(base[10:14], "little")
    stream = b"\x00\x02\x02\x01" + b"\x03\x07" + b"\x00\x00" + b"\x00\x01"
    blob = base[:off] + stream
    blob = blob[:2] + (len(blob)).to_bytes(4, "little") + blob[6:]
    img = pure.decode_bmp(blob)
    assert img is not None
    # bottom-up: the delta lands at x=2, y=1-from-bottom = row h-2 = 1
    o = (1 * 6 + 2) * 3
    assert tuple(img["pixels"][o : o + 3]) == pal[7]
    # run past the row end rejects
    bad = base[:off] + b"\x09\x01\x00\x01"  # 9 pixels into a 6-wide row
    bad = bad[:2] + (len(bad)).to_bytes(4, "little") + bad[6:]
    assert pure.decode_bmp(bad) is None
    # truncation totality
    blob = pure.bmp_rle8_encode([[5] * 30] * 10, pal)
    for cut in range(0, len(blob), 7):
        pure.decode_bmp(blob[:cut])


def test_woff_zlib_bomb_capped():
    """A WOFF table whose origLength lies small must not buy a zlib
    bomb: inflation stops at the table budget, never inflate-then-
    check."""
    import time
    import zlib

    bomb = zlib.compress(bytes(8 * 1024 * 1024), 9)
    hdr = (
        b"wOFF" + b"\x00\x01\x00\x00" + (0).to_bytes(4, "big")
        + (1).to_bytes(2, "big") + bytes(2) + (28).to_bytes(4, "big")
        + bytes(24)
    )
    entry = (
        b"head" + (64).to_bytes(4, "big") + len(bomb).to_bytes(4, "big")
        + (54).to_bytes(4, "big") + bytes(4)
    )
    blob = hdr + entry + bytes(64 - len(hdr) - len(entry)) + bomb
    t0 = time.perf_counter()
    m = pure.extract_metadata(blob)
    assert time.perf_counter() - t0 < 1.0
    assert "font:units_per_em" not in m


def test_docx_epub_extraction():
    """Round 8: OOXML/EPUB are first-class document types through the
    flagship extract cascade (reference document mode M6)."""
    paras = [f"Paragraph {i} of document 7 has exactly ten words total."
             for i in range(3)]
    blob = pure.docx_encode(paras, title="Doc 7")
    ex = pure.extract_main_text(blob)
    assert ex.status == "success" and ex.doc_type == "docx"
    assert ex.text == "\n\n".join(paras) and ex.title == "Doc 7"
    # entities, tabs and breaks
    rich = pure.docx_encode(
        ['A <b> & "q" paragraph with more than eight words here.'])
    assert '<b> & "q"' in pure.extract_main_text(rich).text
    chs = [[f"Chapter {c} paragraph {p} holds exactly nine words here."
            for p in range(2)] for c in range(2)]
    eb = pure.epub_encode(chs, title="Book 7")
    exe = pure.extract_main_text(eb)
    assert exe.status == "success" and exe.doc_type == "epub"
    assert exe.title == "Book 7"
    assert len(exe.text.split("\n\n")) == 4
    # non-document archives keep the explicit skip
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "x")
    exz = pure.extract_main_text(buf.getvalue())
    assert exz.status == "skipped" and exz.doc_type == "zip"
    # fused analyzer routes identically (same extract_main_text call)
    a = pure.analyze_document(blob)
    assert a["extract"].text == ex.text and a["extract"].doc_type == "docx"
    # hostility: truncation never raises
    for cut in range(0, len(blob), 17):
        pure.extract_main_text(blob[:cut])
    for cut in range(0, len(eb), 23):
        pure.extract_main_text(eb[:cut])


def test_epub_routing_and_budget():
    """Round 9 (ADVICE r8): EPUB routing demands EPUB evidence, and
    chapter inflation is bounded by a TOTAL budget, not only per-member."""
    import io
    import zipfile

    # a zip with a bogus 'mimetype' member is NOT routed to the EPUB
    # extractor any more
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("mimetype", "text/plain")
        z.writestr("a.html", "<p>not an epub chapter</p>")
    ex = pure.extract_main_text(buf.getvalue())
    assert ex.status == "skipped" and ex.doc_type == "zip"
    # container.xml alone still routes (spec allows mimetype-less readers)
    buf2 = io.BytesIO()
    with zipfile.ZipFile(buf2, "w") as z:
        z.writestr("META-INF/container.xml", "<container/>")
        z.writestr(
            "c1.xhtml",
            "<html><body><p>Nine words of chapter text sit right here."
            "</p></body></html>",
        )
    assert pure.extract_main_text(buf2.getvalue()).doc_type == "epub"
    # hostile: many highly-compressible chapters stop at the TOTAL budget
    big = "<html><body><p>" + "a b c d e f g h. " * 4000 + "</p></body></html>"
    buf3 = io.BytesIO()
    with zipfile.ZipFile(buf3, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("mimetype", "application/epub+zip")
        for i in range(40):
            z.writestr(f"ch{i:02d}.xhtml", big)
    out = pure.extract_epub_text(buf3.getvalue())
    assert len(out.text) <= pure.EPUB_WALK_MAX_BYTES + (1 << 16)


def test_zip_mimetype_bomb_read_is_bounded():
    """A deflated 'mimetype' member at >= 1000:1 is read by its 64-byte
    prefix only: neither EPUB routing nor the zip metadata walk inflates
    the whole member (ADVICE: z.read("mimetype")[:64])."""
    import io
    import tracemalloc
    import zipfile

    member = b"application/epub+zip" + b" " * (32 << 20)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("mimetype", member)
    data = buf.getvalue()
    del member
    assert (32 << 20) // len(data) >= 1000

    tracemalloc.start()
    try:
        meta = pure.extract_metadata(data)
        ex = pure.extract_main_text(data)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 4 << 20, peak
    assert meta["zip:valid"] == "true" and meta["zip:subtype"] == "epub"
    assert ex.doc_type == "epub"


def test_apng_frame_inflate_is_bounded():
    """A 1x1 APNG frame whose IDAT inflates to 64 MiB is inflated only up
    to the frame's fh * (fw * ch + 1) scanline bytes, as decode_png's
    IDAT is: the clip still decodes and the peak stays small."""
    import tracemalloc

    def chunk(ctype: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(ctype + body)
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    bomb = zlib.compress(b"\x00" * (64 << 20), 9)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
        + chunk(b"acTL", struct.pack(">II", 1, 0))
        + chunk(b"fcTL", struct.pack(">IIIIIHHBB", 0, 1, 1, 0, 0, 1, 10, 0, 0))
        + chunk(b"IDAT", bomb)
        + chunk(b"IEND", b"")
    )
    assert (64 << 20) // len(data) >= 1000

    tracemalloc.start()
    try:
        clip = pure.decode_apng_frames(data)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 4 << 20, peak
    assert clip is not None and clip["n_frames"] == 1
    assert clip["frame_means"] == [0.0]


def test_woff_rejects_incomplete_zlib_table():
    """Round 9 (ADVICE r8): a compressed WOFF table whose zlib stream is
    truncated (or disagrees with origLength) is rejected, not parsed with
    partial bytes."""
    import zlib as _z

    payload = b"\x00\x01\x02\x03" * 64
    comp = _z.compress(payload)
    trunc = comp[: len(comp) - 4]

    def woff(table_comp: bytes, orig_len: int) -> bytes:
        off = 44 + 20
        head = (
            b"wOFF" + b"\x00\x01\x00\x00"
            + (off + len(table_comp)).to_bytes(4, "big")
            + (1).to_bytes(2, "big") + b"\x00\x00"
            + b"\x00" * (44 - 16)
        )
        entry = (
            b"head" + off.to_bytes(4, "big")
            + len(table_comp).to_bytes(4, "big")
            + orig_len.to_bytes(4, "big") + b"\x00" * 4
        )
        return head + entry + table_comp

    assert b"head" in pure._woff_tables(woff(comp, len(payload)))
    assert b"head" not in pure._woff_tables(woff(trunc, len(payload)))
    assert b"head" not in pure._woff_tables(woff(comp, len(payload) + 8))


def test_png_anim_duration_numeric_accumulation():
    """Round 9 (ADVICE r8): fcTL delays accumulate in a numeric local —
    den=3 frames must not compound per-frame string-rounding error."""
    import struct as _s
    import zlib as _z

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + _z.crc32(ctype + body).to_bytes(4, "big")
        )

    n_frames = 9
    png = b"\x89PNG\r\n\x1a\n" + chunk(
        b"IHDR", _s.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    ) + chunk(b"acTL", _s.pack(">II", n_frames, 0))
    for i in range(n_frames):
        fctl = _s.pack(">IIIIIHHBB", i, 1, 1, 0, 0, 1, 3, 0, 0)
        png += chunk(b"fcTL", fctl)
    png += chunk(b"IEND", b"")
    meta = pure._parse_png_meta(png)
    # 9 * (1/3) = 3.000 exactly; the old string-reparse form accumulated
    # 0.333 + 0.333 + ... = 2.997
    assert meta["png:anim_duration_s"] == "3.000"


def test_asset_magics_reject_prose():
    """ASCII-viable asset magics demand structure (the ID3/bare-mp3
    rule): OTTO-leading prose and text carrying 'ustar' at offset 257
    stay text, in both the sniffer and the metadata walk."""
    prose = b"OTTO is a dog. " * 40
    assert pure.sniff_bytes(prose)["content_type"] != "font"
    assert not any(k.startswith("font:")
                   for k in pure.extract_metadata(prose))
    txt = b"x" * 257 + b"ustar" + b"y" * 300
    assert pure.sniff_bytes(txt)["content_type"] != "tar"
    assert "tar:n_members" not in pure.extract_metadata(txt)
