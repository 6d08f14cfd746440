"""Property-based tests (hypothesis) for the pure core — the reference has
no property tests (SURVEY.md §5.1); these pin the invariants the 100-TB run
depends on: total functions (never raise on arbitrary bytes), determinism,
and bounded outputs."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from fa_spark import pure

BYTES = st.binary(max_size=4096)
TEXT = st.text(max_size=2048)


@settings(max_examples=200, deadline=None)
@given(BYTES)
def test_extract_never_raises_and_is_deterministic(data):
    r1 = pure.extract_main_text(data)
    r2 = pure.extract_main_text(data)
    assert r1 == r2
    assert isinstance(r1.text, str)
    assert r1.status in ("success", "success_lenient", "empty", "skipped")


@settings(max_examples=200, deadline=None)
@given(BYTES)
def test_pdf_extract_total(data):
    """The PDF layout parser is total over arbitrary bytes forced down the
    PDF route (magic prefix + fuzz): never raises, deterministic, bounded."""
    blob = b"%PDF-1.4\n" + data
    r1 = pure.extract_pdf_text(blob)
    r2 = pure.extract_pdf_text(blob)
    assert r1 == r2
    assert r1.doc_type == "pdf"
    assert r1.status in ("success", "empty")
    assert len(r1.text) <= pure.PDF_MAX_TEXT


@settings(max_examples=100, deadline=None)
@given(BYTES)
def test_pdf_stream_fuzz_total(data):
    """Fuzz the content-stream interpreter directly: unbalanced parens,
    stray escapes, half-open hex strings — all must terminate cleanly."""
    blob = (
        b"%PDF-1.4\n1 0 obj << /Length " + str(len(data)).encode()
        + b" >>\nstream\n" + data + b"\nendstream\n%%EOF"
    )
    r = pure.extract_pdf_text(blob)
    assert r.doc_type == "pdf" and isinstance(r.text, str)


@settings(max_examples=200, deadline=None)
@given(BYTES)
def test_sniff_total(data):
    sn = pure.sniff_bytes(data)
    assert isinstance(sn["content_type"], str)
    assert len(sn["embedded"]) <= pure.MAX_EMBEDDED


@settings(max_examples=200, deadline=None)
@given(BYTES)
def test_metadata_total(data):
    m = pure.extract_metadata(data)
    assert all(isinstance(k, str) and isinstance(v, str) for k, v in m.items())


@settings(max_examples=200, deadline=None)
@given(BYTES)
def test_decode_total(data):
    text, charset = pure.decode_bytes(data)
    assert isinstance(text, str) and isinstance(charset, str)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_slug_bounds(desc):
    name = pure.generate_filename(desc)
    assert pure.MIN_SLUG_LEN <= len(name) <= pure.MAX_SLUG_LEN
    assert name == name.lower()
    assert " " not in name


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_minhash_shape_and_determinism(text):
    s1 = pure.minhash_signature(text, 32)
    assert len(s1) == 32
    assert s1 == pure.minhash_signature(text, 32)


@settings(max_examples=100, deadline=None)
@given(TEXT)
def test_minhash_self_similarity(text):
    """A text is always estimated identical to itself."""
    s = pure.minhash_signature(text)
    assert s == pure.minhash_signature(text)
    if pure.tokenize(text):
        assert all(isinstance(v, int) for v in s)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_simhash_hamming_bounds(text):
    h = pure.simhash64(text)
    assert 0 <= h < (1 << 64)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_quality_ratios_bounded(text):
    q = pure.quality_score(text)
    for key in ("uniq_ratio", "alpha_ratio", "digit_ratio", "stopword_ratio"):
        assert 0.0 <= q[key] <= 1.0
    assert q["n_chars"] == len(text)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_lang_in_domain(text):
    assert pure.detect_lang(text) in ("en", "de", "fr", "und")


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=1024))
def test_json_extraction_total(text):
    out = pure.extract_json_from_text(text)
    assert out is None or isinstance(out, dict)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=12), max_size=50))
def test_clean_tags_invariants(tags):
    out = pure.clean_tags(tags)
    assert len(out) <= pure.TOP_K_TAGS
    assert all(t == t.lower() and len(t) > 2 for t in out)
    assert all(t not in pure.GENERIC_TAGS for t in out)
    assert len(set(out)) == len(out)


@settings(max_examples=100, deadline=None)
@given(BYTES)
def test_wav_decode_total(data):
    """decode_wav is total over arbitrary RIFF-prefixed bytes."""
    r = pure.decode_wav(b"RIFF\x24\x00\x00\x00WAVE" + data)
    assert r is None or r["n_samples"] > 0


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from([b"LIST", b"data", b"fact", b"junk"]),
            st.integers(min_value=0, max_value=200),  # CLAIMED size
            st.binary(max_size=64),  # actual body (may be shorter)
        ),
        max_size=4,
    )
)
def test_wav_chunk_soup_total(chunks):
    """Structured fuzz: a VALID fmt chunk followed by chunks whose claimed
    sizes lie about the available bytes — the class that crashed decode_wav
    in round-2 review (bare RuntimeError from wave's Chunk.skip, ValueError
    from odd-length PCM slices). Must return a result or None, never raise."""
    import struct

    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    body = b"fmt " + struct.pack("<I", 16) + fmt
    for typ, claimed, payload in chunks:
        body += typ + struct.pack("<I", claimed) + payload
    blob = b"RIFF" + struct.pack("<I", len(body) + 4) + b"WAVE" + body
    r = pure.decode_wav(blob)
    assert r is None or r["n_samples"] > 0


@settings(max_examples=100, deadline=None)
@given(BYTES)
def test_y4m_decode_total(data):
    """decode_y4m is total over arbitrary bytes after the magic."""
    r = pure.decode_y4m(b"YUV4MPEG2 " + data)
    assert r is None or r["n_frames"] > 0


# ---------------------------------------------------------------------------
# fast-path HTML scanner equivalence (round 3): the strict-subset scanner
# must produce EXACTLY the stdlib parser's extraction — on the subset by
# construction, elsewhere by bailing to the stdlib. Fuzz both regimes.
# ---------------------------------------------------------------------------

_HTML_FRAGMENTS = st.lists(
    st.one_of(
        st.text(alphabet="abcdefg <>&;#xX01279\"'=!/-\n\t", max_size=24),
        st.sampled_from([
            "<p>", "</p>", "<div class='x'>", "</div>", "<a href=\"u\">",
            "</a>", "<br/>", "<br>", "<hr/>", "<title>", "</title>",
            "<script>var x = '<p>hi</p>';</script>", "<script>a<b</script >",
            "<style>p { color: red }</style>", "<nav>", "</nav>",
            "<meta name=\"description\" content=\"d&amp;d\"/>",
            "<meta property='og:title' content='t'>", "<!-- c -->",
            "<!-- tricky --  > after -->", "<!doctype html>", "<?php ?>",
            "<h1>", "</h1>", "&amp;", "&#65;", "&#x41;", "&notareal;",
            "&amp", "a < b", "x <3 y", "<", ">", "</ div>", "<my-tag>",
            "<div foo=bar baz>", "<div a='1' a='2'>", "<img src=x/>",
            "<ul><li>one</li><li>two</li></ul>", "<form>", "</form>",
            "<SCRIPT>UPPER</SCRIPT>", "<TiTlE>mixed</TiTlE>",
            "<div", "</div", "<!--unterminated", "<script>never closed",
            # self-closing rawtext elements do NOT enter CDATA mode in the
            # stdlib (set_cdata_mode only fires on the open-tag branch)
            "<script/>not raw</script>", "<style/>x", "<script src=u/>",
            "<!doctype html PUBLIC \"quoted\">", "<![CDATA[x]]>",
        ]),
    ),
    max_size=30,
)


@settings(max_examples=300, deadline=None)
@given(_HTML_FRAGMENTS)
def test_fast_scanner_matches_stdlib_extraction(parts):
    html = "".join(parts)
    fast_blocks, fast_p = pure.extract_blocks(html)
    std_blocks, std_p = pure.extract_blocks(html, _force_stdlib=True)
    assert fast_blocks == std_blocks
    assert "".join(fast_p.title_parts) == "".join(std_p.title_parts)
    assert fast_p.meta == std_p.meta
    assert fast_p.n_anchors == std_p.n_anchors
    assert fast_p.n_form_tags == std_p.n_form_tags


@settings(max_examples=150, deadline=None)
@given(BYTES)
def test_fast_scanner_matches_stdlib_on_arbitrary_bytes(data):
    r_fast = pure.extract_main_text(data)
    text = data.decode("utf-8", errors="replace")
    fast_blocks, _ = pure.extract_blocks(text)
    std_blocks, _ = pure.extract_blocks(text, _force_stdlib=True)
    assert fast_blocks == std_blocks
    assert r_fast == pure.extract_main_text(data)  # still deterministic


@settings(max_examples=150, deadline=None)
@given(st.integers(min_value=0, max_value=200), BYTES)
def test_metadata_total_over_truncated_media(cut, tail):
    """Regression (round 3): a truncated PNG declared 13 IHDR bytes but
    carried fewer and crashed the metadata walker. Fuzz every media prefix
    with arbitrary tails through extract_metadata."""
    png = pure.png_encode([[(1, 2, 3)] * 4 for _ in range(4)])
    jpg = pure.jpeg_encode([[7] * 8 for _ in range(8)], gray=True)
    for blob in (png, jpg):
        m = pure.extract_metadata(blob[: cut % (len(blob) + 1)] + tail)
        assert isinstance(m, dict)


@settings(max_examples=150, deadline=None)
@given(BYTES)
@example(b"\x00asm text")
def test_analyze_document_total(data):
    """The FUSED analyzer entry point (what every Arrow batch runs) is
    total and deterministic over arbitrary bytes, and equals the
    single-document functions field for field."""
    d1 = pure.analyze_document(data)
    d2 = pure.analyze_document(data)
    assert d1 == d2
    assert d1["extract"].status in ("success", "success_lenient", "empty", "skipped")
    assert isinstance(d1["sniff"]["content_type"], str)
    assert isinstance(d1["minhash"], list) and isinstance(d1["simhash"], int)
    assert d1["meta"] == pure.extract_metadata(data)
    assert vars(d1["extract"]) == vars(pure.extract_main_text(data))
    text = d1["extract"].text
    if text:
        assert d1["detected_lang"] == pure.detect_lang(text)
        assert d1["simhash"] == pure.simhash64(text)
        assert d1["minhash"] == pure.minhash_signature(text)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=-32768, max_value=32767),
                min_size=1, max_size=5000),
       st.sampled_from([8000, 16000, 44100, 48000]))
def test_flac_roundtrip_lossless_property(samples, rate):
    """Round 4: FLAC encode->decode is lossless for ANY int16 signal —
    peak/rms/zero-crossings equal the direct computation."""
    d = pure.decode_flac(pure.flac_encode(samples, rate))
    assert d is not None
    assert d["n_samples"] == len(samples)
    assert d["rate"] == rate
    assert d["peak"] == max(abs(v) for v in samples)
    exp_sq = sum(v * v for v in samples) / len(samples)
    assert abs(d["rms"] ** 2 - exp_sq) < 1e-6 * max(exp_sq, 1)


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=1, max_value=40),
       st.integers(min_value=1, max_value=40),
       st.integers(min_value=0, max_value=2**32 - 1))
def test_progressive_equals_baseline_property(w, h, seed):
    """Round 4: progressive coding is pixel-identical to baseline for ANY
    image content/dimensions (fully-refined successive approximation)."""
    import random

    rng = random.Random(seed)
    rows = [[(rng.randrange(256), rng.randrange(256), rng.randrange(256))
             for _ in range(w)] for _ in range(h)]
    base = pure.decode_jpeg(pure.jpeg_encode(rows))
    prog = pure.decode_jpeg(pure.jpeg_encode_progressive(rows))
    assert prog is not None
    assert bytes(base["pixels"]) == bytes(prog["pixels"])


@settings(max_examples=150, deadline=None)
@given(BYTES)
def test_container_metadata_total_property(data):
    """All round-4 container walks (mp3/ogg/flac/mp4/webm) are total and
    deterministic over arbitrary bytes behind their magic prefixes."""
    for prefix in (b"ID3", b"OggS", b"fLaC", b"\x00\x00\x00\x10ftyp",
                   b"\x1a\x45\xdf\xa3", b""):
        blob = prefix + data
        m1 = pure.extract_metadata(blob)
        m2 = pure.extract_metadata(blob)
        assert m1 == m2
        assert all(isinstance(k, str) and isinstance(v, str)
                   for k, v in m1.items())
