from __future__ import annotations

import json

from fa_spark.render import preflight, render_analysis


def render_sample(df, k: int = 5, fmt: str = "md") -> list[str]:
    """Render the first k rows (by url — deterministic) of an analysis df."""
    rows = df.orderBy("url").limit(k).collect()
    return [render_analysis(r.asDict(recursive=True), fmt) for r in rows]


def read_text_reports(spark, path: str) -> list[str]:
    """Read back and unescape reports written by write_text_reports."""
    rows = spark.read.text(path).collect()
    out = []
    for r in rows:
        s = r["value"]
        # unescape in one pass (escaped backslash must not re-trigger \n)
        buf = []
        i = 0
        while i < len(s):
            if s[i] == "\\" and i + 1 < len(s):
                buf.append("\n" if s[i + 1] == "n" else s[i + 1])
                i += 2
            else:
                buf.append(s[i])
                i += 1
        out.append("".join(buf))
    return out


ROW = {
    "url": "https://host1.example/a/1.html",
    "extract": {
        "title": "My Page",
        "text": "word " * 300,
        "doc_type": "article",
        "status": "success",
    },
    "tags": ["spark", "parquet"],
    "slug": "my-page",
}


def test_render_md_contract():
    md = render_analysis(ROW, "md")
    assert "## Description" in md and "## Tags" in md
    assert "spark, parquet" in md
    # display truncation at 1000 chars (reference W4)
    assert len(md) < 1300


def test_render_json_parses():
    out = json.loads(render_analysis(ROW, "json"))
    assert out["slug"] == "my-page"


def test_render_pretty_and_unknown():
    assert "My Page" in render_analysis(ROW, "pretty")
    try:
        render_analysis(ROW, "xml")
        raise AssertionError("should have raised")
    except ValueError:
        pass


def test_render_sample_and_preflight(spark, pages_df):
    from fa_spark.pipeline import analyze_pages

    df = analyze_pages(pages_df.select("url", "warc_ts", "html", "text", "lang").limit(20))
    outs = render_sample(df, k=3)
    assert len(outs) == 3 and all("## Description" in o for o in outs)

    pf = preflight(spark)
    assert pf["arrow_enabled"] == "true" and pf["aqe_enabled"] == "true"
    assert pf["spark"].startswith("4.")


def test_text_report_sink_roundtrip(spark, tmp_path):
    """S6 (round 3): the distributed text sink writes one escaped report
    line per row; reading back reproduces the driver-side renderer byte for
    byte (same pure function both paths)."""
    from fa_spark.render import write_text_reports

    rows = [
        {
            "url": f"https://x/{i}",
            "slug": f"s{i}",
            "tags": ["alpha", "beta"] if i % 2 else [],
            "extract": {
                "title": f"t{i}",
                "text": f"body {i}\nsecond line \\ with backslash",
                "doc_type": "article",
                "status": "success",
            },
        }
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows,
        "url string, slug string, tags array<string>, "
        "extract struct<title:string,text:string,doc_type:string,status:string>",
    )
    path = str(tmp_path / "reports")
    write_text_reports(df, path, fmt="md")
    got = sorted(read_text_reports(spark, path))
    exp = sorted(
        render_analysis(r.asDict(recursive=True), "md") for r in df.collect()
    )
    assert got == exp
    assert any("## Description" in g for g in got)
    assert any("body 3\nsecond line \\ with backslash" in g for g in got)


def test_text_report_sink_null_fields_match_driver_renderer(spark, tmp_path):
    """Round-3 ADVICE: pandas hands the batch renderer NaN/NaT/numpy
    scalars where Row.asDict() yields None/Python values; rows with null
    fields must still render byte-identically across both sinks."""
    from fa_spark.render import write_text_reports

    rows = [
        {"url": "https://n/0", "slug": None, "tags": None, "n_chars": None,
         "score": None, "extract": None},
        {"url": "https://n/1", "slug": "s1", "tags": ["a"], "n_chars": 7,
         "score": 0.5,
         "extract": {"title": None, "text": "t", "doc_type": None,
                     "status": "success"}},
    ]
    df = spark.createDataFrame(
        rows,
        "url string, slug string, tags array<string>, n_chars long, "
        "score double, "
        "extract struct<title:string,text:string,doc_type:string,status:string>",
    )
    path = str(tmp_path / "null_reports")
    write_text_reports(df, path, fmt="md")
    got = sorted(read_text_reports(spark, path))
    exp = sorted(
        render_analysis(r.asDict(recursive=True), "md") for r in df.collect()
    )
    assert got == exp
