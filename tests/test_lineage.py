"""Resumability tests (SURVEY.md §5.2 item 4): run an increment, kill-like
partial state, re-run — exactly-once output via the (url, sha) anti-join."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from fa_spark import lineage

TS1 = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
TS2 = dt.datetime(2025, 6, 2, tzinfo=dt.timezone.utc)


@pytest.fixture()
def base(tmp_path):
    return str(tmp_path / "out")


def test_resume_is_idempotent(spark, pages_df, base):
    pages = pages_df.select("url", "warc_ts", "html", "text", "lang")
    first = lineage.run_resumable(spark, pages, base, "run-1", TS1)
    n_first = spark.read.parquet(os.path.join(base, "analysis")).count()
    assert n_first == pages.count()

    # second run over identical input: nothing to do, no new output rows
    lineage.run_resumable(spark, pages, base, "run-2", TS2)
    n_second = spark.read.parquet(os.path.join(base, "analysis")).count()
    assert n_second == n_first

    processed = lineage.read_processed(spark, base)
    assert processed.count() == n_first  # no duplicate processed entries


def test_resume_after_partial_failure(spark, pages_df, base):
    """Simulate a crash after half the input committed: restart completes
    exactly the remainder."""
    pages = pages_df.select("url", "warc_ts", "html", "text", "lang")
    half = pages.where(F.crc32("url") % 2 == 0)
    lineage.run_resumable(spark, half, base, "run-1", TS1)
    n_half = spark.read.parquet(os.path.join(base, "analysis")).count()
    assert 0 < n_half < pages.count()

    lineage.run_resumable(spark, pages, base, "run-2", TS2)
    out = spark.read.parquet(os.path.join(base, "analysis"))
    assert out.count() == pages.count()
    # every url exactly once
    assert out.groupBy("url").count().where("count > 1").count() == 0


def test_changed_content_reprocessed(spark, pages_df, base):
    pages = pages_df.select("url", "warc_ts", "html", "text", "lang").limit(50)
    lineage.run_resumable(spark, pages, base, "run-1", TS1)
    # same urls, mutated html => new sha => must be reprocessed
    changed = pages.withColumn(
        "html", F.concat(F.col("html"), F.lit(b"<!-- v2 -->"))
    )
    lineage.run_resumable(spark, changed, base, "run-2", TS2)
    out = spark.read.parquet(os.path.join(base, "analysis"))
    assert out.count() == 100  # both versions present (append semantics)
    runs = {r["run_id"] for r in out.select("run_id").distinct().collect()}
    assert runs == {"run-1", "run-2"}


def test_crash_before_commit_marker_rolls_back(spark, pages_df, base):
    """Crash window: analysis + processed written, marker NOT written.
    Restart must roll the partial output back and reprocess exactly once."""
    from fa_spark.pipeline import JobConfig, analyze_pages

    pages = pages_df.select("url", "warc_ts", "html", "text", "lang").limit(100)
    # simulate the crashed attempt: all writes EXCEPT the commit marker
    analysis = analyze_pages(pages, JobConfig(run_id="crashed")).persist()
    analysis.write.mode("append").partitionBy("run_id", "bucket").parquet(
        os.path.join(base, "analysis")
    )
    lineage.commit_lineage(analysis, base, "crashed", TS1)
    analysis.unpersist()

    # uncommitted state is invisible
    assert lineage.list_committed(base) == set()
    assert lineage.read_processed(spark, base).count() == 0

    # restart: recovery drops the partial dir, the full run processes all rows
    lineage.run_resumable(spark, pages, base, "run-2", TS2)
    out = lineage.read_analysis(spark, base)
    assert out.count() == 100
    assert out.groupBy("url").count().where("count > 1").count() == 0
    runs = {r["run_id"] for r in out.select("run_id").distinct().collect()}
    assert runs == {"run-2"}


def test_recover_is_noop_on_committed(spark, pages_df, base):
    pages = pages_df.select("url", "warc_ts", "html", "text", "lang").limit(50)
    lineage.run_resumable(spark, pages, base, "run-1", TS1)
    assert lineage.recover(base) == []
    assert lineage.read_analysis(spark, base).count() == 50


def test_crash_retry_same_run_id_no_double_count(spark, pages_df, base):
    """Regression (round-1 ADVICE, medium): crashed attempt appends lineage
    rows, then the SAME run_id retries and commits — the crashed attempt's
    processed/partitions rows must not become visible (double counting)."""
    from fa_spark.pipeline import JobConfig, analyze_pages

    pages = pages_df.select("url", "warc_ts", "html", "text", "lang").limit(80)
    # crashed attempt: analysis + lineage appended, marker NOT written
    analysis = analyze_pages(pages, JobConfig(run_id="run-x")).persist()
    analysis.write.mode("append").partitionBy("run_id", "bucket").parquet(
        os.path.join(base, "analysis")
    )
    lineage.commit_lineage(analysis, base, "run-x", TS1)
    analysis.unpersist()

    # retry of the SAME run_id (standard scheduler behavior)
    lineage.run_resumable(spark, pages, base, "run-x", TS2)

    processed = lineage.read_processed(spark, base)
    assert processed.count() == 80  # not 160
    assert processed.groupBy("url", "sha").count().where("count > 1").count() == 0
    lin = lineage.read_lineage(spark, base)
    assert sum(r["input_rows"] for r in lin.collect()) == 80  # not 160


def test_expire_runs_retention(spark, pages_df, base):
    """expire_runs drops old runs' analysis + lineage + markers; surviving
    runs keep exactly-once on resume."""
    pages = pages_df.select("url", "warc_ts", "html", "text", "lang")
    p1 = pages.limit(40)
    p2 = pages.limit(80)  # superset: second run processes the remainder
    lineage.run_resumable(spark, p1, base, "run-1", TS1)
    lineage.run_resumable(spark, p2, base, "run-2", TS2)
    assert lineage.read_analysis(spark, base).count() == 80

    expired = lineage.expire_runs(base, keep_last_n=1)
    assert expired == ["run-1"]
    assert lineage.list_committed(base) == {"run-2"}
    out = lineage.read_analysis(spark, base)
    assert out.count() == 40  # only run-2's increment survives
    assert {r["run_id"] for r in out.select("run_id").distinct().collect()} == {
        "run-2"
    }
    # processed set shrank with it; expired urls would be re-processed
    assert lineage.read_processed(spark, base).count() == 40

    # resume after expiry: still exactly-once for surviving + re-ingested rows
    lineage.run_resumable(spark, p2, base, "run-3", TS2)
    out = lineage.read_analysis(spark, base)
    assert out.count() == 80
    assert out.groupBy("url").count().where("count > 1").count() == 0


def test_expire_runs_older_than(spark, pages_df, base):
    pages = pages_df.select("url", "warc_ts", "html", "text", "lang").limit(30)
    lineage.run_resumable(spark, pages, base, "run-1", TS1)
    assert lineage.expire_runs(base, older_than=TS1) == []  # strict <
    # NAIVE cutoff against tz-aware markers must not raise (round-2 review)
    assert lineage.expire_runs(base, older_than=dt.datetime(2025, 6, 2)) == [
        "run-1"
    ]
    assert lineage.list_committed(base) == set()


def test_unsafe_run_id_rejected(spark, pages_df, base):
    """run_id becomes a partition dir + marker filename; characters Spark
    percent-escapes would desynchronize recover()/expire (round-2 review:
    silent committed-data loss) — rejected up front."""
    pages = pages_df.select("url", "warc_ts", "html", "text", "lang").limit(5)
    for bad in ("2026-08-16T10:00", "a/b", "x y", "p%q"):
        with pytest.raises(ValueError, match="run_id"):
            lineage.run_resumable(spark, pages, base, bad, TS1)


def test_expire_leaves_inflight_run_alone(spark, pages_df, base):
    """expire_runs must purge ONLY expired committed runs — a concurrent
    in-flight (uncommitted) run's partial output belongs to its own writer's
    recover(), not to the ops entry point (round-2 review)."""
    from fa_spark.pipeline import JobConfig, analyze_pages

    pages = pages_df.select("url", "warc_ts", "html", "text", "lang")
    lineage.run_resumable(spark, pages.limit(20), base, "old", TS1)
    lineage.run_resumable(spark, pages.limit(40), base, "new", TS2)
    # simulate an in-flight writer: analysis written, marker not yet
    inflight = analyze_pages(pages.limit(60), JobConfig(run_id="inflight"))
    inflight.write.mode("append").partitionBy("run_id", "bucket").parquet(
        os.path.join(base, "analysis")
    )
    assert lineage.expire_runs(base, keep_last_n=1) == ["old"]
    dirs = set(os.listdir(os.path.join(base, "analysis")))
    assert "run_id=inflight" in dirs and "run_id=new" in dirs
    assert "run_id=old" not in dirs


def test_partition_counters(spark, pages_df, base):
    pages = pages_df.select("url", "warc_ts", "html", "text", "lang")
    lineage.run_resumable(spark, pages, base, "run-1", TS1)
    lin = lineage.read_lineage(spark, base)
    rows = lin.collect()
    assert sum(r["input_rows"] for r in rows) == pages.count()
    assert all(r["attempt"] == 1 for r in rows)
    assert all(r["committed_at"] is not None for r in rows)
    # bucket ids within configured range
    assert all(0 <= r["bucket"] < 64 for r in rows)


def test_time_travel_read(spark, tmp_path, pages_df):
    """Round 3 (Iceberg AS OF analogue): reading as-of an earlier commit
    timestamp sees exactly the increments committed by then; expired runs
    are not travellable (physically purged, like expire_snapshots)."""
    import datetime as dt

    from fa_spark.lineage import expire_runs, read_analysis, run_resumable

    base = str(tmp_path / "tt")
    pages = pages_df.select("url", "warc_ts", "html", "text", "lang")
    t1 = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
    t2 = dt.datetime(2025, 6, 2, tzinfo=dt.timezone.utc)
    run_resumable(spark, pages.limit(40), base, "r1", t1)
    run_resumable(spark, pages.limit(80), base, "r2", t2)

    latest = read_analysis(spark, base)
    assert set(r["run_id"] for r in latest.select("run_id").distinct().collect()) == {
        "r1", "r2"
    }
    old = read_analysis(spark, base, as_of=t1)
    assert set(r["run_id"] for r in old.select("run_id").distinct().collect()) == {"r1"}
    assert old.count() == 40
    # between commits: still only r1
    mid = read_analysis(spark, base, as_of=dt.datetime(2025, 6, 1, 12, tzinfo=dt.timezone.utc))
    assert mid.count() == 40
    # before any commit: empty
    assert read_analysis(spark, base, as_of=dt.datetime(2025, 5, 1, tzinfo=dt.timezone.utc)).count() == 0
    # after expiry the old snapshot is gone for good
    expire_runs(base, keep_last_n=1)
    assert read_analysis(spark, base, as_of=t1).count() == 0


def test_stub_counters_in_lineage(spark, pages_df, base):
    """Round 5 (VERDICT r4 #6): rows the multimodal tier would stub
    (recognized container, no pure-Python codec) are aggregated into the
    per-run lineage counters — stubbed_rows + per-content-type map —
    so the 100-TB drop rule is auditable, like dedup's bucket-cap drops."""
    from fa_spark import pure

    # joint stereo is outside decode_mp3's documented subset -> stub;
    # an in-subset Layer III stream (round 6) decodes for real
    mp3 = pure.mp3_envelope_encode(2, joint_stereo=True)
    mp4 = pure.mp4_envelope_encode(1.5)
    wav = pure.wav_encode([0, 80, -80, 40] * 200)
    media_rows = [
        ("http://m.example/a.mp3", TS1, mp3, None, "en"),
        ("http://m.example/b.mp3", TS1, mp3 + b"\x00", None, "en"),
        ("http://m.example/i.mp3", TS1,
         pure.mp3_tone_encode(3, 1), None, "en"),  # decodes (r6), NOT a stub
        ("http://m.example/c.mp4", TS1, mp4, None, "en"),
        ("http://m.example/d.wav", TS1, wav, None, "en"),  # decodable, NOT a stub
        # vorbis decodes for real (round 5) — NOT a stub; opus is one
        ("http://m.example/e.ogg", TS1,
         pure.vorbis_tone_encode(2, 0.5, 4), None, "en"),
        ("http://m.example/f.opus", TS1,
         pure.ogg_envelope_encode(codec="opus"), None, "en"),
        # MJPEG AVI decodes for real (round 5) — NOT a stub; XVID is one
        ("http://m.example/g.avi", TS1, pure.avi_mjpeg_encode(
            [pure.jpeg_encode([[(60, 60, 60)] * 16] * 16)]), None, "en"),
        ("http://m.example/h.avi", TS1,
         pure.avi_envelope_encode(4, codec=b"XVID"), None, "en"),
        # I+P+B MPEG-1 video, VP8L webp and Layer II mp3 decode for real
        # — NOT stubs (the stage's decode table gates each of them)
        ("http://m.example/j.mpg", TS1, pure.mpeg1_encode_ipb(
            [[40] * 16 + [64] * 16 + [88] * 16 for _ in range(16)],
            -16, [("interp",)]), None, "en"),
        ("http://m.example/k.webp", TS1,
         pure.webp_vp8l_encode([[(9, 80, 200)] * 4] * 4), None, "en"),
        ("http://m.example/l.mp3", TS1,
         pure.mp2_tone_encode(3, 1), None, "en"),
    ]
    pages = pages_df.select("url", "warc_ts", "html", "text", "lang").limit(
        30
    ).unionByName(
        spark.createDataFrame(
            media_rows, "url string, warc_ts timestamp, html binary, "
            "text string, lang string"
        )
    )
    lineage.run_resumable(spark, pages, base, "run-1", TS1)
    counters = lineage.read_lineage(spark, base)
    agg = counters.agg(
        F.sum("stubbed_rows").alias("n"),
    ).collect()[0]
    # two joint-stereo mp3 + one mp4 + one opus + one xvid-avi; wav,
    # vorbis, mjpeg-avi, I+P+B mpeg, vp8l webp and the in-subset Layer
    # II/III mp3 decode for real
    assert agg["n"] == 5
    by_type: dict[str, int] = {}
    for row in counters.collect():
        for k, v in (row["stubbed_types"] or {}).items():
            by_type[k] = by_type.get(k, 0) + v
    assert by_type == {"mp3": 2, "mp4": 1, "ogg": 1, "riff": 1}


def test_read_processed_propagates_read_errors(spark, pages_df, base, monkeypatch):
    """Only a missing _lineage/processed directory reads as the empty set;
    any other read failure propagates instead of making the job re-analyze
    and re-commit every page."""
    import shutil

    from pyspark.sql.readwriter import DataFrameReader

    pages = pages_df.select("url", "warc_ts", "html", "text", "lang").limit(10)
    lineage.run_resumable(spark, pages, base, "run-1", TS1)

    def broken(self, *paths, **options):
        raise OSError("listing failed")

    with monkeypatch.context() as m:
        m.setattr(DataFrameReader, "parquet", broken)
        with pytest.raises(OSError, match="listing failed"):
            lineage.read_processed(spark, base)
        # nothing committed: empty without touching the reader
        fresh = os.path.join(os.path.dirname(base), "fresh")
        assert lineage.read_processed(spark, fresh).count() == 0

    assert lineage.read_processed(spark, base).count() == 10
    shutil.rmtree(os.path.join(base, "_lineage", "processed"))
    assert lineage.read_processed(spark, base).count() == 0
