"""Bucketed sink tests: partition layout, pruning on read, stable bucket ids."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from fa_spark import lineage
from fa_spark.pipeline import JobConfig, analyze_pages, bucket_col, write_analysis


def test_bucketed_write_and_pruning(spark, pages_df, tmp_path):
    out = str(tmp_path / "analysis")
    df = analyze_pages(
        pages_df.select("url", "warc_ts", "html", "text", "lang").limit(200),
        JobConfig(run_id="sink-test", buckets=16),
    )
    write_analysis(df, out)

    # physical layout: one directory per bucket value
    buckets = sorted(
        int(d.split("=")[1]) for d in os.listdir(out) if d.startswith("bucket=")
    )
    assert buckets and all(0 <= b < 16 for b in buckets)

    # partition pruning: a bucket-filtered read must only touch that directory
    back = spark.read.parquet(out).where(F.col("bucket") == buckets[0])
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan or "bucket#" in plan
    files = back.select(F.input_file_name()).distinct().collect()
    assert all(f"bucket={buckets[0]}/" in r[0] for r in files)


def test_bucket_assignment_stable(spark, pages_df):
    """bucket = pmod(xxhash64(url), B) must be identical across runs and
    partitionings (it is the lineage key)."""
    pages = pages_df.select("url").limit(100)
    a = {r["url"]: r["b"] for r in pages.select("url", bucket_col("url", 64).alias("b")).collect()}
    b = {
        r["url"]: r["b"]
        for r in pages.repartition(7)
        .select("url", bucket_col("url", 64).alias("b"))
        .collect()
    }
    assert a == b


def test_resumable_writes_one_file_per_bucket(spark, pages_df, tmp_path):
    """run_resumable writes its increment through write_analysis: the
    layout stays analysis/run_id=<id>/bucket=<b>/, each bucket directory
    holds one file at this size, and the committed rows are unchanged."""
    base = str(tmp_path / "out")
    # several input partitions, as a crawl spread over many files has
    pages = pages_df.select("url", "warc_ts", "html", "text", "lang").repartition(4)
    ts = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
    lineage.run_resumable(spark, pages, base, "r1", ts)

    analysis = os.path.join(base, "analysis")
    assert [d for d in os.listdir(analysis) if d[0] not in "_."] == ["run_id=r1"]
    run_dir = os.path.join(analysis, "run_id=r1")
    bucket_dirs = [d for d in os.listdir(run_dir) if d.startswith("bucket=")]
    assert bucket_dirs
    for d in bucket_dirs:
        parts = [
            f
            for f in os.listdir(os.path.join(run_dir, d))
            if f.startswith("part-") and f.endswith(".parquet")
        ]
        assert len(parts) == 1, (d, parts)

    def keyed(df):
        return set(
            df.select("url", F.sha2("extract.text", 256).alias("t")).collect()
        )

    expected = analyze_pages(pages, JobConfig(run_id="r1"))
    assert keyed(lineage.read_analysis(spark, base)) == keyed(expected)
