"""Pipeline composition: pages -> analysis -> dedup -> tags -> sink.

The reference's `FileAnalyzer.analyze()` fan-out
(/root/reference/src/core/analyzer.py:66-124) becomes one lazy DataFrame
chain: a single fused Arrow stage for all per-row analyzers (tag ranking
included), then exactly one shuffle for dedup.

Sink strategy: hash-bucketed parquet with an explicit `bucket` column —
`pmod(xxhash64(url), B)` — which keeps the partition-to-task mapping stable
for lineage (the local stand-in for Iceberg `PARTITIONED BY (bucket(B,
url))`, SURVEY.md §4.2). write_analysis is the one sink; Iceberg's
`writeTo(...).append()` would replace it where a catalog is configured.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fa_spark.stages.analyze import FIELDS, content_pages, with_analysis
from fa_spark.stages.dedup import exact_dedup

DEFAULT_BUCKETS = 64


@dataclass(frozen=True)
class JobConfig:
    """Job-level parameters passed explicitly (never wall-clock inside rows —
    SURVEY.md §7.3 determinism discipline)."""

    run_id: str = "run-000"
    buckets: int = DEFAULT_BUCKETS
    tag_k: int = 10


def default_session(
    app: str = "fa-spark", cores: int | None = None, shuffle_partitions: int = 32
) -> SparkSession:
    """Local session with the configs the 100-TB plan needs anyway: Arrow
    batches sized for ~50-100 KB html blobs (SURVEY.md §4.2 item 3). The plan
    also relies on AQE skew-join splitting and runtime bloom-filter join
    pruning (the lineage anti-join's probe side is the whole corpus), which
    Spark enables by default."""
    master = f"local[{cores}]" if cores else "local[*]"
    return (
        SparkSession.builder.master(master)
        .appName(app)
        # container disk is slow+noisy; shuffle/spill to tmpfs in local mode
        .config("spark.local.dir", "/dev/shm/spark-local")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # joins (round 9, guide §3.1/§9): allow shuffled-hash join when a
        # side's per-partition build fits — skips the sort of the big side
        # (nation_revenue 1.9 -> 1.65 s at sf1.0). Size-based and
        # per-partition, so it is scale-adaptive, not a local[32] tune:
        # 64 MB build per partition is modest for multi-GB executors and
        # AQE falls back to sort-merge when partitions exceed it.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def bucket_col(url_col: str = "url", buckets: int = DEFAULT_BUCKETS):
    return F.pmod(F.xxhash64(url_col), F.lit(buckets)).cast("int")


def analyze_pages(
    pages_df: DataFrame, cfg: JobConfig = JobConfig(), fields=FIELDS
) -> DataFrame:
    """Per-page analysis of ``fields`` (stages.analyze.FIELDS, all by
    default) + exact dedup + tags + slug.

    Shuffle census (scale review): exactly ONE shuffle — the (sha, url)
    partial aggregate that elects canonical rows, computed from a narrow
    projection of the page bytes and broadcast back to the analyzed rows.
    No Exchange sits before the UDF. Tag ranking is a per-row top-k over the
    doc's own tokens, so it is computed inside the fused Arrow stage (a
    groupBy+window+join version doubled the Python stage and added two
    shuffles — measured 2× slower). The html blob dies at the UDF boundary
    — only derived columns shuffle. lineage.run_resumable adds the bucket
    rebalance of write_analysis, and on a resumed run the (url, sha)
    anti-join (see the lineage module docstring).
    """
    analyzed = with_analysis(pages_df, fields).withColumn(
        "bucket", bucket_col("url", cfg.buckets)
    )
    # narrow stats source (round 9): the canonical-election aggregate needs
    # only (sha, url), both derivable from the page bytes without the
    # analysis UDF — handing exact_dedup this projection keeps the
    # broadcast-build subtree free of the Python stage's lineage
    narrow = content_pages(pages_df).select(
        F.sha2("html", 256).alias("sha"), "url"
    )
    deduped = exact_dedup(analyzed, key="sha", order="url", stats_src=narrow)
    return deduped.withColumn("run_id", F.lit(cfg.run_id))


def write_analysis(df: DataFrame, path: str, mode: str = "append") -> None:
    """Bucketed parquet sink (Iceberg stand-in). Bucket column doubles as the
    lineage partition key.

    The REBALANCE hint on ``bucket`` is the stand-in for Iceberg's hash
    write distribution: one shuffle of the derived columns puts each bucket
    in one task, so a small increment writes one file per bucket instead of
    one per (task, bucket), and AQE splits a bucket above the advisory
    partition size. It sits on the write only — a cached ``df`` keeps its
    own partitioning for the caller's other actions."""
    df.hint("rebalance", "bucket").write.mode(mode).partitionBy("bucket").parquet(
        path
    )


def summary(df: DataFrame) -> DataFrame:
    """Session-summary aggregation (reference A2/A5,
    /root/reference/src/models/analyzer.py:286-299): one partial+final agg."""
    def _sum(col):
        return F.coalesce(F.sum(col), F.lit(0))  # empty increment -> 0, not null

    return df.agg(
        F.count("*").alias("analyses"),
        _sum(
            (F.col("extract.status").isin("success", "success_lenient")).cast("long")
        ).alias("successful"),
        _sum((F.col("extract.status") == "error").cast("long")).alias("failed"),
        _sum((~F.col("is_canonical")).cast("long")).alias("duplicates"),
        _sum((F.size("sigs") > 0).cast("long")).alias("flagged"),
        _sum("html_bytes").alias("bytes_scanned"),
    )
