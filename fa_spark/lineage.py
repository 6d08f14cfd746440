"""Per-partition lineage + resumable runs (reference J2 + artifact manifest,
/root/reference/src/core/artifact_guard.py:80-186 re-expressed as tables).

Layout next to the output:
  analysis/run_id=<id>/bucket=<b>/...   the analysis rows of each increment
  _lineage/processed/                   (url, sha, run_id) — the processed set
  _lineage/partitions/                  per-bucket counters per run
  _lineage/commits/<run_id>.json        THE commit point (atomic rename)

Exactly-once protocol (the parquet stand-in for an Iceberg transactional
snapshot commit):

  1. recover(): physically drop analysis/run_id=* dirs with no commit marker
     (a crashed previous attempt), so partial output never survives
  2. anti-join incoming pages against the processed set *filtered to
     committed run_ids* — uncommitted processed rows are invisible
  3. write analysis -> write processed -> write counters -> write the commit
     marker LAST via os.rename (atomic on POSIX)

A crash in any window either leaves no visible output (pre-marker) or a
fully-committed increment (post-marker); restarts are idempotent either way.

Shuffles. On a fresh base read_processed is an empty relation the optimizer
can see, so the anti-join is pruned and nothing shuffles before the analyzer
UDF. What does shuffle carries derived columns, never html: analyze_pages'
(sha, url) dedup aggregate, the bucket rebalance of the analysis write and
commit_lineage's per-bucket counters. A resumed run plans the (url, sha)
anti-join, whose two Exchanges carry the whole page row, html included,
unless the processed side is small enough to broadcast. At 10^12-doc scale
the processed set is huge; bucketing both sides by xxhash64(url) in an
Iceberg table would let a storage-partitioned join skip that shuffle — the
parquet stand-in does not.

Spark's own df.checkpoint() is NOT the mechanism — it is not durable across
applications (SURVEY.md §4.2 item 5).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import shutil
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fa_spark import schema as S


def _analysis_path(base: str) -> str:
    return os.path.join(base, "analysis")


def _processed_path(base: str) -> str:
    return os.path.join(base, "_lineage", "processed")


def _partitions_path(base: str) -> str:
    return os.path.join(base, "_lineage", "partitions")


def _commits_path(base: str) -> str:
    return os.path.join(base, "_lineage", "commits")


def list_committed(base: str) -> set[str]:
    p = _commits_path(base)
    if not os.path.isdir(p):
        return set()
    return {f[: -len(".json")] for f in os.listdir(p) if f.endswith(".json")}


def write_commit_marker(base: str, run_id: str, committed_at: dt.datetime) -> None:
    validate_run_id(run_id)
    p = _commits_path(base)
    os.makedirs(p, exist_ok=True)
    tmp = os.path.join(p, f".{run_id}.tmp")
    with open(tmp, "w") as f:
        json.dump({"run_id": run_id, "committed_at": committed_at.isoformat()}, f)
    os.rename(tmp, os.path.join(p, f"{run_id}.json"))  # atomic commit point


def _tz_aware(t: dt.datetime) -> dt.datetime:
    """Naive timestamps normalize to UTC — mixed-tz markers never raise."""
    return t if t.tzinfo is not None else t.replace(tzinfo=dt.timezone.utc)


def _commit_times(base: str) -> dict[str, dt.datetime]:
    """run_id -> commit time of every commit marker."""
    p = _commits_path(base)
    if not os.path.isdir(p):
        return {}
    out = {}
    for f in os.listdir(p):
        if not f.endswith(".json"):
            continue
        with open(os.path.join(p, f)) as fh:
            doc = json.load(fh)
        out[doc["run_id"]] = _tz_aware(dt.datetime.fromisoformat(doc["committed_at"]))
    return out


def list_committed_as_of(base: str, as_of: dt.datetime) -> set[str]:
    """TIME TRAVEL (round 3 — the Iceberg `AS OF TIMESTAMP` analogue on the
    parquet stand-in): run_ids whose commit marker was written at or before
    ``as_of``. Commit markers are the snapshot log, so a historical read is
    just a different committed-set filter — no data is rewritten, exactly
    like Iceberg snapshot isolation."""
    cutoff = _tz_aware(as_of)
    return {r for r, t in _commit_times(base).items() if t <= cutoff}


def _committed_rows(
    df: DataFrame, base: str, as_of: dt.datetime | None = None
) -> DataFrame:
    """``df``'s rows of committed runs (as of ``as_of`` when given). With
    nothing committed it is ``limit(0)``, a relation the optimizer knows is
    empty, so the joins over it are pruned."""
    committed = sorted(
        list_committed_as_of(base, as_of) if as_of else list_committed(base)
    )
    return df.where(F.col("run_id").isin(committed)) if committed else df.limit(0)


_RUN_ID_RE = re.compile(r"^[A-Za-z0-9._\-]+$")


def validate_run_id(run_id: str) -> str:
    """Run ids become partition directory names AND commit-marker filenames;
    Spark percent-escapes special characters in partition paths (':' ->
    '%3A'), which would desynchronize the dir-name <-> committed-set
    comparison recover()/expire_runs() rely on. Restrict to a filesystem-
    and partition-safe alphabet up front."""
    if not _RUN_ID_RE.match(run_id):
        raise ValueError(
            f"run_id {run_id!r} must match [A-Za-z0-9._-]+ (it becomes a "
            "partition directory and a commit-marker filename)"
        )
    return run_id


def _purge_run_dirs(
    root: str, keep: set[str] | None = None, only: set[str] | None = None
) -> list[str]:
    """Delete run_id=<id> partition dirs under ``root``: those NOT in
    ``keep`` (recover semantics) or those IN ``only`` (expire semantics —
    never touches other runs, committed or in-flight). Dir names are
    unescaped before comparison (Spark percent-escapes partition values).
    Returns the purged ids."""
    if not os.path.isdir(root):
        return []
    purged = []
    for d in os.listdir(root):
        if not d.startswith("run_id="):
            continue
        run_id = unquote(d.split("=", 1)[1])
        doomed = (keep is not None and run_id not in keep) or (
            only is not None and run_id in only
        )
        if doomed:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
            purged.append(run_id)
    return purged


def recover(base: str) -> list[str]:
    """Drop ALL output of crashed (uncommitted) runs: the analysis
    partitions AND the _lineage/processed + _lineage/partitions rows (both
    are partitioned by run_id exactly so this physical purge is possible).
    Without the lineage purge, a crash between commit_lineage() and
    write_commit_marker() followed by a retry of the same run_id would make
    the crashed attempt's rows visible once the retry commits — processed
    double-entries and double-counted counters (round-1 ADVICE, medium).
    Returns the run_ids that were rolled back."""
    committed = list_committed(base)
    rolled = _purge_run_dirs(_analysis_path(base), committed)
    for extra in _purge_run_dirs(_processed_path(base), committed):
        if extra not in rolled:
            rolled.append(extra)
    _purge_run_dirs(_partitions_path(base), committed)
    return rolled


def read_processed(
    spark: SparkSession, base: str, as_of: dt.datetime | None = None
) -> DataFrame:
    """The committed processed set (uncommitted appends filtered out);
    ``as_of`` reads the historical snapshot (list_committed_as_of). Only a
    missing processed directory or no commits mean "nothing processed"; any
    read error propagates, since an empty set would re-analyze and re-commit
    every page."""
    p = _processed_path(base)
    if not os.path.isdir(p):
        # limit(0), not a bare createDataFrame([]): the optimizer sees the
        # relation is empty and prunes the anti-join (and its shuffles)
        return spark.createDataFrame([], S.PROCESSED).limit(0)
    return _committed_rows(spark.read.schema(S.PROCESSED).parquet(p), base, as_of)


def filter_unprocessed(pages: DataFrame, processed: DataFrame) -> DataFrame:
    """Anti-join restart primitive: only new or changed (url, sha) pass."""
    keyed = pages.withColumn("sha", F.sha2("html", 256))
    return keyed.join(processed.select("url", "sha"), ["url", "sha"], "left_anti")


def read_analysis(
    spark: SparkSession, base: str, as_of: dt.datetime | None = None
) -> DataFrame:
    """Committed analysis rows (crashed-run partitions are physically gone
    after recover(); the run_id filter also guards a concurrent writer).
    ``as_of`` gives a TIME-TRAVEL read — the state as of that commit
    timestamp (Iceberg `AS OF` analogue; snapshots are the commit markers,
    so nothing is rewritten). Expired runs (expire_runs) are physically
    purged and cannot be travelled to — same as Iceberg after
    expire_snapshots.

    Pinned partition-column types on the read: run_id is a *partition
    directory* and validate_run_id permits numeric-looking ids ('123',
    '007'), which partition-type inference would coerce to ints — aliasing
    '0123' with '123' and silently weakening the committed-set filter (same
    hazard read_lineage/read_processed fixed with explicit schemas). The
    data columns keep the inferred on-disk schema — the analysis table
    carries pipeline outputs beyond S.ANALYSIS (is_canonical, dup counts),
    so hardcoding a column list here would silently drop them."""
    path = _analysis_path(base)
    inferred = spark.read.parquet(path).schema
    pinned = T.StructType(
        [
            T.StructField("run_id", T.StringType())
            if f.name == "run_id"
            else (
                T.StructField("bucket", T.IntegerType())
                if f.name == "bucket"
                else f
            )
            for f in inferred.fields
        ]
    )
    return _committed_rows(spark.read.schema(pinned).parquet(path), base, as_of)


def commit_lineage(
    analysis: DataFrame,
    base: str,
    run_id: str,
    committed_at: dt.datetime,
    attempt: int = 1,
) -> None:
    """Append processed-set rows and per-bucket counters, PARTITIONED BY
    run_id — recover() physically drops uncommitted attempts' partitions, so
    a crashed append can never become visible through a later retry of the
    same run_id. ``committed_at`` is a job parameter, never wall clock read
    inside the job (SURVEY.md §7.3)."""
    analysis.select("url", "sha", F.lit(run_id).alias("run_id")).write.mode(
        "append"
    ).partitionBy("run_id").parquet(_processed_path(base))
    from fa_spark.stages.multimodal import stub_type

    # stub accounting: rows the media feature stage would mark
    # decode_status=stubbed (recognized container, no codec taking it),
    # by the expression generated from its decode table
    stub_ct = stub_type(F.col("sniff.content_type"), F.col("meta"))
    # two-level agg: (bucket, stub type) partial-aggregates map-side, then
    # the tiny per-bucket rollup folds the breakdown into one map column —
    # no collect_list over raw rows, scale-safe at any bucket size
    pre = analysis.groupBy("bucket", stub_ct.alias("_stub_ct")).agg(
        F.count("*").alias("_n"),
        F.sum((F.col("extract.status") != "error").cast("long")).alias("_ok"),
        F.sum("html_bytes").alias("_b"),
    )
    is_stub = F.col("_stub_ct").isNotNull()
    counters = (
        pre.groupBy("bucket")
        .agg(
            F.sum("_n").alias("input_rows"),
            F.sum("_ok").alias("output_rows"),
            F.sum("_b").alias("bytes"),
            F.coalesce(
                F.sum(F.when(is_stub, F.col("_n"))), F.lit(0)
            ).alias("stubbed_rows"),
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.when(is_stub, F.struct("_stub_ct", "_n"))
                    )
                )
            ).alias("stubbed_types"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("bucket").cast("int"),
            "input_rows",
            "output_rows",
            "bytes",
            "stubbed_rows",
            "stubbed_types",
            F.lit(attempt).cast("int").alias("attempt"),
            F.lit(committed_at).alias("committed_at"),
        )
    )
    counters.write.mode("append").partitionBy("run_id").parquet(
        _partitions_path(base)
    )


def read_lineage(spark: SparkSession, base: str) -> DataFrame:
    # explicit schema: partition-column inference would type a numeric-
    # looking run_id dir name as INT and break the committed-set filter
    df = spark.read.schema(S.LINEAGE).parquet(_partitions_path(base))
    return _committed_rows(df, base)


def expire_runs(
    base: str,
    keep_last_n: int | None = None,
    older_than: dt.datetime | None = None,
) -> list[str]:
    """Retention GC (reference artifact retention policy,
    /root/reference/src/core/artifact_guard.py:519-588): drop the analysis
    output, lineage rows, and commit markers of expired runs. A run expires
    when it falls outside the newest ``keep_last_n`` commits (by commit
    time, ties by run_id) or its commit time is before ``older_than``.
    Expired urls leave the processed set — re-submitting those pages
    re-processes them, the standard artifact-retention trade. Surviving
    runs keep exactly-once semantics (pytest: expire -> resume)."""
    commits = sorted((t, r) for r, t in _commit_times(base).items())
    expired: list[str] = []
    if keep_last_n is not None and len(commits) > keep_last_n:
        expired.extend(r for _, r in commits[: len(commits) - keep_last_n])
    if older_than is not None:
        cutoff = _tz_aware(older_than)
        expired.extend(r for t, r in commits if t < cutoff)
    expired_set = set(expired)
    if not expired_set:
        return []
    # purge ONLY the expired runs — never "everything else": a concurrent
    # in-flight (uncommitted) run's partial output belongs to its writer's
    # recover(), not to this ops entry point
    _purge_run_dirs(_analysis_path(base), only=expired_set)
    _purge_run_dirs(_processed_path(base), only=expired_set)
    _purge_run_dirs(_partitions_path(base), only=expired_set)
    for r in sorted(expired_set):  # markers last: crash mid-purge re-expires
        try:
            os.remove(os.path.join(_commits_path(base), f"{r}.json"))
        except FileNotFoundError:
            pass
    return sorted(expired_set)


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    base: str,
    run_id: str,
    committed_at: dt.datetime,
    cfg=None,
) -> DataFrame:
    """One resumable increment: recover -> filter -> analyze -> write ->
    commit. Returns the increment's (no longer cached) analysis DataFrame —
    re-evaluating it re-runs the pipeline; read committed results back via
    read_analysis. Re-running with identical input is a no-op."""
    from fa_spark.pipeline import JobConfig, analyze_pages, write_analysis

    validate_run_id(run_id)
    cfg = cfg or JobConfig(run_id=run_id)
    recover(base)
    processed = read_processed(spark, base)
    todo = filter_unprocessed(pages, processed).drop("sha")
    analysis = analyze_pages(todo, cfg)
    analysis = analysis.persist()
    n = analysis.count()
    if n:
        # the increment owns its run_id=<id>/ directory, so the on-disk
        # layout matches a partitionBy("run_id", "bucket") write
        write_analysis(
            analysis.drop("run_id"),
            os.path.join(_analysis_path(base), f"run_id={run_id}"),
        )
        commit_lineage(analysis, base, run_id, committed_at)
        write_commit_marker(base, run_id, committed_at)
    analysis.unpersist()
    return analysis
