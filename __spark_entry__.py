"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship: synthesize CC-style pages from sf0.001 documents,
                  run the full fused analysis pipeline (sniff → extract →
                  dedup → tags → slug), return the analysis DataFrame.
queries()       — one entry per implemented operator family (SURVEY.md §2),
                  from fa_spark.queries.REGISTRY.
oracle_sql()    — matching DuckDB SQL; ops without a SQL form (MinHash /
                  SimHash / LSH) are rows-only by design.
"""

from __future__ import annotations

import os
import sys
import zipfile
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"

def _pkg_fingerprint() -> str:
    """Content fingerprint of the package sources — the shipped zip must
    never go stale after edits (workers would silently run old code)."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(_REPO, "fa_spark")
    for root, _dirs, files in sorted(os.walk(pkg)):
        if "__pycache__" in root:
            continue
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _ship_package(spark: SparkSession) -> None:
    """Make fa_spark importable on the Python WORKERS regardless of the
    driver's cwd: sys.path edits only affect the driver process, so the
    package ships to workers via addPyFile (the spark-submit --py-files
    mechanism, applied post-hoc)."""
    zip_path = f"/tmp/fa_spark_pyfiles_{_pkg_fingerprint()}.zip"
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            pkg = os.path.join(_REPO, "fa_spark")
            for root, _dirs, files in os.walk(pkg):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        z.write(full, os.path.relpath(full, _REPO))
        os.replace(tmp, zip_path)
    sc = spark.sparkContext
    shipped = getattr(sc, "_fa_spark_shipped", None)
    if shipped is None:
        shipped = set()
        sc._fa_spark_shipped = shipped
    if zip_path in shipped:
        return
    # genuine failures (bad path, stopped context) must propagate — a
    # swallowed error here surfaces later as ModuleNotFoundError in workers
    sc.addPyFile(zip_path)
    shipped.add(zip_path)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ship_package(spark)
    from fa_spark.pipeline import JobConfig, analyze_pages

    out = analyze_pages(
        _entry_pages(spark),
        JobConfig(run_id="entry-smoke"),
        fields=("extract", "detected_lang", "n_tokens_ws", "tags", "slug"),
    )
    return out.select(
        "url",
        F.col("extract.text").alias("ext_text"),
        F.col("extract.doc_type").alias("doc_type"),
        F.col("extract.status").alias("status"),
        "sha",
        "is_canonical",
        "detected_lang",
        "n_tokens_ws",
        "tags",
        "slug",
    )


def _entry_pages(spark: SparkSession) -> DataFrame:
    """The pages entry() analyzes, synthesized from sf0.001 documents."""
    from fa_spark.queries import _synth_pages

    # lang rides through page synthesis — no join (round-1 VERDICT "what's
    # wrong" item 5: the join was an avoidable shuffle in the smoke path)
    return _synth_pages(spark, SF0001, extra_cols=("lang",)).select(
        F.concat(F.lit("https://docs.example/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
        "html",
        F.lit("").alias("text"),
        "lang",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from fa_spark.queries import queries as _q

    def _wrap(fn):
        def call(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ship_package(spark)
            # the driver sweeps all registry queries in one session; release
            # the PREVIOUS query's persisted signature caches here (the
            # current query's cache must survive until the driver's action),
            # bounding accumulation to one query's blocks (ADVICE r2)
            from fa_spark.stages.dedup import release_pair_caches

            release_pair_caches()
            return fn(spark, sf_dir)

        return call

    return {name: _wrap(fn) for name, fn in _q().items()}


def oracle_sql() -> dict[str, str]:
    from fa_spark.queries import oracle_sql as _o

    return _o()
