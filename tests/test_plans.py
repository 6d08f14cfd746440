"""Physical-plan property assertions — the PLANS.md claims as tests, so a
regression in pushdown/pruning/broadcast shape fails CI, not just an audit.
Each asserts the plan property that makes the operator survive 100x data."""

from __future__ import annotations

import inspect
import re

import pytest

from fa_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"
MEDIA_FEATURE_QUERIES = [
    name for name, (fn, _sql) in REGISTRY.items()
    if re.search(r"\b_media_features\(", inspect.getsource(fn))
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_media_feature_queries_found():
    assert len(MEDIA_FEATURE_QUERIES) >= 25, MEDIA_FEATURE_QUERIES


@pytest.mark.parametrize("name", MEDIA_FEATURE_QUERIES)
def test_media_queries_scan_one_column(spark, name):
    """The decode fixtures synthesize from doc_id alone — the parquet scan
    must read ONE column of the documents table, not all five (column
    pruning through the pandas-UDF synthesis stage), and the synthesized
    blob never crosses an Exchange."""
    plan = _plan(REGISTRY[name][0](spark, SF))
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, plan
    for s in scans:
        assert "struct<doc_id:bigint>" in s, s
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "content" not in line, line


def test_pricing_summary_pushes_filter(spark):
    plan = _plan(REGISTRY["pricing_summary"][0](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned: no l_comment in the scan schema
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans and all("l_comment" not in s for s in scans)


def test_nation_revenue_broadcasts_dims(spark):
    plan = _plan(REGISTRY["nation_revenue"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_flagship_blob_never_shuffled(spark, pages_df):
    """The html blob must die at the UDF boundary: no Exchange carries a
    binary column (the north_rule's no-blob-shuffle property)."""
    from fa_spark.pipeline import JobConfig, analyze_pages

    pages = pages_df.select("url", "warc_ts", "html", "text", "lang").limit(50)
    plan = _plan(analyze_pages(pages, JobConfig(run_id="plan-test")))
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "html" not in line, line


def test_resumable_fresh_run_prunes_anti_join(spark, pages_df, tmp_path):
    """A fresh increment of run_resumable plans no (url, sha) anti-join:
    the empty processed set is visible to the optimizer, so no Exchange
    carries the html blob. Against a committed base the anti-join stays."""
    import datetime as dt

    from fa_spark import lineage

    ts = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
    base = str(tmp_path / "out")
    pages = pages_df.select("url", "warc_ts", "html", "text", "lang").limit(50)
    fresh = _plan(lineage.run_resumable(spark, pages, base, "r1", ts))
    assert "LeftAnti" not in fresh, fresh
    for line in fresh.splitlines():
        if "Exchange" in line:
            assert "html" not in line, line
    resumed = _plan(lineage.run_resumable(spark, pages, base, "r2", ts))
    assert "LeftAnti" in resumed, resumed
    # default_session leaves these to Spark's defaults, which the resumed
    # anti-join relies on
    for key in ("spark.sql.adaptive.enabled",
                "spark.sql.adaptive.skewJoin.enabled",
                "spark.sql.optimizer.runtime.bloomFilter.enabled"):
        assert spark.conf.get(key) == "true", key


def test_dataset_split_zero_exchange(spark):
    plan = _plan(REGISTRY["dataset_split"][0](spark, SF))
    assert "Exchange" not in plan


def test_round8_queries_fused_one_udf_shape(spark):
    """The five round-8 queries share the fused one-UDF plan shape: the
    parquet scan reads ONLY doc_id (pruning through the fixture-UDF
    stage), the synthesized blob never crosses an Exchange, and there
    is at most one shuffle in the whole plan."""
    from fa_spark.queries import (
        q_apng_frames, q_asset_meta, q_caption_meta, q_gif_composite,
        q_ico_features, q_svg_meta, q_webp_lossless,
    )

    for q in (q_webp_lossless, q_ico_features, q_svg_meta, q_apng_frames,
              q_asset_meta, q_caption_meta, q_gif_composite):
        plan = _plan(q(spark, SF))
        scans = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert scans, plan
        for s in scans:
            assert "struct<doc_id:bigint>" in s, (q.__name__, s)
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "content" not in line, (q.__name__, line)
        assert plan.count("Exchange") <= 2, (q.__name__, plan)
