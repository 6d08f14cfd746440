"""Local replica of the driver's DuckDB correctness gate.

For every (queries()[name], oracle_sql()[name]) pair: run the Spark query and
the DuckDB SQL on the same sf0.001 parquet, compare row count, column names,
and an order-insensitive value hash (values normalized: floats rounded to 9
significant-ish decimals, rows sorted by their string form).
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pytest

from tests.conftest import SF0001

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append("|".join(_norm_cell(vals[i]) for i in order))
    out.sort()
    return out


def _pairs():
    from fa_spark.queries import REGISTRY

    return [
        (name, fn, sql) for name, (fn, sql) in REGISTRY.items() if sql is not None
    ]


def _driver_shape_gate(rows, cols):
    """Reproduce the official driver's canonicalization sort (round-3
    VERDICT #3): it pandas-sorts the result frame by every column, which
    raises TypeError («unhashable type: 'list'») on array-typed cells.
    Running the same sort locally makes a driver-contract shape violation
    fail in pytest before the driver ever sees it — exactly the failure
    mode that hid the round-3 embedding_quantize red row."""
    import pandas as pd

    pdf = pd.DataFrame([list(r) for r in rows], columns=list(cols))
    pdf.sort_values(by=sorted(cols), kind="stable")


def test_shape_gate_rejects_array_columns():
    """Meta-test: the gate itself must fail on an array-typed column."""
    with pytest.raises(TypeError):
        _driver_shape_gate([(1, [1, 2]), (2, [3, 4])], ["id", "vec"])


@pytest.mark.parametrize("name,fn,sql", _pairs(), ids=[p[0] for p in _pairs()])
def test_oracle_match(spark, name, fn, sql):
    sdf = fn(spark, SF0001)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    _driver_shape_gate(s_rows, s_cols)

    con = _duck(SF0001)
    res = con.execute(sql)
    d_cols = [c[0] for c in res.description]
    d_rows = res.fetchall()
    con.close()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column mismatch"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    sc = _canon(s_rows, s_cols)
    dc = _canon(d_rows, d_cols)
    mismatches = [(a, b) for a, b in zip(sc, dc) if a != b]
    assert not mismatches, f"{name}: first value mismatches {mismatches[:3]}"


def test_rows_only_queries(spark):
    """Queries without SQL oracles must still run and be deterministic."""
    from fa_spark.queries import REGISTRY

    for name, (fn, sql) in REGISTRY.items():
        if sql is not None:
            continue
        df1 = fn(spark, SF0001)
        rows1 = sorted(map(str, df1.collect()))
        rows2 = sorted(map(str, fn(spark, SF0001).collect()))
        assert rows1 == rows2, f"{name}: nondeterministic output"


def test_minhash_finds_planted_pairs(spark):
    from fa_spark.queries import q_minhash_near_dups

    pairs = {
        (r["id_a"], r["id_b"]) for r in q_minhash_near_dups(spark, SF0001).collect()
    }
    # every mutant (id+100000) should pair with its source for most docs
    hits = sum(1 for a, b in pairs if b == a + 100000)
    assert hits >= 30, f"only {hits} planted near-dup pairs found"


def test_simhash_finds_planted_pairs(spark):
    from fa_spark.queries import q_simhash_near_dups

    pairs = {
        (r["id_a"], r["id_b"]) for r in q_simhash_near_dups(spark, SF0001).collect()
    }
    hits = sum(1 for a, b in pairs if b == a + 100000)
    assert hits >= 25, f"only {hits} planted simhash pairs found"


def test_ivf_topk_recall(spark):
    """IVF approximate top-k must recover most of the exact top-k."""
    from fa_spark.queries import q_ann_topk, q_ivf_topk

    exact = {
        (r["query_id"], r["vec_id"]) for r in q_ann_topk(spark, SF0001).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"]) for r in q_ivf_topk(spark, SF0001).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall {recall:.2f} too low"


def test_salted_equals_naive(spark):
    """The salted two-phase agg must be EXACTLY the naive groupBy result."""
    from pyspark.sql import functions as F

    from fa_spark.queries import q_salted_source_stats

    salted = {
        r["source"]: (r["n_rows"], r["sum_n_chars"])
        for r in q_salted_source_stats(spark, SF0001).collect()
    }
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    naive = {
        r["source"]: (r["n_rows"], r["sum_n_chars"])
        for r in docs.groupBy("source")
        .agg(F.count("*").alias("n_rows"), F.sum("n_chars").alias("sum_n_chars"))
        .collect()
    }
    assert salted == naive


def test_fingerprint_finds_planted_pairs(spark):
    from fa_spark.queries import q_fingerprint_near_dups

    pairs = q_fingerprint_near_dups(spark, SF0001).collect()
    planted = sum(1 for r in pairs if r["id_b"] == r["id_a"] + 100000)
    assert planted >= 20, f"only {planted} planted fingerprint pairs found"


def test_lsh_topk_recall(spark):
    """LSH approximate top-k must recover most of the exact top-k."""
    from fa_spark.queries import q_ann_topk, q_lsh_topk

    exact = {
        (r["query_id"], r["vec_id"]) for r in q_ann_topk(spark, SF0001).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"]) for r in q_lsh_topk(spark, SF0001).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"LSH recall {recall:.2f} too low"


def test_entry_smoke(spark):
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    from fa_spark.pipeline import JobConfig, analyze_pages

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"url", "ext_text", "doc_type", "status", "sha"} <= set(df.columns)
    # entry computes only the fields it reads; its rows must equal the same
    # ten columns projected from the all-fields analysis of the same pages
    full = analyze_pages(e._entry_pages(spark), JobConfig(run_id="entry-smoke"))
    expected = full.select(
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
    assert df.columns == expected.columns
    assert sorted(map(tuple, rows)) == sorted(map(tuple, expected.collect()))
