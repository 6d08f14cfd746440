"""Tag ranking + filename stage (reference A1/W1/M10,
/root/reference/src/cli/utils/render.py:13-166).

Tag ranking is 100% native expressions — explode/filter/groupBy/window —
so it rides WholeStageCodegen and partial aggregation; the only Python here
is the filename cascade (``filename_udf``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from fa_spark import pure

TOKEN_PATTERN = "[a-z0-9]+"
GENERIC_TAGS = sorted(pure.GENERIC_TAGS)


def tokens_expr(text_col: str):
    """Canonical tokenizer — identical semantics to pure.tokenize and to the
    DuckDB oracle's regexp_extract_all."""
    return F.expr(f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)")


def tag_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, tag, cnt) after the reference's cleaning rules: lowercase, drop
    len<=2 and the generic set."""
    generic = F.array(*[F.lit(g) for g in GENERIC_TAGS])
    return (
        df.select(id_col, F.explode(tokens_expr(text_col)).alias("tag"))
        .where((F.length("tag") > 2) & ~F.array_contains(generic, F.col("tag")))
        .groupBy(id_col, "tag")
        .agg(F.count("*").alias("cnt"))
    )


def top_tags(df: DataFrame, id_col: str, text_col: str, k: int = 10) -> DataFrame:
    """(id, tag, cnt, rank) rows, rank<=k, ties broken alphabetically —
    the reference's (-count, tag) sort (render.py:35-38)."""
    w = Window.partitionBy(id_col).orderBy(F.desc("cnt"), F.asc("tag"))
    return (
        tag_counts(df, id_col, text_col)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


@F.pandas_udf(StringType())
def filename_udf(description: pd.Series) -> pd.Series:
    """M10 filename cascade as a vectorized column op."""
    return pd.Series(
        [pure.generate_filename(d if d is not None else "") for d in description]
    )
