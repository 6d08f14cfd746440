"""Driver-side render sink (reference S7,
/root/reference/src/cli/utils/render.py:169-229) and environment preflight
(reference A7 verification matrix, /root/reference/src/core/analyzer.py:879-944).

Render is a pure function over a collected row so tests are byte-stable;
only ever applied to `df.limit(k).collect()` — never a distributed op.
"""

from __future__ import annotations

import json
from typing import Any


def render_analysis(row: dict[str, Any], fmt: str = "md") -> str:
    """One analysis row -> md / json / pretty text.

    The markdown shape (## Description / ## Tags sections) mirrors the
    reference's CLI contract (tests/test_cli_essential.py expects those
    headers in --md output)."""
    if fmt == "json":
        return json.dumps(row, sort_keys=True, default=str)
    ex = row.get("extract") or {}
    title = ex.get("title") or row.get("url", "")
    text = ex.get("text") or ""
    tags = row.get("tags") or []
    if fmt == "md":
        lines = [
            f"# {title}",
            "",
            "## Description",
            "",
            text[:1000],  # display truncation (reference W4)
            "",
            "## Tags",
            "",
            ", ".join(tags) if tags else "(none)",
            "",
            f"**url:** {row.get('url','')}  ",
            f"**type:** {ex.get('doc_type','')} · **status:** {ex.get('status','')} · "
            f"**slug:** {row.get('slug','')}",
        ]
        return "\n".join(lines)
    if fmt == "pretty":
        return (
            f"{title}\n{'=' * max(len(title), 1)}\n"
            f"url:    {row.get('url','')}\n"
            f"type:   {ex.get('doc_type','')}\n"
            f"status: {ex.get('status','')}\n"
            f"tags:   {', '.join(tags)}\n\n{text[:1000]}"
        )
    raise ValueError(f"unknown format: {fmt}")


def write_text_reports(df, path: str, fmt: str = "md") -> None:
    """Distributed text-report sink (reference S6 — raw per-file .txt via
    safe_write, analyzer.py:497/607/689). Spark-first shape: every analysis
    row renders to ONE line of a `text`-datasource file (inner newlines
    escaped as literal '\\n'), written partition-parallel; the atomic
    temp+rename the reference hand-rolls in safe_write is what Spark's
    job-commit protocol already provides. Rendering runs in an Arrow batch
    (mapInPandas over render_analysis — the same pure function that renders
    collected rows, so the two can't drift)."""
    from pyspark.sql import types as T

    cols = df.columns

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                d = {c: row[c] for c in cols}
                for k, v in list(d.items()):
                    # Arrow hands structs to pandas as dicts, arrays as
                    # numpy arrays, and nulls as NaN/NaT; normalize to the
                    # plain-Python shapes the driver-side renderer receives
                    # from Row.asDict() so the two sinks render identically
                    # (round-3 ADVICE: null fields drifted between sinks)
                    if isinstance(v, np.ndarray):
                        d[k] = v.tolist()
                    elif hasattr(v, "asDict"):
                        d[k] = v.asDict(recursive=True)
                    elif isinstance(v, (list, dict, tuple)):
                        pass
                    elif v is None or pd.isna(v):
                        d[k] = None
                    elif isinstance(v, np.generic):
                        d[k] = v.item()
                rendered = render_analysis(d, fmt)
                out.append(rendered.replace("\\", "\\\\").replace("\n", "\\n"))
            yield pd.DataFrame({"value": out})

    reports = df.mapInPandas(fn, T.StructType([T.StructField("value", T.StringType())]))
    reports.write.mode("overwrite").text(path)


def preflight(spark) -> dict[str, str]:
    """Environment verification matrix, logged before a run (reference runs
    tool --version checks; here: library versions + the Spark confs the
    pipeline depends on). Each conf reads its effective value, Spark's own
    default included."""
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "spark": pyspark.__version__,
        "arrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "master": spark.sparkContext.master,
        "arrow_enabled": spark.conf.get("spark.sql.execution.arrow.pyspark.enabled"),
        "aqe_enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "session_tz": spark.conf.get("spark.sql.session.timeZone"),
    }
