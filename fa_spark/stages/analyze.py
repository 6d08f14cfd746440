"""Fused per-page analysis stage.

The reference runs its analyzers sequentially as separate subprocess stages
(metadata → duplicates → ocr → virus → search → binary → vision,
/root/reference/src/core/analyzer.py:94-119). Here all per-row analyzers are
ONE Arrow-batched pass: decode each page's bytes once, derive every column
family (sniff, meta, extract, sigs, fingerprints, quality) from that single
decode. Inter-stage independence (SURVEY.md §3.2) is what makes the fusion
legal; the only operators needing a shuffle (dedup, tags) stay outside.

``_COLUMNS`` is the one field table: each analysis field maps to the
function that builds its column from a batch of pure.analyze_document
results. A caller names the fields it reads (``analysis_udf(fields)``,
``with_analysis(pages, fields)``); only those columns are built and cross
Arrow, and analyze_document runs only the steps they need.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fa_spark import pure
from fa_spark import schema as S

# compiled once per Python worker process
_COMPILED_SIGS = pure.compile_signatures()

_SIGNED64_MASK = (1 << 64) - 1


def _to_i64(x: int) -> int:
    """Fold an unsigned 64-bit value into Spark's signed LongType."""
    x &= _SIGNED64_MASK
    return x - (1 << 64) if x >= (1 << 63) else x


MINHASH_K = 64


def _sniff_col(docs: list[dict]) -> list:
    return [
        {
            "content_type": sn["content_type"],
            "charset": sn["charset"],
            "embedded": [{"offset": off, "kind": kind} for off, kind in sn["embedded"]],
            "interesting": sn["interesting"],
        }
        for sn in (d["sniff"] for d in docs)
    ]


def _simhashes(toks_list: list[list[str]]) -> list:
    # computed for the whole batch in one reduceat pass
    # (pure._simhash_toks_batch) — bit-identical, ~4x cheaper than
    # per-doc numpy setup
    return [_to_i64(s) for s in pure._simhash_toks_batch(toks_list)]


def _minhashes(windows_list: list) -> list:
    # like simhash, one reduceat pass for the whole batch
    # (pure._minhash_windows_batch, round 7 — bit-identical, drops the
    # per-doc (seeds, windows) broadcast setup); docs without text (None
    # windows) get the [] signature
    sigs = pure._minhash_windows_batch(windows_list, MINHASH_K, signed=True)
    return [[] if sig is None else sig for sig in sigs]


def _key(key: str):
    return lambda docs: [d[key] for d in docs]


# analysis field -> its column from a batch of analyze_document results
_COLUMNS = {
    "sniff": _sniff_col,
    "meta": _key("meta"),
    # ExtractResult's fields are the EXTRACT struct's, in order
    "extract": lambda docs: [vars(d["extract"]) for d in docs],
    "sigs": lambda docs: [
        pure.scan_text(t, _COMPILED_SIGS) if (t := d["extract"].text) else []
        for d in docs
    ],
    "simhash": lambda docs: _simhashes([d["toks"] for d in docs]),
    "minhash": lambda docs: _minhashes([d["mh_windows"] for d in docs]),
    "quality": _key("quality"),
    "detected_lang": _key("detected_lang"),
    "n_tokens_ws": lambda docs: [d["token_count"][0] for d in docs],
    "n_tokens_bpe": lambda docs: [d["token_count"][1] for d in docs],
    # tag ranking (reference A1) is top-k of ONE doc's token counts — a
    # per-row op, so it lives here, not behind a groupBy shuffle
    "tags": lambda docs: [d["tags"][:10] for d in docs],
    "slug": _key("slug"),
}

# every field, in S.ANALYSIS order
FIELDS = tuple(n for n in S.ANALYSIS.names if n in _COLUMNS)


def analyze_batch(html: pd.Series, fields: tuple[str, ...] = FIELDS) -> pd.DataFrame:
    """One Arrow batch of raw page bytes -> the requested analysis columns.

    Delegates to pure.analyze_document — ONE decode + ONE DOM parse + ONE
    tokenization per page shared by all analyzers (the two-parse/four-
    tokenize version measured ~40% slower), running only the steps
    ``fields`` need. Each field equals the individual pure function's
    result by construction: those functions are views of the same steps,
    and the simhash/minhash columns share _simhashes/_minhashes with
    simhash_udf/minhash_udf."""
    docs = [
        pure.analyze_document(
            bytes(data) if data is not None else b"",
            MINHASH_K, skip_simhash=True, skip_minhash=True, fields=fields,
        )
        for data in html
    ]
    return pd.DataFrame({f: _COLUMNS[f](docs) for f in fields})


@functools.cache
def _analysis_udf(fields: tuple[str, ...]):
    def analyze_batch_udf(html: pd.Series) -> pd.DataFrame:
        return analyze_batch(html, fields)

    # the plan shows the UDF by this name; perfbench finds the analyzer's
    # node by "analyze_batch", and a subset appends its fields
    suffix = "" if fields == FIELDS else "_" + "_".join(fields)
    analyze_batch_udf.__name__ = "analyze_batch" + suffix
    return F.pandas_udf(
        analyze_batch_udf, StructType([S.ANALYSIS[f] for f in fields])
    )


def analysis_udf(fields=FIELDS):
    """pandas UDF: page bytes -> struct of ``fields`` (in FIELDS order).
    Memoized, so every caller asking for the same fields shares one UDF."""
    unknown = set(fields) - set(FIELDS)
    if unknown:
        raise ValueError(f"unknown analysis fields: {sorted(unknown)}")
    return _analysis_udf(tuple(f for f in FIELDS if f in fields))


def _minhash_batch(text: pd.Series) -> pd.Series:
    windows = [
        pure._shingle_windows(pure.tokenize(t), 5) if t else None for t in text
    ]
    return pd.Series(_minhashes(windows))


def _simhash_batch(text: pd.Series) -> pd.Series:
    return pd.Series(_simhashes([pure.tokenize(t) if t else [] for t in text]))


FP_FULL_MAX_TOKENS = 8192  # docs past this are excluded (symmetric in SQL)


def _fingerprint_full_batch(text: pd.Series) -> pd.Series:
    """Keep EVERY 8-token window hash (keep_mod=1), distinct. The
    shared-count between two docs then equals their shared distinct 8-gram
    count — exactly recomputable in SQL, which a sparse winnowing form
    (keep_mod > 1) cannot offer. The cap matches FP_FULL_MAX_TOKENS so the
    'shared == exact' invariant never silently truncates; the query bounds
    its universe to that token count on BOTH engines."""
    out = []
    for t in text:
        hs = (
            pure.rolling_fingerprint(t, window=8, keep_mod=1, cap=FP_FULL_MAX_TOKENS)
            if t
            else []
        )
        seen: dict[int, None] = dict.fromkeys(_to_i64(h) for h in hs)
        out.append(list(seen))
    return pd.Series(out)


# standalone fingerprint UDFs for text that is already extracted
# (DataType objects, not DDL strings — string parsing needs a live session)
from pyspark.sql.types import ArrayType, LongType  # noqa: E402

minhash_udf = F.pandas_udf(_minhash_batch, ArrayType(LongType()))
simhash_udf = F.pandas_udf(_simhash_batch, LongType())
fingerprint_full_udf = F.pandas_udf(_fingerprint_full_batch, ArrayType(LongType()))


def content_pages(pages_df):
    """Resolve each page's analyzable content bytes into ``html``.

    Rows with NULL html but non-empty ``text`` (WET conversion records —
    already-extracted text, sources.read_warc) analyze the encoded text
    instead: same fused pass, and sha/html_bytes follow the same bytes, so
    WET documents flow through the pipeline rather than vanishing as
    empty (round-4 review: the text column was otherwise never consumed).
    Shared by with_analysis and the narrow dedup-stats projection
    (pipeline.analyze_pages, round 9) so both derive sha from identical
    bytes."""
    if "text" in pages_df.columns:
        # isNotNull FIRST: the common (html-bearing) case short-circuits
        # without touching the text column — the isNull-first form
        # evaluated the text predicate on every row (~6% of the whole
        # extraction job, measured in-session)
        content = F.when(F.col("html").isNotNull(), F.col("html")).otherwise(
            F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
        )
        pages_df = pages_df.withColumn("html", content)
    return pages_df


def with_analysis(pages_df, fields=FIELDS):
    """pages(url, warc_ts, html, ...) -> flat analysis DataFrame with the
    S.ANALYSIS columns for ``fields`` plus the ones computed in the JVM.

    ``sha`` and ``html_bytes`` stay JVM-side (native sha2/length — no reason
    to pay the Arrow transfer for them); everything needing the decoded DOM
    rides the fused UDF. ``html`` is projected away immediately after the UDF
    stage (SURVEY.md §7.3 hard part 4 — never carry the blob further).
    """
    jvm = {
        "sha": F.sha2("html", 256),
        # cast: length() is int, the declared schema (S.ANALYSIS) says
        # bigint — found by the round-4 validate_analysis stage
        "html_bytes": F.length("html").cast("long"),
    }
    cols = []
    for name in S.ANALYSIS.names:
        if name in jvm:
            cols.append(jvm[name].alias(name))
        elif name not in FIELDS:
            cols.append(name)  # url, warc_ts, lang pass through
        elif name in fields:
            cols.append(F.col("a." + name).alias(name))
    pages_df = content_pages(pages_df)
    return pages_df.withColumn("a", analysis_udf(fields)("html")).select(*cols)
