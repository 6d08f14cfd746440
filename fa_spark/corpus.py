"""Training-corpus builder: the end-to-end composition every operator in
this repo exists for — raw crawl pages in, deduplicated quality-filtered
text corpus + accounting out.

    pages ──► analyze (fused Arrow stage)
          ──► keep extractable docs (status, doc_type)
          ──► language filter (detected_lang ∈ allow)
          ──► quality gate (word count, uniq ratio, alpha ratio)
          ──► exact dedup (sha canonical election)        [1 shuffle]
          ──► near-dup CLUSTER resolution (MinHash band pairs → connected
               components → keep cluster-min url)          [O(log n) rounds]
          ──► corpus rows + a savings/accounting report

Every stage is a column predicate or an existing operator — nothing new;
this module is composition + accounting only. The report mirrors the
reference's summary record (analyzer.py:823-838) at corpus scope.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fa_spark.pipeline import JobConfig, analyze_pages
from fa_spark.stages.dedup import minhash_band_pairs, release_pair_caches
from fa_spark.stages.graph import connected_components


@dataclass(frozen=True)
class CorpusConfig:
    langs: tuple[str, ...] = ("en",)
    min_words: int = 20
    min_uniq_ratio: float = 0.3
    min_alpha_ratio: float = 0.5
    near_dup_jaccard: float = 0.8
    minhash_bands: int = 16
    # within-document repetition gates (Gopher-family; None = off)
    max_top2gram_frac: float | None = None
    max_dup10gram_frac: float | None = None
    # eval-set decontamination (applies when build_corpus gets eval_df)
    decon_overlap: float = 0.5
    decon_ngram: int = 3
    # passage-level ExactSubstr strip (Lee et al. 2021; None = off):
    # duplicated >=window-token passages are removed from surviving docs'
    # text, and both token counts are recomputed natively post-strip
    dup_passage_window: int | None = None
    dup_passage_min_count: int = 2
    job: JobConfig = field(default_factory=JobConfig)


def build_corpus(
    pages_df: DataFrame,
    cfg: CorpusConfig = CorpusConfig(),
    output_path: str | None = None,
    eval_df: DataFrame | None = None,
):
    """Returns (corpus_df, report_df).

    corpus_df: url, text, title, lang, n_tokens_ws, n_tokens_bpe, tags, sha
    report_df: one row of funnel counters (input → extracted → lang →
               quality → exact-canonical → near-dup-free) + transitive
               cluster accounting (n_near_dup_clusters, n_near_dup_members;
               with the optional gates off: n_corpus = n_exact_canonical -
               members + clusters) + the optional-gate counters
               (n_repetitious, n_contaminated — drop-set sizes, which may
               overlap each other and the near-dup drops) + bytes/tokens.

    ``eval_df`` (eval_id, text): when given, docs containing ≥
    cfg.decon_overlap of an eval item's n-grams are dropped
    (stages/text.decontaminate). cfg.max_top2gram_frac /
    max_dup10gram_frac enable the within-document repetition gate
    (stages/text.repetition_metrics).

    ``output_path``: when given, the corpus parquet is written HERE, while
    the analysis/signature caches are still alive — a caller-side write
    after return would re-run the whole pipeline (UDF per join branch)
    because this function releases every cache before returning.
    """
    # only the analysis fields read below are computed
    analysis = analyze_pages(
        pages_df,
        cfg.job,
        fields=("extract", "minhash", "quality", "detected_lang",
                "n_tokens_ws", "n_tokens_bpe", "tags"),
    ).persist()

    c_extracted = F.col("extract.status").isin(
        "success", "success_lenient"
    ) & (F.col("extract.doc_type") != "boilerplate")
    c_lang = F.col("detected_lang").isin(*cfg.langs)
    c_quality = (
        (F.col("quality.n_words") >= cfg.min_words)
        & (F.col("quality.uniq_ratio") >= cfg.min_uniq_ratio)
        & (F.col("quality.alpha_ratio") >= cfg.min_alpha_ratio)
    )
    exact_canonical = analysis.where(
        c_extracted & c_lang & c_quality & F.col("is_canonical")
    )

    # near-dup cluster resolution (round 3 — VERDICT r2: pair-drop kept the
    # never-max member of a transitive chain, e.g. {1,5,9} with edges
    # (5,9),(1,9) kept BOTH 1 and 5; connected components keep exactly one
    # canonical per transitive cluster and give the report true cluster
    # accounting). Vertices = paired docs only; unpaired docs are untouched.
    pairs = minhash_band_pairs(
        exact_canonical,
        id_col="url",
        bands=cfg.minhash_bands,
        min_jaccard=cfg.near_dup_jaccard,
    )
    clusters = connected_components(pairs, src="id_a", dst="id_b")
    cstats = clusters.agg(
        F.count("*").alias("n_members"),
        F.sum(F.col("is_canonical").cast("long")).alias("n_clusters"),
    ).collect()[0]
    drop = clusters.where(~F.col("is_canonical")).select(F.col("id").alias("url"))

    # round-3 quality gates, composed from the standalone operators:
    # within-document repetition (Gopher family) and eval-set
    # decontamination — each contributes its drop-set to the same
    # anti-join, so the funnel stays a single pass over the analysis
    extra_caches = []
    n_repetitious = 0
    if cfg.max_top2gram_frac is not None or cfg.max_dup10gram_frac is not None:
        from fa_spark.stages.text import repetition_metrics

        rep = repetition_metrics(
            exact_canonical.select("url", F.col("extract.text").alias("text")),
            id_col="url",
        )
        cond = F.lit(False)
        if cfg.max_top2gram_frac is not None:
            cond = cond | (F.col("top_2gram_frac") > cfg.max_top2gram_frac)
        if cfg.max_dup10gram_frac is not None:
            cond = cond | (F.col("dup_10gram_frac") > cfg.max_dup10gram_frac)
        rep_drop = rep.where(cond).select("url").persist()
        extra_caches.append(rep_drop)
        n_repetitious = rep_drop.count()
        drop = drop.unionByName(rep_drop)
    n_contaminated = 0
    if eval_df is not None:
        from fa_spark.stages.text import decontaminate

        cont = decontaminate(
            exact_canonical.select("url", F.col("extract.text").alias("text")),
            eval_df,
            corpus_id="url",
            n=cfg.decon_ngram,
            min_overlap=cfg.decon_overlap,
        )
        cont_drop = cont.select("url").distinct().persist()
        extra_caches.append(cont_drop)
        n_contaminated = cont_drop.count()
        drop = drop.unionByName(cont_drop)

    corpus = exact_canonical.join(drop, "url", "left_anti").select(
        "url",
        F.col("extract.text").alias("text"),
        F.col("extract.title").alias("title"),
        F.col("detected_lang").alias("lang"),
        "n_tokens_ws",
        "n_tokens_bpe",
        "tags",
        "sha",
    )

    # passage-level ExactSubstr strip (round 4): runs on the SURVIVING docs
    # (whole-doc dups are already gone, so the windows relation is as small
    # as it can be); token counts are recomputed natively post-strip so the
    # corpus row stays self-consistent
    n_passage_tokens = 0
    if cfg.dup_passage_window is not None:
        from fa_spark.stages.text import (
            duplicate_passages,
            strip_duplicate_passages,
            token_count_exprs,
        )

        # keyed on a per-row unique id, NOT url (round-5 ADVICE): after sha
        # canonical election sha is unique among survivors (one canonical
        # per sha group, the NULL group included — at most one NULL-sha
        # row), while url is NOT (the same url recrawled with different
        # content survives exact dedup as two rows, and a url-keyed inner
        # join here would cross-apply one doc's spans to the other's token
        # stream). coalesce gives the single possible NULL-sha row a
        # non-null key so the join back cannot drop it.
        corpus = corpus.withColumn(
            "_rid", F.coalesce(F.col("sha"), F.lit("\x00null-sha"))
        )
        spans = duplicate_passages(
            corpus,
            id_col="_rid",
            text_col="text",
            window=cfg.dup_passage_window,
            min_count=cfg.dup_passage_min_count,
        )
        stripped = strip_duplicate_passages(
            corpus, spans, id_col="_rid", text_col="text"
        ).persist()
        extra_caches.append(stripped)
        n_passage_tokens = int(
            stripped.agg(F.sum("n_dropped_tokens")).collect()[0][0] or 0
        )
        # clean_text is a token-stream rebuild (normalized, like
        # chunk_documents) — only rows that actually lost a passage take
        # it; untouched rows keep their original text and counts verbatim
        changed = F.col("n_dropped_tokens") > 0
        ws_clean, bpe_clean = token_count_exprs("clean_text")
        corpus = corpus.join(stripped, "_rid").select(
            "url",
            F.when(changed, F.col("clean_text")).otherwise(F.col("text")).alias(
                "text"
            ),
            "title",
            "lang",
            F.when(changed, ws_clean).otherwise(F.col("n_tokens_ws")).alias(
                "n_tokens_ws"
            ),
            F.when(changed, bpe_clean).otherwise(F.col("n_tokens_bpe")).alias(
                "n_tokens_bpe"
            ),
            "tags",
            "sha",
        )

    # ONE conditional aggregate gives the whole cumulative funnel (round-1
    # VERDICT item 8: 6 separate count() actions = 6 job launches); the
    # corpus-side stats need the near-dup anti-join so they are a second
    # (and final) action.
    def _n(cond):
        # coalesce: an empty increment must report 0, not NULL (same fix as
        # pipeline.summary)
        return F.coalesce(F.sum(cond.cast("long")), F.lit(0))

    funnel = analysis.agg(
        F.count("*").alias("n_input"),
        _n(c_extracted).alias("n_extracted"),
        _n(c_extracted & c_lang).alias("n_lang"),
        _n(c_extracted & c_lang & c_quality).alias("n_quality"),
        _n(c_extracted & c_lang & c_quality & F.col("is_canonical")).alias(
            "n_exact_canonical"
        ),
    ).collect()[0]
    spark = pages_df.sparkSession
    if output_path is not None:
        corpus.write.mode("overwrite").parquet(output_path)
        corpus = spark.read.parquet(output_path)  # stats read the sink back
    stats = corpus.agg(
        F.count("*").alias("n_corpus"),
        F.sum("n_tokens_ws").alias("tokens_ws"),
        F.sum("n_tokens_bpe").alias("tokens_bpe"),
        F.sum(F.length("text")).alias("chars"),
    ).collect()[0]
    report = spark.createDataFrame(
        [
            (
                funnel["n_input"], funnel["n_extracted"], funnel["n_lang"],
                funnel["n_quality"], funnel["n_exact_canonical"],
                int(cstats["n_clusters"] or 0),
                int(cstats["n_members"] or 0),
                int(n_repetitious), int(n_contaminated),
                int(n_passage_tokens),
                stats["n_corpus"],
                int(stats["tokens_ws"] or 0), int(stats["tokens_bpe"] or 0),
                int(stats["chars"] or 0),
            )
        ],
        "n_input long, n_extracted long, n_lang long, n_quality long, "
        "n_exact_canonical long, n_near_dup_clusters long, "
        "n_near_dup_members long, n_repetitious long, n_contaminated long, "
        "n_passage_tokens_dropped long, "
        "n_corpus long, tokens_ws long, tokens_bpe long, chars long",
    )
    analysis.unpersist()
    for cached in extra_caches:
        cached.unpersist()
    release_pair_caches()  # drop the near-dup pairs cache (recompute-safe)
    return corpus, report
