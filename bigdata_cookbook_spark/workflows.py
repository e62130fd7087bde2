"""Workflow recompositions (SURVEY.md §3) — thin pipelines over the layers.

Each mirrors a reference notebook skeleton with the LLM replaced by a
pluggable backend (deterministic stub in tests):

- thematic_screener: §3.1 ThematicScreener.ipynb cells 18-34
- dual_role_analysis: §3.2 AI_Cost_Cutting_Market_Analysis.ipynb cells 18-41
- narrative_timeseries: Narrative_Miners/src/tool.py:21-88 analytics
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_cookbook_spark.llm.stage import Backend, llm_label_stage
from bigdata_cookbook_spark.operators.analytics import (
    calendar_densify,
    gaussian_smooth,
    pivot_composite,
    topk_per_group,
    zscore_per_series,
)
from bigdata_cookbook_spark.operators.graph import co_mention_pairs
from bigdata_cookbook_spark.operators.normalize import normalize_screening
from bigdata_cookbook_spark.query.algebra import QuerySpec, run_search, unified_chunk_frame


def thematic_screener(
    documents: DataFrame,
    chunks: DataFrame,
    entities: DataFrame,
    theme_labels: Sequence[str],
    backend: Backend,
    specs: list[QuerySpec] | None = None,
    watchlist: Sequence[str] | None = None,
) -> dict[str, DataFrame]:
    """§3.1: (optional search) -> normalize -> label -> per-company and
    per-industry theme score pivot with composite (A9/A14)."""
    if specs:
        hits = run_search(unified_chunk_frame(documents, chunks), specs)
        chunk_ids = hits.select("sentence_id").distinct()
        chunks = chunks.join(chunk_ids, "sentence_id", "left_semi")
    mode = "watchlist" if watchlist else "discovery"
    # Round 12 (guide §3.3): the returned dict's four frames are
    # consumed as SEPARATE actions by callers (the migration example
    # materializes all four), and labeled's lineage contains the
    # backend mapInPandas — the single most expensive node of any real
    # deployment (an LLM call per unique key). Without materialization
    # every consumer re-ran normalize + the backend stage. Lazy
    # localCheckpoints at both fan-out nodes; values unchanged.
    screening = normalize_screening(
        documents, chunks, entities, mode=mode, watchlist=watchlist
    ).localCheckpoint(eager=False)
    labeled = llm_label_stage(screening, backend).localCheckpoint(eager=False)
    clean = labeled.filter(~F.col("label").isin("", "unassigned", "unclear", "U"))
    by_company = pivot_composite(
        clean,
        group_by=["entity_name", "entity_sector"],
        pivot_col="label",
        pivot_values=list(theme_labels),
        agg=F.count(F.lit(1)),
    )
    by_industry = pivot_composite(
        clean,
        group_by=["entity_industry"],
        pivot_col="label",
        pivot_values=list(theme_labels),
        agg=F.count(F.lit(1)),
    )
    return {"screening": screening, "labeled": labeled, "by_company": by_company, "by_industry": by_industry}


def dual_role_analysis(
    documents: DataFrame,
    chunks: DataFrame,
    entities: DataFrame,
    backend: Backend,
    top_k_per_sector: int = 5,
) -> dict[str, DataFrame]:
    """§3.2: normalize -> label P/A/N -> split -> top companies per sector
    (W1), weekly net-exposure time series (J9+A12), co-mention network
    (J8)."""
    screening = normalize_screening(documents, chunks, entities, mode="discovery")
    # §3.3: labeled fans out to providers/users/top/weekly/network + the
    # returned frame — six consumers of the backend stage (see the
    # thematic_screener note)
    labeled = llm_label_stage(screening, backend).localCheckpoint(eager=False)
    providers = labeled.filter(F.col("label") == "P")
    users = labeled.filter(F.col("label").isin("A", "N"))

    top_by_sector = topk_per_group(
        providers.groupBy("entity_sector", "entity_name").agg(
            F.countDistinct("sentence_id").alias("n_hits")
        ),
        ["entity_sector"],
        [F.col("n_hits").desc(), F.col("entity_name").asc()],
        k=top_k_per_sector,
    )

    weekly = (
        labeled.filter(F.col("label").isin("P", "A", "N"))
        .groupBy(
            F.date_trunc("week", "timestamp_utc").cast("date").alias("week"),
            "entity_name",
        )
        .agg(
            F.count(F.when(F.col("label") == "P", 1)).alias("pos_cnt"),
            F.count(F.when(F.col("label") != "P", 1)).alias("neg_cnt"),
        )
    )
    dense = calendar_densify(
        weekly,
        date_col="week",
        entity_cols=["entity_name"],
        value_cols={
            "pos_cnt": F.coalesce(F.col("pos_cnt"), F.lit(0)),
            "neg_cnt": F.coalesce(F.col("neg_cnt"), F.lit(0)),
        },
        step="interval 7 day",
    ).withColumn("net_exposure", F.abs(F.col("pos_cnt")) - F.abs(F.col("neg_cnt")))

    network = co_mention_pairs(labeled)
    return {
        "labeled": labeled,
        "providers": providers,
        "users": users,
        "top_by_sector": top_by_sector,
        "weekly_net": dense,
        "network": network,
    }


def narrative_timeseries(
    labeled: DataFrame,
    date_col: str = "timestamp_utc",
    label_col: str = "label",
    sigma: float = 2.0,
) -> DataFrame:
    """Narrative miner analytics: weekly counts per label -> z-score (W6)
    -> Gaussian smoothing (W7)."""
    weekly = labeled.groupBy(
        label_col, F.date_trunc("week", date_col).cast("date").alias("week")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    z = zscore_per_series(weekly, [label_col], "cnt", out_col="zscore")
    return gaussian_smooth(z, [label_col], [F.col("week").asc()], "zscore", sigma=sigma)


def report_generator(
    documents: DataFrame,
    chunks: DataFrame,
    entities: DataFrame,
    backend: Backend,
    summarize_backend=None,
    risk_levels: dict[str, int] | None = None,
) -> dict[str, DataFrame]:
    """§3 Report_Generator skeleton (Report_Generator_AI_Threats/
    src/report_generator.py, Report_Generator_Regulatory_Issues_in_Tech):
    normalize -> label -> drop unassigned (P3) -> per-(entity, label)
    hierarchical summaries (L5) -> risk mapping (A13/L6) -> doc-volume
    score normalized by global mean (A10) -> fallback coalesce of
    filings-vs-news summaries (J10) -> HTML-ready frame (S7 input)."""
    from bigdata_cookbook_spark.llm.summarize import (
        hierarchical_summarize,
        stub_summarizer,
    )

    summarize_backend = summarize_backend or stub_summarizer
    risk_levels = risk_levels or {"P": 3, "A": 2, "N": 1}

    screening = normalize_screening(documents, chunks, entities, mode="discovery")
    # §3.3: labeled fans out to filings/news/volumes + the returned
    # frame (see the thematic_screener note)
    labeled = llm_label_stage(screening, backend).filter(
        ~F.col("label").isin("", "unassigned", "unclear", "U")
    ).localCheckpoint(eager=False)

    # L5 per (entity, label) from the two document populations
    filings = labeled.filter(F.col("document_type").isin("filings", "transcripts"))
    news = labeled.filter(F.col("document_type") == "news")

    def summaries(df: DataFrame, out: str) -> DataFrame:
        return hierarchical_summarize(
            df,
            keys=["entity_name", "label"],
            text_col="masked_text",
            doc_col="document_id",
            backend=summarize_backend,
        ).withColumnRenamed("summary", out)

    f_sum = summaries(filings, "filings_summary")
    n_sum = summaries(news, "news_summary")

    # J10: filings summary preferred, news fallback
    merged = (
        f_sum.select("entity_name", "label", "filings_summary")
        .join(
            n_sum.select(
                "entity_name", "label", "news_summary",
                F.col("n_documents").alias("n_news_docs"),
            ),
            ["entity_name", "label"],
            "full_outer",
        )
        .withColumn(
            "summary", F.coalesce("filings_summary", "news_summary")
        )
        # §3.3: consumed by the report join AND returned — and the
        # lineage holds both hierarchical-summarize backends
        .localCheckpoint(eager=False)
    )

    # A13 risk mapping + A10 score = n_docs / mean(n_docs)
    level = F.lit(0)
    for lab, lv in sorted(risk_levels.items()):
        level = F.when(F.col("label") == lab, lv).otherwise(level)
    volumes = labeled.groupBy("entity_name").agg(
        F.countDistinct("document_id").alias("n_docs")
    )
    scored = volumes.withColumn(
        "score", F.col("n_docs") / F.avg("n_docs").over(Window.partitionBy())
    )

    report = (
        merged.withColumn("risk_level", level)
        .join(F.broadcast(scored), "entity_name", "left")
        .select(
            "entity_name", "label", "risk_level", "summary",
            "n_docs", F.round("score", 4).alias("score"),
        )
    )
    return {"labeled": labeled, "summaries": merged, "report": report}


def board_monitoring(
    documents: DataFrame,
    chunks: DataFrame,
    entities: DataFrame,
    person_variations: Sequence[str],
    strict_company_id: str | None = None,
) -> dict[str, DataFrame]:
    """§3 Board_Management_Monitoring workflow (src/tool.py:573-667):
    person-variation query (Q10) -> doc-id dedup across hits (O4) ->
    doc-level annotated view (S8) -> quarterly doc counts (A15) and
    top sources (A16). Explicit query-id provenance replaces the
    reference's positional result indexing (tool.py:262-274)."""
    from bigdata_cookbook_spark.operators.normalize import doc_level_annotations
    from bigdata_cookbook_spark.query.algebra import PersonVariations

    frame = unified_chunk_frame(documents, chunks)
    pred = PersonVariations(
        *person_variations, strict_company_id=strict_company_id
    )
    hits = frame.filter(pred.to_column())

    # O4: first chunk hit per document wins
    # §3.3: doc_hits fans out to annotated/quarterly/top_sources + the
    # returned frame — four consumers of the variation-query scan
    doc_hits = hits.dropDuplicates(["document_id"]).select(
        "document_id", "timestamp_utc", "source_id", "document_type"
    ).localCheckpoint(eager=False)
    annotated = doc_hits.join(
        doc_level_annotations(chunks, entities), "document_id", "left"
    )
    quarterly = doc_hits.groupBy(
        F.date_trunc("quarter", "timestamp_utc").cast("date").alias("quarter_start")
    ).agg(F.countDistinct("document_id").alias("n_docs"))
    top_sources = (
        doc_hits.groupBy("source_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("source_id").asc())
        .limit(5)
    )
    return {
        "doc_hits": doc_hits,
        "annotated": annotated,
        "quarterly": quarterly,
        "top_sources": top_sources,
    }


def pretraining_pipeline(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    target_shares: dict[str, float] | None = None,
    lang: str = "en",
    min_tokens: int = 10,
    seed: int = 42,
    n_curriculum_buckets: int = 8,
    with_accounting: bool = True,
    jaccard_df_cap: int | None = None,
    paragraph_dedup_sep: str | None = None,
    span_dedup_tokens: int | None = None,
    repetition_filter: bool = False,
    embeddings_df: DataFrame | None = None,
    semantic_threshold: float = 0.4,
    shard_bytes: int | None = None,
    quality_prune_frac: float | None = None,
    bloom_decontaminate: bool = False,
    near_dup: str = "exact",
    html_input: bool = False,
    line_filter: bool = False,
    url_col: str | None = None,
    domain_blocklist: list[str] | None = None,
    dsir_target: DataFrame | None = None,
    dsir_keep_k: int | None = None,
    dsir_n_buckets: int = 1024,
) -> dict[str, DataFrame]:
    """Capstone composition of the training-data tier — the full corpus
    -> training-set flow, each stage an individually-oracled operator
    (the cleaning stages live in operators/corpus.py):

        [domain blocklist -> URL dedup ->]
        [HTML -> text ->] [line-wise corrections ->]
        [paragraph dedup ->] [span dedup ->]
        quality filter [+ repetition rules]
        -> exact dedup -> near-dup removal
        [-> decontaminate vs eval_df] [-> per-domain quality prune]
        [-> semantic dedup] [-> DSIR] [-> domain-mix resample]
        -> deterministic shuffle key + length-curriculum bucket

    Optional stages (all off by default, preserving the oracled
    baseline shape):

    - ``url_col`` names a crawl-record URL column and turns on
      RefinedWeb's first stage, BEFORE any text work: docs whose
      registered domain is in ``domain_blocklist`` drop
      (``dropped_domain_blocklist``), then canonical-URL exact dedup
      keeps the best capture per URL (dedup.url_dedup_keep_best:
      longest text, tie lowest id; ``dropped_url_dedup``). The URL
      column is not carried further.
    - ``html_input`` extracts text from HTML before every text stage
      (block closers become the newlines the paragraph stage keys on).
    - ``line_filter`` runs the RefinedWeb line-wise corrections before
      the dedup stages, so boilerplate lines never seed matches
      (``dropped_line_filter``).
    - ``paragraph_dedup_sep`` (e.g. ``"\\n"``) rewrites the text with
      corpus-wide paragraph dedup, the coarsest duplication first, then
      ``span_dedup_tokens`` with C4-style duplicate-span removal, so
      later token counts see the deduped text.
    - ``repetition_filter``, ``jaccard_df_cap``, ``bloom_decontaminate``
      and ``near_dup`` pass through to corpus_clean (its docstring
      carries the exact/lsh trade: the lsh drop set is a SUBSET of the
      exact tier's, short only of banding recall).
    - ``quality_prune_frac`` keeps that top fraction of each source by
      n_tokens after decontamination (corpus.quality_prune, the
      FineWeb-style cut; ``dropped_quality_prune``).
    - ``embeddings_df`` (vec_id == doc_id) adds SemDeDup-style semantic
      dedup at ``semantic_threshold`` after the text stages: text
      near-dups are cheaper to find and decontamination must never be
      masked by a dedup drop (``dropped_semantic``).
    - ``dsir_target`` (a frame with a ``text`` column) turns on DSIR
      importance resampling as the LAST drop stage, so the selector
      only ranks docs allowed to train at all and target shares apply
      to the targeted pool: keep the ``dsir_keep_k`` (required)
      highest-weight docs (``dropped_dsir``). The ``dsir_n_buckets``-row
      model is collected while the pipeline is built.

    Returns {clean, mixed, training_set, accounting, stage_seconds}.
    ``training_set`` carries (doc_id, source, n_tokens, shuffle_key,
    bucket) — write it with sampling.deterministic_shuffle's range
    partitioning and readers stream a reproducible permutation; with
    ``shard_bytes`` it also carries ``shard_id``, byte-targeted shards
    (sampling.pack_shards) in the training order, sized from the text
    the model trains on — ``write.partitionBy("shard_id")`` realizes
    ~shard_bytes files. ``accounting`` is one row per stage with its
    drop count; ``stage_seconds`` maps each stage to the wall seconds
    its count took, plus ``prefix_materialize``, the first count of
    ``clean``, which runs the shared upstream work once so each
    stage's figure is its own marginal cost and independent of order
    (the figures do not sum to the end-to-end wall). Both are None
    with ``with_accounting=False``, which runs no counts. Every stage
    is deterministic: the same corpus + parameters yield the same
    training set on any engine.

    Cost shape: every stage materializes its own fan-out node (lazy
    localCheckpoints), so no count re-runs an upstream stage; curriculum
    buckets come from the n_tokens column ``clean`` already carries.
    ``clean`` is persist()ed — it feeds the mix, the curriculum and the
    accounting — and the cache is handed to the CALLER: release it with
    ``out["clean"].unpersist()`` once the outputs are written, or
    repeated invocations accumulate one cached corpus copy per call.
    """
    from bigdata_cookbook_spark.operators.corpus import (
        _dsir_stage,
        _line_filter_stage,
        _paragraph_stage,
        _prune_stage,
        _semantic_stage,
        _span_stage,
        _split,
        corpus_clean,
        length_curriculum_from_counts,
    )
    from bigdata_cookbook_spark.operators.sampling import domain_mix_sample, shuffle_key

    if domain_blocklist and url_col is None:
        raise ValueError("domain_blocklist requires url_col")
    if dsir_target is not None and dsir_keep_k is None:
        raise ValueError("dsir_target requires dsir_keep_k")
    drops: dict[str, DataFrame] = {}  # accounting stage -> doc_id frame
    if url_col is not None:
        from bigdata_cookbook_spark.functions.url import (
            canonicalize_url_expr,
            registered_domain_expr,
            url_host_expr,
        )
        from bigdata_cookbook_spark.operators.dedup import url_dedup_keep_best

        # RefinedWeb order: URL-level work precedes every text stage —
        # a blocklisted or duplicate crawl record must never pay HTML
        # extraction, line filtering, or dedup shingling.
        if domain_blocklist:
            dom = registered_domain_expr(
                url_host_expr(canonicalize_url_expr(F.col(url_col)))
            )
            docs, drops["dropped_domain_blocklist"] = _split(
                docs.withColumn("__dom", dom),
                ~F.col("__dom").isin(list(domain_blocklist)),
            )
            docs = docs.drop("__dom")
        kept_url = url_dedup_keep_best(docs, url_col=url_col).localCheckpoint(eager=False)
        drops["dropped_url_dedup"] = docs.join(
            kept_url.select("doc_id"), "doc_id", "left_anti"
        ).select("doc_id")
        docs = kept_url.drop("n_url_dups", url_col)

    if html_input:
        from bigdata_cookbook_spark.functions.text import html_to_text_expr

        docs = docs.withColumn("text", html_to_text_expr(F.col("text")))
    if line_filter:
        docs, drops["dropped_line_filter"] = _line_filter_stage(docs)
    if paragraph_dedup_sep is not None:
        docs, _ = _paragraph_stage(docs, paragraph_dedup_sep)
    if span_dedup_tokens is not None:
        docs, _ = _span_stage(docs, span_dedup_tokens)
    stages = corpus_clean(
        docs,
        lang=lang,
        min_tokens=min_tokens,
        eval_df=eval_df,
        jaccard_df_cap=jaccard_df_cap,
        repetition_filter=repetition_filter,
        bloom_decontaminate=bloom_decontaminate,
        near_dup=near_dup,
    )
    for name in ("dropped_quality", "dropped_exact", "dropped_neardup"):
        drops[name] = stages[name]
    clean = stages["kept"]
    if quality_prune_frac is not None:
        clean, drops["dropped_quality_prune"] = _prune_stage(clean, keep_frac=quality_prune_frac)
    if embeddings_df is not None:
        clean, drops["dropped_semantic"], _ = _semantic_stage(
            clean, embeddings_df, semantic_threshold
        )
    if dsir_target is not None:
        # score the SURVIVING pool's current text (docs carries the
        # line-filtered / rewritten form when those stages are on)
        _, drops["dropped_dsir"] = _dsir_stage(
            docs.join(clean.select("doc_id"), "doc_id", "left_semi"),
            target=dsir_target,
            keep_k=dsir_keep_k,
            n_buckets=dsir_n_buckets,
        )
        clean = clean.join(drops["dropped_dsir"], "doc_id", "left_anti")
    if eval_df is not None:
        drops["dropped_contaminated"] = stages["dropped_contaminated"]
    clean = clean.persist()

    mixed = (
        domain_mix_sample(clean, "source", "doc_id", target_shares)
        if target_shares
        else clean
    )

    curriculum = length_curriculum_from_counts(
        mixed.select("doc_id", "n_tokens"), n_buckets=n_curriculum_buckets
    )
    training_set = (
        mixed.join(curriculum.select("doc_id", "bucket"), "doc_id")
        .withColumn("shuffle_key", shuffle_key(F.col("doc_id"), seed))
        .select("doc_id", "source", "n_tokens", "shuffle_key", "bucket")
    )
    if shard_bytes is not None:
        from bigdata_cookbook_spark.operators.sampling import pack_shards

        # bytes of the text the model trains on: ``docs`` is the
        # rewritten frame when those stages are active. Slim join —
        # only (doc_id, bytes) enters the prefix-sum shuffles.
        sized = training_set.join(
            docs.select("doc_id", F.octet_length("text").alias("__bytes")),
            "doc_id",
        )
        training_set = pack_shards(
            sized, ["shuffle_key", "doc_id"], "__bytes", shard_bytes
        ).drop("__bytes")

    accounting = stage_seconds = None
    if with_accounting:
        import time as _time

        stage_seconds = {}
        t0 = _time.perf_counter()
        clean.count()
        stage_seconds["prefix_materialize"] = round(_time.perf_counter() - t0, 3)
        acc_counts = []
        for name, dfx in drops.items():
            t0 = _time.perf_counter()
            acc_counts.append((name, dfx.count()))
            stage_seconds[name] = round(_time.perf_counter() - t0, 3)
        t0 = _time.perf_counter()
        n_mixing = clean.count() - mixed.count() if target_shares else 0
        stage_seconds["dropped_mixing"] = round(_time.perf_counter() - t0, 3)
        accounting = docs.sparkSession.createDataFrame(
            acc_counts + [("dropped_mixing", n_mixing)],
            "stage string, n_dropped long",
        )
    return {
        "clean": clean,
        "mixed": mixed,
        "training_set": training_set,
        "accounting": accounting,
        "stage_seconds": stage_seconds,
    }
