"""Streaming capstone: the pretraining corpus-clean stages (quality ->
exact dedup -> near-dup removal -> decontamination) as a continuous
ingest pipeline over persisted state tables.

The batch capstone (operators/corpus.corpus_clean, workflows.
pretraining_pipeline) re-derives everything from the full corpus; at
100 TB with nightly/continuous ingest you never re-scan the corpus per
batch. This module runs the same stage functions (operators/corpus.py)
one ingest batch at a time, each batch checking in against append-only
state tables —

    seen_hashes   one xxhash64(text) per ever-kept exact-canonical text
                  (incremental_exact_dedup's state),
    shingles      the word-n-gram inverted index (doc_id, shingle hash,
                  per-doc shingle count) of every exact-kept doc so far
                  (the pair SOURCE set of corpus_clean, which includes
                  near-dup losers — see parity note below),
    buckets       (lsh mode) the MinHash band rows of the same docs
                  (dedup.incremental_lsh_candidates),
    paras         (paragraph mode) every paragraph ever kept
                  corpus-wide (corpus.paragraph_dedup_incremental),
    spans         (span mode) every span ever kept corpus-wide
                  (corpus.span_dedup_incremental), and
    embeddings    (semantic mode) the SRP-bucketed vector of every doc
                  that ever reached the semantic stage
                  (dedup.semantic_dedup_incremental)

and only the batch is ever (re)signed. Every state grows append-only:
the per-batch delta is written under its own ``ingest_batch=<id>``
directory with overwrite mode, so a foreachBatch replay after a crash
rewrites the same delta instead of duplicating it (the same
write-audit-publish discipline as plans/layout.upsert_partitions).

Parity contract (tested in tests/test_streaming_pipeline.py): when
documents are ingested in non-decreasing doc_id order — the natural
shape for append-only ingest ids — the union of per-batch kept sets
equals corpus_clean(union of batches)["kept"] exactly, drop accounting
included. corpus_clean's near-dup rule is "drop any doc that is the
larger side of a >=threshold Jaccard pair over ALL exact-kept docs";
first-arrival-wins under ordered ingest is the same rule, PROVIDED the
shingle state keeps every exact-kept doc (not just survivors) — a
near-dup loser can still be the smaller side of a later doc's pair.
Out-of-order ingest degrades gracefully to first-ingest-wins (declared
engine semantics for the streaming form, same as streaming_dedup).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_cookbook_spark.operators.corpus import (
    _decontaminate_stage,
    _dsir_stage,
    _exact_dedup_stage,
    _line_filter_stage,
    _near_dup_stage,
    _paragraph_stage,
    _prune_stage,
    _quality_stage,
    _semantic_stage,
    _span_stage,
)


def incremental_corpus_clean(
    batch_docs: DataFrame,
    seen_hashes: DataFrame | None = None,
    shingle_state: DataFrame | None = None,
    eval_df: DataFrame | None = None,
    lang: str = "en",
    min_tokens: int = 10,
    max_stopword_ratio: float = 0.8,
    jaccard_threshold: float = 0.5,
    contamination_threshold: float = 0.5,
    contamination_n: int = 8,
    ngram_n: int = 3,
    broadcast_eval: bool = True,
    near_dup: str = "exact",
    bucket_state: DataFrame | None = None,
    lsh_num_hashes: int = 12,
    lsh_band_size: int = 2,
    repetition_filter: bool = False,
    paragraph_sep: str | None = None,
    para_state: DataFrame | None = None,
    span_tokens: int | None = None,
    span_state: DataFrame | None = None,
    embeddings_df: DataFrame | None = None,
    srp_state: DataFrame | None = None,
    semantic_threshold: float = 0.4,
    semantic_n_planes: int = 8,
    eval_bloom=None,
    prune_thresholds: DataFrame | None = None,
    line_filter: bool = False,
    dsir_lr: list[int] | None = None,
    dsir_threshold: float = 0.0,
    dsir_normalize: bool = True,
    dsir_salt: str = "",
) -> dict[str, DataFrame]:
    """One ingest batch through the corpus-cleaning stages
    (operators/corpus.py) against persisted state — the batch-callable
    core of the streaming capstone (streaming_corpus_clean wraps it in
    foreachBatch). Stage order and the shared parameters are
    corpus_clean's; the stages each batch runs are

        [line filter ->] [DSIR gate ->] [paragraph dedup ->]
        [span dedup ->] quality [+ repetition] -> exact dedup
        -> near-dup -> [decontamination ->] [pinned prune ->]
        [semantic dedup]

    State, one table per stateful stage: ``seen_hashes`` (text_hash of
    every exact-kept text; exact dedup keys on xxhash64 here),
    ``shingle_state`` (the shingle index of every exact-kept doc),
    ``bucket_state`` (``near_dup="lsh"``: their MinHash band rows),
    ``para_state`` / ``span_state`` (every paragraph / span kept) and
    ``srp_state`` (the vector of every doc that reached the semantic
    stage). None means "first batch".

    Options beyond corpus_clean's: ``line_filter``, ``paragraph_sep``
    and ``span_tokens`` are pretraining_pipeline's rewrite stages (an
    emptied doc drops at the quality stage, booked as dropped_quality);
    ``dsir_lr`` turns on a stateless DSIR gate whose model was fit
    OFFLINE on a reference snapshot (selection.dsir_logratio_table ->
    collect_logratio; a stream cannot see the full raw distribution) —
    rows whose weight (normalized unless ``dsir_normalize=False``) falls
    below ``dsir_threshold`` drop, and ``dsir_salt`` must be the fit's
    salt; ``eval_bloom`` (a prebuilt dedup.ShingleBloom over the same
    eval_df and contamination_n) routes decontamination through the
    Bloom prefilter, folding the static eval set into a <=2 MiB literal
    once for the stream's lifetime; ``prune_thresholds`` applies the
    PINNED per-domain cut of a quality_prune_thresholds snapshot;
    ``embeddings_df`` (vec_id == doc_id) adds semantic dedup on a grid
    of ``semantic_n_planes`` planes, fixed for the state's lifetime.

    Returns::

        {"kept":            batch survivors (doc_id, lang, source,
                            n_tokens — corpus_clean's kept schema),
         "dropped_<stage>": one doc_id frame per stage that ran
                            (line_filter, dsir_gate, quality, exact,
                            neardup, contaminated, quality_prune,
                            semantic),
         "new_hashes", "new_shingles",
         "new_buckets" (lsh), "new_paras", "new_spans",
         "new_embeddings":  DELTAS to append to the matching state}

    Deltas are pure appends: novel hashes, paragraphs and spans only,
    the batch's exact-kept shingle rows (near-dup losers included —
    they stay pair sources), its band rows and its embeddings. Nothing
    re-reads or re-aggregates the accumulated state; a replay of the
    same batch yields empty kept and empty hash deltas (idempotence,
    tested). Append-only bucket deltas assume ingest-once doc ids (the
    streaming norm); for re-ingest-with-changed-text workloads use
    incremental_lsh_candidates directly — its latest-ingest-wins state
    replacement is the re-ingest-safe tier.
    """
    out: dict[str, DataFrame] = {}
    docs = batch_docs
    if line_filter:
        docs, out["dropped_line_filter"] = _line_filter_stage(docs)
    if dsir_lr is not None:
        docs, out["dropped_dsir_gate"] = _dsir_stage(
            docs, lr=dsir_lr, threshold=dsir_threshold, normalize=dsir_normalize, salt=dsir_salt
        )
    if paragraph_sep is not None:
        docs, out["new_paras"] = _paragraph_stage(docs, paragraph_sep, para_state)
    if span_tokens is not None:
        docs, out["new_spans"] = _span_stage(docs, span_tokens, span_state)
    passed, out["dropped_quality"] = _quality_stage(
        docs, lang, min_tokens, max_stopword_ratio, repetition_filter
    )
    exact_kept, out["dropped_exact"], out["new_hashes"] = _exact_dedup_stage(
        passed, seen_hashes, hashed=True
    )
    kept, out["dropped_neardup"], deltas = _near_dup_stage(
        exact_kept,
        near_dup,
        jaccard_threshold,
        n=ngram_n,
        shingle_state=shingle_state,
        bucket_state=bucket_state,
        num_hashes=lsh_num_hashes,
        band_size=lsh_band_size,
    )
    out.update(deltas)
    if eval_df is not None:
        kept, out["dropped_contaminated"] = _decontaminate_stage(
            kept, eval_df, contamination_n, contamination_threshold, broadcast_eval, eval_bloom
        )
    if prune_thresholds is not None:
        kept, out["dropped_quality_prune"] = _prune_stage(kept, thresholds=prune_thresholds)
    if embeddings_df is not None:
        kept, out["dropped_semantic"], out["new_embeddings"] = _semantic_stage(
            kept, embeddings_df, semantic_threshold, n_planes=semantic_n_planes, state=srp_state
        )
    out["kept"] = kept.select("doc_id", "lang", "source", "n_tokens")
    return out


def _read_state(
    spark: SparkSession,
    path: str,
    cols: list[str],
    exclude_batch: int | None = None,
) -> DataFrame | None:
    """Accumulated state = every ingest_batch=<id> delta under ``path``
    (schema from the parquet footers; the ingest_batch partition column
    is projected away — state consumers key on content, not batch).

    ``exclude_batch`` must be the CURRENT micro-batch id: on a
    crash-replay, some of this batch's own delta dirs may already exist
    (the crash can land between the per-table writes), and reading them
    back would make the replay see its own hashes/spans/embeddings —
    recomputing EMPTY results and overwriting the real deltas with
    empty (data loss). Excluding the current id makes the replay see
    exactly the state the original run saw, so it recomputes and
    rewrites byte-identical deltas — true replay idempotence."""
    if not os.path.isdir(path):
        return None
    df = spark.read.parquet(path)
    if exclude_batch is not None and "ingest_batch" in df.columns:
        df = df.filter(F.col("ingest_batch") != exclude_batch)
    return df.select(*cols)


def streaming_corpus_clean(
    stream_docs: DataFrame,
    state_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    eval_df: DataFrame | None = None,
    query_name: str = "streaming_corpus_clean",
    available_now: bool = True,
    write_drop_log: bool = True,
    **clean_kwargs: Any,
):
    """Continuous-ingest form of the pretraining capstone's cleaning
    stages: quality -> incremental exact dedup -> incremental near-dup
    -> decontamination, as a foreachBatch Structured Streaming sink over
    parquet state tables.

    Layout (all append-only; per-batch deltas land under their own
    ``ingest_batch=<id>`` directory with overwrite mode, and state
    reads EXCLUDE the current batch id, so Spark's
    batch-replay-after-crash recomputes against exactly the state the
    original run saw and rewrites byte-identical deltas instead of
    double-appending or wiping them — the streaming twin of layout.py's
    write-audit-publish):

        {state_dir}/seen_hashes/ingest_batch=<id>/   novel text hashes
        {state_dir}/shingles/ingest_batch=<id>/      exact-kept shingle index
        {state_dir}/paras/ingest_batch=<id>/         (paragraph_sep) novel keeper paragraphs
        {state_dir}/spans/ingest_batch=<id>/         (span_tokens) novel keeper spans
        {state_dir}/embeddings/ingest_batch=<id>/    (embeddings_df) SRP-bucketed vectors
        {state_dir}/drops/ingest_batch=<id>/         (stage, doc_id) drop log
        {output_dir}/ingest_batch=<id>/              kept docs

    The drop log is the streaming twin of the batch capstone's
    ``accounting`` output — one (stage, doc_id) row per dropped doc per
    batch, so ``spark.read.parquet(state/drops).groupBy("stage",
    "ingest_batch").count()`` reconstructs the full audit trail at any
    point in the corpus's life (and per-doc provenance, which the batch
    counts don't even give). Disable with ``write_drop_log=False`` if
    the extra per-batch write matters more than the audit.

    Readers of the training set stream ``output_dir`` as it grows; the
    state tables are only ever read by the next micro-batch (scan cost
    per batch = one parquet read of the state, join cost proportional to
    the batch). eval_df (static benchmark
    set) decontaminates every batch.

    Returns the started StreamingQuery. ``available_now=False`` runs the
    default micro-batch trigger for true continuous ingest.
    """
    hash_root = os.path.join(state_dir, "seen_hashes")
    shingle_root = os.path.join(state_dir, "shingles")
    bucket_root = os.path.join(state_dir, "buckets")
    para_root = os.path.join(state_dir, "paras")
    span_root = os.path.join(state_dir, "spans")
    emb_root = os.path.join(state_dir, "embeddings")
    # roll forward any maintenance commit a crash left half-promoted:
    # a published-manifest consolidation whose tombstones didn't all
    # promote leaves the merged rows present TWICE (consolidated delta
    # + un-retired originals), which the next batch's _read_state would
    # double-count — corrupting every dedup decision. Same self-heal
    # layout.py's writers run on entry; a no-op when nothing is pending.
    from bigdata_cookbook_spark.plans.layout import recover_pending

    for root in (
        hash_root,
        shingle_root,
        bucket_root,
        para_root,
        span_root,
        emb_root,
    ):
        if os.path.isdir(root):
            recover_pending(root)
    lsh_mode = clean_kwargs.get("near_dup") == "lsh"
    para_mode = clean_kwargs.get("paragraph_sep") is not None
    span_mode = clean_kwargs.get("span_tokens") is not None
    sem_mode = clean_kwargs.get("embeddings_df") is not None
    band_cols = ["doc_id", "band"] + [
        f"k{j}" for j in range(clean_kwargs.get("lsh_band_size", 2))
    ]

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        seen = _read_state(spark, hash_root, ["text_hash"], batch_id)
        shingles = _read_state(
            spark, shingle_root, ["doc_id", "shingle", "n_sh"], batch_id
        )
        if lsh_mode:
            clean_kwargs["bucket_state"] = _read_state(
                spark, bucket_root, band_cols, batch_id
            )
        if para_mode:
            clean_kwargs["para_state"] = _read_state(
                spark, para_root, ["para_hash", "para"], batch_id
            )
        if span_mode:
            clean_kwargs["span_state"] = _read_state(
                spark, span_root, ["span_hash", "span"], batch_id
            )
        if sem_mode:
            clean_kwargs["srp_state"] = _read_state(
                spark, emb_root, ["vec_id", "bucket", "vec", "norm"], batch_id
            )
        res = incremental_corpus_clean(
            batch_df, seen, shingles, eval_df=eval_df, **clean_kwargs
        )
        res["kept"].write.mode("overwrite").parquet(
            os.path.join(output_dir, f"ingest_batch={batch_id}")
        )
        res["new_hashes"].write.mode("overwrite").parquet(
            os.path.join(hash_root, f"ingest_batch={batch_id}")
        )
        res["new_shingles"].write.mode("overwrite").parquet(
            os.path.join(shingle_root, f"ingest_batch={batch_id}")
        )
        if para_mode:
            res["new_paras"].write.mode("overwrite").parquet(
                os.path.join(para_root, f"ingest_batch={batch_id}")
            )
        if span_mode:
            res["new_spans"].write.mode("overwrite").parquet(
                os.path.join(span_root, f"ingest_batch={batch_id}")
            )
        if sem_mode:
            res["new_embeddings"].write.mode("overwrite").parquet(
                os.path.join(emb_root, f"ingest_batch={batch_id}")
            )
        if lsh_mode:
            res["new_buckets"].select(band_cols).write.mode("overwrite").parquet(
                os.path.join(bucket_root, f"ingest_batch={batch_id}")
            )
        if write_drop_log:
            # audit trail: one (stage, doc_id) row per dropped doc —
            # a single labeled union, one write, overwrite-per-batch
            # replay-safe like every other delta
            log = None
            for stage in (
                "dropped_line_filter",
                "dropped_dsir_gate",
                "dropped_quality",
                "dropped_exact",
                "dropped_neardup",
                "dropped_contaminated",
                "dropped_quality_prune",
                "dropped_semantic",
            ):
                if stage not in res:
                    continue
                part = res[stage].select(
                    F.lit(stage).alias("stage"), F.col("doc_id")
                )
                log = part if log is None else log.unionByName(part)
            log.write.mode("overwrite").parquet(
                os.path.join(state_dir, "drops", f"ingest_batch={batch_id}")
            )

    writer = (
        stream_docs.writeStream.foreachBatch(_process)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
