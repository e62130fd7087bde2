"""Importance-resampling data selection (DSIR) — choose raw corpus
documents whose hashed n-gram profile looks like a small target set.

Method (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling", NeurIPS — the published recipe behind
domain-targeted pretraining-data selection):

1. featurize every document as a bag of HASHED unigrams + bigrams over
   the shared analyzer tokens (``functions/text.ANALYZER_SEP_RE``),
   each gram bucketed into ``n_buckets`` slots;
2. fit two bag-of-buckets unigram LMs — one on the target sample, one
   on the raw corpus — with Laplace smoothing;
3. the importance weight of a document is the log-likelihood ratio
   log p_target(x) - log p_raw(x) = sum over its grams of the
   per-bucket log-probability difference;
4. select top-k by weight (deterministic tier) or Gumbel-top-k
   (sampling without replacement proportional to exp(weight/T) —
   the paper's resampling step) with a hash-seeded, engine-portable
   noise source.

Reference scope note: the reference has no data-selection stage at all
(its corpora arrive pre-filtered from the search API); this module is
part of the beyond-reference training-data tier (COVERAGE.md), next to
quality pruning (operators/corpus.py) and domain mixing
(operators/sampling.py): quality filters drop bad documents, DSIR
*targets* a distribution.

Engine-portability contract (same as operators/sampling.py): gram ->
bucket is the first 8 hex chars of md5, mod ``n_buckets`` — every
engine speaks md5, so the DuckDB oracle reproduces the bucketing
bit-for-bit (``gram_bucket_sql`` is compiled from the same constants).
Per-bucket log-ratios are quantized to INTEGER micro-nats (round(lr *
1e6) as BIGINT) and per-document scores are the exact integer sum
divided by 1e6 once: integer addition is associative, so the score is
bit-identical across engines regardless of sum order. (Two-stage
float rounding — lr to 6 decimals, sum to 4 — is NOT enough here: the
6-decimal lattice makes document sums land exactly ON 4-decimal half
boundaries, where the engines' different binary partial sums round
apart; the round-8 verify caught exactly that.)

Plan shape / 100 TB judgment:
- the fitted model is exactly ``n_buckets`` log-ratios (1e4-1e5 in the
  paper) — small enough to COLLECT (bounded by contract) and embed as
  an array literal, so the default scoring path
  (``dsir_scores_projected``) is a pure zero-exchange projection:
  score = aggregate(grams, 0, acc + lr[bucket(g)]). Scoring 100 TB is
  a map-only stage fused into the scan; gram-free documents fold over
  an empty array and score 0.0 with no coverage join.
- fitting is one map-side-combined aggregate per corpus over the
  exploded grams (shuffle key bounded by ``n_buckets``), then a
  ``spark.range(n_buckets)`` join so zero-count buckets get their
  smoothed mass — a separate bounded job, the same cut-subtree pattern
  as the CC localCheckpoint (PLANS.md documents it).
- ``dsir_scores`` keeps the fully-declarative alternative (explode ->
  broadcast join -> per-doc sum, one exchange on an unskewed key) for
  callers that must avoid driver actions (e.g. a streaming stage) or
  run with n_buckets too large for a literal.
- top-k selection is TakeOrdered (orderBy + limit), never a global
  sort; Gumbel-top-k adds only a per-row hash projection first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_cookbook_spark.functions.text import (
    ANALYZER_SEP_RE,
    analyzer_tokens_expr,
)

#: default feature-space size (the paper uses 10k; the bucketed tables
#: stay broadcast-size far beyond this)
DEFAULT_N_BUCKETS = 1024

#: Laplace smoothing pseudo-count per bucket
DEFAULT_ALPHA = 1.0

#: per-bucket log-ratio quantum: 1 micro-nat (see module contract)
LR_SCALE = 1_000_000


def gram_array_expr(text: Column) -> Column:
    """Unigrams ++ bigrams of the analyzer tokens, as one array column.

    Bigrams are space-joined adjacent token pairs (``zip_with`` over
    the token array against its own tail — a narrow projection, no
    explode until the caller asks for one). Documents with fewer than
    two tokens contribute unigrams only.
    """
    toks = analyzer_tokens_expr(text)
    bi = F.when(F.size(toks) < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    )
    return F.concat(toks, bi)


def gram_bucket_expr(gram: Column, n_buckets: int, salt: str = "") -> Column:
    """Deterministic bucket in [0, n_buckets) from a gram's content —
    the sampling-module md5 rule with a parametric modulus."""
    h = F.md5(F.encode(F.concat(gram, F.lit(salt)), "UTF-8"))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets


def gram_bucket_sql(gram_sql: str, n_buckets: int, salt: str = "") -> str:
    """DuckDB twin of ``gram_bucket_expr`` (kept adjacent so the two
    cannot drift)."""
    return (
        f"CAST(('0x' || substr(md5({gram_sql} || '{salt}'), 1, 8)) "
        f"AS BIGINT) % {n_buckets}"
    )


def gram_sql_ctes(table: str, id_sql: str = "doc_id", text_sql: str = "text") -> str:
    """Oracle CTE fragment producing (id, gram) rows from ``table`` with
    the SAME analyzer + bigram rule as ``gram_array_expr`` (DuckDB lists
    are 1-based; generate_series(1, 0) is empty, matching the <2-token
    guard)."""
    return f"""toks_{table} AS (
            SELECT {id_sql} AS id,
                   LIST_FILTER(
                       STRING_SPLIT_REGEX(LOWER({text_sql}), '{ANALYZER_SEP_RE}'),
                       x -> x <> ''
                   ) AS toks
            FROM {table}
        ),
        grams_{table} AS (
            SELECT id, UNNEST(toks) AS gram FROM toks_{table}
            UNION ALL
            SELECT id, toks[i] || ' ' || toks[i + 1] AS gram
            FROM (
                SELECT id, toks,
                       UNNEST(generate_series(1, LEN(toks) - 1)) AS i
                FROM toks_{table}
            )
        )"""


def _bucket_counts(
    df: DataFrame, text_col: str, n_buckets: int, salt: str
) -> DataFrame:
    """(bucket, cnt) over all grams of ``df`` — explode + one
    map-side-combined aggregate on a key bounded by ``n_buckets``."""
    grams = df.select(
        F.explode(gram_array_expr(F.col(text_col))).alias("gram")
    )
    return grams.select(
        gram_bucket_expr(F.col("gram"), n_buckets, salt).alias("bucket")
    ).groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))


def dsir_logratio_table(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    n_buckets: int = DEFAULT_N_BUCKETS,
    alpha: float = DEFAULT_ALPHA,
    salt: str = "",
) -> DataFrame:
    """Fit both hashed-gram LMs and return the per-bucket log-ratio
    table: (bucket, lr_micro) for EVERY bucket in [0, n_buckets) —
    zero-count buckets carry their smoothed mass, so scoring never
    needs an outer join. Exactly ``n_buckets`` rows: broadcast it at
    any corpus size.

    lr_micro[b] = round( 1e6 * ( ln((ct_t[b]+a) / (T_t + a*B))
                               - ln((ct_r[b]+a) / (T_r + a*B)) ) )
    as BIGINT — integer micro-nats, so downstream sums are exact and
    association-order-free (module contract).
    """
    spark = target.sparkSession
    t = _bucket_counts(target, text_col, n_buckets, salt)
    r = _bucket_counts(raw, text_col, n_buckets, salt)
    base = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    joined = (
        base.join(t.withColumnRenamed("cnt", "ct_t"), "bucket", "left")
        .join(r.withColumnRenamed("cnt", "ct_r"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("ct_t", F.lit(0)).alias("ct_t"),
            F.coalesce("ct_r", F.lit(0)).alias("ct_r"),
        )
    )
    # grand totals via window-free cross join of two 1-row aggregates
    tot = joined.agg(
        F.sum("ct_t").alias("tt"), F.sum("ct_r").alias("tr")
    )
    b = float(n_buckets)
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                (
                    F.log((F.col("ct_t") + alpha) / (F.col("tt") + alpha * b))
                    - F.log((F.col("ct_r") + alpha) / (F.col("tr") + alpha * b))
                )
                * LR_SCALE
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )


def dsir_scores(
    docs: DataFrame,
    logratio: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
    salt: str = "",
) -> DataFrame:
    """Per-document importance weight: (id_col, score) for EVERY input
    row (gram-free documents score 0.0). The score is the exact integer
    micro-nat sum divided by 1e6 once — bit-identical in any engine.
    One exchange: the sum keyed by document id; the log-ratio side is
    broadcast by construction."""
    grams = docs.select(
        F.col(id_col),
        F.explode(gram_array_expr(F.col(text_col))).alias("gram"),
    ).select(
        id_col,
        gram_bucket_expr(F.col("gram"), n_buckets, salt).alias("bucket"),
    )
    summed = (
        grams.join(F.broadcast(logratio), "bucket")
        .groupBy(id_col)
        .agg((F.sum("lr_micro") / F.lit(float(LR_SCALE))).alias("score"))
    )
    return docs.select(id_col).join(summed, id_col, "left").select(
        id_col, F.coalesce("score", F.lit(0.0)).alias("score")
    )


def dsir_score_expr(
    text: Column,
    lr_micro_by_bucket: list[int],
    salt: str = "",
) -> Column:
    """Zero-shuffle score projection from a COLLECTED log-ratio table
    (list index = bucket id, length = n_buckets): the exact integer
    micro-nat sum over the document's grams, divided by 1e6 once. A
    higher-order fold over the gram array — whole-stage codegen, no
    explode, no join, no exchange."""
    n_buckets = len(lr_micro_by_bucket)
    lr = F.array(*[F.lit(int(v)).cast("long") for v in lr_micro_by_bucket])
    total = F.aggregate(
        gram_array_expr(text),
        F.lit(0).cast("long"),
        lambda acc, g: acc
        + F.element_at(lr, (gram_bucket_expr(g, n_buckets, salt) + 1).cast("int")),
    )
    return total / F.lit(float(LR_SCALE))


def collect_logratio(logratio: DataFrame) -> list[int]:
    """Materialize the fitted model as a bucket-indexed list — bounded
    by contract at n_buckets rows (dsir_logratio_table emits every
    bucket exactly once)."""
    rows = logratio.collect()
    out = [0] * len(rows)
    for r in rows:
        out[r["bucket"]] = r["lr_micro"]
    return out


def dsir_scores_projected(
    docs: DataFrame,
    logratio: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "",
    normalize: bool = False,
) -> DataFrame:
    """The scale-default scoring path (module contract): collect the
    n_buckets-row model, score as a pure projection. Returns
    (id_col, score) for every input row.

    ``normalize=True`` divides by the gram count (mean per-gram
    log-ratio instead of the paper's raw sum): the raw weight of a
    document scales with its length, so under a narrow target LM a
    short off-target document can outrank a long on-target one — the
    known length bias of unnormalized importance weights. Normalized
    scores rank by *how target-like the text is*, not how much of it
    there is; gram-free documents still score 0.0."""
    score = _weight_expr(F.col(text_col), collect_logratio(logratio), salt, normalize)
    return docs.select(id_col, score.alias("score"))


def _weight_expr(
    text: Column, lr_micro_by_bucket: list[int], salt: str, normalize: bool
) -> Column:
    """dsir_score_expr, divided by the gram count when ``normalize``
    (gram-free documents score 0.0)."""
    score = dsir_score_expr(text, lr_micro_by_bucket, salt)
    if normalize:
        n = F.size(gram_array_expr(text))
        score = F.when(n > 0, score / n).otherwise(F.lit(0.0))
    return score


def dsir_gate(
    docs: DataFrame,
    logratio: DataFrame,
    threshold: float,
    text_col: str = "text",
    salt: str = "",
    normalize: bool = False,
    score_col: str = "dsir_score",
) -> DataFrame:
    """Threshold form of the selection: keep rows whose (optionally
    normalized) importance weight reaches ``threshold``. Stateless and
    shuffle-free — the streaming-safe variant (top-k needs a global
    view; a gate scores each row alone, so the same expression runs
    unchanged in a readStream pipeline and is batch-split invariant),
    and the declared batch alternative to TakeOrdered when k is too
    large for a driver merge (pick the threshold from a sampled
    quantile of the scores)."""
    score = _weight_expr(F.col(text_col), collect_logratio(logratio), salt, normalize)
    return docs.withColumn(score_col, score).filter(
        F.col(score_col) >= threshold
    )


def dsir_topk(scores: DataFrame, k: int, id_col: str = "doc_id") -> DataFrame:
    """Deterministic selection tier: top-k by (score desc, id asc) —
    orderBy + limit compiles to TakeOrderedAndProject, never a global
    sort."""
    return scores.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def gumbel_topk(
    scores: DataFrame,
    k: int,
    temperature: float = 1.0,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """The paper's resampling step: sample k documents WITHOUT
    replacement with probability proportional to exp(score /
    temperature), via the Gumbel-top-k trick — key = score/T + G where
    G = -ln(-ln(u)) and u is a hash-seeded uniform, so the draw is
    deterministic given (id, seed) and reproducible by any engine
    (same md5 rule as deterministic_shuffle). Returns the k rows with
    a ``gumbel_key`` column; still TakeOrdered, one narrow projection
    over the score table."""
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.encode(
                        F.concat(
                            F.col(id_col).cast("string"),
                            F.lit(f":{seed}"),
                        ),
                        "UTF-8",
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / 4294967296.0  # (hash + 0.5) / 2^32 in (0, 1) — never 0 or 1
    key = F.col("score") / temperature - F.log(-F.log(u))
    return (
        scores.withColumn("gumbel_key", key)
        .orderBy(F.desc("gumbel_key"), F.asc(id_col))
        .limit(k)
    )


def dsir_select(
    docs: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
    alpha: float = DEFAULT_ALPHA,
    mode: str = "topk",
    temperature: float = 1.0,
    seed: int = 42,
    salt: str = "",
    projected: bool = True,
) -> DataFrame:
    """End-to-end: fit both LMs, score ``docs``, select k. ``mode`` is
    ``topk`` (deterministic) or ``gumbel`` (the paper's resampling);
    ``projected`` picks the zero-exchange collected-model scoring path
    (default — module contract) vs the fully-declarative join path."""
    lr = dsir_logratio_table(target, docs, text_col, n_buckets, alpha, salt)
    if projected:
        scores = dsir_scores_projected(docs, lr, text_col, id_col, salt)
    else:
        scores = dsir_scores(docs, lr, text_col, id_col, n_buckets, salt)
    if mode == "topk":
        return dsir_topk(scores, k, id_col)
    if mode == "gumbel":
        return gumbel_topk(scores, k, temperature, seed, id_col)
    raise ValueError(f"mode must be 'topk' or 'gumbel', got {mode!r}")
