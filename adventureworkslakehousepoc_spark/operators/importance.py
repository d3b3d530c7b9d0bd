"""Distribution-matching operators for corpus curation: DSIR importance
weights and n-gram language-model perplexity scores.

Two standard screens a pretraining pipeline runs between dedup and sampling:

- **DSIR** (data selection with importance resampling, Xie et al. 2023):
  score every document by how much its hashed-n-gram feature distribution
  looks like a small TARGET domain versus the corpus at large —
  ``Σ_tokens log P_target(bucket(w)) − log P_corpus(bucket(w))``. Documents
  with positive scores lean target-like; resampling by these weights shifts
  the corpus toward the target distribution without a trained classifier.
- **Bigram LM scoring** (the KenLM-filter shape): train an add-one-smoothed
  bigram model on the corpus itself and score each document's average
  negative log-likelihood; outlier-perplexity docs are gibberish or
  boilerplate.

Cross-engine exactness: per-bucket / per-bigram log probabilities are
quantized ONCE to integer micro-units (log10 of a ratio of exact counts),
then documents integer-sum those micro-units — order-insensitive, so a
DuckDB oracle hash-matches.

Scale posture: the learned tables are vocabulary-bounded (256 hash buckets
for DSIR; |bigram types| for the LM), built with one partial-aggregated
shuffle each. Scoring joins token/bigram instances against those tables on
their key — the DSIR table broadcasts (256 rows); the bigram table join
co-partitions on the bigram key. Raw text never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "dsir_importance_weights",
    "bigram_lm_scores",
    "kneser_ney_bigram_scores",
    "rho_loss_selection",
]

_LOG_U = 1000000


def _log10_u(num: Column, den: Column) -> Column:
    """floor(log10(num/den) · 1e6 + 0.5) as bigint — the quantize-once
    discipline shared with the unigram-LM / PMI operators."""
    return F.floor(
        F.log10(num.cast("double") / den.cast("double")) * _LOG_U + F.lit(0.5)
    ).cast("bigint")


def _hash_bucket(col: Column, n_buckets: int) -> Column:
    """md5-derived bucket in [0, n_buckets): stable across engines
    (first 4 hex chars → int, mod)."""
    return (F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("int") % n_buckets)


def dsir_importance_weights(
    docs: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Hashed-unigram DSIR: ``target_pred`` marks the in-domain documents
    (e.g. ``F.col('lang') == 'en'``). Every token maps to one of
    ``n_buckets`` md5 buckets; the per-bucket log-ratio
    ``log10((t_b+1)/(T+B)) − log10((a_b+1)/(A+B))`` (add-one smoothed) is
    quantized to micro-units, and a document's weight is the exact integer
    sum of its tokens' bucket ratios.

    Returns ``(doc_id, n_tokens, dsir_score_micros, lean_target)``.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        target_pred.alias("is_target"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).filter(F.length("w") > 0)
    toks = toks.withColumn("b", _hash_bucket(F.col("w"), n_buckets))
    per_bucket = toks.groupBy("b").agg(
        F.count(F.lit(1)).alias("a_b"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("t_b"),
    )
    totals = per_bucket.agg(
        F.sum("a_b").alias("A"), F.sum("t_b").alias("T")
    )
    ratios = (
        per_bucket.crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                _log10_u(F.col("t_b") + 1, F.col("T") + n_buckets)
                - _log10_u(F.col("a_b") + 1, F.col("A") + n_buckets)
            ).alias("ratio_u"),
        )
    )
    return (
        toks.join(F.broadcast(ratios), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("ratio_u").cast("bigint").alias("dsir_score_micros"),
        )
        .withColumn("lean_target", F.col("dsir_score_micros") > 0)
    )


def bigram_lm_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Add-one-smoothed bigram LM trained on the input corpus, scoring the
    same corpus: ``P(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V)`` with ``V`` the
    distinct-token vocabulary size and ``c(w1·)`` the count of bigram
    instances led by ``w1``. Per-doc output ``(doc_id, n_bigrams,
    nll_sum_micros, avg_nll_micros)`` — high average NLL = improbable
    token transitions = gibberish candidate.

    Docs with fewer than 2 tokens produce no row (no bigrams to score).
    """
    words = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("ws")
    )
    big = words.filter(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                # let-bound: split once per row, not per bigram
                "element_at(transform(array(ws), ws -> "
                "transform(sequence(1, size(ws) - 1), "
                "i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))), 1)"
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = words.select(F.explode("ws").alias("w")).filter(
        F.length("w") > 0
    ).agg(F.count_distinct("w").alias("V"))
    model = (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            (-_log10_u(F.col("c2") + 1, F.col("c1") + F.col("V"))).alias("nll_u"),
        )
    )
    return (
        big.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("nll_u").cast("bigint").alias("nll_sum_micros"),
        )
        .withColumn(
            "avg_nll_micros",
            F.expr("nll_sum_micros div n_bigrams").cast("bigint"),
        )
    )


def kneser_ney_bigram_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: tuple[int, int] = (3, 4),
) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM trained on the input corpus and
    scoring the same corpus — the smoothing KenLM uses, i.e. the actual
    CCNet/CC-MAIN "perplexity filter" model family, one notch above the
    add-one bigram in ``bigram_lm_scores``:

        P(w2|w1) = (c(w1,w2) − d)/c(w1·)
                 + (d·N1+(w1·)/c(w1·)) · N1+(·w2)/|bigram types|

    with absolute discount ``d = discount[0]/discount[1]`` (default ¾),
    ``N1+(w1·)`` the fan-out (distinct successors of w1), ``N1+(·w2)`` the
    CONTINUATION count (distinct predecessors of w2 — "how many contexts
    does w2 complete", the KN insight that demotes frequent-but-bound words
    like "Francisco"). Every scored bigram is observed (train = score
    corpus), so the discounted term is always positive and no backoff-only
    branch is needed.

    Cross-engine exactness: with d = n/m every term is a ratio of exact
    bigint counts — ``(m·c2 − n)/(m·c1) + (n·N1f/(m·c1)) · (N1p/NT)`` — so
    both engines evaluate the identical IEEE-754 expression (two exact-int
    divisions, one multiply, one add; all correctly rounded), and only the
    final log10 is libm (the repo-wide quantize-once discipline of
    ``_log10_u``). Per-bigram NLL is quantized to micros, documents
    integer-sum — order-free, hash-stable.

    Scale posture: mirrors ``bigram_lm_scores`` — the model is |bigram
    types|-bounded, built from ONE partial-aggregated shuffle of bigram
    instances; the w1-fanout/w2-continuation tables derive from the TYPE
    table (vocabulary-sized, not instance-sized); NT is a 1-row broadcast;
    scoring co-partitions instances against the model on the bigram key.
    Raw text never shuffles.

    Returns ``(doc_id, n_bigrams, kn_nll_sum_micros, kn_avg_nll_micros)``;
    docs with fewer than 2 tokens produce no row.
    """
    d_num, d_den = discount
    if not (0 < d_num < d_den):
        raise ValueError(f"discount must be a fraction in (0,1), got {discount}")
    words = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("ws")
    )
    big = words.filter(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                # let-bound: split once per row, not per bigram
                "element_at(transform(array(ws), ws -> "
                "transform(sequence(1, size(ws) - 1), "
                "i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))), 1)"
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    c2 = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2")
    ).localCheckpoint(eager=True)
    lead = c2.groupBy("w1").agg(
        F.sum("c2").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1f"),
    )
    cont = c2.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n1p"))
    nt = c2.agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    p_expr = (
        f"CAST({d_den} * c2 - {d_num} AS DOUBLE) / CAST({d_den} * c1 AS DOUBLE)"
        f" + (CAST({d_num} * n1f AS DOUBLE) * CAST(n1p AS DOUBLE))"
        f" / (CAST({d_den} * c1 AS DOUBLE) * CAST(nt AS DOUBLE))"
    )
    model = (
        c2.join(lead, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(nt))
        .select(
            "w1",
            "w2",
            (-F.floor(F.log10(F.expr(p_expr)) * _LOG_U + F.lit(0.5)))
            .cast("bigint")
            .alias("nll_u"),
        )
    )
    return (
        big.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("nll_u").cast("bigint").alias("kn_nll_sum_micros"),
        )
        .withColumn(
            "kn_avg_nll_micros",
            F.expr("kn_nll_sum_micros div n_bigrams").cast("bigint"),
        )
    )


def rho_loss_selection(
    docs: DataFrame,
    top_k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reducible-holdout-loss data selection (RHO-loss, Mindermann et al.
    2022), restated for corpus curation with the engine's exact bigram
    LMs: score every document by

        rho = NLL_full(x) − NLL_holdout(x)

    where NLL_full is the add-one bigram LM trained on the WHOLE corpus
    and NLL_holdout is the same LM class trained only on the held-out
    ``val`` hash split (the irreducible-loss reference). High rho =
    hard-for-the-current-model but NOT intrinsically hard (the reference
    model explains it fine) — the learnable examples worth training on;
    low/negative rho = noise or already-learned. The CANDIDATE set
    excludes the ``val`` split itself: holdout docs scoring against a
    model trained on themselves would deflate their NLL_holdout and
    inflate their rho (standard RHO-loss keeps holdout and candidates
    disjoint). Top-``top_k`` by rho with a deterministic total order
    (rho DESC, doc_id ASC).

    Exactness: both NLL sums are the established integer-micro log10
    quantizations; rho is their exact difference. Bigrams unseen by the
    holdout model still score via add-one smoothing's closed form, which
    unifies with the seen case as
    ``-log10((c2_hold+1)/(c1_hold+V_hold))`` under ``c2_hold = 0`` /
    ``c1_hold = 0`` coalesces — so full-corpus bigrams never drop out.

    Scale: ONE token-scale bigram materialization (persisted, released
    before return) feeds both LM legs; the holdout coalesces fold into
    the full model at DISTINCT-BIGRAM scale, so document scoring is a
    single token-scale join against one combined (nll_full, nll_hold)
    model table instead of three sequential token-scale joins. The
    top-k is TakeOrderedAndProject (no global sort). Output:
    (doc_id, n_bigrams, nll_full_micros, nll_holdout_micros, rho_micros,
    rank).
    """
    from ..operators.sampling import split_column

    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("ws"),
        split_column(id_col).alias("split"),
    )
    # persist (not localCheckpoint) so the token-scale bigram frame is
    # RELEASED in the finally below — a checkpointed frame's blocks
    # outlive the call and repeat invocations (bench reps, probe loops)
    # accumulate token-scale cache until GC pressure doubles the runtime
    big = (
        words.filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            "split",
            F.explode(
                F.expr(
                    # let-bound: split once per row, not per bigram
                    "element_at(transform(array(ws), ws -> "
                    "transform(sequence(1, size(ws) - 1), "
                    "i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))), 1)"
                )
            ).alias("bg"),
        )
        .select("doc_id", "split", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .persist()
    )

    def vocab_of(src: DataFrame):
        return src.select(F.explode("ws").alias("w")).filter(
            F.length("w") > 0
        ).agg(F.count_distinct("w").alias("V"))

    full_v = vocab_of(words).select(F.col("V").alias("vf"))
    hold_v = vocab_of(words.filter(F.col("split") == "val")).select(
        F.col("V").alias("vh")
    )
    hold_big = big.filter(F.col("split") == "val")
    fc2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2f"))
    fc1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1f"))
    hc2 = hold_big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2h"))
    hc1 = hold_big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1h"))
    # ONE combined model keyed (w1, w2) covering every full-corpus bigram:
    # the holdout leg's unseen-pair and unseen-leading-token closed forms
    # collapse into the same add-one expression via c2h/c1h coalesces —
    # resolved here at distinct-bigram scale so the document-scoring join
    # below is the only token-scale shuffle
    model = (
        fc2.join(fc1, "w1")
        .join(hc2, ["w1", "w2"], "left")
        .join(hc1, "w1", "left")
        .crossJoin(F.broadcast(full_v))
        .crossJoin(F.broadcast(hold_v))
        .select(
            "w1",
            "w2",
            (-_log10_u(F.col("c2f") + 1, F.col("c1f") + F.col("vf"))).alias(
                "nll_full"
            ),
            (
                -_log10_u(
                    F.coalesce(F.col("c2h"), F.lit(0)) + 1,
                    F.coalesce(F.col("c1h"), F.lit(0)) + F.col("vh"),
                )
            ).alias("nll_hold"),
        )
    )
    # candidates: every non-holdout doc's bigrams (val docs excluded — see
    # docstring); inner join is lossless because the full model covers
    # every corpus bigram by construction
    scored = big.filter(F.col("split") != "val").join(model, ["w1", "w2"]).select(
        "doc_id", "nll_full", "nll_hold"
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("nll_full").cast("bigint").alias("nll_full_micros"),
        F.sum("nll_hold").cast("bigint").alias("nll_holdout_micros"),
    ).withColumn(
        "rho_micros",
        F.expr("nll_full_micros - nll_holdout_micros"),
    )
    from pyspark.sql import Window

    order = [F.desc("rho_micros"), F.asc("doc_id")]
    top = per_doc.orderBy(*order).limit(top_k)
    w = Window.orderBy(*order)
    out = top.withColumn("rank", F.row_number().over(w).cast("int"))
    try:
        # top-k-sized; eager so the bigram cache is released before return
        return out.localCheckpoint(eager=True)
    finally:
        big.unpersist()
