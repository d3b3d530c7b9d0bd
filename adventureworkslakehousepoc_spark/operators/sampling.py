"""Deterministic sampling for training-data pipelines.

``df.sample()`` is seed-dependent per partitioning — re-partition the input
and the sample changes, which breaks reproducible corpus builds and makes an
engine-independent oracle impossible. These operators sample by *content
hash* instead: a row is in the sample iff the leading hex digit(s) of
``md5(key)`` fall in an allowed set. The decision is a pure function of the
key — stable across runs, partitionings, engines, and cluster sizes, and the
sample is reproducible from the key alone (the property corpus pipelines
actually need: "was this doc in the 10% eval split?" must have one answer
forever).

Scale posture: the predicate is a scan-side filter (no shuffle, no state);
rates compose multiplicatively by adding hex digits (1/16, 1/256, ...).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hash_sample_predicate",
    "hash_sample",
    "stratified_hash_sample",
    "mixture_resample_summary",
    "shuffle_assignment",
    "weighted_systematic_sample",
    "weighted_reservoir_sample",
    "doremi_domain_weights",
]

_HEX = "0123456789abcdef"


def hash_sample_predicate(key: Column, sixteenths: int) -> Column:
    """True for ~``sixteenths``/16 of rows, decided by md5(key)'s first hex
    digit (< comparison over the hex alphabet — portable string ordering)."""
    if not 0 < sixteenths <= 16:
        raise ValueError("sixteenths must be in 1..16")
    return F.substring(F.md5(key.cast("string")), 1, 1) < _HEX[sixteenths] if sixteenths < 16 else F.lit(True)


def hash_sample(df: DataFrame, key_col: str, sixteenths: int) -> DataFrame:
    """Deterministic ~sixteenths/16 sample keyed on ``key_col``."""
    return df.filter(hash_sample_predicate(F.col(key_col), sixteenths))


def stratified_hash_sample(
    df: DataFrame, key_col: str, strata_col: str, rates: dict[str, int], default: int = 0
) -> DataFrame:
    """Per-stratum deterministic sampling — the class-rebalancing pass of a
    corpus build (e.g. keep 2/16 of dominant-language docs, 8/16 of rare
    ones). ``rates`` maps stratum value → sixteenths; unlisted strata get
    ``default`` (0 = dropped)."""
    digit = F.substring(F.md5(F.col(key_col).cast("string")), 1, 1)
    pred: Column = F.lit(False)
    expr = F.when(F.lit(False), F.lit(True))
    for value, sixteenths in rates.items():
        if not 0 <= sixteenths <= 16:
            raise ValueError(f"rate for {value!r} out of 0..16")
        expr = expr.when(F.col(strata_col) == value, digit < _HEX[sixteenths] if sixteenths < 16 else F.lit(True))
    if default > 0:
        pred = expr.otherwise(digit < _HEX[default] if default < 16 else F.lit(True))
    else:
        pred = expr.otherwise(F.lit(False))
    return df.filter(pred)


def mixture_resample_summary(
    docs: DataFrame, out_num: int = 1, out_den: int = 2
) -> DataFrame:
    """Resample the corpus toward target per-source mixture weights — the
    data-mixture step of a training pipeline (cf. quota cap, which is a hard
    ceiling; this is proportional allocation).

    Source s with weight w_s gets desired_s = (out_num/out_den) * N_total *
    w_s / sum(w) slots; its keep rate is min(1, desired_s / n_s), realized by
    a deterministic md5-derived per-doc draw. EVERYTHING is exact bigint
    arithmetic — rate_micro = min(1e6, (1e6 * out_num * N * w) div
    (out_den * sum_w * n_s)) — so no float crosses an engine boundary and
    reruns are bit-stable. The per-source rate table is tiny (|sources|
    rows) and broadcasts; the draw is a pure projection, so the whole
    operator costs one count-aggregate plus one scan. Demo weights:
    w_s = 1 + (source_number mod 4).

    Returns the per-source summary (n_in, rate_micro, n_kept).
    """
    w = (F.lit(1) + F.substring("source", 4, 10).cast("int") % 4).cast("bigint")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s")).withColumn(
        "w", w
    )
    totals = counts.agg(
        F.sum("n_s").alias("n_total"), F.sum("w").alias("sum_w")
    )
    rates = counts.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_s",
        F.least(
            F.lit(1000000).cast("bigint"),
            F.expr(
                f"(1000000L * {out_num} * n_total * w) div ({out_den} * sum_w * n_s)"
            ),
        ).alias("rate_micro"),
    )
    draw = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 1000000
    )
    kept = (
        docs.join(F.broadcast(rates), "source")
        .filter(draw < F.col("rate_micro"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_s").alias("n_in"),
            "rate_micro",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


def shuffle_assignment(df: DataFrame, id_col: str = "doc_id", seed: str = "shuffle42") -> DataFrame:
    """Deterministic global training-shuffle: every row gets a reproducible
    position in a pseudo-random permutation of the corpus, without a
    single-partition total sort.

    Two-phase global ordering: the md5 of ``seed:id`` is the shuffle key; its
    first hex byte is the bucket (256-way — widen the prefix for more output
    files at larger corpora). Phase 1 ranks WITHIN each bucket (each reduce
    task sorts corpus/256 rows — exactly the per-file sort a shuffled-shard
    writer needs anyway). Phase 2 turns per-bucket counts into exclusive
    prefix offsets via a broadcast ``b.bucket < a.bucket`` self-join over the
    256-row size table — NOT a global window, so nothing in the plan ever
    funnels to one partition. ``global_pos = offset(bucket) + pos_in_bucket``
    is then the exact rank a single ORDER BY (bucket, key, id) would assign —
    the idiom that makes "shuffle 100 TB for training" a bucketed write
    instead of one task sorting the world.
    """
    from pyspark.sql import Window

    keyed = df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col))).alias("shuffle_key"),
    ).withColumn("bucket", F.conv(F.substring("shuffle_key", 1, 2), 16, 10).cast("int"))
    wb = Window.partitionBy("bucket").orderBy("shuffle_key", "doc_id")
    ranked = keyed.withColumn("pos_in_bucket", F.row_number().over(wb).cast("bigint"))
    sizes = keyed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    # exclusive prefix sum over the 256-row size table: broadcast non-equi
    # self-join (bounded 256x256 pair space), zero single-partition exchanges
    a, b = sizes.alias("a"), sizes.alias("b")
    offsets = (
        a.join(F.broadcast(b), F.col("b.bucket") < F.col("a.bucket"), "left")
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum("b.n"), F.lit(0)).cast("bigint").alias("off"))
    )
    return ranked.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        "bucket",
        "pos_in_bucket",
        (F.col("off") + F.col("pos_in_bucket")).cast("bigint").alias("global_pos"),
    )


def mixture_token_budget(
    docs: DataFrame,
    budget_tokens: int = 100_000,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Token-budget mixture planning: allocate a total training-token budget
    across sources with sqrt-smoothed weights (sub-linear upsampling of small
    sources, the standard pretraining-mixture temperature trick), then emit
    the per-source sampling plan.

    weight_u = floor(sqrt(actual_tokens) * 1000 + 0.5)   (integer milliunits)
    planned  = floor(budget * weight_u / sum(weight_u))  (exact bigint)
    rate_u   = floor(min(planned, actual) * 1e6 / actual)

    IEEE sqrt is correctly rounded, and everything after the one quantize is
    exact integer arithmetic — cross-engine deterministic, no float-sum
    drift. Plan shape: one partial-aggregated groupBy to per-source totals (a
    |sources|-row frame), a 1-row sum broadcast back — nothing else touches
    the corpus."""
    per_src = docs.groupBy(F.col(group_col).alias("source")).agg(
        F.sum(F.size(F.split(F.col(text_col), " "))).cast("bigint").alias("actual_tokens")
    )
    w_u = F.floor(F.sqrt(F.col("actual_tokens").cast("double")) * 1000 + F.lit(0.5)).cast(
        "bigint"
    )
    weighted = per_src.select("source", "actual_tokens", w_u.alias("weight_mu"))
    total = weighted.agg(F.sum("weight_mu").alias("total_mu"))
    # integer `div`, not floor(double /): a double quotient can round up
    # across an integer boundary and make floor disagree with exact floor-div
    return (
        weighted.crossJoin(F.broadcast(total))
        .withColumn(
            "planned_tokens",
            F.expr(f"CAST({budget_tokens} AS BIGINT) * weight_mu div total_mu"),
        )
        .withColumn(
            "sample_rate_micros",
            F.expr("least(planned_tokens, actual_tokens) * 1000000 div actual_tokens"),
        )
        .select(
            "source", "actual_tokens", "weight_mu", "planned_tokens", "sample_rate_micros"
        )
    )


def split_column(
    id_col: str = "doc_id",
    val_pct: int = 10,
    test_pct: int = 10,
    seed: str = "split42",
) -> Column:
    """The 3-way split expression: bucket = first two md5 hex digits of
    ``seed:id`` as a value in 0..255, mapped onto test / val / train ranges
    (≈ pct/100 each, quantized to 1/256ths). A pure scan-side projection —
    drop it into any plan as a column or filter."""
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))), 1, 2),
        16,
        10,
    ).cast("int")
    test_hi = (256 * test_pct) // 100
    val_hi = test_hi + (256 * val_pct) // 100
    return (
        F.when(bucket < test_hi, "test").when(bucket < val_hi, "val").otherwise("train")
    )


def train_eval_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    val_pct: int = 10,
    test_pct: int = 10,
    seed: str = "split42",
) -> DataFrame:
    """Deterministic 3-way corpus split audit. Hash-keyed so the assignment
    is partitioning- and engine-invariant, reproducible run-over-run, and
    leakage-free (a doc can never change split when the corpus grows).
    Returns per (group, split) counts — the audit view of the split."""
    split = split_column(id_col, val_pct, test_pct, seed)
    return (
        docs.select(F.col(group_col).alias("grp"), split.alias("split"))
        .groupBy(F.col("grp").alias(group_col), "split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def weighted_systematic_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    n_picks: int = 100,
    n_buckets: int = 32,
) -> DataFrame:
    """Deterministic weighted sampling (systematic / 'low-variance'
    resampling): lay every row's weight end-to-end along [0, W) in ``id_col``
    order, then take ``n_picks`` evenly spaced probes at the midpoints
    ``(2j+1)·W / (2·n_picks)``. A row is selected once per probe landing in
    its interval, so selection probability is exactly proportional to weight,
    heavy rows can be selected multiple times (``times_selected``), and the
    result is a pure function of the data — no RNG, identical in any engine.

    All arithmetic is exact bigint: a probe count up to position ``x`` is
    ``f(x) = ((2n·x div W) + 1) div 2`` and a row's multiplicity is
    ``f(cum_end) − f(cum_start)`` — no float boundaries to disagree on.

    Scale: the global prefix sum is two-phase — rows range-bucket by id
    (monotone buckets, so per-bucket prefix sums + broadcast bucket offsets
    compose to the exact global running sum), the per-bucket window sorts
    |rows|/``n_buckets`` rows per task, and the offset table is a bounded
    ``n_buckets``-row broadcast non-equi self-join. Nothing funnels to a
    single partition (same idiom as ``shuffle_assignment``).
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("doc_id"), F.col(weight_col).cast("bigint").alias("w")
    )
    # floor(doc_id · n_buckets / n_ids) in decimal: exact and monotone in
    # doc_id for every bigint key (the bigint product overflows near 2^62)
    maxid = base.agg((F.max("doc_id").cast("decimal(20,0)") + 1).alias("n_ids"))
    bucketed = base.crossJoin(F.broadcast(maxid)).withColumn(
        "bucket",
        F.expr(f"(cast(doc_id as decimal(20,0)) * {n_buckets}) div n_ids").cast("int"),
    )
    wb = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = bucketed.withColumn("ce_b", F.sum("w").over(wb))
    sizes = bucketed.groupBy("bucket").agg(F.sum("w").alias("bw"))
    a, b = sizes.alias("a"), sizes.alias("b")
    offsets = (
        a.join(F.broadcast(b), F.col("b.bucket") < F.col("a.bucket"), "left")
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum("b.bw"), F.lit(0)).cast("bigint").alias("off"))
    )
    total = sizes.agg(F.sum("bw").alias("w_total"))
    two_n = 2 * n_picks
    picks = F.expr(
        f"((({two_n} * (off + ce_b)) div w_total) + 1) div 2"
        f" - ((({two_n} * (off + ce_b - w)) div w_total) + 1) div 2"
    )
    return (
        ranked.join(F.broadcast(offsets), "bucket")
        .crossJoin(F.broadcast(total))
        .withColumn("times_selected", picks.cast("int"))
        .filter(F.col("times_selected") > 0)
        .select(
            "doc_id",
            F.col("w").alias("weight"),
            (F.col("off") + F.col("ce_b") - F.col("w")).cast("bigint").alias("cum_start"),
            "times_selected",
        )
    )


def unimax_language_budget(
    docs: DataFrame,
    budget_num: int = 2,
    budget_den: int = 5,
    epochs_cap: int = 2,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """UniMax language-balanced budget allocation (Chung et al. 2023,
    "UniMax: Fairer and More Effective Language Sampling"): spread a total
    training-token budget (``budget_num/budget_den`` of the corpus) as
    uniformly as possible across languages, but never sample any language
    past ``epochs_cap`` epochs of its available tokens — the water-filling
    solution where low-resource languages are fully capped and the
    remaining budget splits evenly among the rest. The closed form replaces
    the greedy loop: in ascending cap order, language at rank i is capped
    iff ``cap_i · (L − i + 1) + Σ_{j<i} cap_j ≤ B``.

    Exactness: all quantities are bigint token counts; the budget, rank,
    prefix sums, and the even split are exact integer arithmetic (the
    uncapped share uses integer div; the sub-|langs| remainder is simply
    unallocated, deterministically). Rank and prefix come from a broadcast
    non-equi self-join over the |langs|-scale table — no keyless window
    funnels a task even though the table is tiny (plan-gate discipline).

    Scale: ONE partial-aggregated groupBy on the language key touches the
    corpus; everything after runs on the |langs|-row frame with 1-row
    broadcast scalars.

    Returns (lang, n_tokens, cap_tokens, capped, alloc_tokens,
    epochs_micros) — epochs_micros = alloc·10⁶ div available, the realized
    sampling epochs per language.
    """
    per_lang = docs.groupBy(F.col(lang_col).alias("lang")).agg(
        F.sum(F.size(F.split(F.col(text_col), " "))).cast("bigint").alias("n_tokens")
    )
    return unimax_fill(per_lang, budget_num, budget_den, epochs_cap)


def unimax_fill(
    per_lang: DataFrame,
    budget_num: int = 2,
    budget_den: int = 5,
    epochs_cap: int = 2,
) -> DataFrame:
    """The water-filling core of ``unimax_language_budget`` over an
    already-aggregated (lang, n_tokens) frame — reused by pipelines that
    allocate a budget over EFFECTIVE (e.g. soft-dedup-weighted) token
    counts rather than raw ones."""
    caps = per_lang.select(
        "lang", "n_tokens", (F.lit(epochs_cap) * F.col("n_tokens")).alias("cap")
    )
    tot = caps.agg(
        F.sum("n_tokens").alias("tot"), F.count(F.lit(1)).cast("bigint").alias("n_langs")
    ).select(
        F.expr(f"(tot * {budget_num}) div {budget_den}").alias("budget"), "n_langs"
    )
    r = caps.select(F.col("lang").alias("r_lang"), F.col("cap").alias("r_cap"))
    pred = (F.col("r_cap") < F.col("cap")) | (
        (F.col("r_cap") == F.col("cap")) & (F.col("r_lang") < F.col("lang"))
    )
    pre = (
        caps.join(F.broadcast(r), pred, "left")
        .groupBy("lang", "n_tokens", "cap")
        .agg(
            F.count("r_lang").cast("bigint").alias("n_pred"),
            F.coalesce(F.sum("r_cap"), F.lit(0)).cast("bigint").alias("prefix"),
        )
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "capped",
            F.col("cap") * (F.col("n_langs") - F.col("n_pred")) + F.col("prefix")
            <= F.col("budget"),
        )
    )
    filled = pre.agg(
        F.coalesce(F.sum(F.when(F.col("capped"), F.col("cap"))), F.lit(0))
        .cast("bigint")
        .alias("cap_sum"),
        F.coalesce(F.sum(F.when(F.col("capped"), 1)), F.lit(0))
        .cast("bigint")
        .alias("k"),
    )
    return (
        pre.crossJoin(F.broadcast(filled))
        .withColumn(
            "alloc_tokens",
            F.when(F.col("capped"), F.col("cap")).otherwise(
                F.expr("(budget - cap_sum) div greatest(n_langs - k, 1)")
            ),
        )
        .select(
            "lang",
            "n_tokens",
            F.col("cap").alias("cap_tokens"),
            "capped",
            "alloc_tokens",
            F.expr("(alloc_tokens * 1000000) div greatest(n_tokens, 1)").alias(
                "epochs_micros"
            ),
        )
    )


def temperature_sampling_weights(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled multilingual sampling weights: each language's
    sampling probability is proportional to ``share**alpha`` with
    ``alpha = 1/2`` (temperature T = 2) — the exponentiated-smoothing
    scheme of multilingual pretraining (mBERT's exponent-smoothed
    sampling; mT5/XLM-R use the same p_i^alpha family), which lifts
    low-resource languages without flattening the mixture to uniform the
    way UniMax's hard cap does.

    alpha is fixed at 1/2 deliberately: ``sqrt`` is correctly rounded
    under IEEE 754 on every engine, while ``pow(x, 0.3)`` is libm-
    dependent in its last ulp — a fractional-alpha variant could not be
    hash-matched cross-engine. With alpha = 1/2 the smoothed mass is
    ``floor(sqrt(n_i)·10³ + 0.5)`` (exact: sqrt correctly rounded, the
    product ≤ ~3·10¹⁰ « 2⁵³), and every share/boost below is exact
    integer division on bigints.

    Scale: ONE partial-aggregated groupBy on the language key touches the
    corpus; the normalization total is a 1-row broadcast over the
    |langs|-row frame.

    Returns (lang, n_tokens, raw_share_micros, smoothed_share_micros,
    boost_micros) — boost = smoothed/raw in micros; > 10⁶ means the
    language is up-sampled relative to its natural frequency.
    """
    per = docs.groupBy(F.col(lang_col).alias("lang")).agg(
        F.sum(F.size(F.split(F.col(text_col), " "))).cast("bigint").alias("n_tokens")
    )
    sm = per.withColumn(
        "s_milli",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000 + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    tot = sm.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.sum("s_milli").alias("tot_s")
    )
    return (
        sm.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_tokens",
            F.expr("(n_tokens * 1000000) div greatest(tot_tokens, 1)").alias(
                "raw_share_micros"
            ),
            F.expr("(s_milli * 1000000) div greatest(tot_s, 1)").alias(
                "smoothed_share_micros"
            ),
        )
        .withColumn(
            "boost_micros",
            F.expr(
                "(smoothed_share_micros * 1000000) div greatest(raw_share_micros, 1)"
            ),
        )
    )


def doremi_domain_weights(
    docs: DataFrame,
    rounds: int = 5,
    eta_micros: int = 500000,
    smooth_micros: int = 100000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DoReMi-style excess-loss domain reweighting (Xie et al. 2023,
    linearized): domains whose text is HARDER for a reference LM than the
    easiest domain get upweighted by multiplicative-weights rounds, then
    the result is smoothed toward uniform — the mixture a 100 TB pretrain
    run feeds its sampler instead of raw token counts.

    Lite in exactly one place: DoReMi retrains a proxy model between
    rounds; here the reference losses are static (one corpus-trained
    add-one bigram LM pass via ``importance.bigram_lm_scores``), so the
    hedge update ``w ← w·(1 + η·excess̃)`` with per-round renormalization
    is a deterministic |domains|-scale recursion — the engine-shaped
    core of the method without the proxy-training outer loop.

    Exactness: token-weighted domain NLL = Σ nll_sum div Σ n_bigrams
    (exact integers), excess normalized to [0, 10⁶] against the max,
    every MW round all-integer (products ≤ 1.5·10¹² — no widening
    needed), smoothing exact. The oracle unrolls all rounds.

    Scale: corpus work is the bigram-LM pass (token-scale aggregates it
    already pays); everything after the per-source aggregate lives on
    |sources| rows with 1-row broadcast totals — no windows, no driver
    arithmetic.

    Returns (source, n_docs, dom_nll_micros, excess_micros,
    weight_micros), one row per domain.
    """
    from .importance import bigram_lm_scores

    nll = bigram_lm_scores(docs, text_col, id_col)
    src = docs.select(F.col(id_col).alias("doc_id"), "source")
    dom = (
        nll.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nll_sum_micros").cast("bigint").alias("s_nll"),
            F.sum("n_bigrams").cast("bigint").alias("s_big"),
        )
        .select(
            "source",
            "n_docs",
            F.expr("s_nll div greatest(s_big, 1)").alias("dom_nll_micros"),
        )
        .localCheckpoint(eager=True)
    )
    lo = dom.agg(F.min("dom_nll_micros").alias("mn"))
    ex = dom.crossJoin(F.broadcast(lo)).select(
        "source",
        "n_docs",
        "dom_nll_micros",
        F.expr("dom_nll_micros - mn").alias("excess_micros"),
    )
    hi = ex.agg(F.max("excess_micros").alias("mx"))
    k = dom.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    w = (
        ex.crossJoin(F.broadcast(hi))
        .crossJoin(F.broadcast(k))
        .select(
            "source",
            "n_docs",
            "dom_nll_micros",
            "excess_micros",
            "k",
            F.expr("(excess_micros * 1000000) div greatest(mx, 1)").alias("exn"),
            F.expr("cast(1000000 as bigint) div k").alias("w"),
        )
    )
    for _ in range(rounds):
        w = w.withColumn(
            "w",
            F.expr(
                f"(w * (1000000 + ({eta_micros} * exn) div 1000000))"
                " div cast(1000000 as bigint)"
            ),
        )
        tot = w.agg(F.sum("w").cast("bigint").alias("tot"))
        w = (
            w.crossJoin(F.broadcast(tot))
            .withColumn("w", F.expr("(w * 1000000) div greatest(tot, 1)"))
            .drop("tot")
            .localCheckpoint(eager=True)
        )
    return w.select(
        "source",
        "n_docs",
        "dom_nll_micros",
        "excess_micros",
        F.expr(
            f"((1000000 - {smooth_micros}) * w"
            f" + {smooth_micros} * (cast(1000000 as bigint) div k))"
            " div cast(1000000 as bigint)"
        ).alias("weight_micros"),
    )


def weighted_reservoir_sample(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    id_col: str = "doc_id",
    k: int = 10,
    seed: str = "ares42",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per group, via the A-Res
    reservoir key (Efraimidis–Spirakis): every row draws a deterministic
    md5 uniform u and the k largest u^(1/w) win — one pass, no total-weight
    pre-aggregation, which is the property that matters on an unbounded
    stream or a 100 TB scan (``weighted_systematic_sample`` needs the
    global prefix sum; this needs only a per-group top-k).

    Keys compare in log space (ln u / w, monotone in u^(1/w)) and are
    micro-quantized to 10⁻⁶ before ranking with an ``id`` tiebreak, so the
    ordering is reproducible across engines regardless of libm ulp drift.

    Returns ``(group, id, weight, key_micro, rank)``, rank 1..k by
    descending key. Scale posture: per-group top-k through the two-phase
    ``grouped_topk`` idiom — a pre-rank within (group, input-partition)
    bounds every group's shuffle contribution to k rows per partition, so
    one hot group cannot funnel the scan into one task.
    """
    from .similarity import grouped_topk

    base = df.select(
        F.col(group_col).alias("group_key"),
        F.col(id_col).alias("id"),
        F.col(weight_col).cast("bigint").alias("weight"),
    ).filter(F.col("weight") > 0)
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + ":"), F.col("id").cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("bigint") / F.lit(float(1 << 52))
    # u in [0, 1): guard the measure-zero u=0 edge before ln
    key = F.log(F.greatest(u, F.lit(1e-18))) / F.col("weight")
    scored = base.withColumn(
        "key_micro", F.floor(key * F.lit(1e6)).cast("bigint")
    )
    return grouped_topk(
        scored,
        group_cols=["group_key"],
        k=k,
        order=[F.desc("key_micro"), F.asc("id")],
    ).select("group_key", "id", "weight", "key_micro", F.col("rank").cast("int").alias("rank"))
