"""Data-quality operators over plain DataFrames: weak-supervision labeling
and labeler agreement (``weak_label_votes``, ``labeler_agreement_kappa``,
``dawid_skene_binary``), robust outlier and drift screens
(``mad_outlier_flags``, ``psi_value_drift``), table audits
(``referential_integrity_audit``, ``reconcile_tables``), imputation
(``impute_group_mean``) and leakage-safe splits (``split_leakage_audit``,
``cluster_safe_split``).

Row-level expectations (keep / drop / fail / quarantine and their violation
counters) live in ``plans/expectations.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def weak_label_votes(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Weak-supervision labeling: four cheap heuristic labelers vote on
    document quality (length band, stopword floor, repetition ceiling,
    alphabetic floor); majority (≥3) keeps. The programmatic-labeling prep
    step of a classifier-filtered corpus (Snorkel-style): labelers are pure
    scan-side projections, votes are exact ints — one narrow pass, zero
    shuffles, trivially auditable.

    Returns (doc_id, l_length, l_stopword, l_repetition, l_alpha, votes,
    keep)."""
    from .text_analysis import LANG_MARKERS

    stop = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    # backtick-quoted like _marker_count so column names needing escaping work
    stop_hits = F.expr(f"size(filter(split(`{text_col}`, ' '), w -> w IN ({stop})))")
    # repetition: distinct-token fraction over whitespace tokens
    distinct_frac = F.size(F.array_distinct(words)).cast("double") / n_words
    # try_divide: zero-length text must yield NULL (→ FALSE vote below), not
    # an ANSI divide-by-zero error
    alpha_ratio = F.try_divide(
        F.regexp_count(F.col(text_col), F.lit("[a-z]")).cast("double"),
        F.length(F.col(text_col)),
    )
    # each labeler coalesces NULL (zero-length / NULL text → NULL ratios) to
    # an explicit FALSE vote so votes/keep stay non-null in every engine
    l1 = F.coalesce(n_words.between(20, 1000), F.lit(False))
    l2 = F.coalesce((stop_hits.cast("double") / n_words) >= 0.05, F.lit(False))
    l3 = F.coalesce(distinct_frac >= 0.3, F.lit(False))
    l4 = F.coalesce(alpha_ratio >= 0.5, F.lit(False))
    votes = sum(F.when(c, 1).otherwise(0) for c in (l1, l2, l3, l4))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        l1.alias("l_length"),
        l2.alias("l_stopword"),
        l3.alias("l_repetition"),
        l4.alias("l_alpha"),
        votes.cast("int").alias("votes"),
        (votes >= 3).alias("keep"),
    )


def mad_outlier_flags(
    docs: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
    id_col: str = "doc_id",
    k_mad: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier detection: flag documents whose value sits
    more than ``k_mad`` median-absolute-deviations from the group median —
    the length/size anomaly screen that, unlike z-scores, a few huge
    documents cannot drag around (median and MAD have 50% breakdown).

    Two grouped exact percentiles (Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the same interpolation, proven bit-identical by
    agg_percentiles) on integer inputs: the median has at worst an exact .5
    fraction, so deviations, the MAD, and the ``k_mad``·MAD threshold are all
    exactly-representable doubles — the flag comparison is deterministic.

    Plan: two (group)-keyed aggregates + a broadcast stats join (|groups|
    rows). The exact percentile buffers one group's values per buffer — at
    100 TB swap in approx_percentile exactly as agg_percentiles_approx does;
    the operator's join/flag structure is unchanged."""
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("group_id"),
        F.col(value_col).cast("double").alias("x"),
    )
    med = base.groupBy("group_id").agg(F.expr("percentile(x, 0.5)").alias("med"))
    dev = base.join(F.broadcast(med), "group_id").withColumn(
        "dev", F.abs(F.col("x") - F.col("med"))
    )
    mad = dev.groupBy("group_id").agg(F.expr("percentile(dev, 0.5)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "group_id")
        .select(
            "doc_id",
            "group_id",
            F.col("x").cast("bigint").alias("value"),
            F.col("med").alias("group_median"),
            F.col("mad").alias("group_mad"),
            (F.col("dev") > F.lit(k_mad) * F.col("mad")).alias("is_outlier"),
        )
    )


def psi_value_drift(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    current_days: int = 7,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index per key: the distribution of ``value_col``
    in the trailing ``current_days`` window vs everything before it, over
    ``n_bins`` equal-width bins spanning the global [min, max]. The standard
    ML-serving drift monitor (PSI < 0.1 stable, > 0.2 action), complementing
    the vocabulary-level KL monitor (``source_drift_scores``) with a numeric
    feature view.

    Per-bin terms ``(p−q)·log10(p/q)`` (add-one smoothed, always ≥ 0) are
    quantized to integer micro-units before the per-key sum, so the score is
    engine-exact. Global min/max/max-ts ride a 1-row broadcast; everything
    else is two small keyed aggregations — no windows, no driver state.
    """
    stats = events.agg(
        F.max(ts_col).alias("ts_hi"),
        F.min(F.col(value_col).cast("double")).alias("lo"),
        F.max(F.col(value_col).cast("double")).alias("hi"),
    )
    binned = events.crossJoin(F.broadcast(stats)).select(
        F.col(key_col).alias("k"),
        F.least(
            F.floor(
                (F.col(value_col).cast("double") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * n_bins
            ),
            F.lit(n_bins - 1),
        )
        .cast("int")
        .alias("bin"),
        (
            F.col(ts_col)
            >= F.col("ts_hi") - F.expr(f"interval {int(current_days)} days")
        ).alias("is_cur"),
    )
    per_bin = binned.groupBy("k", "bin").agg(
        F.sum(F.when(F.col("is_cur"), 1).otherwise(0)).cast("bigint").alias("c_cur"),
        F.sum(F.when(F.col("is_cur"), 0).otherwise(1)).cast("bigint").alias("c_ref"),
    )
    totals = per_bin.groupBy("k").agg(
        F.sum("c_cur").cast("bigint").alias("n_cur"),
        F.sum("c_ref").cast("bigint").alias("n_ref"),
    )
    p = (F.col("c_cur") + 1).cast("double") / (F.col("n_cur") + n_bins).cast("double")
    q = (F.col("c_ref") + 1).cast("double") / (F.col("n_ref") + n_bins).cast("double")
    term_u = F.floor((p - q) * F.log10(p / q) * 1000000 + F.lit(0.5)).cast("bigint")
    return (
        per_bin.join(totals, "k")
        .withColumn("t_u", term_u)
        .groupBy("k")
        .agg(
            F.min("n_ref").cast("bigint").alias("n_ref"),
            F.min("n_cur").cast("bigint").alias("n_cur"),
            F.sum("t_u").cast("bigint").alias("psi_micros"),
        )
        .select(
            F.col("k").alias(key_col),
            "n_ref",
            "n_cur",
            "psi_micros",
            (F.col("psi_micros") > 200000).alias("drifted"),
        )
    )


def referential_integrity_audit(
    relationships: "list[tuple[str, DataFrame, str, DataFrame, str]]",
) -> DataFrame:
    """Foreign-key orphan audit across a star schema: for each declared
    ``(name, child_df, child_key, parent_df, parent_key)`` relationship, one
    row with the child row count, orphaned-row count (child key has no
    parent), distinct orphan key count, and the orphan rate in integer
    micros — the referential-health scorecard a lakehouse publishes next to
    its DQ expectations (parquet tables have no enforced constraints, so
    integrity is something you MEASURE).

    Scale shape per relationship: one LEFT ANTI join on the key (parent side
    projected to its key column — at 100 TB the anti join's build side is a
    key-only relation, broadcast when the parent is dimension-sized) feeding
    partial-aggregated keyless counts; plus one keyless count of the child.
    Null child keys are orphans by definition here (they reference nothing),
    counted separately so the metric distinguishes broken links from absent
    ones. A relationship whose child has no rows gets no row (its rate would
    divide by zero), as a ``GROUP BY`` over the child's rows gives none.
    """
    out = None
    for name, child, child_key, parent, parent_key in relationships:
        keys = child.select(F.col(child_key).alias("k"))
        parents = parent.select(F.col(parent_key).alias("k")).distinct()
        totals = keys.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_child_rows"),
            F.count_if(F.col("k").isNull()).cast("bigint").alias("n_null_keys"),
        ).where(F.col("n_child_rows") > 0)
        orphans = (
            keys.where(F.col("k").isNotNull())
            .join(parents, "k", "left_anti")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orphan_rows"),
                F.count_distinct("k").cast("bigint").alias("n_orphan_keys"),
            )
        )
        row = (
            totals.crossJoin(F.broadcast(orphans))
            .select(
                F.lit(name).alias("relationship"),
                "n_child_rows",
                "n_null_keys",
                "n_orphan_rows",
                "n_orphan_keys",
                F.expr(
                    "((n_orphan_rows + n_null_keys) * 1000000) div n_child_rows"
                ).alias("orphan_rate_micros"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def impute_group_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Group-mean imputation — the feature-prep fill for missing numerics:
    NULL values take their group's mean over the observed rows, computed in
    exact integer micro-units (per-row quantize → bigint sum → integer
    division), so the imputed constant is bit-identical across engines and
    partitionings (a double mean would drift with aggregation order).

    Returns ``(id, group, was_missing, value_micros)``. Cost: one
    partial-aggregated pass to the group-domain mean table (broadcast back)
    + one scan — missingness never shuffles row data."""
    micros = F.floor(F.col(value_col) * 1000000 + F.lit(0.5)).cast("bigint")
    means = (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("g"), micros.alias("m"))
        .groupBy("g")
        .agg(F.expr("sum(m) div count(1)").cast("bigint").alias("mean_micros"))
    )
    return (
        df.select(
            F.col(id_col).alias(id_col),
            F.col(group_col).alias("g"),
            F.col(value_col).isNull().alias("was_missing"),
            micros.alias("m"),
        )
        .join(F.broadcast(means), "g")
        .select(
            id_col,
            F.col("g").alias(group_col),
            "was_missing",
            F.coalesce("m", "mean_micros").cast("bigint").alias("value_micros"),
        )
    )


def reconcile_tables(
    source: DataFrame,
    sink: DataFrame,
    key_col: str,
    payload_cols: "list[str]",
    n_buckets: int = 16,
) -> DataFrame:
    """Source/sink reconciliation — did everything the pipeline read arrive
    intact? Per hash bucket of the key: row counts and an order-free
    content checksum on both sides, with a match flag. A lost batch or a
    silently-corrupted column flips exactly the buckets that contain it,
    so operators re-drive only those buckets instead of diffing tables
    row-by-row.

    Checksum = bigint SUM over rows of ``md5(key‖payload)``'s first 15 hex
    digits mod 10^12 — order-free (addition commutes), cross-engine exact
    (md5 + integer arithmetic), and bounded: 10^6 rows/bucket stay < 10^18;
    at larger bucket populations widen to DECIMAL(38,0) or raise
    ``n_buckets``. ``payload_cols`` must be string/integer columns — float
    string renderings differ across engines (quantize money to cents
    first). Buckets come from an md5 hash of the key's STRING form (same
    machinery as the row hash), never a numeric cast: casting a
    non-numeric key to bigint yields NULL, and NULL buckets never match
    across the full-outer join — every bucket would report the other side
    missing forever. NULL keys hash as the sentinel '∅'. Cost: one
    partial-aggregated pass per side keyed by the bucket — no join of the
    raw tables anywhere."""
    def side(df: DataFrame, prefix: str) -> DataFrame:
        key_str = F.coalesce(F.col(key_col).cast("string"), F.lit("∅"))
        parts = [key_str] + [
            F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in payload_cols
        ]
        row_hash = F.conv(
            F.substring(F.md5(F.concat_ws("\x01", *parts)), 1, 15), 16, 10
        ).cast("bigint")
        key_hash = F.conv(
            F.substring(F.md5(key_str), 1, 15), 16, 10
        ).cast("bigint")
        return (
            df.select(
                (key_hash % n_buckets).cast("int").alias("bucket"),
                (row_hash % 1_000_000_000_000).alias("h"),
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias(f"n_{prefix}"),
                F.sum("h").cast("bigint").alias(f"checksum_{prefix}"),
            )
        )

    s = side(source, "source")
    k = side(sink, "sink")
    return (
        s.join(k, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_source", F.lit(0)).cast("bigint").alias("n_source"),
            F.coalesce("n_sink", F.lit(0)).cast("bigint").alias("n_sink"),
            F.coalesce("checksum_source", F.lit(0)).cast("bigint").alias("checksum_source"),
            F.coalesce("checksum_sink", F.lit(0)).cast("bigint").alias("checksum_sink"),
            (
                F.coalesce("n_source", F.lit(0)).eqNullSafe(F.coalesce("n_sink", F.lit(0)))
                & F.coalesce("checksum_source", F.lit(0)).eqNullSafe(
                    F.coalesce("checksum_sink", F.lit(0))
                )
            ).alias("is_match"),
        )
    )


def labeler_agreement_kappa(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Pairwise Cohen's kappa between the four weak labelers of
    ``weak_label_votes`` — the inter-annotator-agreement audit run before
    trusting programmatic labels (two labelers that agree no better than
    chance add votes, not signal). One global aggregate computes every
    pair's 2×2 confusion table (both-true / a-only / b-only / both-false)
    as exact integer sums of boolean products in a single corpus scan —
    zero shuffles beyond the 2-stage partial/final aggregate — then the six
    |pairs|-scale rows are unpivoted from that one row.

    κ = (p_o − p_e)/(1 − p_e) with p_o = (a+d)/n and
    p_e = p₁p₂ + (1−p₁)(1−p₂) (the marginal true-rates product). All rates
    are quantized to integer micros BEFORE they combine — p_o and the
    marginals are single ``·10⁶ div n`` divisions (safe to n ≈ 9·10¹²
    docs; the naive ``pe_num/n²`` form overflows bigints at n ≈ 3·10⁶,
    far below a corpus audit), the chance term multiplies micro-rates
    (≤ 10¹², exact), and κ is the one IEEE division of the two exact
    micro-integers before a floor(·+0.5) quantize — bit-reproducible
    across engines. Quantization error in κ is bounded by ~2/n + 1 µ.
    Chance-degenerate pairs (pe == 10⁶, a constant labeler) emit κ = 0 by
    convention.

    Returns (labeler_a, labeler_b, n_docs, both_true, a_only, b_only,
    both_false, po_micros, pe_micros, kappa_micros), labeler_a < labeler_b.
    """
    labels = ["l_length", "l_stopword", "l_repetition", "l_alpha"]
    v = weak_label_votes(docs, text_col, id_col)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    pairs = [(i, j) for i in range(len(labels)) for j in range(i + 1, len(labels))]
    for i, j in pairs:
        li, lj = F.col(labels[i]), F.col(labels[j])
        aggs += [
            F.sum(F.when(li & lj, 1).otherwise(0)).cast("bigint").alias(f"a_{i}{j}"),
            F.sum(F.when(li & ~lj, 1).otherwise(0)).cast("bigint").alias(f"b_{i}{j}"),
            F.sum(F.when(~li & lj, 1).otherwise(0)).cast("bigint").alias(f"c_{i}{j}"),
        ]
    one = v.agg(*aggs)
    stack = ", ".join(
        f"'{labels[i]}', '{labels[j]}', a_{i}{j}, b_{i}{j}, c_{i}{j}" for i, j in pairs
    )
    rows = one.select(
        "n",
        F.expr(
            f"stack({len(pairs)}, {stack}) AS (labeler_a, labeler_b, a, b, c)"
        ),
    ).select("n", "labeler_a", "labeler_b", "a", "b", "c", (F.col("n") - F.col("a") - F.col("b") - F.col("c")).alias("d"))
    with_rates = rows.select(
        "*",
        F.expr("(1000000 * (a + d)) div n").alias("po_u"),
        F.expr("(1000000 * (a + b)) div n").alias("p1_u"),
        F.expr("(1000000 * (a + c)) div n").alias("p2_u"),
    ).withColumn(
        "pe_u",
        F.expr(
            "(p1_u * p2_u + (1000000 - p1_u) * (1000000 - p2_u)) div 1000000"
        ),
    )
    kappa = F.when(
        F.col("pe_u") < 1000000,
        F.floor(
            (F.col("po_u") - F.col("pe_u")).cast("double")
            / (F.lit(1000000) - F.col("pe_u")).cast("double")
            * 1000000
            + F.lit(0.5)
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    return with_rates.select(
        "labeler_a",
        "labeler_b",
        F.col("n").alias("n_docs"),
        F.col("a").alias("both_true"),
        F.col("b").alias("a_only"),
        F.col("c").alias("b_only"),
        F.col("d").alias("both_false"),
        F.col("po_u").alias("po_micros"),
        F.col("pe_u").alias("pe_micros"),
        kappa.alias("kappa_micros"),
    )


def dawid_skene_binary(
    docs: DataFrame,
    iterations: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dawid-Skene (1979) confusion-matrix EM over the four binary weak
    labelers of ``weak_label_votes`` — the step past Cohen's kappa: instead
    of reporting that labelers disagree, it estimates each labeler's
    sensitivity α_k = P(vote|keep) and specificity β_k = P(¬vote|¬keep)
    together with the class prior π and per-doc posteriors, so votes can
    be combined by reliability instead of majority.

    EM with posteriors NEVER materialized: the per-doc posterior q_d is a
    closed-form expression of the 9 broadcast parameters
    (π, α₁..α₄, β₁..β₄), so each EM round is ONE corpus scan whose
    aggregate computes the next parameter vector — the same
    state-is-a-broadcast-row shape as the GD probe and the BT fit;
    iteration state is 9 bigints, eager-checkpointed per round.

    Exactness: all probabilities are integer micros. The E-step numerators
    are products of ≤ 5 micro-terms widened to DECIMAL(38,0) (≤ 10³⁰;
    HUGEINT in the oracle); q_d = num₁·10⁶ div (num₁+num₀) is one exact
    integer division per doc. M-step ratios widen the ·10⁶ product the
    same way, so the whole fit is bit-replayable.

    Init: q_d⁰ = votes_d · 250000 (majority-vote soft init, the standard
    DS seeding). ``iterations`` = number of M→E rounds.

    Returns (labeler, alpha_micros, beta_micros, pi_micros, n_docs,
    n_pos_posterior) — one row per labeler; π, n and the final
    posterior-positive count repeated on each row.
    """
    labels = ["l_length", "l_stopword", "l_repetition", "l_alpha"]
    base = weak_label_votes(docs, text_col, id_col).select(
        "doc_id", *labels, "votes"
    ).localCheckpoint(eager=True)

    def m_step(frame_with_q: DataFrame) -> DataFrame:
        aggs = [
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("q").cast("bigint").alias("sq"),
        ]
        for k, lab in enumerate(labels):
            aggs.append(
                F.sum(F.expr(f"if({lab}, q, cast(0 as bigint))"))
                .cast("bigint")
                .alias(f"sqv{k}")
            )
            aggs.append(
                F.sum(F.expr(f"if(not {lab}, 1000000 - q, cast(0 as bigint))"))
                .cast("bigint")
                .alias(f"s0v{k}")
            )
        agg = frame_with_q.agg(*aggs)
        return agg.select(
            "n",
            F.expr("sq div n").alias("pi"),
            *[
                F.expr(
                    f"cast((cast(sqv{k} as decimal(38,0)) * 1000000)"
                    " div greatest(sq, cast(1 as bigint)) as bigint)"
                ).alias(f"a{k}")
                for k in range(len(labels))
            ],
            *[
                F.expr(
                    f"cast((cast(s0v{k} as decimal(38,0)) * 1000000)"
                    " div greatest(n * cast(1000000 as bigint) - sq,"
                    " cast(1 as bigint)) as bigint)"
                ).alias(f"b{k}")
                for k in range(len(labels))
            ],
        ).localCheckpoint(eager=True)

    def q_expr() -> str:
        t = " * ".join(
            f"cast(if({lab}, a{k}, 1000000 - a{k}) as decimal(38,0))"
            for k, lab in enumerate(labels)
        )
        u = " * ".join(
            f"cast(if({lab}, 1000000 - b{k}, b{k}) as decimal(38,0))"
            for k, lab in enumerate(labels)
        )
        return (
            f"cast(((cast(pi as decimal(38,0)) * {t}) * 1000000) div"
            f" greatest(cast(pi as decimal(38,0)) * {t}"
            f" + cast(1000000 - pi as decimal(38,0)) * {u},"
            " cast(1 as decimal(38,0))) as bigint)"
        )

    params = m_step(base.withColumn("q", F.expr("votes * cast(250000 as bigint)")))
    for _ in range(iterations - 1):
        params = m_step(
            base.crossJoin(F.broadcast(params)).withColumn("q", F.expr(q_expr()))
        )
    n_pos = (
        base.crossJoin(F.broadcast(params))
        .withColumn("q", F.expr(q_expr()))
        .agg(
            F.sum(F.expr("if(q >= 500000, 1, 0)"))
            .cast("bigint")
            .alias("n_pos_posterior")
        )
    )
    stack = ", ".join(f"'{lab}', a{k}, b{k}" for k, lab in enumerate(labels))
    return params.crossJoin(F.broadcast(n_pos)).select(
        F.expr(
            f"stack({len(labels)}, {stack}) AS (labeler, alpha_micros, beta_micros)"
        ),
        F.col("pi").alias("pi_micros"),
        F.col("n").alias("n_docs"),
        "n_pos_posterior",
    )


def split_leakage_audit(
    docs: DataFrame,
    prefix_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/val/test leakage through duplicated content: hash-split
    assignment is per-DOCUMENT, so documents sharing content can land in
    different splits and the eval set silently contains training data —
    the leakage mode content dedup exists to prevent and split tooling
    rarely checks. Cluster key is the ``prefix_words``-word TEMPLATE
    PREFIX digest (md5 of the opening words — the cheap boilerplate/
    template grouping; byte-identical docs collapse into it as a special
    case, and any dedup cluster id — MinHash family, CC component — can
    be swapped in as the key). Clusters spanning >1 split are leaking;
    the number of LEAKING PAIRS is the cross-split pair count
    n·(n−1)/2 − Σ_s n_s·(n_s−1)/2 (exact integers).

    Returns one row per leaking cluster: (content_hash, n_docs, n_train,
    n_val, n_test, n_splits, n_cross_pairs, representative_id).

    Scale: one digest-keyed count aggregate (map-side combined) over
    (16-byte digest, split) projections — raw text never shuffles; the
    leak filter reduces output to the (tiny) offending cluster list. The
    remedy at 100 TB is the same digest key: re-split BY cluster digest
    instead of doc id, which this audit verifies as a fixed point (zero
    rows).
    """
    from .sampling import split_column

    per = docs.select(
        F.md5(
            F.expr(
                f"array_join(slice(split({text_col}, ' '), 1, {prefix_words}), ' ')"
            )
        ).alias("content_hash"),
        F.col(id_col).alias("doc_id"),
        split_column(id_col).alias("split"),
    )
    g = per.groupBy("content_hash").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.expr("if(split = 'train', 1, 0)")).cast("bigint").alias("n_train"),
        F.sum(F.expr("if(split = 'val', 1, 0)")).cast("bigint").alias("n_val"),
        F.sum(F.expr("if(split = 'test', 1, 0)")).cast("bigint").alias("n_test"),
        F.count_distinct("split").cast("bigint").alias("n_splits"),
        F.min("doc_id").alias("representative_id"),
    )
    return g.filter(F.col("n_splits") > 1).select(
        "content_hash",
        "n_docs",
        "n_train",
        "n_val",
        "n_test",
        "n_splits",
        F.expr(
            "(n_docs * (n_docs - 1)) div 2"
            " - (n_train * (n_train - 1)) div 2"
            " - (n_val * (n_val - 1)) div 2"
            " - (n_test * (n_test - 1)) div 2"
        ).alias("n_cross_pairs"),
        "representative_id",
    )


def cluster_safe_split(
    docs: DataFrame,
    prefix_words: int = 8,
    val_pct: int = 10,
    test_pct: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The REMEDY ``split_leakage_audit`` prescribes: assign train/val/
    test by hashing the duplicate-cluster key (here the same
    ``prefix_words``-word template-prefix digest; any dedup cluster id
    swaps in) instead of the document id, so every member of a cluster
    lands in the SAME split by construction and cross-split leakage is
    structurally zero. Same md5-bucket arithmetic as ``split_column``
    (seed ``split42c:``), so per-split mass stays ≈ the configured
    percentages in expectation.

    Returns per (split) one row: (split, n_docs, n_clusters,
    n_leaking_clusters, share_micros) — ``n_leaking_clusters`` is the
    audit re-run on the NEW assignment and must be 0 on every row (the
    fixed point; emitted rather than asserted so the driver's oracle gate
    verifies it).

    Scale: one digest projection + two digest-keyed aggregates — the
    split itself stays a pure scan-side expression usable inside any
    plan.
    """
    test_hi = (256 * test_pct) // 100
    val_hi = test_hi + (256 * val_pct) // 100
    ch = F.md5(
        F.expr(f"array_join(slice(split({text_col}, ' '), 1, {prefix_words}), ' ')")
    )
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("split42c:"), ch)), 1, 2), 16, 10
    ).cast("int")
    per = docs.select(
        F.col(id_col).alias("doc_id"),
        ch.alias("content_hash"),
        F.when(bucket < test_hi, "test")
        .when(bucket < val_hi, "val")
        .otherwise("train")
        .alias("split"),
    )
    clusters = per.groupBy("content_hash").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct("split").cast("bigint").alias("n_splits"),
        F.first("split").alias("split"),
    )
    total = per.agg(F.count(F.lit(1)).cast("bigint").alias("tot"))
    return (
        clusters.groupBy("split")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum(F.expr("if(n_splits > 1, 1, 0)"))
            .cast("bigint")
            .alias("n_leaking_clusters"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "split",
            "n_docs",
            "n_clusters",
            "n_leaking_clusters",
            F.expr("n_docs * 1000000 div tot").cast("bigint").alias("share_micros"),
        )
    )
