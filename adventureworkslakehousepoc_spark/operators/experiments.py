"""Experimentation analytics: CUPED variance reduction for A/B readouts.

An experimentation platform over event logs is a standard consumer of the
same lakehouse tables this engine serves. CUPED (Controlled-experiment
Using Pre-Existing Data, Deng et al., WSDM 2013) is the workhorse variance
-reduction technique: regress the experiment-period metric Y on the
pre-period metric X of the same unit and read the treatment effect off the
residualized metric Y − θ(X − E[X]), cutting the confidence interval by the
squared pre/post correlation. At 100 TB of raw events the entire
computation is two per-user aggregates and a handful of exact moments — no
per-row driver math, no sampling.

Exactness discipline (hash-parity with the DuckDB oracle): every per-row
value is micro-quantized to an integer before summation; the per-arm moment
sums (Σx, Σy, Σxy, Σx², Σy²) accumulate exact decimals (DECIMAL(19,0)
factors widened to DECIMAL(38,0) products — a raw bigint·bigint already
overflows int64 at sf0.01), order-insensitive by construction; θ, lifts,
and the variance-reduction ratio then
derive from those exact moments through one fixed chain of IEEE double
operations, identical in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "cuped_adjusted_lift",
    "srm_assignment_check",
    "msprt_sequential_ab",
]


def cuped_adjusted_lift(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    seed: str = "exp42",
) -> DataFrame:
    """CUPED-adjusted A/B lift over an event log.

    * Periods: the observed day span splits at its midpoint — pre-period
      value sum X per user, experiment-period value sum Y (both exact
      micro-integers; users without pre-period activity get X = 0, which
      CUPED handles by construction).
    * Assignment: deterministic 50/50 by the first hex nibble of
      md5(seed ‖ user) — the standard hash-based bucketing (reproducible,
      no RNG, uniform across engines).
    * θ = cov(X, Y)/var(X) from POOLED moments (both arms — the unbiased
      choice, since assignment is independent of X).
    * Outputs one row: arm sizes, raw lift E[Y|T] − E[Y|C], CUPED lift
      after subtracting θ(X − E[X]), θ itself, and the achieved variance
      reduction 1 − var(Y_adj)/var(Y) in ppm.

    Empty input: an arm with no users has NULL moment sums (a SUM over no
    rows) and a NULL count, so everything derived from it is NULL — over an
    empty event log that is the whole row, as the oracle's SQL gives it. Only
    a NULL sum over a non-empty arm is an overflow, and raises.

    Scale posture: one user-keyed shuffle for the per-user sums, then a
    2-row arm aggregate and a 1-row pooled aggregate joined by broadcast.
    """
    day = F.datediff(F.col(ts_col), F.lit("1970-01-01").cast("date"))
    bounds = events.agg(
        F.min(day).alias("_dmin"), F.max(day).alias("_dmax")
    ).select(
        (F.col("_dmin") + F.floor((F.col("_dmax") - F.col("_dmin")) / 2)).alias(
            "cut_day"
        )
    )
    v_micro = F.floor(F.col(value_col) * 1e6 + F.lit(0.5)).cast("bigint")
    per_user = (
        events.crossJoin(F.broadcast(bounds))
        .select(
            F.col(user_col).alias("uid"),
            F.when(day < F.col("cut_day"), v_micro).otherwise(F.lit(0)).alias("_x"),
            F.when(day >= F.col("cut_day"), v_micro).otherwise(F.lit(0)).alias("_y"),
        )
        .groupBy("uid")
        .agg(
            F.sum("_x").cast("bigint").alias("x"),
            F.sum("_y").cast("bigint").alias("y"),
        )
        .withColumn(
            "arm",
            F.when(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(seed + ":"), F.col("uid").cast("string"))),
                        1,
                        1,
                    ),
                    16,
                    10,
                ).cast("int")
                < 8,
                F.lit("treatment"),
            ).otherwise(F.lit("control")),
        )
    )
    # cast BEFORE multiplying: a bigint*bigint product of per-user micro
    # sums overflows int64 from ~3e9 x 3e9 (observed at sf0.01) — in both
    # engines. decimal(19,0) x decimal(19,0) widens to decimal(38,0), exact.
    d19 = "decimal(19,0)"
    x19, y19 = F.col("x").cast(d19), F.col("y").cast(d19)
    moments = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x19).alias("sx"),
        F.sum(y19).alias("sy"),
        F.sum(x19 * y19).alias("sxy"),
        F.sum(x19 * x19).alias("sxx"),
        F.sum(y19 * y19).alias("syy"),
    )
    pooled = moments.agg(
        F.sum("n").cast("double").alias("pn"),
        F.sum("sx").cast("double").alias("psx"),
        F.sum("sy").cast("double").alias("psy"),
        F.sum("sxy").cast("double").alias("psxy"),
        F.sum("sxx").cast("double").alias("psxx"),
        F.sum("syy").cast("double").alias("psyy"),
    )
    # pivot the 2-row arm table into one row of exact doubles
    arms = moments.groupBy().agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(c).cast("double"))).alias(
                f"{a[0]}{c}"
            )
            for a in ("treatment", "control")
            for c in ("n", "sx", "sy")
        ]
    )
    MICRO = F.lit(1e6)
    # overflow tripwire: the DECIMAL(38,0) cross-product SUMS can themselves
    # overflow 38 digits at extreme scale, and non-ANSI Spark returns NULL
    # SILENTLY (the decimal(19,0) cast above only fixes the per-row
    # product). A NULL moment must abort the readout, not flow into NULL
    # theta/lifts: every output derives through this guard, which
    # raise_errors if a moment sum is NULL while its count (pooled ``pn``,
    # per arm ``tn``/``cn``) is not. Headroom for the record:
    # sums of n·(per-user micro-sum)² stay under 10³⁸ for any corpus with
    # n·max(|x_micro|, |y_micro|)² < 10³⁸ — e.g. 10¹² users at 10¹³ micros
    # (10⁷ value units) each — so hitting this guard means the values need
    # a documented downscale, not a bigger type.
    _moment_sums = {
        "pn": ["psx", "psy", "psxy", "psxx", "psyy"],
        "tn": ["tsx", "tsy"],
        "cn": ["csx", "csy"],
    }

    def _guarded(expr):
        ok = None
        for n, sums in _moment_sums.items():
            for c in sums:
                cond = F.col(c).isNotNull() | F.col(n).isNull()
                ok = cond if ok is None else (ok & cond)
        return F.when(ok, expr).otherwise(
            F.raise_error(
                F.lit(
                    "cuped_adjusted_lift: a moment sum overflowed "
                    "DECIMAL(38,0) and went NULL — downscale value_col "
                    "(see docstring headroom bound) instead of trusting "
                    "a silently-NULL theta"
                )
            )
        )

    out = arms.crossJoin(F.broadcast(pooled)).select(
        F.col("tn").cast("bigint").alias("n_treatment"),
        F.col("cn").cast("bigint").alias("n_control"),
        # theta = pooled cov / pooled var (micro² cancels in the ratio)
        _guarded(
            (F.col("pn") * F.col("psxy") - F.col("psx") * F.col("psy"))
            / (F.col("pn") * F.col("psxx") - F.col("psx") * F.col("psx"))
        ).alias("theta"),
        _guarded(
            (F.col("tsy") / F.col("tn") - F.col("csy") / F.col("cn")) / MICRO
        ).alias("lift_raw"),
        _guarded(
            (
                F.col("tsy") / F.col("tn")
                - F.col("csy") / F.col("cn")
                - (
                    (F.col("pn") * F.col("psxy") - F.col("psx") * F.col("psy"))
                    / (F.col("pn") * F.col("psxx") - F.col("psx") * F.col("psx"))
                )
                * (F.col("tsx") / F.col("tn") - F.col("csx") / F.col("cn"))
            )
            / MICRO
        ).alias("lift_cuped"),
        # var reduction = rho^2 = cov^2 / (var_x var_y), pooled
        _guarded(
            F.floor(
                (F.col("pn") * F.col("psxy") - F.col("psx") * F.col("psy"))
                * (F.col("pn") * F.col("psxy") - F.col("psx") * F.col("psy"))
                / (F.col("pn") * F.col("psxx") - F.col("psx") * F.col("psx"))
                / (F.col("pn") * F.col("psyy") - F.col("psy") * F.col("psy"))
                * 1e6
                + F.lit(0.5)
            ).cast("bigint")
        ).alias("var_reduction_ppm"),
    )
    return out


def srm_assignment_check(
    events: DataFrame,
    user_col: str = "user_id",
    segment_col: str = "event_type",
    seed: str = "exp42",
    critical_millis: int = 3841,
) -> DataFrame:
    """Sample-ratio-mismatch (SRM) check — the assignment-integrity gate
    every experiment readout must pass BEFORE lifts mean anything: under
    a 50/50 split the per-arm exposed-user counts follow a 1-df
    chi-square, and for two equal-expectation cells the statistic
    collapses to the exact integer form

        chi2 = (n_t − n_c)² / (n_t + n_c)

    (no 0.5-fractional expectations to float around). Computed per
    segment (users exposed to each event type — segment-level SRM is
    where bucketing bugs hide) plus an ``__overall__`` row, with the same
    deterministic md5 arm assignment as ``cuped_adjusted_lift`` so the
    two operators audit the same experiment.

    Returns ``(segment, n_treatment, n_control, chi2, srm_flag)``;
    ``srm_flag`` fires above ``critical_millis``/1000 (default 3.841 =
    95th percentile of chi-square(1)).

    Scale posture: one distinct over (segment, user) — the only real
    shuffle — then a |segments|-key aggregate; the overall row reuses the
    per-user distinct. No windows, no joins.
    """
    arm_is_t = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + ":"), F.col("uid").cast("string"))),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        < 8
    )
    seg_users = (
        events.select(
            F.col(segment_col).cast("string").alias("segment"),
            F.col(user_col).alias("uid"),
        )
        .distinct()
        .withColumn("is_t", arm_is_t.cast("int"))
    )
    all_users = (
        events.select(F.col(user_col).alias("uid"))
        .distinct()
        .select(F.lit("__overall__").alias("segment"), "uid")
        .withColumn("is_t", arm_is_t.cast("int"))
    )
    counted = (
        seg_users.unionByName(all_users)
        .groupBy("segment")
        .agg(
            F.sum("is_t").cast("bigint").alias("n_treatment"),
            F.sum(F.lit(1) - F.col("is_t")).cast("bigint").alias("n_control"),
        )
    )
    diff = F.col("n_treatment") - F.col("n_control")
    chi2 = (diff * diff) / (F.col("n_treatment") + F.col("n_control"))
    return counted.select(
        "segment",
        "n_treatment",
        "n_control",
        chi2.alias("chi2"),
        (chi2 > F.lit(critical_millis) / F.lit(1000.0)).alias("srm_flag"),
    )


def msprt_sequential_ab(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    seed: str = "exp42",
    tau: float = 0.5,
    alpha: float = 0.05,
) -> DataFrame:
    """Always-valid sequential A/B readout via the mixture SPRT (mSPRT,
    Johari-Koomen-Pekelis-Walsh, "Peeking at A/B tests", KDD 2017) — the
    third leg of the experimentation family: SRM gates assignment
    integrity, CUPED sharpens the point estimate, and this answers the
    question every experimenter actually asks ("can I stop LOOKING yet?")
    with a boundary that holds at level α no matter how often it is
    peeked at.

    One LOOK per observed day: at look d the cumulative per-arm event
    moments (n, Σv, Σv²) through day d give the mean difference
    δ̂ = ȳ_t − ȳ_c, its sampling variance via the pooled empirical
    variance over the effective sample size n_eff = n_t·n_c/(n_t+n_c),
    and the normal-mixture likelihood ratio (variance ρ = σ²/n_eff,
    mixture width τ²):

        ln Λ = ½·ln(ρ/(ρ+τ²)) + δ̂²·τ² / (2·ρ·(ρ+τ²))

    The test CROSSES at the first look with Λ ≥ 1/α — mixture martingale
    + Ville's inequality give the anytime-valid α guarantee. Assignment
    is the family's deterministic md5 50/50 bucketing.

    Exactness: per-event values micro-quantize before summation; the
    cumulative moments are exact integers/decimals (prefix sums over the
    tiny per-day aggregate via a broadcast non-equi self-join — no global
    window, no SinglePartition exchange); δ̂, ρ, and ln Λ then derive
    through ONE fixed IEEE chain mirrored textually in the oracle, with
    one final micro-quantization of ln Λ. The boundary constant
    ln(1/α)·10⁶ is precomputed in Python and inlined as an integer
    literal so both engines compare against the identical number.

    Returns one row per look: ``(day, n_treatment, n_control,
    delta_micros, log_lambda_micros, crossed)`` — ``crossed`` is the
    anytime-valid rejection state AT that look (monotone in practice but
    reported per look; the first true row is the stopping day).

    Scale posture: one (day, arm)-keyed aggregate over the event log is
    the only real shuffle; the look table is |days| rows, cumulated and
    scored with broadcast joins and scalar math. 100 TB of events, ~365
    looks.
    """
    import math

    day = F.to_date(F.col(ts_col)).alias("day")
    v_micro = F.floor(F.col(value_col) * 1e6 + F.lit(0.5)).cast("bigint")
    arm_is_t = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + ":"), F.col(user_col).cast("string"))),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        < 8
    )
    d19 = "decimal(19,0)"
    daily = (
        events.select(
            day,
            F.when(arm_is_t, F.lit("t")).otherwise(F.lit("c")).alias("arm"),
            v_micro.alias("v"),
        )
        .groupBy("day", "arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast(d19).alias("sv"),
            F.sum(F.col("v").cast(d19) * F.col("v").cast(d19)).alias("svv"),
        )
    )
    looks = daily.select("day").distinct()
    # prefix sums over the |days|-row aggregate: broadcast non-equi self-join
    # (the engine's global-window-free pattern), then pivot the two arms
    cum = (
        looks.alias("l")
        .join(F.broadcast(daily.alias("d")), F.col("d.day") <= F.col("l.day"))
        .groupBy(F.col("l.day").alias("day"))
        .agg(
            *[
                agg.alias(f"{a}{suffix}")
                for a in ("t", "c")
                for suffix, agg in (
                    (
                        "n",
                        F.sum(
                            F.when(F.col("d.arm") == a, F.col("d.n")).otherwise(
                                F.lit(0)
                            )
                        ).cast("bigint"),
                    ),
                    (
                        "sv",
                        F.sum(
                            F.when(
                                F.col("d.arm") == a, F.col("d.sv")
                            ).otherwise(F.lit(0).cast(d19))
                        ),
                    ),
                    (
                        "svv",
                        F.sum(
                            F.when(
                                F.col("d.arm") == a, F.col("d.svv")
                            ).otherwise(F.lit(0).cast(d19))
                        ),
                    ),
                )
            ]
        )
    )
    MICRO = F.lit(1e6)
    # looks where either arm is empty are reported with NULL statistics: no
    # difference is estimable yet (and the oracle mirrors the same guard)
    both = (F.col("tn") > 0) & (F.col("cn") > 0)
    n_all = F.col("tn") + F.col("cn")
    mean_t = F.col("tsv").cast("double") / F.col("tn") / MICRO
    mean_c = F.col("csv").cast("double") / F.col("cn") / MICRO
    delta = mean_t - mean_c
    # pooled empirical variance of v (value units) over both arms
    sv_all = (F.col("tsv") + F.col("csv")).cast("double")
    svv_all = (F.col("tsvv") + F.col("csvv")).cast("double")
    var_pooled = (
        svv_all / n_all.cast("double") / MICRO / MICRO
        - (sv_all / n_all.cast("double") / MICRO)
        * (sv_all / n_all.cast("double") / MICRO)
    )
    n_eff = (
        F.col("tn").cast("double")
        * F.col("cn").cast("double")
        / n_all.cast("double")
    )
    # rho = sampling variance of delta-hat; floored away from 0 so a
    # zero-variance look (constant values) cannot divide by zero
    rho = F.greatest(var_pooled / n_eff, F.lit(1e-12))
    tau2 = F.lit(float(tau) * float(tau))
    log_lambda = F.lit(0.5) * F.log(rho / (rho + tau2)) + (
        delta * delta * tau2 / (F.lit(2.0) * rho * (rho + tau2))
    )
    boundary_micros = math.floor(math.log(1.0 / alpha) * 1e6 + 0.5)

    # overflow tripwire (same contract as cuped_adjusted_lift): the per-day
    # Σv² is decimal(19,0)×decimal(19,0) → DECIMAL(38,0), and non-ANSI Spark
    # returns NULL SILENTLY if that product sum (or its cumulative prefix
    # sum) exceeds 38 digits — which would make log_lambda_micros NULL and
    # crossed NULL-coerced-to-False, i.e. a test that silently never stops.
    # The moments are never legitimately NULL (empty arms produce 0 via the
    # pivot's otherwise(0)), so NULL ⇒ overflow ⇒ abort the readout.
    # Headroom: Σn·(per-event micro value)² < 10³⁸ holds for 10¹² events of
    # 10¹³ micros (10⁷ value units) each; hitting the guard means value_col
    # needs a documented downscale, not a wider type.
    _moments = ["tn", "cn", "tsv", "csv", "tsvv", "csvv"]

    def _g(expr):
        ok = None
        for c in _moments:
            cond = F.col(c).isNotNull()
            ok = cond if ok is None else (ok & cond)
        return F.when(ok, expr).otherwise(
            F.raise_error(
                F.lit(
                    "msprt_sequential_ab: a cumulative moment overflowed "
                    "DECIMAL(38,0) and went NULL — downscale value_col "
                    "(see docstring headroom bound) instead of trusting "
                    "a silently-NULL likelihood ratio"
                )
            )
        )

    return cum.select(
        "day",
        _g(F.col("tn")).alias("n_treatment"),
        _g(F.col("cn")).alias("n_control"),
        _g(
            F.when(both, F.floor(delta * 1e6 + F.lit(0.5)).cast("bigint"))
        ).alias("delta_micros"),
        _g(
            F.when(both, F.floor(log_lambda * 1e6 + F.lit(0.5)).cast("bigint"))
        ).alias("log_lambda_micros"),
        _g(
            F.when(
                both,
                (
                    F.floor(log_lambda * 1e6 + F.lit(0.5)).cast("bigint")
                    >= F.lit(boundary_micros)
                ),
            ).otherwise(F.lit(False))
        ).alias("crossed"),
    )
