"""DLT-style data-quality expectations for registry datasets (SURVEY.md §3).

The reference's DLT/Lakeflow framework ships row-level quality constraints —
``@dp.expect(name, condition)`` records violations, ``@dp.expect_or_drop``
filters violating rows, ``@dp.expect_or_fail`` aborts the pipeline update —
declared as decorators on the same generator functions ``@dp.table``
registers (the reference's seven pipeline files don't call them, but the
platform's table contract includes them; this is the registry's missing
quality gate). Spark-first re-expression:

- A constraint is a SQL boolean expression over the dataset's columns,
  evaluated row-wise INSIDE the dataset's own plan — ``drop`` is a plain
  ``filter`` (pushes down, prunes, vectorizes like any predicate), ``fail``
  is a ``filter`` whose else-branch is ``raise_error`` (the job aborts on
  the FIRST violating row, executor-side, with no extra pass or driver
  round-trip), ``keep`` leaves rows untouched.
- Violation COUNTERS come from one aggregate, ``violation_aggregate``:
  ``n_rows`` plus one NULL-is-violation sum per expectation. Every counter
  in the engine is that aggregate, and every counters row is
  ``counters_projection`` over its one result row:

  - ``expectation_counters`` aggregates it over a batch DataFrame (one
    map-side-combined pass, one row out per expectation via the
    explode-from-aggregate idiom — no per-expectation scans, no driver
    loop, no collect);
  - ``PipelineContext(observe_expectations=True)`` attaches it as a
    ``DataFrame.observe`` node, collected during the SAME job that writes
    the table (the Spark-native equivalent of DLT's event-log metrics);
  - ``streaming/quality.py`` observes it per micro-batch and passes the
    listener's summed totals back through ``counters_projection``.

- Referential constraints share one deduped key set (``_ref_keys``) and
  one NULL-exempt orphan anti-join (``_orphans``) across the audit, the
  drop enforcer and the quarantine relation.

At 100 TB: constraints ride the scan (predicate pushdown applies to
deterministic conjuncts), the counter pass is map-side-combined to
|expectations| cells per task, and nothing ever collects row data.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "Expectation",
    "expect",
    "expect_or_drop",
    "expect_or_fail",
    "expect_or_quarantine",
    "expectations_of",
    "apply_expectations",
    "quarantine_rows",
    "expectation_counters",
    "violation_aggregate",
    "counters_projection",
    "AggregateExpectation",
    "AggregateExpectationError",
    "expect_unique",
    "expect_referential",
    "expect_fresh",
    "agg_expectations_of",
    "unique_violations",
    "freshness_status",
    "aggregate_expectation_counters",
    "enforce_aggregate_drops",
    "aggregate_quarantine_rows",
    "audit_aggregate_expectations",
]

_ATTR = "_awlh_expectations"

_POLICIES = ("keep", "drop", "fail", "quarantine")


@dataclass(frozen=True)
class Expectation:
    """One declared row constraint: ``condition`` is a SQL boolean
    expression over the dataset's columns; ``policy`` decides what happens
    to rows where it is false (NULL counts as a violation, as in DLT)."""

    name: str
    condition: str
    policy: str = "keep"

    def __post_init__(self) -> None:
        if self.policy not in _POLICIES:
            raise ValueError(
                f"expectation {self.name!r}: policy must be one of "
                f"{_POLICIES}, got {self.policy!r}"
            )

    def passes(self) -> F.Column:
        """True exactly when the row satisfies the constraint — a NULL
        condition result is a violation (mirrors DLT, and keeps drop/fail
        semantics well-defined on NULL-bearing columns)."""
        return F.coalesce(F.expr(self.condition), F.lit(False))


def _decorate(name: str, condition: str, policy: str):
    exp = Expectation(name, condition, policy)

    def deco(fn: Callable) -> Callable:
        existing = list(getattr(fn, _ATTR, ()))
        if any(e.name == exp.name for e in existing):
            raise ValueError(f"expectation {exp.name!r} declared twice on {fn}")
        # prepend: decorators stack bottom-up, so declaration order reads
        # top-down like DLT's
        setattr(fn, _ATTR, (exp, *existing))
        return fn

    return deco


def expect(name: str, condition: str):
    """Record-only constraint (DLT ``@dp.expect``): violations are counted
    but rows flow through."""
    return _decorate(name, condition, "keep")


def expect_or_drop(name: str, condition: str):
    """Filtering constraint (DLT ``@dp.expect_or_drop``): violating rows are
    dropped from the dataset (a plain pushdown-eligible filter)."""
    return _decorate(name, condition, "drop")


def expect_or_fail(name: str, condition: str):
    """Aborting constraint (DLT ``@dp.expect_or_fail``): the FIRST violating
    row raises executor-side and fails the pipeline update."""
    return _decorate(name, condition, "fail")


def expect_or_quarantine(name: str, condition: str):
    """Routing constraint: violating rows leave the dataset (like ``drop``)
    but stay ADDRESSABLE as a quarantine relation (``quarantine_rows`` /
    ``PipelineContext.quarantine``) for triage — the expectations analog of
    the suite's malformed-CSV quarantine (sources/files.py::
    split_valid_corrupt). DLT core ships drop-or-fail only; quarantine is
    the standard production pattern layered on top (route, don't lose)."""
    return _decorate(name, condition, "quarantine")


def expectations_of(fn: Callable) -> tuple[Expectation, ...]:
    return tuple(getattr(fn, _ATTR, ()))


def apply_expectations(
    df: DataFrame, expectations: Sequence[Expectation], dataset: str = "<dataset>"
) -> DataFrame:
    """Enforce the declared policies inside the dataset's own plan.

    ``drop``/``quarantine`` → ``filter(passes)`` (the quarantined
    complement is materialized separately by ``quarantine_rows``);
    ``fail`` → a filter whose false branch is ``raise_error`` (abort on
    first violation, no extra pass); ``keep`` → untouched. Order follows
    declaration order: a row dropped by an earlier expectation is never
    seen by a later ``fail``.
    """
    out = df
    for exp in expectations:
        if exp.policy == "quarantine":
            out = out.filter(F.expr(exp.condition))
            continue
        if exp.policy == "drop":
            # plain SQL ternary logic: a NULL condition already fails the
            # filter, so this IS NULL-is-violation — and unlike a
            # coalesce(cond, false) wrapper, the bare predicate is
            # pushdown-translatable (lands in the parquet scan's
            # PushedFilters; verified by test_registry.py)
            out = out.filter(F.expr(exp.condition))
        elif exp.policy == "fail":
            out = out.filter(
                F.when(exp.passes(), F.lit(True)).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(
                                f"expectation {exp.name!r} violated on "
                                f"dataset {dataset!r} "
                                f"(condition: {exp.condition}); row: "
                            ),
                            F.to_json(F.struct("*")),
                        )
                    )
                )
            )
    return out


def quarantine_rows(
    df: DataFrame, expectations: Sequence[Expectation], dataset: str = "<dataset>"
) -> DataFrame:
    """The quarantine relation: every row a ``quarantine`` constraint routed
    OUT of the dataset, tagged with the violated constraint's name in
    ``_violated``. Replays the enforcement chain so ordering semantics
    match ``apply_expectations`` exactly — a row removed by an EARLIER
    drop/quarantine constraint is not re-quarantined by a later one, and
    kept ∪ quarantined = post-drop input, disjointly (the complement of a
    plain SQL filter is cond-false-or-NULL, which is ``~passes()``).

    Plan shape: one extra filter branch per quarantine constraint over the
    same scan — Spark shares the scan across branches when the consumer
    materializes both (and at worst re-scans; never shuffles).
    """
    out = df
    parts: list[DataFrame] = []
    for exp in expectations:
        if exp.policy == "drop":
            out = out.filter(F.expr(exp.condition))
        elif exp.policy == "quarantine":
            parts.append(
                out.filter(~exp.passes()).withColumn(
                    "_violated", F.lit(exp.name)
                )
            )
            out = out.filter(F.expr(exp.condition))
        # keep: no effect on routing; fail: aborts the main relation, not a
        # routing policy
    if not parts:
        raise ValueError(
            f"quarantine_rows: dataset {dataset!r} declares no quarantine "
            "expectations"
        )
    q = parts[0]
    for p in parts[1:]:
        q = q.unionByName(p)
    return q


def violation_aggregate(expectations: Sequence[Expectation]) -> list[Column]:
    """The one violation aggregate: ``n_rows`` plus, per expectation, the
    number of rows where it does not pass (a NULL condition is a
    violation), aliased by the expectation's name. Like any SQL SUM, a
    violation sum over no rows is NULL. Aggregate it (``df.agg``) or
    observe it (``df.observe``); ``counters_projection`` reads its result
    row by position."""
    return [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum((~e.passes()).cast("bigint")).alias(e.name) for e in expectations
    ]


def counters_projection(
    totals: DataFrame, expectations: Sequence[Expectation], dataset: str
) -> DataFrame:
    """The counters relation ``(dataset, expectation, policy, n_rows,
    n_violations, violation_ppm)``, one row per expectation, from a
    one-row ``totals`` frame holding ``violation_aggregate``'s values in
    its order (columns are read by position, so expectation names need no
    quoting). The per-expectation rows come from exploding an array of
    structs built from that single row."""
    one = totals.toDF("_n", *[f"_v{i}" for i in range(len(expectations))])
    structs = F.array(
        *[
            F.struct(
                F.lit(e.name).alias("expectation"),
                F.lit(e.policy).alias("policy"),
                F.col(f"_v{i}").alias("n_violations"),
            )
            for i, e in enumerate(expectations)
        ]
    )
    return one.select(
        F.lit(dataset).alias("dataset"),
        F.col("_n").alias("n_rows"),
        F.explode(structs).alias("e"),
    ).select(
        "dataset",
        F.col("e.expectation").alias("expectation"),
        F.col("e.policy").alias("policy"),
        "n_rows",
        F.col("e.n_violations").alias("n_violations"),
        F.when(
            F.col("n_rows") > 0,
            F.floor(F.col("e.n_violations") * 1000000 / F.col("n_rows")),
        )
        .cast("bigint")
        .alias("violation_ppm"),
    )


def expectation_counters(
    df: DataFrame, expectations: Sequence[Expectation], dataset: str = "<dataset>"
) -> DataFrame:
    """Violation counters as ONE aggregate pass over the PRE-enforcement
    dataset: ``violation_aggregate`` reduced in one map-side-combined
    aggregate, then ``counters_projection``.

    Empty input follows SQL: ``n_rows`` is 0 and both ``n_violations`` (a
    SUM over no rows) and ``violation_ppm`` (a ratio over no rows) are
    NULL — "not measured", which a 0 would misreport as "measured clean"."""
    if not expectations:
        raise ValueError("expectation_counters: no expectations declared")
    return counters_projection(
        df.agg(*violation_aggregate(expectations)), expectations, dataset
    )


# ---------------------------------------------------------------------------
# Dataset-level (aggregate) expectations — the quality gates a table author
# declares BEFORE any row filter: key uniqueness, referential integrity,
# freshness. DLT core ships row-level constraints only; these are the
# aggregate-shaped checks every lakehouse pipeline layers on top (dbt tests,
# Delta CHECK-constraint audits). Unlike row expectations they cannot ride
# each row of the dataset's plan — each compiles to ONE key-partitioned
# audit job over the dataset:
#
#   unique       -> groupBy(key).count() HAVING count > 1   (one shuffle on
#                   the key, map-side combined; |dup keys| rows out)
#   referential  -> left-anti join fk -> dim pk             (broadcast when
#                   the dim is small; AQE otherwise; |orphans| rows out)
#   fresh        -> scalar max(ts) vs an as-of horizon      (keyless partial
#                   aggregate; one row out)
#
# Policies: `keep` exposes counters only; `fail` aborts the pipeline update
# at materialization time (the audit runs BEFORE the write, like a dbt test
# gating a model build); `drop` (referential only) rewrites the dataset as
# a left-semi join against the dim — plan-shaped, rides every read.
# ---------------------------------------------------------------------------

_AGG_ATTR = "_awlh_agg_expectations"

_AGG_POLICIES = {
    "unique": ("keep", "fail"),
    "referential": ("keep", "drop", "quarantine", "fail"),
    "fresh": ("keep", "fail"),
}


class AggregateExpectationError(RuntimeError):
    """A fail-policy aggregate expectation found violations at audit time."""


@dataclass(frozen=True)
class AggregateExpectation:
    """One dataset-level constraint. ``kind`` selects the audit shape and
    which of the optional fields apply (``cols`` for unique/referential fk,
    ``ref``/``ref_cols`` for referential, ``ts_col``/``max_lag_seconds``/
    ``as_of`` for fresh)."""

    name: str
    kind: str
    policy: str = "fail"
    cols: tuple = ()
    ref: str = ""
    ref_cols: tuple = ()
    ts_col: str = ""
    max_lag_seconds: int = 0
    as_of: str | None = None

    def __post_init__(self) -> None:
        allowed = _AGG_POLICIES.get(self.kind)
        if allowed is None:
            raise ValueError(
                f"aggregate expectation {self.name!r}: unknown kind "
                f"{self.kind!r} (one of {tuple(_AGG_POLICIES)})"
            )
        if self.policy not in allowed:
            raise ValueError(
                f"aggregate expectation {self.name!r} ({self.kind}): policy "
                f"must be one of {allowed}, got {self.policy!r}"
            )


def _agg_decorate(exp: AggregateExpectation):
    def deco(fn: Callable) -> Callable:
        existing = list(getattr(fn, _AGG_ATTR, ()))
        if any(e.name == exp.name for e in existing):
            raise ValueError(
                f"aggregate expectation {exp.name!r} declared twice on {fn}"
            )
        setattr(fn, _AGG_ATTR, (exp, *existing))
        return fn

    return deco


def expect_unique(name: str, cols: Sequence[str], policy: str = "fail"):
    """Key-uniqueness constraint: no two rows may share ``cols``. The first
    aggregate gate every lakehouse table declares (a dim's surrogate key, a
    fact's grain). Audit = one groupBy(cols) HAVING count > 1."""
    return _agg_decorate(
        AggregateExpectation(name, "unique", policy, cols=tuple(cols))
    )


def expect_referential(
    name: str,
    fk_cols: Sequence[str],
    ref: str,
    ref_cols: Sequence[str],
    policy: str = "fail",
):
    """Referential-integrity constraint: every non-NULL ``fk_cols`` tuple
    must exist as a ``ref_cols`` tuple in dataset/table ``ref``. NULL
    foreign keys are exempt (SQL MATCH SIMPLE semantics). Audit = left-anti
    join; ``drop`` policy rewrites the dataset as a left-semi join (the
    plan-shaped 'skip orphans' posture)."""
    return _agg_decorate(
        AggregateExpectation(
            name,
            "referential",
            policy,
            cols=tuple(fk_cols),
            ref=ref,
            ref_cols=tuple(ref_cols),
        )
    )


def expect_fresh(
    name: str,
    ts_col: str,
    max_lag_seconds: int,
    as_of: str | None = None,
    policy: str = "fail",
):
    """Freshness constraint: ``max(ts_col)`` must be within
    ``max_lag_seconds`` of ``as_of`` (an ISO timestamp literal; None means
    current_timestamp() — production mode, deliberately non-deterministic).
    An EMPTY dataset is stale by definition (max is NULL)."""
    return _agg_decorate(
        AggregateExpectation(
            name,
            "fresh",
            policy,
            ts_col=ts_col,
            max_lag_seconds=int(max_lag_seconds),
            as_of=as_of,
        )
    )


def agg_expectations_of(fn: Callable) -> tuple[AggregateExpectation, ...]:
    return tuple(getattr(fn, _AGG_ATTR, ()))


def unique_violations(df: DataFrame, exp: AggregateExpectation) -> DataFrame:
    """Duplicate-key detail audit: one row per violated key tuple with its
    multiplicity. One map-side-combined shuffle on the key columns —
    the same plan a 100 TB dedup audit wants."""
    return (
        df.groupBy(*[F.col(c) for c in exp.cols])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def _ref_keys(ref_df: DataFrame, exp: AggregateExpectation) -> DataFrame:
    """The referenced key set of one referential constraint: ``ref_cols``
    renamed to the fk ``cols`` and deduplicated, so joins against it never
    multiply rows."""
    return ref_df.select(
        *[F.col(r).alias(f) for f, r in zip(exp.cols, exp.ref_cols)]
    ).dropDuplicates(list(exp.cols))


def _orphans(
    df: DataFrame, ref_df: DataFrame, exp: AggregateExpectation
) -> DataFrame:
    """Orphan rows: rows of ``df`` whose fk tuple is non-NULL and absent
    from the referenced keys. NULL fks are exempt first (MATCH SIMPLE),
    then a left-anti join — Catalyst broadcasts the dim when small, AQE
    handles the rest."""
    probe = df
    for c in exp.cols:
        probe = probe.filter(F.col(c).isNotNull())
    return probe.join(_ref_keys(ref_df, exp), on=list(exp.cols), how="left_anti")


def freshness_status(df: DataFrame, exp: AggregateExpectation) -> DataFrame:
    """One-row freshness audit: ``(max_ts, lag_seconds, fresh)``. A keyless
    partial aggregate (map-side max per task, one-row reduce); NULL max
    (empty dataset) reports fresh=false with NULL lag."""
    as_of = (
        F.to_timestamp(F.lit(exp.as_of))
        if exp.as_of is not None
        else F.current_timestamp()
    )
    agg = df.agg(F.max(F.col(exp.ts_col)).alias("max_ts"))
    lag = as_of.cast("double") - F.col("max_ts").cast("double")
    return agg.select(
        "max_ts",
        F.floor(lag).cast("bigint").alias("lag_seconds"),
        F.coalesce(
            lag <= F.lit(float(exp.max_lag_seconds)), F.lit(False)
        ).alias("fresh"),
    )


def _agg_violation_count(
    df: DataFrame,
    exp: AggregateExpectation,
    resolve: Callable[[str], DataFrame] | None,
) -> DataFrame:
    """One-row violation count for one aggregate expectation (unique =
    duplicated key groups; referential = orphan rows; fresh = 1 if stale)."""
    if exp.kind == "unique":
        counted = unique_violations(df, exp).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_violations")
        )
    elif exp.kind == "referential":
        if resolve is None:
            raise ValueError(
                f"aggregate expectation {exp.name!r}: referential audit "
                f"needs a resolver for dataset {exp.ref!r}"
            )
        counted = _orphans(df, resolve(exp.ref), exp).agg(
            F.count(F.lit(1)).alias("n_violations")
        )
    elif exp.kind == "fresh":
        counted = freshness_status(df, exp).select(
            F.when(F.col("fresh"), F.lit(0))
            .otherwise(F.lit(1))
            .cast("bigint")
            .alias("n_violations")
        )
    else:  # pragma: no cover - guarded by __post_init__
        raise ValueError(exp.kind)
    return counted.select(
        F.lit(exp.name).alias("expectation"),
        F.lit(exp.kind).alias("kind"),
        F.lit(exp.policy).alias("policy"),
        "n_violations",
    )


def aggregate_expectation_counters(
    df: DataFrame,
    expectations: Sequence[AggregateExpectation],
    resolve: Callable[[str], DataFrame] | None = None,
    dataset: str = "<dataset>",
) -> DataFrame:
    """Violation counters for every declared aggregate expectation:
    ``(dataset, expectation, kind, policy, n_violations)``, one row each.
    Each expectation is one audit job over the dataset (shapes differ —
    key groupBy / anti join / scalar max — so unlike row counters they
    cannot share a single aggregate); the union is |expectations| one-row
    relations."""
    if not expectations:
        raise ValueError(
            "aggregate_expectation_counters: no aggregate expectations "
            "declared"
        )
    out = None
    for exp in expectations:
        part = _agg_violation_count(df, exp, resolve).select(
            F.lit(dataset).alias("dataset"),
            "expectation",
            "kind",
            "policy",
            "n_violations",
        )
        out = part if out is None else out.unionByName(part)
    return out


def enforce_aggregate_drops(
    df: DataFrame,
    expectations: Sequence[AggregateExpectation],
    resolve: Callable[[str], DataFrame],
    dataset: str = "<dataset>",
) -> DataFrame:
    """Apply drop- and quarantine-policy referential constraints INSIDE the
    dataset's plan: rows whose non-NULL fk tuple is missing from the dim
    are removed via a left-semi join (NULL fks are exempt and kept —
    MATCH SIMPLE). Quarantined orphans additionally stay addressable via
    ``aggregate_quarantine_rows`` — the late-arriving-dimension pattern
    (park orphan facts until the dim catches up, don't lose them). The
    only aggregate policies that are plan-shaped; fail policies audit at
    materialization time instead (``audit_aggregate_expectations``).

    One scan branch per constraint: the NULL-exempt MATCH SIMPLE keep set
    is a single left-outer join against the deduped key set with a hit
    marker, filtered by ``null_fk | hit`` — NOT ``semi ∪ exempt``, which
    scans the pre-enforcement relation twice per constraint and doubles
    again for every chained constraint (2^N scans of a 100 TB fact for N
    constraints)."""
    out = df
    for exp in expectations:
        if exp.kind != "referential" or exp.policy not in ("drop", "quarantine"):
            continue
        out = _keep_match_simple(out, resolve(exp.ref), exp)
    return out


def _keep_match_simple(df: DataFrame, ref_df: DataFrame, exp) -> DataFrame:
    """Rows of ``df`` kept by one MATCH SIMPLE referential constraint: fk
    tuple present in the (deduped) dim keys, or any fk column NULL
    (exempt). One left-outer join + filter — a single pass over ``df``;
    NULL join keys never equi-match, so exempt rows flow through with a
    NULL hit marker and are kept by the ``null_fk`` disjunct."""
    null_fk = None
    for c in exp.cols:
        cond = F.col(c).isNull()
        null_fk = cond if null_fk is None else (null_fk | cond)
    # collision-proof marker (ADVICE r15): a dataset that already carries
    # a `_ref_hit` column would otherwise produce a duplicate name and an
    # ambiguous-reference AnalysisException at the filter
    marker = "_ref_hit"
    while marker in df.columns:
        marker += "_"
    hit = _ref_keys(ref_df, exp).withColumn(marker, F.lit(1))
    cols = df.columns
    return (
        df.join(hit, on=list(exp.cols), how="left")
        .filter(null_fk | F.col(marker).isNotNull())
        .select(*cols)
    )


def aggregate_quarantine_rows(
    df: DataFrame,
    expectations: Sequence[AggregateExpectation],
    resolve: Callable[[str], DataFrame],
    dataset: str = "<dataset>",
) -> DataFrame:
    """The aggregate quarantine relation: every row a quarantine-policy
    referential constraint routed OUT of the dataset (non-NULL fk tuple
    absent from the dim — a left-anti join per constraint over the same
    pre-enforcement input), tagged with the violated constraint's name in
    ``_violated``. Disjoint from the kept relation by construction (the
    anti join is the semi join's complement on non-NULL fks); the
    late-arriving-dimension workflow re-processes this relation after the
    dim update lands. Replays the same constraint chain as
    ``enforce_aggregate_drops`` so a row removed by an EARLIER drop or
    quarantine constraint is never re-quarantined by a later one. Raises
    if no quarantine-policy aggregate constraint is declared."""
    parts: list[DataFrame] = []
    cur = df
    for exp in expectations:
        if exp.kind != "referential" or exp.policy not in ("drop", "quarantine"):
            continue
        ref_df = resolve(exp.ref)
        if exp.policy == "quarantine":
            parts.append(
                _orphans(cur, ref_df, exp).withColumn("_violated", F.lit(exp.name))
            )
        cur = _keep_match_simple(cur, ref_df, exp)
    if not parts:
        raise ValueError(
            f"aggregate_quarantine_rows: dataset {dataset!r} declares no "
            "quarantine-policy aggregate expectations"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def audit_aggregate_expectations(
    df: DataFrame,
    expectations: Sequence[AggregateExpectation],
    resolve: Callable[[str], DataFrame] | None = None,
    dataset: str = "<dataset>",
) -> DataFrame:
    """The counters relation with fail-policy enforcement compiled in: a
    FAIL-policy row whose violation count is positive routes its
    ``n_violations`` through ``raise_error``, so ANY action on the
    returned relation aborts executor-side — no driver-side collect, same
    posture as the row-level ``expect_or_fail`` filter. Keep-policy counts
    flow through untouched (informational); drop-policy constraints were
    already enforced in-plan and audit clean by construction.

    ``PipelineContext.run()`` materializes this relation with a noop-format
    write BEFORE writing the dataset — the dbt-test-gates-the-model-build
    ordering — and rewraps the executor abort as
    ``AggregateExpectationError``."""
    counters = aggregate_expectation_counters(df, expectations, resolve, dataset)
    fail_violation = (F.col("policy") == "fail") & (F.col("n_violations") > 0)
    return counters.withColumn(
        "n_violations",
        F.when(
            ~fail_violation, F.col("n_violations")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("aggregate expectation "),
                    F.col("expectation"),
                    F.lit(f" ({dataset}) failed: "),
                    F.col("n_violations").cast("string"),
                    F.lit(" violations"),
                )
            )
        ),
    )
