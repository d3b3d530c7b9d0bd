"""Distributed spectral decomposition: matrix-free power iteration over the
embedding covariance.

The top principal direction of a 10⁹-vector embedding table is curation
raw material (dominant-variance axis for whitening, anisotropy audits,
"rogue dimension" detection — Timkey & van Schijndel 2021; all-but-the-top
post-processing — Mu & Viswanath 2018). The naive route materializes the
d×d Gram matrix (one shuffle of d² cells per partition) — fine for d=64,
dead for d=4096. The matrix-free route never forms G at all:

    G·v = Σ_rows (x − m) · ((x − m)ᵀ v)

so ONE corpus scan per iteration reduces map-side to a d-number vector.
The per-dimension sums have two regimes, selected by ``unroll_limit``:

* d ≤ unroll_limit (default 128): d unrolled aggregate expressions —
  ZERO extra rows materialize (the 30× probe measured the posexplode
  route paying a d× row-explosion data term: 31.6 s vs ~10 s at d=64),
  at the price of a d-wide codegen unit that is fine at 128 and dead at
  4096.
* d > unroll_limit: posexplode by a ``dim`` KEY (one map-side-combined
  shuffle of d rows per iteration) — plan size O(1) in d, the
  dimension-scalable regime (plan-shape-tested at d=512).

Both regimes produce bit-identical results (same per-row quantization,
same sums). Every d-wide VALUE lives in one array column manipulated by
higher-order functions (transform/zip_with/aggregate — runtime loops,
not generated code) in either regime. Normalization is by the L∞
norm (max |component|), which keeps power iteration convergent while
staying in exact integer arithmetic (an L2 norm would need a float sqrt —
libm-dependent in its last ulp); the Rayleigh quotient at the end is one
exact rational.

Cross-engine exactness: embeddings quantize to integer micros through
float32 (the repo-wide discipline); per-row projections and per-row
per-dim contributions are quantized to micros BEFORE their sums; the
renormalization widens to DECIMAL(38,0) (HUGEINT in the oracle) so
``g_i · 10⁶`` cannot wrap bigint; truncating ``div`` matches DuckDB ``//``
on negatives (verified repo-wide).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["embedding_pca_power"]


def embedding_pca_power(
    embeddings: DataFrame,
    iterations: int = 6,
    dim: int = 64,
    vec_col: str = "embedding",
    unroll_limit: int = 128,
) -> DataFrame:
    """Top principal component of the (centered) embedding set by
    ``iterations`` matrix-free power-iteration steps.

    Per iteration (one corpus scan each):
      s_r  = (Σ_i (x_ri − m_i)·v_i) div 10⁶            (row projection)
      g_i  = Σ_r ((x_ri − m_i)·s_r) div 10⁶            (keyed by dim i)
      v'_i = (g_i · 10⁶) div max_j |g_j|               (L∞ renormalize)

    After the final renormalized v, one more scan computes w = G·v and the
    Rayleigh quotient λ = (vᵀw · 10⁶) div (vᵀv) — the dominant eigenvalue
    in raw covariance-sum micros (not divided by n; divide by the corpus
    count for per-vector variance).

    Returns (dim, eigvec_micros, gv_micros, eigenvalue_micros) — ``dim``
    0-based, one row per dimension, eigenvalue repeated on every row.

    Scale: iteration state is d bigints in a 1-row broadcast frame; the
    corpus is scanned T+2 times (means, T power steps, Rayleigh), each
    scan reducing map-side to ≤ d numbers — as d unrolled aggregate
    buffers up to ``unroll_limit`` (no row explosion), as a
    posexplode-by-dim keyed aggregate above it (no d-wide codegen).
    Nothing touches the driver, no shuffle wider than d rows/columns,
    d×d never materializes, and d=4096 runs the O(1)-plan regime.
    """
    xm = F.expr(
        f"transform({vec_col}, e -> cast(floor(cast(e as double) * 1000000 + 0.5) as bigint))"
    )
    # persist (released in the finally below), NOT localCheckpoint: the
    # quantized corpus frame is token-scale, and checkpoint blocks
    # outliving the call accumulate across invocations until GC pressure
    # taxes every LATER query in the session (measured 2-3x inflation on
    # unrelated 30x probe rows before the release discipline)
    base = embeddings.select(xm.alias("xm")).persist()

    def as_array(keyed: DataFrame, val: str, out: str) -> DataFrame:
        """d keyed rows (i, val) → 1-row frame with the d-element array
        in index order (collect_list is unordered; the struct sort pins
        it)."""
        return (
            keyed.agg(
                F.array_sort(F.collect_list(F.struct("i", val))).alias("ks")
            ).select(F.expr(f"transform(ks, t -> t.{val})").alias(out))
        )

    unrolled = dim <= unroll_limit
    if unrolled:
        means = (
            base.agg(
                *[
                    F.expr(f"sum(element_at(xm, {i + 1})) div count(1)").alias(
                        f"m{i}"
                    )
                    for i in range(dim)
                ]
            )
            .select(F.array(*[f"m{i}" for i in range(dim)]).alias("m"))
            .localCheckpoint(eager=True)
        )
    else:
        means = as_array(
            base.select(F.posexplode("xm").alias("i", "x"))
            .groupBy("i")
            .agg(F.expr("sum(x) div count(1)").alias("m")),
            "m",
            "m",
        ).localCheckpoint(eager=True)

    # deterministic seed, symmetry-broken so a symmetric dataset cannot
    # start orthogonal to every data direction by construction
    state = means.select(
        "m",
        F.expr(
            f"transform(sequence(0, {dim - 1}),"
            " i -> cast(1000000 - 1000 * i as bigint))"
        ).alias("v"),
    )

    def one_pass(st: DataFrame) -> DataFrame:
        """One corpus scan → 1-row frame (garr) = G·v in micros: per-row
        projection s, posexplode of the centered vector by dimension key,
        d-row keyed aggregate (map-side combined), array re-assembly."""
        st = st.withColumn(
            "mv",
            F.expr(
                "aggregate(zip_with(m, v, (a, b) -> a * b), cast(0 as bigint),"
                " (acc, x) -> acc + x)"
            ),
        )
        scored = base.crossJoin(F.broadcast(st)).withColumn(
            "s",
            F.expr(
                "(aggregate(zip_with(xm, v, (a, b) -> a * b), cast(0 as bigint),"
                " (acc, x) -> acc + x) - mv) div cast(1000000 as bigint)"
            ),
        )
        if unrolled:
            return scored.agg(
                *[
                    F.sum(
                        F.expr(
                            f"((element_at(xm, {i + 1}) - element_at(m, {i + 1}))"
                            " * s) div cast(1000000 as bigint)"
                        )
                    ).alias(f"g{i}")
                    for i in range(dim)
                ]
            ).select(F.array(*[f"g{i}" for i in range(dim)]).alias("garr"))
        contrib = scored.select(
            F.posexplode(F.expr("zip_with(xm, m, (x, mm) -> x - mm)")).alias(
                "i", "xc"
            ),
            "s",
        )
        g = contrib.groupBy("i").agg(
            F.sum(F.expr("(xc * s) div cast(1000000 as bigint)")).alias("g")
        )
        return as_array(g, "g", "garr")

    for _ in range(iterations):
        g = one_pass(state).withColumn(
            "mx", F.expr("array_max(transform(garr, x -> abs(x)))")
        )
        state = (
            means.crossJoin(F.broadcast(g))
            .select(
                "m",
                F.expr(
                    "transform(garr, x -> cast((cast(x as decimal(38,0))"
                    " * 1000000) div greatest(mx, cast(1 as bigint)) as bigint))"
                ).alias("v"),
            )
            .localCheckpoint(eager=True)
        )

    w = one_pass(state)  # w = G·v for the FINAL v
    final = (
        state.crossJoin(F.broadcast(w))
        .withColumn(
            "vv",
            F.expr(
                "aggregate(zip_with(v, v, (a, b) -> a * b), cast(0 as bigint),"
                " (acc, x) -> acc + x)"
            ),
        )
        .withColumn(
            "vw",
            F.expr(
                "aggregate(zip_with(v, garr,"
                " (a, b) -> cast(a as decimal(38,0)) * b),"
                " cast(0 as decimal(38,0)),"
                " (acc, x) -> cast(acc + x as decimal(38,0)))"
            ),
        )
        .withColumn(
            "eigenvalue_micros",
            F.expr(
                "cast((vw * 1000000) div greatest(vv, cast(1 as bigint)) as bigint)"
            ),
        )
    )
    out = final.select(
        F.posexplode(F.arrays_zip("v", "garr")).alias("dim", "z"),
        "eigenvalue_micros",
    ).select(
        F.col("dim").cast("int").alias("dim"),
        F.col("z.v").alias("eigvec_micros"),
        F.col("z.garr").alias("gv_micros"),
        "eigenvalue_micros",
    )
    try:
        # d-row output; eager so the corpus cache is released on return
        return out.localCheckpoint(eager=True)
    finally:
        base.unpersist()
