"""Iterative graph algorithms over DataFrames: connected components by
min-label propagation.

The canonical use here: collapse near-duplicate *pairs* (MinHash/SimHash
output) into duplicate *clusters* and elect one representative per cluster —
the final step of corpus dedup. Each iteration is one shuffle
(join + min-aggregate); convergence takes O(log(diameter)) rounds and the
loop's only driver-side work is the convergence check (``isEmpty``, a
local take of one row), never data.

At 100 TB: the edge list is the (tiny) near-dup pair set, not the corpus, so
iterations run on |pairs| rows; every round is checkpointed to truncate
lineage on long chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "pagerank", "triangle_counts"]


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Returns (node, component) where component = min node id reachable.
    ``edges`` is an undirected pair list; isolated nodes don't appear.

    Each round is one join + one partial-aggregated groupBy on |pairs| rows.
    The change flag rides along in the propagation result (no separate
    old-vs-new join), so convergence detection is a filter over the round's
    already-persisted output. Labels are eagerly ``localCheckpoint``ed every
    round (the PageRank lesson, re-measured here): persist() reuses the
    DATA, but Catalyst still re-plans the whole accumulated tree each round
    and again for every downstream consumer — at sf0.1 the checkpoint
    cadence is the difference between 77 s and 2 s cold for
    ``dedup_clusters`` (1153-exchange compile-time plan → ~60). The labels
    frame is pair-list-scale, so materializing each round is cheap by
    construction."""
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # cached handle for the seed labels. unpersist()
    # must target the exact cached plan — calling it on a derived select()
    # is a silent no-op (plan mismatch), which previously leaked one cached
    # pair-scale frame per iteration across a long session.
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("label"))
        .select("u", F.least("u", "label").alias("label"))
        .persist()
    )
    cached: DataFrame | None = labels
    for _ in range(max_iterations):
        # propagate: each node takes min(own label, neighbors' labels).
        # Materialize per round — without this the lineage re-derives every
        # prior round per iteration (quadratic recompute).
        min_neighbor = (
            sym.alias("e")
            .join(labels.alias("l"), F.col("e.v") == F.col("l.u"))
            .groupBy(F.col("e.u").alias("u"))
            .agg(F.min("l.label").alias("nbr_label"))
        )
        stepped = labels.join(min_neighbor, "u", "left").select(
            "u",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("new_label"),
            F.coalesce(F.col("nbr_label") < F.col("label"), F.lit(False)).alias("chg"),
        )
        # eager checkpoint truncates lineage AND frees via GC — no manual
        # cache entry to leak (the PageRank pattern); the seed labels are
        # released once the first round has materialized from them
        stepped = stepped.localCheckpoint(eager=True)
        converged = stepped.filter("chg").isEmpty()
        if cached is not None:
            cached.unpersist()
            cached = None
        labels = stepped.select("u", F.col("new_label").alias("label"))
        if converged:
            break
    out = labels.select(F.col("u").alias("node"), F.col("label").alias("component"))
    if cached is not None:
        # no round ran (max_iterations < 1), so the result still rides the
        # cached seed — materialize before releasing it
        out = out.localCheckpoint(eager=True)
        cached.unpersist()
    return out


def triangle_counts(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Per-node triangle participation and local clustering coefficient over
    an undirected edge list — how clique-like each near-duplicate
    neighborhood is (a template family closes almost every wedge; a chain of
    borderline matches closes none, and is the thing a transitive-closure
    dedup would over-merge).

    Compact-forward wedge counting with DEGREE orientation (Latapy 2008;
    the standard skew refinement): every edge is directed from its lower to
    its higher endpoint under the total order (degree, id), so each node's
    out-degree — and therefore its wedge fan-out C(out-deg, 2) — is bounded
    by O(√|E|) amortized. Under plain id orientation a hub with degree d
    generates Θ(d²) wedges (the measured superlinear in the 30× probe:
    63 s, dominated by hot-node wedge inflation); degree orientation sends
    a hub's edges INTO it, so the hub fans out nothing. A triangle x≺y≺z
    appears exactly once, as the wedge (x→y, x→z) closed by y→z. Three
    joins, all on the |edges| pair list — never on the corpus. Degrees come
    from the symmetric view; the clustering coefficient
    ``2·T / (deg·(deg−1))`` is emitted in exact integer micro-units. The
    output contract (and the DuckDB oracle, which replays id-oriented
    wedges — orientation doesn't change triangle counts) is unchanged.
    """
    # eager checkpoint, not persist: the edge lists feed multiple plan arms
    # (two wedge sides + closing join + degrees) — persist() reuses the data
    # but replicates the upstream lineage (e.g. the whole MinHash pipeline)
    # into every arm of the compile-time plan (~150 exchanges); the pair
    # list is tiny by construction, so materializing it once is the trade
    e = (
        edges.select(F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    with_degs = (
        e.join(deg.select(F.col("node").alias("u"), F.col("degree").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("degree").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # oriented edge s→t with t's order key (dt, t) kept for wedge-side
    # canonicalization
    o = with_degs.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    ).localCheckpoint(eager=True)
    wedge_lt = (F.col("e1.dt") < F.col("e2.dt")) | (
        (F.col("e1.dt") == F.col("e2.dt")) & (F.col("e1.t") < F.col("e2.t"))
    )
    wedges = (
        o.alias("e1")
        .join(o.alias("e2"), (F.col("e1.s") == F.col("e2.s")) & wedge_lt)
        .select(F.col("e1.s").alias("a"), F.col("e1.t").alias("b"), F.col("e2.t").alias("c"))
    )
    # b≺c under (degree, id), so the closing edge is oriented exactly b→c
    tri = wedges.join(
        o.alias("e3"), (F.col("b") == F.col("e3.s")) & (F.col("c") == F.col("e3.t"))
    ).select("a", "b", "c")
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "(2 * coalesce(n_triangles, 0) * 1000000) div (degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("clustering_coeff_micros"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    iterations: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """Integer-exact PageRank over an undirected edge list — ranks the hub
    documents of a near-duplicate graph (high rank = template/boilerplate
    family center worth manual review).

    All arithmetic is bigint micro-units: ranks start at 1 000 000, each
    round a node receives ``Σ pr(v) div deg(v)`` from its neighbors and
    updates to ``(100−d)·10⁴ + (d·Σ) div 100`` — no floats anywhere, so the
    fixed-iteration run is bit-reproducible in any engine and an unrolled
    SQL CTE can replay it.

    Scale: every round is one join + one partial-aggregated groupBy on the
    |edges| pair list (the near-dup graph is tiny next to the corpus); the
    degree table is computed once. Fixed iteration count — convergence on a
    bounded-diameter dedup graph is fast and a deterministic iteration count
    keeps the oracle exact.
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        sym.groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .localCheckpoint(eager=True)
    )
    pr = deg.select(F.col("v").alias("node"), F.lit(1000000).cast("bigint").alias("pr"))
    base = (100 - damping_pct) * 10000
    for _ in range(iterations):
        inbound = (
            sym.join(pr, sym.v == pr.node)
            .join(deg, "v")
            .select("u", F.expr("pr div deg").alias("c"))
            .groupBy("u")
            .agg(F.sum("c").alias("s"))
        )
        # eager per-round checkpoint: persist() alone leaves the logical plan
        # growing one join+agg layer per iteration, and Catalyst re-plans the
        # whole tree every round — measured 8.8 s → 1.5 s at sf0.1 for the
        # 5-round run on the (tiny) near-dup edge list. The edge list is
        # pair-scale, so materializing each round is cheap by construction.
        pr = inbound.select(
            F.col("u").alias("node"),
            (F.lit(base) + F.expr(f"({damping_pct} * s) div 100")).cast("bigint").alias("pr"),
        ).localCheckpoint(eager=True)
    return pr.join(deg, pr.node == deg.v).select(
        "node", F.col("pr").alias("pagerank_micros"), F.col("deg").alias("degree")
    )
