"""K-means clustering over embedding columns — the semantic-dedup /
corpus-curation building block (SemDeDup-style: cluster embeddings, then
keep one representative per cluster or drop intra-cluster near-duplicates).

All arithmetic is exact-integer so runs are bit-reproducible and the DuckDB
oracle can replay them: coordinates quantize once to 1e-6 micro-units
(bigint), distances are integer sums of squares, centroid updates are
``floor(sum / count)`` with the sum below 2^53 so the double division is
exact. Ties in the argmin break on the smaller centroid id.

Scale posture (100 TB): centroids are k×dim rows — always broadcast; each
iteration is one broadcast-join map pass over the vectors plus one
(cluster, dim)-keyed partial aggregate (map-side combine), so per-iteration
shuffle volume is O(n·dim) small ints, independent of k. No driver-side
materialization; the loop is a fixed, small iteration count (Lloyd steps),
not a convergence poll.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "quantize_vectors",
    "kmeans_assign",
    "kmeans_representatives",
    "semantic_prune_pairs",
    "mmr_diverse_topk",
]


def quantize_vectors(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, v: array<bigint>) — coordinates in exact 1e-6 micro-units."""
    micros = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * 1000000 + F.lit(0.5)).cast("bigint"),
    )
    return embeddings.select(F.col(id_col).alias("vec_id"), micros.alias("v"))


def _assign(eu: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest centroid per vector: broadcast the k×dim centroid table, one
    map pass computes all k exact integer distances, one partial-aggregated
    groupBy takes the (dist, cid)-lexicographic min."""
    dist = F.aggregate(
        F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    d = eu.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "cid", dist.alias("dist_u")
    )
    m = d.groupBy("vec_id").agg(F.min(F.struct("dist_u", "cid")).alias("m"))
    return m.select(
        "vec_id",
        F.col("m.cid").alias("cluster"),
        F.col("m.dist_u").alias("dist_u"),
    )


def _recompute(assigned: DataFrame, eu: DataFrame) -> DataFrame:
    """New centroid = per-dimension floor-mean of member coordinates.
    (cluster, pos)-keyed aggregate over exploded coordinates — map-side
    combine keeps the shuffle at k·dim rows per partition. Empty clusters
    simply vanish (no members → no rows), as in classic Lloyd."""
    j = assigned.join(eu, "vec_id").select(
        "cluster", F.posexplode("v").alias("pos", "val")
    )
    agg = j.groupBy("cluster", "pos").agg(
        F.sum("val").alias("s"), F.count(F.lit(1)).alias("n")
    )
    # sums stay < 2^53, so the double division is exact before floor
    coord = F.floor(F.col("s").cast("double") / F.col("n")).cast("bigint")
    packed = (
        agg.select("cluster", F.struct("pos", coord.alias("val")).alias("pv"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list("pv")).alias("pvs"))
    )
    return packed.select(
        F.col("cluster").alias("cid"),
        F.transform("pvs", lambda s: s["val"]).alias("c"),
    )


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-iteration Lloyd k-means; returns the final per-vector assignment
    (vec_id, cluster, dist_u). Init: the k vectors with vec_id < k (a
    deterministic seed — swap for k-means|| sampling in prod)."""
    eu = quantize_vectors(embeddings, id_col, vec_col)
    centroids = eu.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("bigint").alias("cid"), F.col("v").alias("c")
    )
    for _ in range(iters):
        assigned = _assign(eu, centroids)
        centroids = _recompute(assigned, eu)
    return _assign(eu, centroids)


def kmeans_representatives(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup: one representative per cluster — the member closest
    to its centroid (vec_id tiebreak) — plus cluster size and total inertia.
    One extra partial-aggregated groupBy over the assignment."""
    a = kmeans_assign(embeddings, k, iters, id_col, vec_col)
    m = a.groupBy("cluster").agg(
        F.min(F.struct("dist_u", "vec_id")).alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("dist_u").cast("bigint").alias("inertia_u"),
    )
    return m.select(
        "cluster",
        F.col("m.vec_id").alias("representative_id"),
        "n_members",
        "inertia_u",
    )


def semantic_prune_pairs(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup pruning: cosine-similar pairs WITHIN a k-means cluster.
    Clustering bounds the pairwise work — all-pairs runs only inside a
    cluster, never across the corpus (at 100 TB, k scales with corpus size so
    cluster populations stay bounded; the cluster-keyed self-join is the only
    shuffle). Scores are micro-unit-quantized doubles (IEEE-deterministic).
    Returns (cluster, vec_a, vec_b, score) above ``threshold``."""
    from .similarity import dot_product, quantize

    assign = kmeans_assign(embeddings, k, iters, id_col, vec_col)
    # per-vector norm computed ONCE here (n rows), not per pair (n² sqrt+dot
    # evaluations); same IEEE expression order as cosine_similarity, so
    # scores are bit-identical to the naive form and the oracle
    e = (
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
        .join(assign.select("vec_id", "cluster"), "vec_id")
        .withColumn("norm", F.sqrt(dot_product("embedding", "embedding")))
        # materialize once (persist, RELEASED in the finally below): both
        # self-join sides would otherwise recompute the full k-means DAG
        # (no exchange reuse across aliased subtrees). The production
        # analog is writing the assignment table before the pruning pass —
        # SemDeDup's own structure. A checkpoint here leaked the
        # embedding-scale frame across calls (see SCALE.md round-10
        # cache-release note).
        .persist()
    )
    a, b = e.alias("a"), e.alias("b")
    score = quantize(
        dot_product("a.embedding", "b.embedding") / (F.col("a.norm") * F.col("b.norm"))
    )
    out = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.cluster").alias("cluster"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            score.alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )
    try:
        # pair-list-sized; eager so the assignment cache releases on return
        return out.localCheckpoint(eager=True)
    finally:
        e.unpersist()


def mmr_diverse_topk(
    embeddings: DataFrame,
    k: int = 3,
    lam_num: int = 7,
    lam_den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    per group, greedily pick k vectors maximizing
    ``λ·relevance − (1−λ)·max-similarity-to-already-selected`` — the
    diversity-aware sampling pass that keeps a curated subset from
    collapsing onto near-duplicate cluster cores (relevance here: cosine
    to the group centroid).

    Exactness: coordinates quantize once to micro-units, so every dot
    product is an exact integer (≤ dim·10¹² < 2^53 — exact even through a
    double, any summation order); cosines take one sqrt+divide on those
    exact integers then quantize to micros; the MMR score stays UNDIVIDED
    in deci-micro units (``lam_num·rel − (lam_den−lam_num)·maxsim``), so
    no integer-division-of-negatives semantics can diverge between
    engines. Argmax ties break on the smaller vector id. Fixed k steps,
    each selecting one vector per group.

    Scale: centroids are one (group, dim)-keyed partial aggregate; each
    greedy step is one broadcast join of the ≤(step−1)-per-group selected
    set against the remaining candidates plus a per-group argmax
    aggregate — never an intra-group all-pairs join. The selected set is
    eager-checkpointed per step (the iterative-loop idiom).

    Returns (group_id, step, vec_id, rel_micros, maxsim_micros,
    score_deci_micros); step 1 has maxsim 0 by definition.
    """
    eu = quantize_vectors(embeddings, id_col, vec_col)
    grp = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(group_col).alias("group_id")
    )
    base = eu.join(grp, "vec_id")
    cj = base.select("group_id", F.posexplode("v").alias("pos", "val"))
    cagg = cj.groupBy("group_id", "pos").agg(
        F.sum("val").alias("s"), F.count(F.lit(1)).alias("n")
    )
    coord = F.floor(F.col("s").cast("double") / F.col("n")).cast("bigint")
    cent = (
        cagg.select("group_id", F.struct("pos", coord.alias("val")).alias("pv"))
        .groupBy("group_id")
        .agg(F.array_sort(F.collect_list("pv")).alias("pvs"))
        .select("group_id", F.transform("pvs", lambda s: s["val"]).alias("c"))
    )

    def idot(a: str, b: str):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    def cos_u(a: str, b: str):
        return F.floor(
            idot(a, b).cast("double")
            / (F.sqrt(idot(a, a).cast("double")) * F.sqrt(idot(b, b).cast("double")))
            * 1000000
            + F.lit(0.5)
        ).cast("bigint")

    scored = (
        base.join(F.broadcast(cent), "group_id")
        .select("group_id", "vec_id", "v", cos_u("v", "c").alias("rel_u"))
        # persist (released below): the greedy loop re-reads this
        # embedding-scale frame every step; a checkpoint leaked it
        .persist()
    )
    sel = None
    out = []
    for step in range(1, k + 1):
        if sel is None:
            cand = scored.withColumn("maxsim_u", F.lit(0).cast("bigint"))
        else:
            remaining = scored.join(
                sel.select("group_id", F.col("vec_id").alias("s_id")),
                (F.col("vec_id") == F.col("s_id")),
                "left_anti",
            )
            s_vecs = sel.select(
                F.col("group_id").alias("sg"), F.col("v").alias("sv")
            )
            cand = (
                remaining.join(
                    F.broadcast(s_vecs), F.col("group_id") == F.col("sg")
                )
                .select(
                    "group_id", "vec_id", "v", "rel_u", cos_u("v", "sv").alias("sim_u")
                )
                .groupBy("group_id", "vec_id", "v", "rel_u")
                .agg(F.max("sim_u").alias("maxsim_u"))
            )
        score = (
            F.lit(lam_num) * F.col("rel_u")
            - F.lit(lam_den - lam_num) * F.col("maxsim_u")
        ).alias("score_du")
        picked = (
            cand.select("group_id", "vec_id", "v", "rel_u", "maxsim_u", score)
            .groupBy("group_id")
            .agg(F.min(F.struct((-F.col("score_du")).alias("ns"), "vec_id")).alias("m"))
            .select("group_id", F.col("m.vec_id").alias("vec_id"))
        )
        sel_step = (
            cand.join(picked, ["group_id", "vec_id"])
            .select(
                "group_id",
                F.lit(step).cast("int").alias("step"),
                "vec_id",
                "v",
                "rel_u",
                "maxsim_u",
                score,
            )
            .localCheckpoint(eager=True)
        )
        out.append(sel_step)
        sel = sel_step if sel is None else sel.unionByName(sel_step)
    try:
        res = out[0]
        for o in out[1:]:
            res = res.unionByName(o)
        return res.select(
            "group_id",
            "step",
            "vec_id",
            F.col("rel_u").alias("rel_micros"),
            F.col("maxsim_u").alias("maxsim_micros"),
            F.col("score_du").alias("score_deci_micros"),
        )
    finally:
        scored.unpersist()
