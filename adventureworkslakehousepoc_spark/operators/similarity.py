"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exactness baseline; the sign-LSH bucketed
variant is the scale path (IVF-style candidate pruning: only the query's
bucket is scanned). A vectorized Pandas-UDF scorer demonstrates the
Arrow-batched path for when the scoring math outgrows SQL expressions.

Float discipline: dot products are computed as a *left fold in index order
with a double accumulator* (``aggregate(zip_with(...))``) — bit-identical to
DuckDB's ``list_dot_product`` over ``DOUBLE[]`` (verified empirically), so
cosine scores hash-match the oracle exactly. Scores exposed to ranking are
quantized at 1e-6 via IEEE-deterministic ``floor(x·1e6 + 0.5)`` so top-k cut
lines are stable across engines.

Scale posture (10⁹+ vectors): every top-k goes through ``ranked_topk`` —
``orderBy().limit(k)``, which Spark plans as ``TakeOrderedAndProject``
(per-partition local top-k, then a merge over only k·partitions rows). No
full-data single-partition Exchange anywhere; the rank window runs over ≤ k
rows. Bucketed LSH prunes the scan to |corpus|/2^bits per query; both avoid
driver collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "dim_ablation_recall",
    "dot_product",
    "rrf_rank",
    "hybrid_rrf_retrieval",
    "cosine_similarity",
    "quantize",
    "ranked_topk",
    "grouped_topk",
    "cosine_topk",
    "sign_lsh_bucket",
    "cosine_topk_bucketed",
    "ivf_assign_cells",
    "ivf_incremental_update",
    "cosine_topk_ivf",
    "knn_join",
    "squared_l2",
    "pq_codebook",
    "pq_encode",
    "pq_topk",
    "cosine_scores_pandas_udf",
    "int8_quantize",
]


def dot_product(a: str, b: str) -> Column:
    """Order-stable double-accumulator dot product of two array columns."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )



def cosine_similarity(a: str, b: str) -> Column:
    return dot_product(a, b) / (F.sqrt(dot_product(a, a)) * F.sqrt(dot_product(b, b)))


def quantize(col: Column, digits: int = 6) -> Column:
    """IEEE-deterministic quantization: floor(x·10^d + 0.5) / 10^d."""
    s = float(10**digits)
    return F.floor(col * F.lit(s) + F.lit(0.5)).cast("double") / F.lit(s)


def _query_vector(embeddings: DataFrame, query_id: int) -> DataFrame:
    return embeddings.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q_embedding")
    )


def ranked_topk(scored: DataFrame, k: int, rank_name: str = "rank") -> DataFrame:
    """Distributed top-k with a dense 1..k rank column.

    ``orderBy().limit(k)`` plans as ``TakeOrderedAndProject`` — each partition
    keeps its local top-k and only k·partitions candidate rows merge — instead
    of the single-partition Exchange a global ``row_number`` window would
    force (at 10⁹ vectors that window is one task sorting the whole corpus).
    The rank window then runs over exactly k rows. Ordering is total
    (quantized score DESC, vec_id ASC), so the two-phase cut is identical to
    the global sort."""
    order = [F.desc("score"), F.asc("vec_id")]
    top = scored.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return top.withColumn(rank_name, F.row_number().over(w))


def grouped_topk(scored: DataFrame, group_cols: list, k: int, order: list, rank_name: str = "rank") -> DataFrame:
    """Per-group top-k without per-group skew: a pre-pass ranks within
    (group, spark_partition_id) so each group contributes ≤ k rows per input
    partition, then the real per-group window ranks ≤ k·partitions survivors.
    With few hot groups (a kNN join of 8 query vectors against 10⁹ rows), the
    naive ``Window.partitionBy(group)`` funnels the whole corpus into 8
    tasks; the pre-pass keeps the first shuffle's reduce work bounded.
    ``order`` must be a total order for the two-phase cut to equal the
    single-window result."""
    pre = Window.partitionBy(*group_cols, F.spark_partition_id()).orderBy(*order)
    local = (
        scored.withColumn("_lrn", F.row_number().over(pre))
        .filter(F.col("_lrn") <= k)
        .drop("_lrn")
    )
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        local.withColumn(rank_name, F.row_number().over(w))
        .filter(F.col(rank_name) <= k)
    )


def cosine_topk(embeddings: DataFrame, query_id: int = 0, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k against the embedding of ``query_id``.
    Deterministic ordering: (quantized score DESC, vec_id). The query vector is
    a 1-row broadcast; the scan is embarrassingly parallel."""
    q = _query_vector(embeddings, query_id)
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            quantize(cosine_similarity("embedding", "q_embedding")).alias("score"),
        )
    )
    return ranked_topk(scored, k).select("vec_id", "label", "score", "rank")


def sign_lsh_bucket(col: str, bits: int = 8) -> Column:
    """IVF-style coarse quantizer: bucket = Σ 2^i · [embedding[i] > 0] over the
    first ``bits`` dimensions (1-based element_at, matching SQL list index)."""
    bucket: Column = F.lit(0)
    for i in range(bits):
        bucket = bucket + F.when(F.element_at(F.col(col), i + 1) > 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
    return bucket.cast("int")


def cosine_topk_bucketed(
    embeddings: DataFrame, query_id: int = 0, k: int = 10, bits: int = 8
) -> DataFrame:
    """Bucketed ANN: score only vectors in the query's sign-LSH bucket
    (candidate set ≈ corpus/2^bits; recall < 1 by design — the scale path).
    Same deterministic ordering as ``cosine_topk``."""
    with_bucket = embeddings.withColumn("bucket", sign_lsh_bucket("embedding", bits))
    q = with_bucket.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q_embedding"), F.col("bucket").alias("q_bucket")
    )
    scored = (
        with_bucket.join(F.broadcast(q), F.col("bucket") == F.col("q_bucket"))
        .select(
            "vec_id",
            "label",
            "bucket",
            quantize(cosine_similarity("embedding", "q_embedding")).alias("score"),
        )
    )
    return ranked_topk(scored, k).select("vec_id", "label", "bucket", "score", "rank")


def _centroids(embeddings: DataFrame, n_centroids: int) -> DataFrame:
    """Deterministic coarse quantizer: the embeddings of the first
    ``n_centroids`` vec_ids are the cell centroids. A Lloyd refinement would
    average doubles (order-dependent floats → oracle drift), so the seeds ARE
    the codebook — the partitioning quality is data-dependent but the
    *mechanics* (cell build, multi-probe search) are exactly IVF."""
    return embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_embedding")
    )


def ivf_assign_cells(embeddings: DataFrame, n_centroids: int = 16) -> DataFrame:
    """IVF index build: every vector joins the (broadcast) codebook and keeps
    its nearest centroid — argmax of quantized cosine, centroid id as the tie
    break, via ``max_by`` on the totally-ordered (c_score, −cent_id) struct:
    partial aggregation collapses each partition's K candidate rows per
    vector to 1 BEFORE the exchange, so the one shuffle moves |vectors|
    rows, not |vectors|·K (the former per-vec_id rank window sorted the
    full fan-out through the shuffle). At 10⁹ vectors this is the
    materialize-once index-build job, the search never rescans it."""
    scored = (
        embeddings.crossJoin(F.broadcast(_centroids(embeddings, n_centroids)))
        .select(
            "vec_id",
            "label",
            "embedding",
            "cent_id",
            quantize(cosine_similarity("embedding", "c_embedding")).alias("c_score"),
        )
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.expr(
                "max_by(struct(label, embedding, cent_id),"
                " struct(c_score, -cent_id))"
            ).alias("b")
        )
        .select(
            "vec_id",
            F.col("b.label").alias("label"),
            F.col("b.embedding").alias("embedding"),
            F.col("b.cent_id").cast("int").alias("cell"),
        )
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF ANN search: rank the query against the codebook, scan only the
    ``nprobe`` nearest cells, exact cosine top-k within the candidates
    (recall < 1 by design — the scale path; candidate set ≈ corpus·nprobe/K).
    Deterministic ordering: (quantized score DESC, vec_id)."""
    cells = ivf_assign_cells(embeddings, n_centroids)
    q = _query_vector(embeddings, query_id)
    probe = (
        _centroids(embeddings, n_centroids)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("cent_id").cast("int").alias("p_cell"),
            quantize(cosine_similarity("c_embedding", "q_embedding")).alias("p_score"),
        )
        .orderBy(F.desc("p_score"), F.asc("p_cell"))
        .limit(nprobe)
        .select("p_cell")
    )
    scored = (
        cells.join(F.broadcast(probe), F.col("cell") == F.col("p_cell"))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "cell",
            quantize(cosine_similarity("embedding", "q_embedding")).alias("score"),
        )
    )
    return ranked_topk(scored, k).select("vec_id", "label", "cell", "score", "rank")


def ivf_assign_to_codebook(df: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest-centroid assignment of ``df`` against a broadcast
    (cent_id, c_embedding) codebook — ``max_by`` over the totally-ordered
    (c_score, −cent_id) struct, so map-side partials collapse the K-wide
    fan-out per vector before the one shuffle. Shared by the batch
    incremental update and the streaming maintenance path (which assigns
    each micro-batch against the same frozen codebook)."""
    scored = df.crossJoin(F.broadcast(codebook)).select(
        "vec_id",
        "embedding",
        "cent_id",
        quantize(cosine_similarity("embedding", "c_embedding")).alias("c_score"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.expr(
                "max_by(struct(embedding, cent_id), struct(c_score, -cent_id))"
            ).alias("b")
        )
        .select(
            "vec_id",
            F.col("b.embedding").alias("embedding"),
            F.col("b.cent_id").cast("int").alias("cell"),
        )
    )


def ivf_cell_sketch(cells: DataFrame, s: str, n: str) -> tuple[DataFrame, DataFrame]:
    """(cell, dim)-keyed integer-micro sums + per-cell counts over an
    assigned frame — the MERGEABLE centroid sketch (merge = plain SUM on
    both tables: associative/commutative, NOT idempotent — each vector
    must contribute exactly once, so streaming maintenance stages each
    file once, unlike the max/or-merged HLL/Bloom rows)."""
    cd = (
        cells.select(
            "cell",
            F.posexplode(
                F.expr(
                    "transform(embedding, e -> cast(floor(cast(e as double)"
                    " * 1000000 + 0.5) as bigint))"
                )
            ).alias("dim", "x"),
        )
        .groupBy("cell", "dim")
        .agg(F.sum("x").alias(s))
    )
    cnt = cells.groupBy("cell").agg(F.count(F.lit(1)).cast("bigint").alias(n))
    return cd, cnt


def ivf_base_codebook(
    embeddings: DataFrame, n_centroids: int = 16, append_mod: int = 5
) -> DataFrame:
    """The frozen codebook of the incremental-update contract: the
    ``n_centroids`` smallest base-snapshot vec_ids."""
    return (
        embeddings.filter(F.col("vec_id") % append_mod != 0)
        .orderBy("vec_id")
        .limit(n_centroids)
        .select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_embedding")
        )
    )


def ivf_incremental_update(
    embeddings: DataFrame,
    n_centroids: int = 16,
    append_mod: int = 5,
    drift_threshold_micros: int = 20000,
    app_sketch: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Incremental IVF index maintenance on append — the streaming twin of
    ``ivf_assign_cells``: the corpus splits deterministically into a BASE
    snapshot (``vec_id % append_mod != 0``) whose index is built and
    materialized once, and an APPEND batch (the rest) that is assigned
    against the SAME frozen codebook — only |append| vectors are scored;
    the base index is never rescanned (the property that makes nightly
    10⁹-vector index refreshes affordable).

    Alongside the assignment, the operator maintains the per-cell
    centroid DRIFT audit that decides when the frozen codebook has gone
    stale: per (cell, dim), the base mean and the post-append mean are
    exact integer-micro rationals built from MERGEABLE (sum, count)
    sketches — the append batch contributes its own (cell, dim) sums and
    the updated mean is (sum_base + sum_append) / (n_base + n_append),
    so the base side is reused as a sketch, not rescanned. The L∞
    mean-shift per cell against ``drift_threshold_micros`` flags cells
    for re-training (the IVF analog of an LSM compaction trigger).

    Returns one row per cell: (cell, n_base, n_append, n_total,
    append_share_micros, linf_centroid_shift_micros, needs_retrain).

    Scale: codebook broadcasts; assignment is |append|·K scored rows with
    a map-side-combined argmax; the drift sums are (cell, dim)-keyed
    aggregates (map-side combined, ≤ K·d rows after partials). Nothing
    quadratic, nothing driver-side.

    ``app_sketch`` (optional): pre-merged (app_cd(cell, dim, sa),
    app_n(cell, na)) tables — e.g. the streaming-maintenance store — used
    instead of assigning the append split here; the SUM merge contract
    makes the two bit-identical when every append vector contributed
    exactly once.
    """
    base = embeddings.filter(F.col("vec_id") % append_mod != 0)
    codebook = ivf_base_codebook(embeddings, n_centroids, append_mod)

    # the base index materializes ONCE (persist, released in the finally
    # below — an eager checkpoint here leaked the embedding-bearing index
    # frame across calls); the append assignment never re-reads it
    cells_base = ivf_assign_to_codebook(base, codebook).persist()

    base_cd, base_n = ivf_cell_sketch(cells_base, "sb", "nb")
    if app_sketch is not None:
        app_cd, app_n = app_sketch
    else:
        appended = embeddings.filter(F.col("vec_id") % append_mod == 0)
        app_cd, app_n = ivf_cell_sketch(
            ivf_assign_to_codebook(appended, codebook), "sa", "na"
        )

    # every frame here is sketch-sized (≤ K·d rows) — broadcast the
    # lookup sides so the drift readout never sort-merge-shuffles
    shift = (
        base_cd.join(F.broadcast(app_cd), ["cell", "dim"], "left")
        .join(F.broadcast(base_n), "cell")
        .join(F.broadcast(app_n), "cell", "left")
        .select(
            "cell",
            "nb",
            F.coalesce("na", F.lit(0)).alias("na"),
            F.expr(
                "abs(sb div nb - (sb + coalesce(sa, 0)) div (nb + coalesce(na, 0)))"
            ).alias("d_shift"),
        )
        .groupBy("cell", "nb", "na")
        .agg(F.max("d_shift").cast("bigint").alias("linf_centroid_shift_micros"))
    )
    out = shift.select(
        "cell",
        F.col("nb").alias("n_base"),
        F.col("na").alias("n_append"),
        (F.col("nb") + F.col("na")).alias("n_total"),
        F.expr("na * 1000000 div (nb + na)").cast("bigint").alias(
            "append_share_micros"
        ),
        "linf_centroid_shift_micros",
        F.expr(
            f"cast(linf_centroid_shift_micros > {drift_threshold_micros} as int)"
        ).alias("needs_retrain"),
    )
    try:
        # K-row output; eager so the base-index cache is released on return
        return out.localCheckpoint(eager=True)
    finally:
        cells_base.unpersist()


def knn_join(embeddings: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """Batch kNN join: every query vector (vec_id < ``n_queries``) gets its
    exact cosine top-k over the corpus (self excluded) in ONE pass — the
    all-queries form of ``cosine_topk`` used to build retrieval eval sets.
    The query side broadcasts; ranking goes through ``grouped_topk`` so the
    per-query windows never funnel the scored corpus into n_queries tasks.
    Deterministic ordering: (quantized score DESC, vec_id)."""
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "label",
            quantize(cosine_similarity("embedding", "q_embedding")).alias("score"),
        )
    )
    order = [F.desc("score"), F.asc("vec_id")]
    return grouped_topk(scored, ["q_id"], k, order).select(
        "q_id", "vec_id", "label", "score", "rank"
    )


def squared_l2(a: str, b: str) -> Column:
    """Quantization-stable squared L2: ⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩, each inner
    product the same order-stable double fold as ``dot_product`` — the
    combination is three IEEE ops, identical in DuckDB."""
    return dot_product(a, a) - F.lit(2.0) * dot_product(a, b) + dot_product(b, b)


def _subdim(embeddings: DataFrame, m: int, dim: int | None) -> int:
    """Subspace width; one driver probe of a single row unless passed in."""
    if dim is None:
        dim = embeddings.select(F.size("embedding").alias("d")).take(1)[0][0]
    return dim // m


def pq_codebook(
    embeddings: DataFrame, m: int = 8, n_centroids: int = 16, dim: int | None = None
) -> DataFrame:
    """Product-quantization codebook: the embedding splits into ``m``
    contiguous subspaces; per subspace the subvectors of the first
    ``n_centroids`` vec_ids are the centroids (the same deterministic seeding
    as IVF — Lloyd refinement would average floats order-dependently and
    break the oracle). Returns (sub, cent_id, c_vec): m·n_centroids rows —
    broadcastable at any corpus size."""
    d = _subdim(embeddings, m, dim)
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"), F.slice("embedding", s * d + 1, d).alias("c_vec")
            )
            for s in range(m)
        ]
    )
    return (
        embeddings.filter(F.col("vec_id") < n_centroids)
        .select(F.col("vec_id").alias("cent_id"), F.explode(subs).alias("x"))
        .select("cent_id", F.col("x.sub").alias("sub"), F.col("x.c_vec").alias("c_vec"))
    )


def pq_encode(
    embeddings: DataFrame, m: int = 8, n_centroids: int = 16, dim: int | None = None
) -> DataFrame:
    """PQ index build: every vector's subspace slice joins the (broadcast)
    codebook and keeps its nearest centroid id — argmin of quantized squared
    L2, centroid id the tie break. Long-form output (vec_id, sub, code):
    8 codes of 4 bits each here, i.e. ~4 bytes per vector instead of 256 —
    the compression that lets 10⁹-vector indexes live in memory. The argmin
    is ``min(struct(d2, cent_id))`` — a hash aggregate with map-side partials
    (n_centroids candidate rows combine to 1 per (vec_id, sub) BEFORE the
    shuffle), not a window, so shuffled volume is the code table itself.
    Built once, searched many times."""
    d = _subdim(embeddings, m, dim)
    subs = F.array(
        *[
            F.struct(F.lit(s).alias("sub"), F.slice("embedding", s * d + 1, d).alias("v_sub"))
            for s in range(m)
        ]
    )
    sub_vecs = embeddings.select("vec_id", F.explode(subs).alias("x")).select(
        "vec_id", F.col("x.sub").alias("sub"), F.col("x.v_sub").alias("v_sub")
    )
    # distances live as integer micro-units from here on: argmin ordering and
    # the ADC sum are exact integer ops, immune to float summation order
    scored = sub_vecs.join(
        F.broadcast(pq_codebook(embeddings, m, n_centroids, dim=d * m)), "sub"
    ).select(
        "vec_id",
        "sub",
        "cent_id",
        F.floor(squared_l2("v_sub", "c_vec") * 1000000 + F.lit(0.5)).cast("bigint").alias("d2"),
    )
    return (
        scored.groupBy("vec_id", "sub")
        .agg(F.min(F.struct("d2", "cent_id")).alias("best"))
        .select("vec_id", "sub", F.col("best.cent_id").cast("int").alias("code"))
    )


def pq_topk(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    m: int = 8,
    n_centroids: int = 16,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) search: the query precomputes one
    m×n_centroids distance table against the codebook (tiny, broadcast);
    each corpus vector's approximate distance is the SUM of m table lookups
    on its codes — no per-vector float math over raw embeddings at query
    time. Exactly the FAISS IVF-PQ search shape minus the IVF cell pruning
    (compose with ``ivf_assign_cells`` for that). Top-k by ascending
    quantized distance via TakeOrderedAndProject; ties break on vec_id."""
    d = _subdim(embeddings, m, None)
    codes = pq_encode(embeddings, m, n_centroids, dim=d * m)
    q_subs = F.array(
        *[
            F.struct(F.lit(s).alias("sub"), F.slice("embedding", s * d + 1, d).alias("q_sub"))
            for s in range(m)
        ]
    )
    q = (
        embeddings.filter(F.col("vec_id") == query_id)
        .select(F.explode(q_subs).alias("x"))
        .select(F.col("x.sub").alias("sub"), F.col("x.q_sub").alias("q_sub"))
    )
    dtable = q.join(
        F.broadcast(pq_codebook(embeddings, m, n_centroids, dim=d * m)), "sub"
    ).select(
        "sub",
        F.col("cent_id").cast("int").alias("code"),
        F.floor(squared_l2("q_sub", "c_vec") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("qd2"),
    )
    approx = (
        codes.join(F.broadcast(dtable), ["sub", "code"])
        .groupBy("vec_id")
        .agg((F.sum("qd2").cast("double") / F.lit(1000000.0)).alias("approx_d2"))
    )
    labeled = approx.join(embeddings.select("vec_id", "label"), "vec_id")
    order = [F.asc("approx_d2"), F.asc("vec_id")]
    top = labeled.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w)).select(
        "vec_id", "label", "approx_d2", "rank"
    )


def cosine_scores_pandas_udf(embeddings: DataFrame, query_id: int = 0) -> DataFrame:
    """Arrow-batched cosine scoring via ``mapInPandas`` — the pattern for
    scoring math that outgrows SQL expressions (e.g. matrix ops per batch).
    numpy float64 matches the fold-based path after 1e-6 quantization."""
    import pandas as pd  # noqa: F401 (documents the batch contract)

    q_rows = embeddings.filter(F.col("vec_id") == query_id).select("embedding").take(1)
    if not q_rows:
        raise ValueError(f"query vector {query_id} not found")
    import numpy as np

    q = np.asarray(q_rows[0][0], dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))

    def score_batches(batches):
        for pdf in batches:
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            dots = mat @ q
            norms = np.sqrt((mat * mat).sum(axis=1))
            cos = dots / (norms * qn)
            scores = np.floor(cos * 1e6 + 0.5) / 1e6
            yield pdf[["vec_id", "label"]].assign(score=scores)

    out_schema = "vec_id bigint, label int, score double"
    return embeddings.select("vec_id", "label", "embedding").mapInPandas(score_batches, out_schema)


def int8_quantize(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Scalar int8 quantization of the embedding column — the 4× memory /
    bandwidth lever for a 100 TB embedding store (the compressed form ANN
    indexes and caches actually hold). Per-DIMENSION min/max ranges come from
    one keyless aggregate broadcast as a single row; codes are
    ``floor((x - mn_d) / (mx_d - mn_d) * 255 + 0.5)``; a constant dimension
    maps to code 0. Returns (vec_id, label, codes array<int>,
    recon_mse_micros) where the MSE against the float original is quantized
    to integer micro-units (IEEE-deterministic, oracle-exact)."""
    dim_stats = embeddings.select(
        F.posexplode(vec_col).alias("pos", "x")
    ).groupBy("pos").agg(
        F.min(F.col("x").cast("double")).alias("mn"),
        F.max(F.col("x").cast("double")).alias("mx"),
    )
    packed = dim_stats.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("st")
    ).select(
        F.transform("st", lambda s: s["mn"]).alias("mns"),
        F.transform("st", lambda s: s["mx"]).alias("mxs"),
    )
    withr = embeddings.crossJoin(F.broadcast(packed))
    code = F.expr(
        f"zip_with(`{vec_col}`, zip_with(mns, mxs, (a, b) -> struct(a AS mn, b AS mx)), "
        "(x, r) -> CASE WHEN r.mx > r.mn THEN "
        "CAST(floor((CAST(x AS DOUBLE) - r.mn) / (r.mx - r.mn) * 255 + 0.5) AS INT) "
        "ELSE 0 END)"
    )
    # per-dimension squared error quantizes to integer micro-units BEFORE
    # the sum — group-order float addition differs between engines, exact
    # integer accumulation does not
    recon_err = F.expr(
        f"aggregate(zip_with(`{vec_col}`, zip_with(codes, zip_with(mns, mxs, "
        "(a, b) -> struct(a AS mn, b AS mx)), (c, r) -> "
        "CASE WHEN r.mx > r.mn THEN r.mn + CAST(c AS DOUBLE) * (r.mx - r.mn) / 255 "
        "ELSE r.mn END), (x, y) -> CAST(floor((CAST(x AS DOUBLE) - y) * "
        "(CAST(x AS DOUBLE) - y) * 1000000 + 0.5) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return (
        withr.withColumn("codes", code)
        .withColumn("recon_sse_u", recon_err)
        .select(
            "vec_id",
            "label",
            "codes",
            F.expr(f"recon_sse_u div size(`{vec_col}`)").alias("recon_mse_micros"),
        )
    )


def rrf_rank(scored: DataFrame, id_col: str, score_col: str, n: int) -> DataFrame:
    """Top-``n`` rows of (id, score) by (score DESC, id ASC) with their
    1-based rank. The cut is a TakeOrderedAndProject (distributed-safe);
    the rank is a broadcast non-equi self-join count over the ≤n-row
    result — no keyless window funnels a task even on the small frame
    (plan-gate discipline)."""
    top = (
        scored.select(F.col(id_col).alias("id"), F.col(score_col).alias("s"))
        .orderBy(F.desc("s"), F.asc("id"))
        .limit(n)
    )
    r = top.select(F.col("id").alias("r_id"), F.col("s").alias("r_s"))
    ahead = (F.col("r_s") > F.col("s")) | (
        (F.col("r_s") == F.col("s")) & (F.col("r_id") < F.col("id"))
    )
    return (
        top.join(F.broadcast(r), ahead, "left")
        .groupBy("id", "s")
        .agg((F.count("r_id") + 1).cast("int").alias("rank"))
    )


def hybrid_rrf_retrieval(
    lex_scored: DataFrame,
    dense_scored: DataFrame,
    id_col: str = "doc_id",
    lex_score_col: str = "bm25_micros",
    dense_score_col: str = "cos_micros",
    n: int = 50,
    k_rrf: int = 60,
    out_k: int = 20,
) -> DataFrame:
    """Reciprocal-rank-fusion hybrid retrieval (Cormack et al. 2009): fuse
    a lexical (BM25) and a dense (embedding-cosine) top-``n`` list into
    one ranking by ``Σ 1/(k + rank)`` — the standard sparse+dense fusion
    that needs no score calibration because it only consumes ranks.

    Exactness: each leg's rank is a deterministic total order
    (score DESC, id ASC); a leg's contribution is the exact integer
    ``10⁶ div (k + rank)`` (docs outside a leg's top-n contribute 0, as in
    real RRF over retrieved lists); the fused sum, final order, and
    ``out_k`` cut are all integer arithmetic with id tie-breaks.

    Scale: each leg is already scored corpus-wide by its own
    scale-credible operator (BM25 one doc-keyed shuffle, cosine one scan
    × broadcast query); this fusion only ever touches the two ≤n-row
    lists — rank joins are broadcast non-equi self-joins, the full-outer
    alignment joins two n-row frames.

    Returns (doc_id, lex_rank, dense_rank, rrf_micros) — ranks NULL when
    the doc made only the other leg's list.
    """
    lr = rrf_rank(lex_scored, id_col, lex_score_col, n).select(
        F.col("id").alias("l_id"), F.col("rank").alias("lex_rank")
    )
    dr = rrf_rank(dense_scored, id_col, dense_score_col, n).select(
        F.col("id").alias("d_id"), F.col("rank").alias("dense_rank")
    )
    contrib = lambda c: F.coalesce(  # noqa: E731
        F.expr(f"1000000 div ({k_rrf} + {c})"), F.lit(0)
    ).cast("bigint")
    return (
        lr.join(dr, F.col("l_id") == F.col("d_id"), "full_outer")
        .select(
            F.coalesce(F.col("l_id"), F.col("d_id")).alias("doc_id"),
            "lex_rank",
            "dense_rank",
            (contrib("lex_rank") + contrib("dense_rank")).alias("rrf_micros"),
        )
        .orderBy(F.desc("rrf_micros"), F.asc("doc_id"))
        .limit(out_k)
    )


def ann_recall_calibration(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
) -> DataFrame:
    """Estimator-vs-exact audit for the ANN stack (the vector twin of
    ``minhash_estimate_error``): for each of ``n_queries`` query vectors,
    run IVF multi-probe search and PQ asymmetric-distance search against
    the brute-force cosine ground truth and report recall@k plus total
    rank displacement — the numbers a corpus operator reads before
    trusting ``ann_ivf_topk`` / ``ann_pq_adc_topk`` for semantic dedup at
    scale. Self-matches are excluded on every leg (a query trivially
    retrieves itself and would inflate recall by 1/k).

    Exactness: all three legs rank by (quantized-micros score, vec_id) —
    total orders in exact integer/quantized arithmetic — so ranks,
    hit counts, recall micros and displacement sums are all
    integer-exact and oracle-replayable.

    Scale: ground truth and both estimator legs are the multi-query forms
    of the existing operators — one corpus scan × broadcast query set
    each (IVF scans only probed cells), ranked via ``grouped_topk`` so no
    per-query window ever funnels the corpus; the calibration joins then
    run at (n_queries × k)-row scale, with the exact top-k list broadcast.

    Returns (method, q_id, n_hits, recall_at_k_micros, rank_displacement),
    one row per (method ∈ {ivf, pq}, query).
    """
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    order = [F.desc("score"), F.asc("vec_id")]

    # exact ground truth: brute-force cosine top-k per query, self excluded
    gt_scored = (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            quantize(cosine_similarity("embedding", "q_embedding")).alias("score"),
        )
    )
    exact = grouped_topk(gt_scored, ["q_id"], k, order, rank_name="rank_exact").select(
        "q_id", "vec_id", "rank_exact"
    )

    # IVF leg: one cell assignment, per-query nprobe cells, exact cosine
    # inside the probed candidates only
    cells = ivf_assign_cells(embeddings, n_centroids)
    probe_scored = (
        _centroids(embeddings, n_centroids)
        .crossJoin(F.broadcast(q))
        .select(
            "q_id",
            F.col("cent_id").cast("int").alias("p_cell"),
            quantize(cosine_similarity("c_embedding", "q_embedding")).alias("p_score"),
        )
    )
    probes = grouped_topk(
        probe_scored, ["q_id"], nprobe, [F.desc("p_score"), F.asc("p_cell")]
    ).select("q_id", "p_cell")
    ivf_scored = (
        cells.join(F.broadcast(probes), F.col("cell") == F.col("p_cell"))
        .join(F.broadcast(q), "q_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            quantize(cosine_similarity("embedding", "q_embedding")).alias("score"),
        )
    )
    ivf_top = grouped_topk(ivf_scored, ["q_id"], k, order, rank_name="rank_approx").select(
        "q_id", "vec_id", "rank_approx"
    )

    # PQ-ADC leg: one code table, per-query distance tables (n_queries *
    # m * n_centroids rows - broadcast), approximate distance = exact
    # bigint micro sum of m lookups
    d = _subdim(embeddings, m, None)
    codes = pq_encode(embeddings, m, n_centroids, dim=d * m)
    q_subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"), F.slice("q_embedding", s * d + 1, d).alias("q_sub")
            )
            for s in range(m)
        ]
    )
    qs = q.select("q_id", F.explode(q_subs).alias("x")).select(
        "q_id", F.col("x.sub").alias("sub"), F.col("x.q_sub").alias("q_sub")
    )
    dtable = qs.join(
        F.broadcast(pq_codebook(embeddings, m, n_centroids, dim=d * m)), "sub"
    ).select(
        "q_id",
        "sub",
        F.col("cent_id").cast("int").alias("code"),
        F.floor(squared_l2("q_sub", "c_vec") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("qd2"),
    )
    pq_scored = (
        codes.join(F.broadcast(dtable), ["sub", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("qd2").alias("d2_micros"))
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    pq_top = grouped_topk(
        pq_scored, ["q_id"], k, [F.asc("d2_micros"), F.asc("vec_id")],
        rank_name="rank_approx",
    ).select("q_id", "vec_id", "rank_approx")

    def calibrate(top: DataFrame, method: str) -> DataFrame:
        hits = top.join(F.broadcast(exact), ["q_id", "vec_id"], "left")
        agg = hits.groupBy("q_id").agg(
            F.count("rank_exact").alias("n_hits"),
            F.coalesce(
                F.sum(F.abs(F.col("rank_approx") - F.col("rank_exact"))), F.lit(0)
            )
            .cast("bigint")
            .alias("rank_displacement"),
        )
        # left-join from the query list so a query whose probed cells hold
        # nothing but itself still reports a (0-recall) row
        return q.select("q_id").join(agg, "q_id", "left").select(
            F.lit(method).alias("method"),
            "q_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.expr(f"(coalesce(n_hits, 0) * 1000000) div {k}")
            .cast("bigint")
            .alias("recall_at_k_micros"),
            F.coalesce(F.col("rank_displacement"), F.lit(0))
            .cast("bigint")
            .alias("rank_displacement"),
        )

    return calibrate(ivf_top, "ivf").unionByName(calibrate(pq_top, "pq"))


def bitext_margin_mining(
    embeddings: DataFrame,
    src_label: int = 0,
    tgt_label: int = 1,
    k: int = 4,
    bits: int = 8,
    margin_threshold_micros: int = 1_050_000,
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019 — the
    LASER/CCMatrix bitext criterion): a source/target pair qualifies not
    by raw cosine but by cosine RELATIVE to each side's neighborhood
    density,

        margin(x, y) = cos(x, y) / (Σ_{z∈NNk(x)} cos(x,z)/2k
                                    + Σ_{z∈NNk(y)} cos(y,z)/2k)

    which suppresses hubs (vectors cosine-close to everything) that raw
    thresholds mis-mine. Labels stand in for the two languages/domains.

    Spark restatement with the engine's discipline: candidates are
    BLOCKED by the sign-LSH bucket (the scale path — cross pairs form
    within buckets only, ≈|src|·|tgt|/2^bits, never corpus×corpus);
    cosines quantize to integer micros; each side's k-NN sum uses its
    ACTUAL candidate count kx = min(k, |cands|), so the margin is the
    exact rational  cos·2·kx·ky·10⁶ div (sx·ky + sy·kx)  — no float
    division crosses the engine boundary. Each source keeps its argmax-
    margin target (tie: smaller tgt_id); ``mined`` flags pairs above
    ``margin_threshold_micros`` (1.05 — the standard ratio-margin cut)
    rather than filtering, so the output doubles as the tuning audit
    (the margin distribution over ALL sources) the cut is chosen from.

    Returns (src_id, tgt_id, cos_micros, margin_micros, mined), one row
    per source with ≥ 1 bucket-mate.

    Scale: one bucketed cross join (the honest candidate term), two
    grouped top-k passes over the candidate stream (map-side-combined
    sums), one broadcast-joined margin projection, one max_by argmax.
    At 10⁹ vectors raise ``bits`` so bucket populations stay bounded —
    same knob as ``cosine_topk_bucketed``.
    """
    e = embeddings.withColumn("bucket", sign_lsh_bucket("embedding", bits))
    src = e.filter(F.col("label") == src_label).select(
        F.col("vec_id").alias("src_id"), F.col("embedding").alias("se"), "bucket"
    )
    tgt = e.filter(F.col("label") == tgt_label).select(
        F.col("vec_id").alias("tgt_id"), F.col("embedding").alias("te"), "bucket"
    )
    cands = src.join(tgt, "bucket").select(
        "src_id",
        "tgt_id",
        F.floor(cosine_similarity("se", "te") * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cos_u"),
    )
    # per-side neighborhood mass: sum of the k best cosines + the actual
    # neighbor count (kx ≤ k) — grouped_topk keeps the per-group windows
    # skew-safe
    order = [F.desc("cos_u"), F.asc("tgt_id")]
    nx = (
        grouped_topk(cands, ["src_id"], k, order)
        .groupBy("src_id")
        .agg(
            F.sum("cos_u").alias("sx"),
            F.count(F.lit(1)).cast("bigint").alias("kx"),
        )
    )
    order_y = [F.desc("cos_u"), F.asc("src_id")]
    ny = (
        grouped_topk(cands, ["tgt_id"], k, order_y)
        .groupBy("tgt_id")
        .agg(
            F.sum("cos_u").alias("sy"),
            F.count(F.lit(1)).cast("bigint").alias("ky"),
        )
    )
    scored = (
        cands.join(nx, "src_id")
        .join(ny, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            "cos_u",
            # a non-positive denominator means the neighborhood cosine
            # mass is net-negative — the Artetxe-Schwenk ratio is
            # undefined there, so emit margin 0 (never mined) instead of
            # clamping the denominator to 1 and manufacturing a huge
            # bogus margin (round-10 advice)
            F.expr(
                "case when sx * ky + sy * kx <= 0 then cast(0 as bigint)"
                " else cast((cast(cos_u as decimal(38,0)) * 2 * kx * ky"
                " * 1000000) div (sx * ky + sy * kx) as bigint) end"
            ).alias("margin_micros"),
        )
    )
    return (
        scored.groupBy("src_id")
        .agg(
            F.expr(
                "max_by(struct(tgt_id, cos_u, margin_micros),"
                " struct(margin_micros, -tgt_id))"
            ).alias("b")
        )
        .select(
            "src_id",
            F.col("b.tgt_id").alias("tgt_id"),
            F.col("b.cos_u").alias("cos_micros"),
            F.col("b.margin_micros").alias("margin_micros"),
            F.expr(
                f"cast(b.margin_micros > {margin_threshold_micros} as int)"
            ).alias("mined"),
        )
    )


def _dim_ablation_candidates_arrow(
    embeddings: DataFrame,
    picked: DataFrame,
    all_dims: list,
    k: int,
    max_queries: int,
) -> DataFrame:
    """Arrow fast path for the dim-ablation hot loop (r13 driver: 24 s at
    sf0.1 / 375 s at 30× in the interpreted-HOF form): one ``mapInPandas``
    pass over the corpus computes, per batch, every (query, dim) pair's
    quantized prefix-cosine and keeps only that batch's top-k candidates —
    so the shuffle carries |batches|·|queries|·|dims|·k rows instead of
    |corpus|·|queries|·|dims| (the global ``grouped_topk`` over partials is
    exact because the (score desc, vec_id asc) order is total).

    EXACTNESS, not approximation: every float op replays the SQL-HOF
    reference path bit-for-bit — float32→float64 casts are exact,
    ``np.cumsum`` accumulates sequentially (``np.add.accumulate``), which
    is the SAME left-fold order as the SQL ``aggregate(slice(pr,1,d), 0.0,
    (acc,v) -> acc+v)``, and the divide/scale/floor chain is textually
    identical — so the quantized scores (and therefore the hashes) are
    bit-identical to the reference scorer, NOT merely close. A BLAS GEMM
    would be ~10× faster still but sums in blocked order, risking a
    quantization-boundary flip every ~10⁸ pairs; rejected.

    The query set (≤ max_queries rows) lands driver-side via ``take`` —
    the same small-side pattern as ``cosine_scores_pandas_udf`` — and
    ships to executors inside the task closure (a few KB)."""
    import numpy as np

    # the driver-side fetch is bounded by the CALLER's query budget, not a
    # fixed constant: a 500k-query caller must not land ~250 MB of vectors
    # on the driver before the closure even ships. The ceiling keeps the
    # shipped closure (max_queries · full_dim · 8 B) in the tens of MB;
    # beyond it the SQL-HOF scorer is the right tool.
    if max_queries > 100_000:
        raise ValueError(
            f"_dim_ablation_candidates_arrow: max_queries={max_queries} "
            "exceeds the driver-fetch ceiling (100000); use scorer='sql'"
        )
    q_rows = picked.select("vec_id", "embedding").take(max_queries)
    if not q_rows:
        raise ValueError("dim_ablation_recall: empty query set")
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    qmat = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in q_rows]
    )
    # per-query prefix norms: sqrt of the sequential self-product prefix sum
    qcum = np.cumsum(qmat * qmat, axis=1)
    qnorm = {d: np.sqrt(qcum[:, d - 1]) for d in all_dims}

    def topk_batches(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            acum = np.cumsum(mat * mat, axis=1)
            anorm = {d: np.sqrt(acum[:, d - 1]) for d in all_dims}
            out_dim, out_qid, out_vid, out_score = [], [], [], []
            for qi in range(len(qids)):
                cs = np.cumsum(mat * qmat[qi], axis=1)
                mask = vids != qids[qi]
                for d in all_dims:
                    denom = np.maximum(anorm[d] * qnorm[d][qi], 1e-18)
                    score = np.floor(cs[:, d - 1] / denom * 1e6 + 0.5) / 1e6
                    sm, vm = score[mask], vids[mask]
                    if not len(sm):
                        continue
                    idx = np.lexsort((vm, -sm))[:k]
                    out_dim.extend([d] * len(idx))
                    out_qid.extend([int(qids[qi])] * len(idx))
                    out_vid.extend(vm[idx].tolist())
                    out_score.extend(sm[idx].tolist())
            yield pd.DataFrame(
                {
                    "qid": pd.Series(out_qid, dtype="int64"),
                    "vec_id": pd.Series(out_vid, dtype="int64"),
                    "dim": pd.Series(out_dim, dtype="int32"),
                    "score": pd.Series(out_score, dtype="float64"),
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        topk_batches, "qid bigint, vec_id bigint, dim int, score double"
    )


def dim_ablation_recall(
    embeddings: DataFrame,
    dims: tuple = (4, 8, 16),
    full_dim: int = 64,
    k: int = 5,
    query_mod: int = 10,
    max_queries: int | None = None,
    scorer: str | None = None,
) -> DataFrame:
    """Matryoshka-style dimension ablation: how much exact-cosine recall@k
    survives truncating the embedding to its first ``d`` dimensions? The
    standard measurement before shipping a cheaper truncated index — at
    10^9 vectors a 4x narrower vector is 4x less scan, shuffle, and memory,
    and this operator quantifies exactly what that buys/costs.

    Query-set selection — the knob that decides whether this operator is
    scale-safe: with ``max_queries`` set (the REGISTERED default), the
    query set is the ``max_queries`` vectors with the smallest
    ``(md5(vec_id), vec_id)`` — a deterministic hash sample whose SIZE is
    FIXED regardless of corpus size, so the scored-pair volume is
    O(max_queries · |corpus| · |dims|): linear in the corpus, exactly one
    broadcast-side constant away from ``ann_bruteforce_topk``. The
    selection is a top-k (TakeOrderedAndProject — map-side partial top-k,
    no full shuffle). With ``max_queries=None``, every
    ``vec_id % query_mod == 0`` vector queries instead — |queries| grows
    with the corpus and the pair volume is quadratic; that exhaustive
    form is the CALIBRATION tool (ground-truth recall over a dense query
    grid) and must be pointed at a corpus sample at scale (SCALE.md).

    Each query vector scores the full corpus (self excluded). For each d
    in ``dims`` + the full dimension, the
    brute-force top-k under the TRUNCATED cosine is compared against the
    full-dimension truth; recall@k averages over queries. Scores are
    micro-quantized with a vec_id tiebreak (the suite's ANN discipline) so
    rankings are engine-exact; the full-dim row reads recall 1.0 by
    construction (sanity anchor).

    Cost shape (this is the hot loop — 10^7 pair-dims at sf0.1): prefix
    NORMS are precomputed once per VECTOR on each side of the join
    (O(|corpus| + |queries|), never per pair), and the per-pair product
    array is let-bound in a one-element ``transform`` so ALL dims' prefix
    dots fold from ONE zip_with evaluation — the CollapseProject
    discipline; a naive per-dim cosine recomputed products and norms per
    (pair, dim) and measured 3.5x slower.

    Scale posture: candidates explode to |queries|*|corpus|*|dims| scored
    rows — brute force is the MEASUREMENT here, as in
    ``ann_recall_calibration`` (production retrieval goes through the
    IVF/LSH paths); with the bounded query set that volume is linear in
    the corpus; the per-(d, query) top-k runs through the two-phase
    ``grouped_topk`` so no (d, query) group funnels a scan into one task.
    Output: ``(dim, n_queries, avg_recall_ppm)`` — |dims|+1 rows.
    """
    all_dims = list(dims) + [full_dim]

    def prefix_norms(vec: str, prefix: str):
        """One-element-transform let binding: the self-product array folds
        once, every prefix norm slices the SAME bound array."""
        fields = ", ".join(
            f"'{prefix}{d}', sqrt(aggregate(slice(pr, 1, {d}),"
            " CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
            for d in all_dims
        )
        return F.expr(
            f"element_at(transform(array(zip_with({vec}, {vec},"
            " (p, r) -> CAST(p AS DOUBLE) * CAST(r AS DOUBLE))),"
            f" pr -> named_struct({fields})), 1)"
        )

    if scorer is None:
        # auto: the arrow fast path needs the bounded query-set form (the
        # query matrix ships in the task closure); the exhaustive
        # calibration sweep stays on the SQL-HOF reference scorer
        scorer = "arrow" if max_queries is not None else "sql"
    if scorer not in ("arrow", "sql"):
        raise ValueError(f"dim_ablation_recall: unknown scorer {scorer!r}")
    if scorer == "arrow" and max_queries is None:
        raise ValueError(
            "dim_ablation_recall: the arrow scorer ships the query set in "
            "the task closure and requires the BOUNDED max_queries form; "
            "use scorer='sql' for the exhaustive calibration sweep"
        )
    if max_queries is not None:
        picked = (
            embeddings.select(
                "vec_id",
                "embedding",
                F.md5(F.col("vec_id").cast("string")).alias("_h"),
            )
            .orderBy("_h", "vec_id")
            .limit(max_queries)
        )
    else:
        picked = embeddings.filter(F.col("vec_id") % query_mod == 0)
    if scorer == "arrow":
        candidates = _dim_ablation_candidates_arrow(
            embeddings, picked, all_dims, k, max_queries
        )
    else:
        q = picked.select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            prefix_norms("embedding", "qn").alias("qn"),
        )
        corpus = embeddings.select(
            "vec_id", "embedding", prefix_norms("embedding", "an").alias("an")
        )
        pairs = corpus.crossJoin(F.broadcast(q)).filter(
            F.col("vec_id") != F.col("qid")
        )
        # all dims' scores from ONE product-array evaluation per pair
        score_structs = ", ".join(
            f"named_struct('dim', {d}, 'score',"
            f" floor(aggregate(slice(pr, 1, {d}), CAST(0 AS DOUBLE),"
            " (acc, v) -> acc + v)"
            f" / greatest(an.an{d} * qn.qn{d}, CAST(1e-18 AS DOUBLE))"
            " * 1000000 + 0.5) / 1000000.0)"
            for d in all_dims
        )
        candidates = pairs.select(
            "qid",
            "vec_id",
            F.explode(
                F.expr(
                    "element_at(transform(array(zip_with(embedding, qe,"
                    " (p, r) -> CAST(p AS DOUBLE) * CAST(r AS DOUBLE))),"
                    f" pr -> array({score_structs})), 1)"
                )
            ).alias("ds"),
        ).select(
            "qid",
            "vec_id",
            F.col("ds.dim").alias("dim"),
            F.col("ds.score").alias("score"),
        )
    topk = grouped_topk(
        candidates,
        group_cols=["dim", "qid"],
        k=k,
        order=[F.desc("score"), F.asc("vec_id")],
    ).select("dim", "qid", "vec_id")
    truth = topk.filter(F.col("dim") == full_dim).select(
        F.col("qid").alias("t_qid"), F.col("vec_id").alias("t_vec")
    )
    hits = topk.join(
        truth,
        (F.col("qid") == F.col("t_qid")) & (F.col("vec_id") == F.col("t_vec")),
        "left",
    ).groupBy("dim").agg(
        F.count_distinct("qid").cast("bigint").alias("n_queries"),
        F.sum(F.col("t_vec").isNotNull().cast("bigint")).alias("_matches"),
    )
    return hits.select(
        F.col("dim").cast("int").alias("dim"),
        "n_queries",
        F.floor(F.col("_matches") * 1000000 / (F.lit(k) * F.col("n_queries")))
        .cast("bigint")
        .alias("avg_recall_ppm"),
    )
