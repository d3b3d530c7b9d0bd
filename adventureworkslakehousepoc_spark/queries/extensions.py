"""Extension queries: dedup / similarity search / text analysis / multimodal
(the LLM-training-data-pipeline operator set) with DuckDB oracles.

The MinHash/SimHash oracles replay the exact same md5-based signatures in SQL
— candidate sets are deterministic, so even the LSH pipelines hash-match.
Queries without an oracle (mapInPandas stages) get the driver's rows-only
check and say so in their docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.expressions import exact_unscaled_sum as _exact_unscaled_sum
from ..plans.expectations import expect_fresh, expect_referential, expect_unique
from ..operators.dedup import (
    exact_duplicate_groups,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_near_duplicates,
)
from ..operators.multimodal import attach_binary_payload, decode_features, payload_metadata
from ..operators.similarity import (
    cosine_scores_pandas_udf,
    dot_product,
    cosine_topk,
    cosine_topk_bucketed,
    cosine_topk_ivf,
    quantize,
    cosine_similarity,
)
from ..operators.text_analysis import (
    LANG_MARKERS,
    fingerprints,
    language_id,
    quality_scores,
    repetition_scores,
    token_counts,
)
from ._registrar import registrar

QUERIES, ORACLE, query = registrar()


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("documents",))["documents"]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("embeddings",))["embeddings"]


# DuckDB bucket expression of the repo-wide split42 hash split (shared by
# the rho-loss / bloom / leakage / pipeline-v7 oracles)
_RHO_SPLIT = (
    "(strpos('0123456789abcdef',"
    " substr(md5('split42:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef',"
    " substr(md5('split42:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)"
)


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS representative_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicate_groups(_docs(spark, sf_dir))


_SHINGLES_SQL = """
  SELECT DISTINCT d.doc_id, d.words[i] || ' ' || d.words[i+1] || ' ' || d.words[i+2] AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) d,
       unnest(generate_series(1, len(d.words) - 2)) AS t(i)
"""

# 4 md5 digests sliced into four 8-hex-char lanes each = 16 minhash lanes
# (mirrors operators/dedup.py minhash_signatures — md5 is the hot loop, so
# both engines evaluate 4 digests per shingle, not 16)
_SIG_COLS = ",\n           ".join(
    f"min(substr(md5('{s // 4}:' || sh), {8 * (s % 4) + 1}, 8)) AS h{s}" for s in range(16)
)
_BANDS_SQL = "\n      UNION ALL ".join(
    f"SELECT doc_id, {j} AS band, h{2 * j} || h{2 * j + 1} AS band_key FROM sig" for j in range(8)
)

ORACLE_MINHASH = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sig AS (
      SELECT doc_id, {_SIG_COLS}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_BANDS_SQL}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
      FROM pairs p
      JOIN sh sa ON p.doc_a = sa.doc_id
      JOIN sh sb ON p.doc_b = sb.doc_id AND sa.sh = sb.sh
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes za ON i.doc_a = za.doc_id
    JOIN sizes zb ON i.doc_b = zb.doc_id
    WHERE CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter) >= 0.5
"""


@query("dedup_minhash_lsh", ORACLE_MINHASH)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_duplicates(_docs(spark, sf_dir))


_ODD = "('1','3','5','7','9','b','d','f')"
_HIGH = "('8','9','a','b','c','d','e','f')"
# 64 bits from one md5: bits 0-31 = low bit of hex digit b (odd), bits 32-63 =
# high bit of digit b-32 (>= '8') — mirrors operators/dedup._simhash_bit_predicate.
_SUM_COLS = ",\n        ".join(
    f"SUM(CASE WHEN substr(md5(w), {(b if b < 32 else b - 32) + 1}, 1) IN "
    f"{_ODD if b < 32 else _HIGH} THEN 1 ELSE -1 END) AS s{b}"
    for b in range(64)
)
# bit 63 packs as the two's-complement sign (-2^63, spelled to stay in BIGINT)
_FP_EXPR = " + ".join(
    f"(CASE WHEN s{b} >= 0 THEN "
    + ("(-9223372036854775807 - 1)" if b == 63 else str(1 << b))
    + " ELSE 0 END)"
    for b in range(64)
)

ORACLE_SIMHASH_FP = f"""
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    sums AS (
      SELECT doc_id,
        {_SUM_COLS}
      FROM w GROUP BY doc_id
    )
    SELECT doc_id, CAST({_FP_EXPR} AS BIGINT) AS simhash FROM sums
"""


@query("dedup_simhash_fingerprints", ORACLE_SIMHASH_FP)
def dedup_simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(_docs(spark, sf_dir))


@query(
    "dedup_simhash_pairs",
    f"""
    WITH fp AS ({ORACLE_SIMHASH_FP}),
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, simhash, {j} AS part, (simhash >> {j * 16}) & 65535 AS val FROM fp"
          for j in range(4)
      )}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM bands a
    JOIN bands b ON a.part = b.part AND a.val = b.val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_duplicates(_docs(spark, sf_dir))


@query(
    "dedup_ngram_jaccard",
    """
    WITH w AS (
      SELECT DISTINCT doc_id, blk, w FROM (
        SELECT doc_id, lang AS blk, unnest(string_split(text, ' ')) AS w FROM documents)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_w FROM w GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM w a
      JOIN w b ON a.blk = b.blk AND a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS DOUBLE) / (za.n_w + zb.n_w - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes za ON i.doc_a = za.doc_id
    JOIN sizes zb ON i.doc_b = zb.doc_id
    WHERE CAST(i.n_inter AS DOUBLE) / (za.n_w + zb.n_w - i.n_inter) >= 0.5
    """,
)
def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir))


_COS_SQL = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)


@query(
    "dedup_embedding_cosine",
    f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           FLOOR({_COS_SQL} * 1000000 + 0.5) / 1000000.0 AS score
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE FLOOR({_COS_SQL} * 1000000 + 0.5) / 1000000.0 >= 0.4
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    a = e.alias("a")
    b = e.alias("b")
    score = quantize(
        cosine_similarity("a.embedding", "b.embedding")
    )
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            score.alias("score"),
        )
        .filter(F.col("score") >= 0.4)
    )


# ---------------------------------------------------------------------------
# Similarity search (ANN)
# ---------------------------------------------------------------------------

_SCORED_SQL = f"""
  SELECT e.vec_id, e.label,
         FLOOR(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))))
           * 1000000 + 0.5) / 1000000.0 AS score
  FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
"""


@query(
    "ann_bruteforce_topk",
    f"""
    SELECT vec_id, label, score, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (ORDER BY score DESC, vec_id) AS rank
      FROM ({_SCORED_SQL})
    ) WHERE rank <= 10
    """,
)
def ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(_emb(spark, sf_dir), query_id=0, k=10)


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(8)
)


@query(
    "ann_lsh_bucketed_topk",
    f"""
    WITH wb AS (
      SELECT vec_id, label, embedding, CAST({_BUCKET_SQL} AS INTEGER) AS bucket
      FROM embeddings
    ),
    q AS (SELECT embedding AS qe, bucket AS q_bucket FROM wb WHERE vec_id = 0),
    scored AS (
      SELECT a.vec_id, a.label, a.bucket,
             FLOOR(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))))
               * 1000000 + 0.5) / 1000000.0 AS score
      FROM wb a JOIN q ON a.bucket = q.q_bucket
    )
    SELECT vec_id, label, bucket, score, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (ORDER BY score DESC, vec_id) AS rank FROM scored
    ) WHERE rank <= 10
    """,
)
def ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk_bucketed(_emb(spark, sf_dir), query_id=0, k=10, bits=8)


def _qcos_sql(a: str, b: str) -> str:
    return (
        f"FLOOR(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        f" / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
        f"    * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
        " * 1000000 + 0.5) / 1000000.0"
    )


@query(
    "ann_ivf_topk",
    f"""
    WITH cent AS (
      SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16
    ),
    assign AS (
      SELECT e.vec_id, e.label, e.embedding, c.cent_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_qcos_sql('e.embedding', 'c.ce')} DESC, c.cent_id)
               AS rn
      FROM embeddings e, cent c
    ),
    cells AS (
      SELECT vec_id, label, embedding, CAST(cent_id AS INTEGER) AS cell
      FROM assign WHERE rn = 1
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    probe AS (
      SELECT CAST(cent_id AS INTEGER) AS p_cell,
             row_number() OVER (ORDER BY {_qcos_sql('cent.ce', 'q.qe')} DESC, cent_id) AS prn
      FROM cent, q
    )
    SELECT vec_id, label, cell, score, CAST(rank AS INTEGER) AS rank FROM (
      SELECT cl.vec_id, cl.label, cl.cell,
             {_qcos_sql('cl.embedding', 'q.qe')} AS score,
             row_number() OVER (ORDER BY {_qcos_sql('cl.embedding', 'q.qe')} DESC, cl.vec_id)
               AS rank
      FROM cells cl JOIN probe p ON cl.cell = p.p_cell AND p.prn <= 4, q
    ) WHERE rank <= 10
    """,
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic 16-centroid codebook (seed vectors), nearest-cell
    assignment, 4-probe search — the inverted-file scale path where search cost
    is corpus·nprobe/K instead of the full scan."""
    return cosine_topk_ivf(_emb(spark, sf_dir), query_id=0, k=10, n_centroids=16, nprobe=4)


_IVF_INC_SQL = f"""
    WITH cent AS (
      SELECT vec_id AS cent_id, embedding AS ce
      FROM embeddings WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT 16
    ),
    base_assign AS (
      SELECT vec_id, embedding, CAST(cent_id AS INTEGER) AS cell FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_qcos_sql('e.embedding', 'c.ce')} DESC,
                                           c.cent_id) AS rn
        FROM embeddings e, cent c WHERE e.vec_id % 5 <> 0
      ) WHERE rn = 1
    ),
    app_assign AS (
      SELECT vec_id, embedding, CAST(cent_id AS INTEGER) AS cell FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_qcos_sql('e.embedding', 'c.ce')} DESC,
                                           c.cent_id) AS rn
        FROM embeddings e, cent c WHERE e.vec_id % 5 = 0
      ) WHERE rn = 1
    ),
    base_cd AS (
      SELECT cell, g.i AS dim,
             CAST(SUM(CAST(FLOOR(CAST(embedding[g.i] AS DOUBLE) * 1000000 + 0.5)
                           AS BIGINT)) AS BIGINT) AS sb
      FROM base_assign, unnest(generate_series(1, len(embedding))) AS g(i)
      GROUP BY 1, 2
    ),
    base_n AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS nb FROM base_assign GROUP BY 1),
    app_cd AS (
      SELECT cell, g.i AS dim,
             CAST(SUM(CAST(FLOOR(CAST(embedding[g.i] AS DOUBLE) * 1000000 + 0.5)
                           AS BIGINT)) AS BIGINT) AS sa
      FROM app_assign, unnest(generate_series(1, len(embedding))) AS g(i)
      GROUP BY 1, 2
    ),
    app_n AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS na FROM app_assign GROUP BY 1),
    shift AS (
      SELECT b.cell, n1.nb, COALESCE(n2.na, 0) AS na,
             CAST(MAX(ABS(b.sb // n1.nb
                          - (b.sb + COALESCE(a.sa, 0))
                            // (n1.nb + COALESCE(n2.na, 0)))) AS BIGINT)
               AS linf_centroid_shift_micros
      FROM base_cd b
      LEFT JOIN app_cd a ON a.cell = b.cell AND a.dim = b.dim
      JOIN base_n n1 ON n1.cell = b.cell
      LEFT JOIN app_n n2 ON n2.cell = b.cell
      GROUP BY 1, 2, 3
    )
    SELECT cell, nb AS n_base, na AS n_append, nb + na AS n_total,
           CAST(na * 1000000 // (nb + na) AS BIGINT) AS append_share_micros,
           linf_centroid_shift_micros,
           CAST(linf_centroid_shift_micros > 20000 AS INTEGER) AS needs_retrain
    FROM shift
    """


@query("ivf_incremental_update", _IVF_INC_SQL)
def ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance
    (operators/similarity.py::ivf_incremental_update): base snapshot
    (vec_id % 5 != 0) indexed once against a frozen 16-centroid
    codebook; the append batch (vec_id % 5 = 0) is assigned against the
    SAME broadcast codebook without rescanning the base; per-cell
    centroid drift comes from mergeable (cell, dim) integer-micro
    (sum, count) sketches and the L-inf mean shift flags cells for
    retraining — the streaming twin of ann_ivf_topk's index build."""
    from ..operators.similarity import ivf_incremental_update

    return ivf_incremental_update(
        _emb(spark, sf_dir), n_centroids=16, append_mod=5, drift_threshold_micros=20000
    )


_BITEXT_COS_U = (
    "CAST(FLOOR(list_dot_product(CAST(s.se AS DOUBLE[]), CAST(t.te AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(s.se AS DOUBLE[]), CAST(s.se AS DOUBLE[])))"
    "    * sqrt(list_dot_product(CAST(t.te AS DOUBLE[]), CAST(t.te AS DOUBLE[]))))"
    " * 1000000 + 0.5) AS BIGINT)"
)


@query(
    "bitext_margin_mining",
    f"""
    WITH wb AS (
      SELECT vec_id, label, embedding, CAST({_BUCKET_SQL} AS INTEGER) AS bucket
      FROM embeddings
    ),
    src AS (SELECT vec_id AS src_id, embedding AS se, bucket FROM wb WHERE label = 0),
    tgt AS (SELECT vec_id AS tgt_id, embedding AS te, bucket FROM wb WHERE label = 1),
    cands AS (
      SELECT s.src_id, t.tgt_id, {_BITEXT_COS_U} AS cos_u
      FROM src s JOIN tgt t USING (bucket)
    ),
    nx AS (
      SELECT src_id, CAST(SUM(cos_u) AS BIGINT) AS sx,
             CAST(COUNT(*) AS BIGINT) AS kx
      FROM (
        SELECT src_id, cos_u,
               row_number() OVER (PARTITION BY src_id
                                  ORDER BY cos_u DESC, tgt_id) AS rn
        FROM cands
      ) WHERE rn <= 4 GROUP BY 1
    ),
    ny AS (
      SELECT tgt_id, CAST(SUM(cos_u) AS BIGINT) AS sy,
             CAST(COUNT(*) AS BIGINT) AS ky
      FROM (
        SELECT tgt_id, cos_u,
               row_number() OVER (PARTITION BY tgt_id
                                  ORDER BY cos_u DESC, src_id) AS rn
        FROM cands
      ) WHERE rn <= 4 GROUP BY 1
    ),
    scored AS (
      SELECT c.src_id, c.tgt_id, c.cos_u,
             CASE WHEN n1.sx * n2.ky + n2.sy * n1.kx <= 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST((CAST(c.cos_u AS HUGEINT) * 2 * n1.kx * n2.ky * 1000000)
                       // (n1.sx * n2.ky + n2.sy * n1.kx) AS BIGINT) END
               AS margin_micros
      FROM cands c JOIN nx n1 USING (src_id) JOIN ny n2 USING (tgt_id)
    )
    SELECT src_id, tgt_id, cos_u AS cos_micros, margin_micros,
           CAST(margin_micros > 1050000 AS INTEGER) AS mined
    FROM (
      SELECT *, row_number() OVER (PARTITION BY src_id
                                   ORDER BY margin_micros DESC, tgt_id) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix criterion; operators/similarity.py::
    bitext_margin_mining): cross-label candidate pairs blocked by the
    sign-LSH bucket, cosine scored in integer micros, each side's k-NN
    neighborhood mass computed at actual candidate counts, exact-rational
    margin, per-source argmax above the 1.05 ratio cut — the hub-robust
    parallel-pair miner raw cosine thresholds cannot be."""
    from ..operators.similarity import bitext_margin_mining

    return bitext_margin_mining(
        _emb(spark, sf_dir), src_label=0, tgt_label=1, k=4, bits=8
    )


@query(
    "ann_pandas_udf_scores",
    f"SELECT vec_id, label, score FROM ({_SCORED_SQL})",
)
def ann_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched scorer (mapInPandas). numpy float64 matches the SQL fold
    after 1e-6 quantization."""
    return cosine_scores_pandas_udf(_emb(spark, sf_dir), query_id=0)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_HIT_COLS = ",\n           ".join(
    "CAST(len(list_filter(words, w -> w IN ({}))) AS INTEGER) AS {}_hits".format(
        ", ".join("'" + m.replace("'", "''") + "'" for m in LANG_MARKERS[lg]), lg
    )
    for lg in LANG_MARKERS
)
_BEST = "GREATEST(" + ", ".join(f"{lg}_hits" for lg in LANG_MARKERS) + ")"
_PRED_CASE = (
    "CASE "
    + " ".join(f"WHEN {lg}_hits = {_BEST} AND {_BEST} > 0 THEN '{lg}'" for lg in LANG_MARKERS)
    + " ELSE 'und' END"
)


@query(
    "text_language_id",
    f"""
    WITH scored AS (
      SELECT doc_id,
           {_HIT_COLS}
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
    )
    SELECT doc_id, {_PRED_CASE} AS predicted_lang,
           {", ".join(f"{lg}_hits" for lg in LANG_MARKERS)}
    FROM scored
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(_docs(spark, sf_dir))


_STOP = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])


@query(
    "text_quality_scores",
    f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(LENGTH(text) AS INTEGER) AS n_chars,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
             CAST(LENGTH(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' '))
               AS avg_word_len,
             CAST(len(list_filter(string_split(text, ' '), w -> w IN ({_STOP}))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stopword_ratio,
             CAST(len(regexp_extract_all(text, '[a-z]')) AS DOUBLE) / LENGTH(text) AS alpha_ratio
      FROM documents
    )
    SELECT doc_id, n_chars, n_words, avg_word_len, stopword_ratio, alpha_ratio,
           LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.4
             + stopword_ratio * 0.3 + alpha_ratio * 0.3 AS quality_score
    FROM feats
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(_docs(spark, sf_dir))


@query(
    "text_token_counts",
    r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER)
             AS bpe_ish_tokens,
           CAST(LENGTH(text) AS INTEGER) AS n_chars
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(_docs(spark, sf_dir))


@query(
    "text_fingerprints",
    r"""
    WITH base AS (
      SELECT doc_id,
             TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), withwords AS (
      SELECT doc_id, norm, string_split(norm, ' ') AS words FROM base
    )
    SELECT doc_id,
           md5(norm) AS content_fp,
           md5(array_to_string(list_sort(words), ' ')) AS bag_of_words_fp,
           CASE WHEN len(words) >= 4 THEN
             list_min(list_transform(generate_series(1, len(words) - 3),
               i -> md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])))
           ELSE NULL END AS min_shingle_fp
    FROM withwords
    """,
)
def text_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(_docs(spark, sf_dir))


@query(
    "text_repetition_scores",
    r"""
    WITH toks AS (
      SELECT d.doc_id, t.tok
      FROM documents d, UNNEST(string_split_regex(lower(d.text), '\s+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    per AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(FLOOR((1.0 - COUNT(*) / SUM(c)) * 1000000 + 0.5) AS BIGINT)
             AS dup_token_micros,
           CAST(FLOOR(MAX(c) / SUM(c) * 1000000 + 0.5) AS BIGINT)
             AS top_token_micros
    FROM per GROUP BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_scores(_docs(spark, sf_dir))


@query(
    "decontaminate_ngram_overlap",
    """
    WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
    sh AS (
      SELECT DISTINCT d.doc_id,
             d.words[i] || ' ' || d.words[i+1] || ' ' || d.words[i+2] AS s
      FROM w d, unnest(generate_series(1, len(d.words) - 2)) AS t(i)
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
    corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0)
    SELECT c.doc_id, COUNT(*) AS n_shared_ngrams
    FROM corpus c JOIN bench b ON c.s = b.s
    GROUP BY 1
    """,
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus docs sharing any lowercased word 3-gram with the held-out
    benchmark slice (doc_id % 97 == 0), with the shared-distinct-ngram count
    per contaminated doc. n=3 keeps the testdata overlap dense (171 docs at
    sf0.01); production uses the operator's longer default n-gram."""
    from ..operators.dedup import benchmark_overlap

    return benchmark_overlap(_docs(spark, sf_dir), n=3)


@query(
    "source_quota_cap",
    """
    SELECT doc_id, source, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 50
    """,
)
def source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus quota: cap any single source's contribution at 50
    docs, chosen by deterministic hash priority (md5 of the id — a stable,
    partitioning-invariant shuffle of each source's docs, not first-N file
    order). Ranking goes through ``grouped_topk``: a handful of source keys
    over a 100 TB corpus would funnel everything into |sources| window
    tasks — the pre-rank within (source, input-partition) caps each source's
    shuffle contribution at 50 rows per partition first. At 100 TB this is
    the domain-mixing cap that stops one crawl domain from dominating the
    training mix."""
    from ..operators.similarity import grouped_topk

    order = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    return grouped_topk(
        _docs(spark, sf_dir).select("doc_id", "source"), ["source"], 50, order, rank_name="rn"
    ).select("doc_id", "source", "rn")


# ---------------------------------------------------------------------------
# Multimodal (binary payload plumbing; decode is an Arrow-batched stub)
# ---------------------------------------------------------------------------


@query(
    "multimodal_payload_metadata",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS media_type,
           CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return payload_metadata(_docs(spark, sf_dir))


@query(
    "multimodal_decode_features",
    # The stub decode is closed-form over the payload bytes (sum % 65536):
    # testdata text is all-ASCII, so per-character ord() == per-byte value and
    # DuckDB can replay the exact checksum/width/height/n_frames arithmetic.
    """
    WITH c AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                  WHEN doc_id % 3 = 1 THEN 'audio/wav'
                  ELSE 'video/mp4' END AS media_type,
             CAST(list_aggregate(
                    list_transform(range(1, octet_length(encode(text)) + 1),
                                   i -> ord(text[i])), 'sum') AS BIGINT) % 65536
               AS checksum
      FROM documents
    )
    SELECT doc_id,
           media_type,
           16 + checksum % 64 AS width,
           16 + (checksum // 64) % 64 AS height,
           CASE WHEN media_type = 'image/png' THEN 1
                ELSE 1 + checksum % 30 END AS n_frames,
           checksum
    FROM c
    """,
)
def mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_features(attach_binary_payload(_docs(spark, sf_dir)))


# ---------------------------------------------------------------------------
# Dedup clusters: connected components over the MinHash near-dup pair graph
# (iterative min-label propagation; oracle = recursive CTE transitive closure)
# ---------------------------------------------------------------------------


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({ORACLE_MINHASH}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, label) AS (
      SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.label
      FROM edges e JOIN reach r ON e.v = r.u
    )
    SELECT u AS node, MIN(label) AS component
    FROM reach GROUP BY u
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate clusters (one component id per doc; the
    component id doubles as the representative: min doc_id in the cluster).
    The pair set is persisted before the iterative loop so the full
    MinHash→LSH→verify pipeline runs once, not once per CC round."""
    from ..operators.graph import connected_components

    pairs = minhash_near_duplicates(_docs(spark, sf_dir))  # CC/PR/tri checkpoint internally
    return connected_components(pairs)


# ---------------------------------------------------------------------------
# End-to-end training-corpus pipeline: exact-dedup → language-ID → quality
# gate → per-language token accounting. The composition a 100 TB pretraining
# ingest runs nightly; every stage is the already-oracle-checked operator, so
# the composed result is itself oracle-checked end-to-end.
# ---------------------------------------------------------------------------

_Q_FEATS_SQL = f"""
      SELECT doc_id, words, text,
             LEAST(CAST(len(words) AS DOUBLE) / 100.0, 1.0) * 0.4
               + (CAST(len(list_filter(words, w -> w IN ({_STOP}))) AS DOUBLE)
                  / len(words)) * 0.3
               + (CAST(len(regexp_extract_all(text, '[a-z]')) AS DOUBLE)
                  / LENGTH(text)) * 0.3 AS q
      FROM base
"""


@query(
    "training_corpus_pipeline",
    rf"""
    WITH reps AS (
      SELECT md5(text) AS content_hash, MIN(doc_id) AS kept_id
      FROM documents GROUP BY 1
    ),
    base AS (
      SELECT d.doc_id, d.text, string_split(d.text, ' ') AS words
      FROM documents d JOIN reps r ON d.doc_id = r.kept_id
    ),
    lang AS (
      SELECT doc_id, {_PRED_CASE} AS predicted_lang FROM (
        SELECT doc_id, {_HIT_COLS} FROM base
      )
    ),
    qual AS ({_Q_FEATS_SQL}),
    tok AS (
      SELECT doc_id,
             CAST(len(words) AS INTEGER) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                  AS INTEGER) AS bpe_ish_tokens
      FROM base
    )
    SELECT l.predicted_lang, COUNT(*) AS n_docs,
           CAST(SUM(t.ws_tokens) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(t.bpe_ish_tokens) AS BIGINT) AS total_bpe_ish_tokens,
           CAST(SUM(CAST(FLOOR(q.q * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_quality_micros
    FROM lang l
    JOIN qual q ON l.doc_id = q.doc_id
    JOIN tok t ON l.doc_id = t.doc_id
    WHERE l.predicted_lang <> 'und' AND q.q >= 0.2
    GROUP BY 1
    """,
)
def training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus-cleaning pass over ``documents``: keep one copy per
    exact-content hash (min doc_id), drop language-unidentifiable and
    low-quality docs, then account tokens per language. Quality is summed in
    integer micro-units so the aggregate is order-independent (per-doc doubles
    are already bit-identical across engines; their float SUM would not be).
    One doc_id-keyed shuffle joins the three per-doc feature passes; the
    md5 groupBy is the only content-keyed shuffle."""
    docs = _docs(spark, sf_dir)
    kept = docs.join(
        exact_duplicate_groups(docs).select(F.col("representative_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    lang = language_id(kept).select("doc_id", "predicted_lang")
    qual = quality_scores(kept).select("doc_id", "quality_score")
    tok = token_counts(kept).select("doc_id", "ws_tokens", "bpe_ish_tokens")
    return (
        lang.join(qual, "doc_id")
        .join(tok, "doc_id")
        .filter((F.col("predicted_lang") != "und") & (F.col("quality_score") >= 0.2))
        .groupBy("predicted_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").cast("bigint").alias("total_ws_tokens"),
            F.sum("bpe_ish_tokens").cast("bigint").alias("total_bpe_ish_tokens"),
            F.sum(F.floor(F.col("quality_score") * 1000000 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("sum_quality_micros"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic sampling (reproducible splits — no seed, no partitioning
# sensitivity; the decision is a pure function of the row key)
# ---------------------------------------------------------------------------


@query(
    "sample_hash_deterministic",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '4'
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~4/16 deterministic sample of orders keyed on orderkey — identical
    membership on every engine, run, and partitioning."""
    from ..operators.sampling import hash_sample

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    return hash_sample(o, "o_orderkey", 4).select("o_orderkey", "o_custkey", "o_totalprice")


@query(
    "sample_stratified_corpus",
    """
    SELECT doc_id, lang, source
    FROM documents
    WHERE CASE WHEN lang = 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
               ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-rebalancing stratified sample: dominant language keeps 2/16,
    everything else 8/16 — the corpus-balancing pass, still deterministic."""
    from ..operators.sampling import stratified_hash_sample

    d = _docs(spark, sf_dir)
    return stratified_hash_sample(d, "doc_id", "lang", {"en": 2}, default=8).select(
        "doc_id", "lang", "source"
    )


# ---------------------------------------------------------------------------
# Round-2 corpus-hygiene additions: boilerplate-span gating, unigram-LM
# scoring, fuzzy entity matching, batch kNN join
# ---------------------------------------------------------------------------


@query(
    "text_boilerplate_flags",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT DISTINCT d.doc_id,
             d.ws[i] || ' ' || d.ws[i+1] || ' ' || d.ws[i+2] || ' '
               || d.ws[i+3] || ' ' || d.ws[i+4] AS sh
      FROM w d, unnest(generate_series(1, len(d.ws) - 4)) AS t(i)
    ),
    freq AS (
      SELECT doc_id, COUNT(*) OVER (PARTITION BY sh) >= 3 AS is_boiler FROM sh
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate
      FROM freq GROUP BY 1
    )
    SELECT doc_id, n_spans, n_boilerplate,
           CAST(FLOOR(CAST(n_boilerplate AS DOUBLE) / n_spans * 1000000 + 0.5) AS BIGINT)
             AS boilerplate_micros,
           CAST(n_boilerplate AS DOUBLE) / n_spans <= 0.5 AS keep
    FROM per_doc
    """,
)
def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-span gating (C4-style, span-wise): 5-gram spans shared by
    >= 3 distinct docs are boilerplate; docs over 50% boilerplate are dropped."""
    from ..operators.text_analysis import boilerplate_flags

    return boilerplate_flags(_docs(spark, sf_dir))


@query(
    "text_unigram_lm_score",
    """
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    wc AS (SELECT doc_id, w, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
    cc AS (SELECT w, SUM(cnt) AS cw FROM wc GROUP BY 1),
    tot AS (SELECT SUM(cw) AS tot FROM cc),
    probs AS (
      SELECT w, CAST(FLOOR(-log10(CAST(cw AS DOUBLE) / tot) * 1000000 + 0.5) AS BIGINT)
               AS nl_u
      FROM cc, tot
    )
    SELECT wc.doc_id, CAST(SUM(wc.cnt) AS BIGINT) AS n_tokens,
           CAST(SUM(wc.cnt * p.nl_u) AS BIGINT) AS sum_neglog_micros,
           CAST(SUM(wc.cnt * p.nl_u) AS DOUBLE) / SUM(wc.cnt) / 1000000.0 AS avg_neglog10_p
    FROM wc JOIN probs p ON wc.w = p.w
    GROUP BY 1
    """,
)
def text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM perplexity filter (KenLM stand-in): mean
    -log10 p(token) per doc, integer-micro-unit accumulation (order-free)."""
    from ..operators.text_analysis import unigram_lm_scores

    return unigram_lm_scores(_docs(spark, sf_dir))


@query(
    "fuzzy_part_names",
    """
    WITH t AS (SELECT DISTINCT p_name AS s FROM part),
    tb AS (SELECT s, string_split(s, ' ')[1] AS blk FROM t)
    SELECT a.s AS name_a, b.s AS name_b,
           CAST(levenshtein(a.s, b.s) AS INTEGER) AS distance
    FROM tb a JOIN tb b ON a.blk = b.blk AND a.s < b.s
    WHERE levenshtein(a.s, b.s) <= 4
    """,
)
def fuzzy_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the distinct part-name domain: first-token
    blocking + Levenshtein <= 4 (both engines' built-in edit distance)."""
    from ..operators.fuzzy import fuzzy_match_pairs

    part = load_tables(spark, sf_dir, ("part",))["part"]
    return fuzzy_match_pairs(part, "p_name", max_distance=4)


@query(
    "knn_join_exact",
    """
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.q_id, e.vec_id, e.label,
             FLOOR(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))))
               * 1000000 + 0.5) / 1000000.0 AS score
      FROM embeddings e, q
      WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, label, score, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN join: 8 query vectors x exact cosine top-5 in one pass,
    ranked via grouped_topk (no per-query whole-corpus window funnel)."""
    from ..operators.similarity import knn_join

    return knn_join(_emb(spark, sf_dir), n_queries=8, k=5)


@query(
    "pack_training_sequences",
    """
    WITH t AS (
      SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM t
    )
    SELECT doc_id, source, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS start_offset,
           CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / 512) AS BIGINT) AS chunk_idx,
           CAST((cum - n_tokens) % 512 AS BIGINT) AS chunk_offset
    FROM c
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing: per-source running token offsets -> chunk
    assignment (capacity 512), one partitioned-window shuffle."""
    from ..operators.packing import pack_training_sequences

    return pack_training_sequences(_docs(spark, sf_dir), capacity=512)


@query(
    "training_corpus_pipeline_v2",
    """
    WITH reps AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT DISTINCT d.doc_id,
             d.ws[i] || ' ' || d.ws[i+1] || ' ' || d.ws[i+2] || ' '
               || d.ws[i+3] || ' ' || d.ws[i+4] AS sh
      FROM ws d, unnest(generate_series(1, len(d.ws) - 4)) AS t(i)
    ),
    boiler AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) <= 0.5
               AS keep
      FROM (SELECT doc_id, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh)
      GROUP BY 1
    ),
    w AS (SELECT doc_id, unnest(ws) AS w FROM ws),
    wc AS (SELECT doc_id, w, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
    cc AS (SELECT w, SUM(cnt) AS cw FROM wc GROUP BY 1),
    tot AS (SELECT SUM(cw) AS tot FROM cc),
    probs AS (
      SELECT w, CAST(FLOOR(-log10(CAST(cw AS DOUBLE) / tot) * 1000000 + 0.5) AS BIGINT)
               AS nl_u
      FROM cc, tot
    ),
    lm AS (
      SELECT wc.doc_id,
             CAST(SUM(wc.cnt * p.nl_u) AS DOUBLE) / SUM(wc.cnt) / 1000000.0 AS score
      FROM wc JOIN probs p ON wc.w = p.w GROUP BY 1
    ),
    gated AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d
      JOIN reps r ON d.doc_id = r.doc_id
      LEFT JOIN boiler b ON d.doc_id = b.doc_id
      JOIN lm ON d.doc_id = lm.doc_id
      WHERE COALESCE(b.keep, TRUE) AND lm.score <= 1.48
    ),
    quota AS (
      SELECT doc_id, source, text FROM (
        SELECT *, row_number() OVER (PARTITION BY source
                                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM gated
      ) WHERE rn <= 50
    ),
    packed AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
               OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM quota
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(FLOOR(CAST(MAX(cum) - 1 AS DOUBLE) / 512) + 1 AS BIGINT) AS n_chunks
    FROM packed
    GROUP BY 1
    """,
)
def training_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-2 end-to-end corpus pass, composing the modern pipeline:
    exact dedup -> boilerplate-span gate (corpus-level 5-gram doc frequency)
    -> unigram-LM quality gate (corpus-trained, score <= 1.48) -> per-source
    quota cap (hash-priority 50) -> sequence packing (capacity 512) ->
    per-source accounting. Corpus-level stats (boilerplate doc-freq, LM
    model) are computed over the FULL corpus; gates then filter the deduped
    stream — the realistic ordering for a 100 TB pretraining build."""
    from ..operators.packing import pack_training_sequences
    from ..operators.similarity import grouped_topk
    from ..operators.text_analysis import boilerplate_flags, unigram_lm_scores

    docs = _docs(spark, sf_dir)
    kept = docs.join(
        exact_duplicate_groups(docs).select(F.col("representative_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    bf = boilerplate_flags(docs).select("doc_id", "keep")
    lm = unigram_lm_scores(docs).select("doc_id", "avg_neglog10_p")
    gated = (
        kept.join(bf, "doc_id", "left")
        .join(lm, "doc_id")
        .filter(F.coalesce(F.col("keep"), F.lit(True)) & (F.col("avg_neglog10_p") <= 1.48))
        .select("doc_id", "source", "text")
    )
    order = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    quota = grouped_topk(gated, ["source"], 50, order, rank_name="rn").select(
        "doc_id", "source", "text"
    )
    packed = pack_training_sequences(quota, capacity=512)
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (F.floor((F.max(F.col("start_offset") + F.col("n_tokens")) - 1) / 512) + 1)
        .cast("bigint")
        .alias("n_chunks"),
    )


_PQ_L2 = (
    "FLOOR((list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b})) * 1000000 + 0.5)"
)


@query(
    "ann_pq_adc_topk",
    f"""
    WITH subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
    cb AS (
      SELECT s.sub, e.vec_id AS cent_id,
             CAST(e.embedding[s.sub * 8 + 1 : s.sub * 8 + 8] AS DOUBLE[]) AS c_vec
      FROM embeddings e, subs s WHERE e.vec_id < 16
    ),
    sv AS (
      SELECT e.vec_id, s.sub,
             CAST(e.embedding[s.sub * 8 + 1 : s.sub * 8 + 8] AS DOUBLE[]) AS v_sub
      FROM embeddings e, subs s
    ),
    codes AS (
      SELECT vec_id, sub, CAST(cent_id AS INTEGER) AS code FROM (
        SELECT sv.vec_id, sv.sub, cb.cent_id,
               row_number() OVER (
                 PARTITION BY sv.vec_id, sv.sub
                 ORDER BY {_PQ_L2.format(a="sv.v_sub", b="cb.c_vec")}, cb.cent_id) AS rn
        FROM sv JOIN cb ON sv.sub = cb.sub
      ) WHERE rn = 1
    ),
    dt AS (
      SELECT cb.sub, CAST(cb.cent_id AS INTEGER) AS code,
             CAST({_PQ_L2.format(a="q.q_sub", b="cb.c_vec")} AS BIGINT) AS qd2
      FROM (SELECT sub, v_sub AS q_sub FROM sv WHERE vec_id = 0) q
      JOIN cb ON q.sub = cb.sub
    ),
    approx AS (
      SELECT c.vec_id, CAST(SUM(dt.qd2) AS DOUBLE) / 1000000.0 AS approx_d2
      FROM codes c JOIN dt ON c.sub = dt.sub AND c.code = dt.code
      GROUP BY 1
    )
    SELECT vec_id, label, approx_d2, CAST(rank AS INTEGER) AS rank FROM (
      SELECT a.vec_id, e.label, a.approx_d2,
             row_number() OVER (ORDER BY a.approx_d2, a.vec_id) AS rank
      FROM approx a JOIN embeddings e ON a.vec_id = e.vec_id
    ) WHERE rank <= 10
    """,
)
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search: 8x8-dim subspaces, 16 centroids each
    (4-byte codes), query-side distance table, exact-integer micro-unit
    accumulation. The FAISS-style memory-resident index path for 10^9
    vectors."""
    from ..operators.similarity import pq_topk

    return pq_topk(_emb(spark, sf_dir), query_id=0, k=10)


@query(
    "f_array_functions",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
           CAST(FLOOR(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])) * 1000000 + 0.5)
                AS BIGINT) AS l2sq_micros,
           CAST(FLOOR(CAST(list_min(embedding) AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
             AS min_micros,
           CAST(FLOOR(CAST(list_max(embedding) AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
             AS max_micros
    FROM embeddings
    """,
)
def f_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as a first-class surface: size, lambda
    filter, fold (order-stable double dot product), element min/max — all
    whole-stage-codegen projections, zero shuffles."""
    from ..operators.similarity import dot_product

    return _emb(spark, sf_dir).select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.floor(dot_product("embedding", "embedding") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("l2sq_micros"),
        F.floor(F.array_min("embedding").cast("double") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("min_micros"),
        F.floor(F.array_max("embedding").cast("double") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("max_micros"),
    )


# ---------------------------------------------------------------------------
# Training-example assembly (transcripts + contrastive negatives) and
# embedding QA (norm histogram)
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("events",))["events"]


@query(
    "sft_transcript_assembly",
    """
    SELECT user_id,
           string_agg(event_type, '|' ORDER BY ts, event_id) AS transcript,
           COUNT(*) AS n_events,
           MIN(ts) AS started_at,
           MAX(ts) AS ended_at
    FROM events
    GROUP BY user_id
    """,
)
def sft_transcript_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT corpus assembly: per-conversation ordered transcript. One shuffle
    on the conversation key; ``array_sort`` over (ts, event_id) structs makes
    the sequence deterministic regardless of partition interleaving (bare
    ``collect_list`` is partition-ordered, i.e. unstable). Per-key state is
    bounded by conversation length, so the shape holds at corpus scale."""
    from ..operators.assembly import assemble_transcripts

    return assemble_transcripts(_events(spark, sf_dir), key="user_id")


@query(
    "contrastive_negative_pairs",
    """
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    a AS (
      SELECT d.doc_id AS anchor_id, d.lang AS anchor_lang, t.j AS neg_rank,
             CAST(concat('0x', substr(md5(d.doc_id || ':' || t.j), 1, 15))
                  AS BIGINT) AS raw,
             n.n_docs
      FROM documents d, n, unnest([0, 1, 2, 3]) AS t(j)
    ),
    w AS (
      SELECT anchor_id, anchor_lang, neg_rank,
             (anchor_id + 1 + (raw % (n_docs - 1))) % n_docs AS neg_id
      FROM a
    )
    SELECT w.anchor_id, w.neg_rank, w.neg_id, w.anchor_lang,
           d.lang AS neg_lang,
           w.anchor_lang <> d.lang AS is_cross_lang,
           d.source AS neg_source
    FROM w JOIN documents d ON d.doc_id = w.neg_id
    """,
)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative mining: 4 md5-derived negatives per
    anchor, no RNG, no driver collect (corpus size is a broadcast 1-row
    count); the feature join back to documents is a plain shuffle equi-join.
    offset = 1 + md5 % (n-1) guarantees neg != anchor. Reproducible across
    engines/partitionings — the resumability property a training pipeline
    needs."""
    from ..operators.assembly import negative_pairs

    return negative_pairs(_docs(spark, sf_dir), k=4)


@query(
    "embedding_norm_histogram",
    """
    WITH s AS (
      SELECT label,
             CAST(FLOOR(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))
                        * 1000000 + 0.5) AS BIGINT) AS sumsq_micro
      FROM embeddings
    )
    SELECT label, sumsq_micro // 1000000 AS norm_sq_bucket,
           COUNT(*) AS n_vectors,
           MIN(sumsq_micro) AS min_sumsq_micro,
           MAX(sumsq_micro) AS max_sumsq_micro
    FROM s
    GROUP BY 1, 2
    """,
)
def embedding_norm_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA: per-label histogram of squared L2 norms (outlier / dead
    vector detection before ANN indexing). Micro-unit quantized fold (the
    ``f_array_functions`` idiom) then an integer groupBy — one shuffle whose
    key count is |labels| x |buckets|, both O(1) in corpus size after the
    map-side partial aggregate."""
    from ..operators.similarity import dot_product

    e = _emb(spark, sf_dir)
    sumsq = (
        F.floor(dot_product("embedding", "embedding") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("sumsq_micro")
    )
    s = e.select("label", sumsq)
    return s.groupBy(
        "label",
        F.floor(F.col("sumsq_micro") / F.lit(1000000)).cast("bigint").alias("norm_sq_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("sumsq_micro").alias("min_sumsq_micro"),
        F.max("sumsq_micro").alias("max_sumsq_micro"),
    )


@query(
    "tokenize_encode_ids",
    """
    WITH counts AS (
      SELECT w AS token, COUNT(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY 1
    ),
    vocab AS (
      SELECT token, CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER)
               AS token_id
      FROM counts
      QUALIFY token_id <= 256
    ),
    toks AS (
      SELECT d.doc_id, d.ws[i] AS token, i AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d,
           unnest(generate_series(1, len(d.ws))) AS t(i)
    )
    SELECT doc_id,
           string_agg(CAST(COALESCE(v.token_id, 0) AS VARCHAR), '|' ORDER BY pos)
             AS token_ids,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unk
    FROM toks LEFT JOIN vocab v USING (token)
    GROUP BY doc_id
    """,
)
def tokenize_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer encode stage (operators/text_analysis.py::encode_token_ids):
    corpus-frequency vocabulary via distributed top-k, broadcast onto the
    exploded token stream, sequences reassembled order-stable. The pipeline
    step between text hygiene and sequence packing."""
    from ..operators.text_analysis import encode_token_ids

    return encode_token_ids(_docs(spark, sf_dir), vocab_size=256)


@query(
    "curriculum_length_buckets",
    """
    WITH q AS (
      SELECT quantile_cont(n_chars, 0.25) AS q1,
             quantile_cont(n_chars, 0.50) AS q2,
             quantile_cont(n_chars, 0.75) AS q3
      FROM documents
    ),
    b AS (
      SELECT d.n_chars,
             CASE WHEN d.n_chars <= q.q1 THEN 0
                  WHEN d.n_chars <= q.q2 THEN 1
                  WHEN d.n_chars <= q.q3 THEN 2
                  ELSE 3 END AS length_bucket
      FROM documents d, q
    )
    SELECT length_bucket, COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM b GROUP BY 1
    """,
)
def curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing (operators/packing.py::length_quantile_buckets):
    exact quartile boundaries from one two-phase keyless aggregate, broadcast
    back for a projection-only assignment — the batch-shape grouping step a
    training scheduler needs, with no corpus-wide window or sort."""
    from ..operators.packing import length_quantile_buckets

    return length_quantile_buckets(_docs(spark, sf_dir), col="n_chars")


@query(
    "dedup_incremental_batch",
    """
    WITH seen AS (
      SELECT DISTINCT md5(text) AS content_hash
      FROM documents WHERE doc_id % 3 <> 0
    ),
    newb AS (
      SELECT doc_id, md5(text) AS content_hash
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT n.content_hash, MIN(n.doc_id) AS representative_id,
           COUNT(*) AS n_in_batch
    FROM newb n LEFT JOIN seen s USING (content_hash)
    WHERE s.content_hash IS NULL
    GROUP BY 1
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental dedup (operators/dedup.py::incremental_new_content):
    the accumulated corpus (docs with doc_id%3!=0 here) contributes only its
    distinct digests; the incoming batch LEFT ANTI joins on digest and
    collapses to one representative per genuinely-new content hash. At scale
    the digest table is bucketed so repeated ingests shuffle only the batch."""
    from ..operators.dedup import incremental_new_content

    d = _docs(spark, sf_dir)
    return incremental_new_content(
        d.filter(F.col("doc_id") % 3 == 0), d.filter(F.col("doc_id") % 3 != 0)
    )


@query(
    "mixture_resample_sources",
    """
    WITH counts AS (
      SELECT source, COUNT(*) AS n_s,
             CAST(1 + CAST(substr(source, 4, 10) AS INTEGER) % 4 AS BIGINT) AS w
      FROM documents GROUP BY 1
    ),
    totals AS (SELECT SUM(n_s) AS n_total, SUM(w) AS sum_w FROM counts),
    rates AS (
      SELECT c.source, c.n_s,
             CAST(LEAST(CAST(1000000 AS BIGINT),
                        (1000000 * 1 * t.n_total * c.w) // (2 * t.sum_w * c.n_s))
                  AS BIGINT) AS rate_micro
      FROM counts c, totals t
    ),
    kept AS (
      SELECT d.source, COUNT(*) AS n_kept
      FROM documents d JOIN rates r USING (source)
      WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 1000000 < r.rate_micro
      GROUP BY 1
    )
    SELECT r.source, r.n_s AS n_in, r.rate_micro,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM rates r LEFT JOIN kept k USING (source)
    """,
)
def mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture resampling (operators/sampling.py::mixture_resample_summary):
    proportional per-source allocation to target weights, realized by a
    deterministic md5 draw against an exact-bigint keep rate — no float
    crosses the engine boundary, reruns are bit-stable. One count aggregate
    plus one scan; the rate table broadcasts."""
    from ..operators.sampling import mixture_resample_summary

    return mixture_resample_summary(_docs(spark, sf_dir), out_num=1, out_den=2)


@query(
    "dedup_span_exact",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sp AS (
      SELECT w.doc_id, md5(array_to_string(w.ws[i*20+1 : i*20+20], ' ')) AS h
      FROM w, unnest(generate_series(0, CAST(len(w.ws) // 20 AS INT) - 1)) AS t(i)
    ),
    freq AS (SELECT h, COUNT(*) AS c FROM sp GROUP BY 1)
    SELECT sp.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           CAST(FLOOR(CAST(SUM(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
                      * 1000000 / COUNT(*)) AS BIGINT) AS dup_ratio_micros
    FROM sp JOIN freq f USING (h)
    GROUP BY 1
    """,
)
def dedup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (paragraph-analog) exact dedup over fixed 20-word spans
    (operators/dedup.py::span_duplicate_stats) — the RefinedWeb/CCNet
    line-dedup signal. Two digest-keyed shuffles regardless of corpus size;
    raw text never shuffles."""
    from ..operators.dedup import span_duplicate_stats

    return span_duplicate_stats(_docs(spark, sf_dir), n_words=20)


@query(
    "dedup_substring_coverage",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    wn AS (SELECT doc_id, ws, len(ws) AS n_w FROM w WHERE len(ws) >= 10),
    wins AS (
      SELECT doc_id, g.i AS pos,
             md5(array_to_string(ws[g.i + 1 : g.i + 10], ' ')) AS h
      FROM wn, unnest(generate_series(0, n_w - 10)) AS g(i)
    ),
    dup AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM wins
      ) WHERE rn > 1
    ),
    brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER
                    (PARTITION BY doc_id ORDER BY pos) > 10
                  THEN 1 ELSE 0 END AS brk
      FROM dup
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
      FROM brk
    ),
    per_isl AS (
      SELECT doc_id, isl_id, MIN(pos) AS a, MAX(pos) AS b,
             CAST(COUNT(*) AS BIGINT) AS nw
      FROM isl GROUP BY 1, 2
    ),
    per_doc AS (
      SELECT doc_id, SUM(nw) AS n_dup_windows,
             CAST(COUNT(*) AS BIGINT) AS n_dup_runs,
             CAST(SUM(b - a + 10) AS BIGINT) AS covered_dup_words,
             CAST(MAX(b - a + 10) AS BIGINT) AS max_dup_run_words
      FROM per_isl GROUP BY 1
    )
    SELECT wn.doc_id,
           CAST(wn.n_w - 10 + 1 AS BIGINT) AS n_windows,
           CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CAST(COALESCE(p.n_dup_runs, 0) AS BIGINT) AS n_dup_runs,
           CAST(COALESCE(p.covered_dup_words, 0) AS BIGINT) AS covered_dup_words,
           CAST(COALESCE(p.max_dup_run_words, 0) AS BIGINT) AS max_dup_run_words,
           CAST(COALESCE(p.covered_dup_words, 0) * 1000000 // wn.n_w AS BIGINT)
             AS dup_ratio_micros
    FROM wn LEFT JOIN per_doc p USING (doc_id)
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-granular exact-substring dedup coverage
    (operators/dedup.py::substring_dedup_coverage): SLIDING 10-word
    windows at every offset, keep-first-occurrence, overlapping
    removable windows merged into maximal runs — the Lee et al. 2022
    ExactSubstr dedup mode that dedup_span_exact only approximates at
    aligned-span granularity. One digest-keyed token-scale shuffle, then
    dup-mass-sized island analytics."""
    from ..operators.dedup import substring_dedup_coverage

    return substring_dedup_coverage(_docs(spark, sf_dir), n_words=10)


@query(
    "dedup_substring_rewrite",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    wn AS (SELECT doc_id, ws, len(ws) AS n_w FROM w WHERE len(ws) >= 10),
    wins AS (
      SELECT doc_id, g.i AS pos,
             md5(array_to_string(ws[g.i + 1 : g.i + 10], ' ')) AS h
      FROM wn, unnest(generate_series(0, n_w - 10)) AS g(i)
    ),
    dup AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM wins
      ) WHERE rn > 1
    ),
    brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER
                    (PARTITION BY doc_id ORDER BY pos) > 10
                  THEN 1 ELSE 0 END AS brk
      FROM dup
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
      FROM brk
    ),
    iv AS (
      SELECT doc_id, isl_id, MIN(pos) + 1 AS lo, MAX(pos) + 10 AS hi
      FROM isl GROUP BY 1, 2
    ),
    pos AS (
      SELECT wn.doc_id, wn.n_w, g.p FROM wn,
             unnest(generate_series(1, wn.n_w)) AS g(p)
    ),
    keptp AS (
      SELECT p.doc_id, p.p
      FROM pos p LEFT JOIN iv
        ON iv.doc_id = p.doc_id AND p.p BETWEEN iv.lo AND iv.hi
      WHERE iv.doc_id IS NULL
    ),
    clean AS (
      SELECT k.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_kept,
             md5(string_agg(wn.ws[k.p], ' ' ORDER BY k.p)) AS cleaned_hash
      FROM keptp k JOIN wn ON wn.doc_id = k.doc_id
      GROUP BY 1
    )
    SELECT wn.doc_id,
           CAST(wn.n_w AS BIGINT) AS n_words,
           CAST(wn.n_w - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed_words,
           CAST(COALESCE(c.n_kept, 0) AS BIGINT) AS n_kept_words,
           COALESCE(c.cleaned_hash, md5('')) AS cleaned_hash
    FROM wn LEFT JOIN clean c USING (doc_id)
    """,
)
def dedup_substring_rw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr corpus rewrite at position granularity
    (operators/dedup.py::substring_dedup_rewrite): words covered by
    removable (non-first-occurrence) sliding duplicated windows are
    dropped, documents re-assembled from survivors, output hash-verified
    (cleaned md5) without shipping text to the driver — the removal step
    whose report is dedup_substring_coverage. One token-scale digest
    shuffle + one doc-keyed rewrite join; the position filter is a pure
    expression against each doc's merged-interval array."""
    from ..operators.dedup import substring_dedup_rewrite

    return substring_dedup_rewrite(_docs(spark, sf_dir), n_words=10)


# deterministic per-doc URL synthesis (the documents table carries no URL
# column): scheme/www/port/trailing-slash/tracking-param variants are keyed
# off doc_id residues so every canonicalization rule fires on real rows and
# cross-doc collisions exist by construction (same source/lang/page slug)
_URL_SYNTH_SPARK = (
    "concat("
    " if(doc_id % 3 = 0, 'HTTPS://WWW.', 'https://'),"
    " source, '.example.com',"
    " if(doc_id % 4 = 0, ':443', ''),"
    " '/', lang, '/page-', cast(doc_id % 37 as string),"
    " if(doc_id % 2 = 0, '/', ''),"
    " case when doc_id % 5 = 0 then concat('?utm_source=feed&ref=rss&id=',"
    "   cast(doc_id % 37 as string))"
    "  when doc_id % 5 = 1 then concat('?id=', cast(doc_id % 37 as string),"
    "   '&utm_campaign=x')"
    "  else '' end,"
    " if(doc_id % 7 = 0, '#section-2', ''))"
)

_URL_SYNTH_SQL = """
      CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END
      || source || '.example.com'
      || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
      || '/' || lang || '/page-' || CAST(doc_id % 37 AS VARCHAR)
      || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN '?utm_source=feed&ref=rss&id=' || CAST(doc_id % 37 AS VARCHAR)
              WHEN doc_id % 5 = 1
              THEN '?id=' || CAST(doc_id % 37 AS VARCHAR) || '&utm_campaign=x'
              ELSE '' END
      || CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END
"""


@query(
    "url_canonical_dedup",
    f"""
    WITH raw AS (
      SELECT doc_id, ({_URL_SYNTH_SQL}) AS url FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
             regexp_replace(url, '#.*$', '') AS nofrag
      FROM raw
    ),
    comp AS (
      SELECT doc_id, url,
             lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      FROM parts
    ),
    hostp AS (
      SELECT *, lower(regexp_extract(rest, '^[^/?]+')) AS hostport FROM comp
    ),
    norm AS (
      SELECT doc_id, url, scheme,
             regexp_replace(regexp_replace(
               regexp_replace(hostport, '^www\\.', ''),
               ':443$', CASE WHEN scheme = 'https' THEN '' ELSE ':443' END),
               ':80$', CASE WHEN scheme = 'http' THEN '' ELSE ':80' END) AS host,
             substr(rest, length(hostport) + 1) AS pathq
      FROM hostp
    ),
    pq AS (
      SELECT doc_id, url, scheme, host,
             regexp_replace(regexp_extract(pathq, '^[^?]*'), '/+$', '') AS path,
             array_to_string(list_sort(list_filter(
               string_split(regexp_extract(pathq, '\\?(.*)$', 1), '&'),
               p -> p <> '' AND NOT (starts_with(p, 'utm_')
                    OR starts_with(p, 'ref=')
                    OR starts_with(p, 'fbclid=') OR starts_with(p, 'gclid=')
                    OR starts_with(p, 'mc_eid=')))), '&') AS kept
      FROM norm
    ),
    canon AS (
      SELECT doc_id, url AS raw_url,
             scheme || '://' || host || path
               || CASE WHEN kept <> '' THEN '?' || kept ELSE '' END
               AS canonical_url
      FROM pq
    )
    SELECT canonical_url,
           regexp_extract(canonical_url, '^[a-z0-9+.-]+://([^/?]+)', 1) AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_raw_variants,
           MIN(doc_id) AS representative_id
    FROM canon GROUP BY 1
    """,
)
def url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain-level dedup with RFC 3986 + crawl-pipeline
    canonicalization (operators/web.py::canonicalize_url /
    url_dedup_clusters): lowercase scheme+host, strip www./default
    port/fragment/trailing slash/tracking params, sort surviving query
    params, then ONE canonical-key aggregate. URLs are synthesized
    deterministically from doc_id residues (the corpus carries no URL
    column) so every rule fires on real rows. Scan-shaped: the cheapest
    dedup pass at crawl scale."""
    from ..operators.web import url_dedup_clusters

    docs = _docs(spark, sf_dir).withColumn("url", F.expr(_URL_SYNTH_SPARK))
    return url_dedup_clusters(docs, url_col="url")


@query(
    "tfidf_top_terms",
    """
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    wc AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS dfc FROM wc GROUP BY 1),
    n AS (SELECT COUNT(*) AS nd FROM documents),
    scored AS (
      SELECT wc.doc_id, wc.term, CAST(wc.tf AS BIGINT) AS tf,
             CAST(wc.tf * CAST(FLOOR(log10(CAST(n.nd AS DOUBLE) / d.dfc) * 1000000 + 0.5)
                               AS BIGINT) AS BIGINT) AS score_micros
      FROM wc JOIN dfreq d USING (term), n
    )
    SELECT doc_id, term, tf, score_micros, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score_micros DESC, term) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 TF-IDF terms (operators/text_analysis.py::tfidf_top_terms).
    IDF quantized to integer micro-units once per term; ranking is exact
    integer arithmetic. Vocabulary-sized idf table broadcasts; per-doc top-k
    via the bounded two-phase grouped_topk."""
    from ..operators.text_analysis import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


@query(
    "global_shuffle_buckets",
    """
    WITH keyed AS (
      SELECT doc_id,
             md5('shuffle42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM documents
    ),
    b AS (
      SELECT doc_id, shuffle_key,
             CAST(CAST(concat('0x', substr(shuffle_key, 1, 2)) AS BIGINT) AS INT) AS bucket
      FROM keyed
    )
    SELECT doc_id, bucket,
           CAST(row_number() OVER (PARTITION BY bucket ORDER BY shuffle_key, doc_id)
                AS BIGINT) AS pos_in_bucket,
           CAST(row_number() OVER (ORDER BY bucket, shuffle_key, doc_id)
                AS BIGINT) AS global_pos
    FROM b
    """,
)
def global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-shuffle
    (operators/sampling.py::shuffle_assignment): reproducible permutation via
    md5 bucket + in-bucket rank + broadcast prefix offsets — the oracle's
    single global ORDER BY is exactly what the two-phase plan avoids at
    100 TB."""
    from ..operators.sampling import shuffle_assignment

    return shuffle_assignment(_docs(spark, sf_dir), seed="shuffle42")


@query(
    "grouped_map_label_centroids",
    """
    WITH q AS (
      SELECT label, t.i AS dim,
             CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qv
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    s AS (SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS sd FROM q GROUP BY 1, 2),
    n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY 1),
    m AS (
      SELECT s.label, s.dim,
             CAST(FLOOR(CAST(s.sd AS DOUBLE) / n.n_vecs) AS BIGINT) AS mc
      FROM s JOIN n USING (label)
    )
    SELECT CAST(m.label AS INTEGER) AS label, n.n_vecs,
           CAST(MAX(CASE WHEN m.dim = 1 THEN m.mc END) AS BIGINT) AS c0_micros,
           CAST(MAX(CASE WHEN m.dim = 2 THEN m.mc END) AS BIGINT) AS c1_micros,
           CAST(SUM(m.mc * m.mc) AS BIGINT) AS centroid_sumsq
    FROM m JOIN n USING (label)
    GROUP BY 1, 2
    """,
)
def grouped_map_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow grouped-map surface (operators/grouped_map.py::label_centroids):
    per-label embedding centroid via applyInPandas. The kernel is
    deliberately SQL-expressible so the oracle hash-checks the Arrow
    plumbing itself (FlatMapGroupsInPandas, never BatchEvalPython);
    per-component micro-unit quantization makes the group fold exact-integer
    and partitioning-independent."""
    from ..operators.grouped_map import label_centroids

    return label_centroids(_emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# Semantic clustering / dedup: all-integer fixed-iteration Lloyd k-means over
# the embedding table (operators/clustering.py). Exact-integer arithmetic
# makes the whole iterative algorithm replayable in DuckDB, so even the
# ITERATIVE operator gets a value-hash oracle (d{i}/a{i}/c{i+1} CTE chain =
# distance pass / argmin assign / floor-mean recompute per Lloyd step).
# ---------------------------------------------------------------------------


def _kmeans_oracle_cte(k: int | str = 8, iters: int = 2, dim: int = 64) -> str:
    """``k`` may be an int or a SQL scalar expression (e.g. a subquery that
    derives k from the corpus size — the k∝n scale configuration)."""
    parts = [
        "eu AS (SELECT vec_id, list_transform(embedding,"
        " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS v"
        " FROM embeddings)",
        f"c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, v AS c FROM eu WHERE vec_id < {k})",
    ]
    for i in range(iters + 1):
        parts.append(
            f"d{i} AS (SELECT e.vec_id, c.cid,"
            f" CAST(list_aggregate(list_transform(range(1, {dim + 1}),"
            f" j -> (e.v[j] - c.c[j]) * (e.v[j] - c.c[j])), 'sum') AS BIGINT) AS dist_u"
            f" FROM eu e, c{i} c)"
        )
        parts.append(
            f"a{i} AS (SELECT vec_id, cid AS cluster, dist_u FROM"
            f" (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist_u, cid) AS rn"
            f" FROM d{i}) WHERE rn = 1)"
        )
        if i < iters:
            parts.append(
                f"c{i + 1} AS (SELECT cluster AS cid, list(coord ORDER BY pos) AS c FROM"
                f" (SELECT a.cluster, t.pos,"
                f" CAST(floor(CAST(SUM(e.v[t.pos]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS coord"
                f" FROM a{i} a JOIN eu e ON a.vec_id = e.vec_id,"
                f" unnest(generate_series(1, {dim})) AS t(pos)"
                f" GROUP BY a.cluster, t.pos) GROUP BY cluster)"
            )
    return "WITH " + ",\n    ".join(parts)


@query(
    "semantic_cluster_assign",
    _kmeans_oracle_cte()
    + "\n    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, dist_u FROM a2",
)
def semantic_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k=8, 2 Lloyd iterations, deterministic vec_id<k init) over
    embeddings; final per-vector assignment. Broadcast centroids, one keyed
    partial aggregate per iteration — O(n*dim) shuffle, cluster-scale-safe."""
    from ..operators.clustering import kmeans_assign

    return kmeans_assign(_emb(spark, sf_dir), k=8, iters=2)


@query(
    "semantic_dedup_reps",
    _kmeans_oracle_cte()
    + """
    SELECT CAST(cluster AS BIGINT) AS cluster, vec_id AS representative_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(inertia_u AS BIGINT) AS inertia_u
    FROM (
      SELECT cluster, vec_id, dist_u,
             row_number() OVER (PARTITION BY cluster ORDER BY dist_u, vec_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster) AS n_members,
             SUM(dist_u) OVER (PARTITION BY cluster) AS inertia_u
      FROM a2
    ) WHERE rn = 1
    """,
)
def semantic_dedup_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style representative selection: the member closest to its
    cluster centroid (vec_id tiebreak) survives; cluster size + inertia for
    curation diagnostics."""
    from ..operators.clustering import kmeans_representatives

    return kmeans_representatives(_emb(spark, sf_dir), k=8, iters=2)


# ---------------------------------------------------------------------------
# Corpus-construction additions (round 4): chunking, mixture budgeting,
# n-gram continuation stats, split auditing.
# ---------------------------------------------------------------------------


@query(
    "doc_chunking_overlap",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ws, len(string_split(text, ' ')) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, ws,
             CASE WHEN n <= 32 THEN 1
                  ELSE 1 + CAST(CEIL((n - 32) / 24.0) AS INT) END AS nc
      FROM t
    )
    SELECT doc_id,
           CAST(g.ci AS BIGINT) AS chunk_idx,
           CAST(1 + g.ci * 24 AS BIGINT) AS chunk_start,
           CAST(len(ws[1 + g.ci * 24 : g.ci * 24 + 32]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(ws[1 + g.ci * 24 : g.ci * 24 + 32], ' ') AS chunk_text
    FROM c, unnest(generate_series(0, nc - 1)) AS g(ci)
    """,
)
def doc_chunking_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (32-token windows, 8-token overlap): the RAG
    indexing / long-context splitting pass. Pure narrow map stage — zero
    shuffles at any scale."""
    from ..operators.packing import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_tokens=32, overlap=8)


@query(
    "mixture_token_budget_plan",
    """
    WITH per AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS actual_tokens
      FROM documents GROUP BY 1
    ),
    w AS (
      SELECT source, actual_tokens,
             CAST(FLOOR(sqrt(CAST(actual_tokens AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
               AS weight_mu
      FROM per
    ),
    t AS (SELECT CAST(SUM(weight_mu) AS BIGINT) AS total_mu FROM w)
    SELECT source, actual_tokens, weight_mu,
           CAST((CAST(100000 AS BIGINT) * weight_mu) // total_mu AS BIGINT)
             AS planned_tokens,
           CAST((LEAST((CAST(100000 AS BIGINT) * weight_mu) // total_mu,
                       actual_tokens) * 1000000) // actual_tokens AS BIGINT)
             AS sample_rate_micros
    FROM w, t
    """,
)
def mixture_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sqrt-temperature token-budget allocation across sources; exact-integer
    plan table (|sources| rows) from one partial-aggregated pass."""
    from ..operators.sampling import mixture_token_budget

    return mixture_token_budget(_docs(spark, sf_dir), budget_tokens=100_000)


@query(
    "ngram_continuation_topk",
    """
    WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
    pairs AS (
      SELECT w[i] || ' ' || w[i + 1] AS prefix, w[i + 2] AS next_word
      FROM ws, unnest(generate_series(1, len(w) - 2)) AS t(i)
    ),
    counts AS (
      SELECT prefix, next_word, CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs GROUP BY 1, 2
    )
    SELECT prefix, next_word, n, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY prefix ORDER BY n DESC, next_word) AS rank
      FROM counts
    ) WHERE rank <= 3
    """,
)
def ngram_continuation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-context next-token counts, top-3 continuations per context —
    n-gram LM statistics / memorization-audit raw material."""
    from ..operators.text_analysis import ngram_continuations

    return ngram_continuations(_docs(spark, sf_dir), prefix_n=2, top_k=3)


@query(
    "train_eval_split_counts",
    """
    WITH h AS (
      SELECT source,
             substr(md5('split42:' || CAST(doc_id AS VARCHAR)), 1, 2) AS hx
      FROM documents
    ),
    b AS (
      SELECT source,
             (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS bucket
      FROM h
    )
    SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
      SELECT source,
             CASE WHEN bucket < 25 THEN 'test'
                  WHEN bucket < 50 THEN 'val'
                  ELSE 'train' END AS split
      FROM b
    ) GROUP BY 1, 2
    """,
)
def train_eval_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-keyed 3-way split audit: per (source, split) doc counts. The
    assignment is a pure function of doc_id — growth-stable, leakage-free."""
    from ..operators.sampling import train_eval_split

    return train_eval_split(_docs(spark, sf_dir), val_pct=10, test_pct=10)


@query(
    "semantic_prune_pairs",
    _kmeans_oracle_cte()
    + f"""
    SELECT CAST(x.cluster AS BIGINT) AS cluster, x.vec_id AS vec_a, y.vec_id AS vec_b,
           FLOOR({_COS_SQL} * 1000000 + 0.5) / 1000000.0 AS score
    FROM a2 x
    JOIN a2 y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    JOIN embeddings a ON a.vec_id = x.vec_id
    JOIN embeddings b ON b.vec_id = y.vec_id
    WHERE FLOOR({_COS_SQL} * 1000000 + 0.5) / 1000000.0 >= 0.2
    """,
)
def semantic_prune_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup intra-cluster near-duplicate pairs: k-means bounds the
    all-pairs cosine work to within-cluster populations. NOTE: this row pins
    k=8 — the measured quadratic-at-scale configuration (SCALE.md: 137 s at
    the 10× probe vs 23.5 s with k∝n). It stays as the small-corpus baseline;
    ``semantic_prune_pairs_scaled`` below is the 100 TB form."""
    from ..operators.clustering import semantic_prune_pairs

    return semantic_prune_pairs(_emb(spark, sf_dir), k=8, iters=2, threshold=0.2)


_K_SCALED_SQL = "(SELECT CAST(CEIL(COUNT(*) / 50.0) AS BIGINT) FROM embeddings)"


@query(
    "semantic_prune_pairs_scaled",
    _kmeans_oracle_cte(k=_K_SCALED_SQL)
    + f"""
    SELECT CAST(x.cluster AS BIGINT) AS cluster, x.vec_id AS vec_a, y.vec_id AS vec_b,
           FLOOR({_COS_SQL} * 1000000 + 0.5) / 1000000.0 AS score
    FROM a2 x
    JOIN a2 y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    JOIN embeddings a ON a.vec_id = x.vec_id
    JOIN embeddings b ON b.vec_id = y.vec_id
    WHERE FLOOR({_COS_SQL} * 1000000 + 0.5) / 1000000.0 >= 0.2
    """,
)
def semantic_prune_pairs_scaled_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe SemDeDup configuration: k grows with the corpus
    (k = ⌈n/50⌉ → mean cluster population stays ~50 regardless of corpus
    size), so the within-cluster all-pairs join is O(n·pop), LINEAR in n —
    measured 23.5 s vs 137 s for fixed k=8 at the 10× probe (SCALE.md).
    The count() that sizes k is a metadata-only parquet action; in a real
    pipeline k comes from the corpus manifest. The oracle replays the same
    k∝n rule via a scalar subquery."""
    from ..operators.clustering import semantic_prune_pairs

    emb = _emb(spark, sf_dir)
    k = -(-emb.count() // 50)  # ceil(n / 50)
    return semantic_prune_pairs(emb, k=k, iters=2, threshold=0.2)


# ---------------------------------------------------------------------------
# Z-order layout key under the oracle gate: the Morton interleave that
# cluster_zorder range-partitions on (operators/maintenance.py) is pure
# arithmetic, so DuckDB replays it bit-for-bit — the layout optimizer's key
# derivation itself gets a value-hash row, not just the file-skipping test.
# ---------------------------------------------------------------------------


def _zorder_oracle_sql(cols: list, bits: int = 16) -> str:
    n = len(cols)
    scaled = []
    for i, c in enumerate(cols):
        scaled.append(
            f"CAST(FLOOR(CASE WHEN mx_{i} > mn_{i} THEN"
            f" (CAST({c} AS DOUBLE) - mn_{i}) / (mx_{i} - mn_{i})"
            f" ELSE 0.0 END * {(1 << bits) - 1}) AS BIGINT) AS s_{i}"
        )
    terms = [
        f"((s_{i} >> {b}) & 1) * {1 << (b * n + i)}"
        for b in range(bits)
        for i in range(n)
    ]
    mins = ", ".join(
        f"MIN(CAST({c} AS DOUBLE)) AS mn_{i}, MAX(CAST({c} AS DOUBLE)) AS mx_{i}"
        for i, c in enumerate(cols)
    )
    return (
        f"WITH st AS (SELECT {mins} FROM orders),\n"
        f"sc AS (SELECT o_orderkey, {', '.join(scaled)} FROM orders, st)\n"
        f"SELECT o_orderkey, CAST({' + '.join(terms)} AS BIGINT) AS z FROM sc"
    )


@query("zorder_key_orders", _zorder_oracle_sql(["o_custkey", "o_totalprice"]))
def zorder_key_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton key over (o_custkey, o_totalprice): min-max stats from one
    broadcast 1-row aggregate, interleave as codegen'd bit arithmetic —
    the scan-side derivation OPTIMIZE ZORDER clusters by."""
    from ..catalog import load_tables
    from ..operators.maintenance import with_z_value

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    z = with_z_value(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        ["o_custkey", "o_totalprice"],
    )
    return z.select("o_orderkey", F.col("_z").alias("z"))


# ---------------------------------------------------------------------------
# End-to-end corpus pipeline v3 (round 4): the modern curation chain with the
# semantic stage in it — exact dedup → SemDeDup prune (k-means + intra-cluster
# cosine, drop the higher id of each near-pair) → sliding-window chunking →
# leakage-free split assignment → per-(split, source) chunk/token accounting.
# One oracle replays the WHOLE composition including the iterative k-means.
# ---------------------------------------------------------------------------

_V3_SPLIT_B = (
    "(strpos('0123456789abcdef', substr(md5('split42:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5('split42:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)"
)

_V3_ORACLE = (
    _kmeans_oracle_cte()
    + f""",
    reps AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    prune AS (
      SELECT DISTINCT y.vec_id AS doc_id
      FROM a2 x JOIN a2 y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      JOIN embeddings a ON a.vec_id = x.vec_id
      JOIN embeddings b ON b.vec_id = y.vec_id
      WHERE FLOOR({_COS_SQL} * 1000000 + 0.5) / 1000000.0 >= 0.2
    ),
    surv AS (
      SELECT d.doc_id, d.source, string_split(d.text, ' ') AS ws,
             len(string_split(d.text, ' ')) AS n
      FROM documents d JOIN reps r ON d.doc_id = r.doc_id
      WHERE d.doc_id NOT IN (SELECT doc_id FROM prune)
    ),
    ch AS (
      SELECT doc_id, source,
             len(ws[1 + g.ci * 24 : g.ci * 24 + 32]) AS n_chunk_tokens
      FROM (SELECT *, CASE WHEN n <= 32 THEN 1
                           ELSE 1 + CAST(CEIL((n - 32) / 24.0) AS INT) END AS nc
            FROM surv),
           unnest(generate_series(0, nc - 1)) AS g(ci)
    ),
    sp AS (
      SELECT doc_id,
             CASE WHEN {_V3_SPLIT_B} < 25 THEN 'test'
                  WHEN {_V3_SPLIT_B} < 50 THEN 'val'
                  ELSE 'train' END AS split
      FROM surv
    )
    SELECT sp.split, ch.source,
           CAST(COUNT(DISTINCT ch.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(ch.n_chunk_tokens) AS BIGINT) AS total_chunk_tokens
    FROM ch JOIN sp ON ch.doc_id = sp.doc_id
    GROUP BY 1, 2
    """
)


@query("training_corpus_pipeline_v3", _V3_ORACLE)
def training_corpus_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v3 curation chain: exact dedup → SemDeDup prune (drop the higher id of
    each intra-cluster cosine near-pair) → 32/8 sliding-window chunking →
    hash-keyed split assignment → per-(split, source) accounting. Embeddings
    cover a subset of docs (realistic); uncovered docs pass the semantic
    stage untouched via the anti-join."""
    from ..operators.clustering import semantic_prune_pairs
    from ..operators.packing import chunk_documents
    from ..operators.sampling import split_column

    docs = _docs(spark, sf_dir)
    kept = docs.join(
        exact_duplicate_groups(docs).select(F.col("representative_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    prune = (
        semantic_prune_pairs(_emb(spark, sf_dir), k=8, iters=2, threshold=0.2)
        .select(F.col("vec_b").alias("doc_id"))
        .distinct()
    )
    surv = kept.join(prune, "doc_id", "left_anti")
    chunks = chunk_documents(surv, chunk_tokens=32, overlap=8)
    enriched = chunks.join(surv.select("doc_id", "source"), "doc_id").withColumn(
        "split", split_column()
    )
    return enriched.groupBy("split", "source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("n_chunk_tokens").cast("bigint").alias("total_chunk_tokens"),
    )


@query(
    "multimodal_frame_sample",
    # videos only (doc_id % 3 == 2); n_frames and frame offsets are
    # closed-form over the ASCII payload bytes, and frame bytes are a
    # CONTIGUOUS slice — so character slicing == byte slicing and DuckDB
    # replays the Arrow 1->N fan-out exactly, down to the frame md5.
    """
    WITH v AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS blen,
             CAST(list_aggregate(
                    list_transform(range(1, octet_length(encode(text)) + 1),
                                   i -> ord(text[i])), 'sum') AS BIGINT) % 65536
               AS checksum
      FROM documents WHERE doc_id % 3 = 2
    ),
    f AS (
      SELECT doc_id, text, blen,
             1 + checksum % 30 AS n_frames
      FROM v
    )
    SELECT doc_id,
           CAST(g.idx AS INTEGER) AS frame_idx,
           md5(substr(text, CAST((g.idx * 37) % greatest(1, blen - 8) AS INT) + 1, 8))
             AS frame_md5,
           CAST(length(substr(text, CAST((g.idx * 37) % greatest(1, blen - 8) AS INT) + 1, 8)) AS INTEGER)
             AS frame_len
    FROM f, unnest(generate_series(0, n_frames - 1, 10)) AS g(idx)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through the Arrow mapInPandas 1->N fan-out
    (operators/multimodal.py::sample_frames), hash-verified per frame — the
    extraction-stage batch contract itself is under the oracle gate."""
    from ..operators.multimodal import attach_binary_payload, sample_frames

    frames = sample_frames(attach_binary_payload(_docs(spark, sf_dir)), every_nth=10)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.md5(F.col("frame_payload")).alias("frame_md5"),
        F.length(F.col("frame_payload")).cast("int").alias("frame_len"),
    )


@query(
    "source_drift_kl",
    """
    WITH w AS (
      SELECT source AS src, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    sw AS (SELECT src, w, COUNT(*) AS n_sw FROM w GROUP BY 1, 2),
    cw AS (SELECT w, CAST(SUM(n_sw) AS BIGINT) AS n_cw FROM sw GROUP BY 1),
    st AS (SELECT src, CAST(SUM(n_sw) AS BIGINT) AS n_s FROM sw GROUP BY 1),
    ct AS (SELECT CAST(SUM(n_cw) AS BIGINT) AS n_c FROM cw)
    SELECT sw.src AS source,
           st.n_s AS n_tokens,
           CAST(SUM(sw.n_sw * CAST(FLOOR(
                 log10(CAST(sw.n_sw * ct.n_c AS DOUBLE) / CAST(st.n_s * cw.n_cw AS DOUBLE))
                 * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / st.n_s / 1000000.0
             AS kl10_drift
    FROM sw JOIN cw USING (w) JOIN st USING (src), ct
    GROUP BY 1, 2
    """,
)
def source_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL drift vs the corpus mix — integer-quantized
    log10 terms, exact count-weighted accumulation (unigram-LM discipline)."""
    from ..operators.text_analysis import source_drift_scores

    return source_drift_scores(_docs(spark, sf_dir))


@query(
    "weak_label_votes",
    """
    WITH f AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ('the', 'and', 'of', 'is', 'a', 'to', 'in')))
               AS stop_hits,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS distinct_frac,
             CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
               / length(text) AS alpha_ratio
      FROM documents
    ),
    v AS (
      SELECT doc_id,
             COALESCE(n_words BETWEEN 20 AND 1000, FALSE) AS l_length,
             COALESCE(CAST(stop_hits AS DOUBLE) / n_words >= 0.05, FALSE) AS l_stopword,
             COALESCE(distinct_frac >= 0.3, FALSE) AS l_repetition,
             COALESCE(alpha_ratio >= 0.5, FALSE) AS l_alpha
      FROM f
    )
    SELECT doc_id, l_length, l_stopword, l_repetition, l_alpha,
           CAST(CAST(l_length AS INT) + CAST(l_stopword AS INT)
                + CAST(l_repetition AS INT) + CAST(l_alpha AS INT) AS INTEGER) AS votes,
           CAST(l_length AS INT) + CAST(l_stopword AS INT)
             + CAST(l_repetition AS INT) + CAST(l_alpha AS INT) >= 3 AS keep
    FROM v
    """,
)
def weak_label_votes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snorkel-style weak-supervision voting over four heuristic labelers —
    scan-side projections, exact integer votes, zero shuffles."""
    from ..operators.quality import weak_label_votes

    return weak_label_votes(_docs(spark, sf_dir))


@query(
    "embedding_int8_quantize",
    """
    WITH ds AS (
      SELECT t.i AS pos,
             MIN(CAST(embedding[t.i] AS DOUBLE)) AS mn,
             MAX(CAST(embedding[t.i] AS DOUBLE)) AS mx
      FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
      GROUP BY 1
    ),
    cd AS (
      SELECT e.vec_id, e.label, d.pos,
             CASE WHEN d.mx > d.mn THEN
               CAST(FLOOR((CAST(e.embedding[d.pos] AS DOUBLE) - d.mn)
                          / (d.mx - d.mn) * 255 + 0.5) AS INT)
             ELSE 0 END AS c,
             CAST(e.embedding[d.pos] AS DOUBLE) AS x,
             d.mn, d.mx
      FROM embeddings e, ds d
    ),
    rc AS (
      SELECT vec_id, label, pos, c,
             CASE WHEN mx > mn THEN mn + CAST(c AS DOUBLE) * (mx - mn) / 255
                  ELSE mn END AS recon,
             x
      FROM cd
    )
    SELECT vec_id, label,
           md5(array_to_string(list(c ORDER BY pos), ',')) AS codes_md5,
           CAST(SUM(CAST(FLOOR((x - recon) * (x - recon) * 1000000 + 0.5) AS BIGINT))
                // 64 AS BIGINT) AS recon_mse_micros
    FROM rc
    GROUP BY 1, 2
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 compression of the embedding store (4x memory/bandwidth):
    per-dimension ranges from one broadcast aggregate, codes + exact-integer
    reconstruction MSE per vector."""
    from ..operators.similarity import int8_quantize

    q = int8_quantize(_emb(spark, sf_dir))
    # scalar digest of the code array: value-hash harnesses compare scalar
    # cells, and the md5 over the joined codes pins every code anyway
    return q.select(
        "vec_id",
        "label",
        F.md5(F.concat_ws(",", F.col("codes"))).alias("codes_md5"),
        "recon_mse_micros",
    )


@query(
    "collocation_pmi_topk",
    """
    WITH ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
    bg AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2
      FROM ws, unnest(generate_series(1, len(ws) - 1)) AS t(i)
      WHERE len(ws) >= 2
    ),
    ug AS (SELECT unnest(ws) AS w FROM ws),
    nb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab FROM bg GROUP BY 1, 2),
    nu AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w FROM ug GROUP BY 1),
    tb AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n_bigrams FROM nb),
    tu AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_words FROM nu)
    SELECT w1, w2, n_ab, pmi_micro, CAST(rank AS INTEGER) AS rank FROM (
      SELECT w1, w2, n_ab,
             CAST(FLOOR((log10(CAST(n_ab AS DOUBLE)) + log10(CAST(n_words AS DOUBLE))
                         + log10(CAST(n_words AS DOUBLE)) - log10(CAST(n_bigrams AS DOUBLE))
                         - log10(CAST(a.n_w AS DOUBLE)) - log10(CAST(b.n_w AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS pmi_micro,
             row_number() OVER (ORDER BY
               FLOOR((log10(CAST(n_ab AS DOUBLE)) + log10(CAST(n_words AS DOUBLE))
                      + log10(CAST(n_words AS DOUBLE)) - log10(CAST(n_bigrams AS DOUBLE))
                      - log10(CAST(a.n_w AS DOUBLE)) - log10(CAST(b.n_w AS DOUBLE)))
                     * 1000000 + 0.5) DESC, w1, w2) AS rank
      FROM nb
      JOIN nu a ON nb.w1 = a.w
      JOIN nu b ON nb.w2 = b.w, tb, tu
      WHERE n_ab >= 5
    ) WHERE rank <= 50
    """,
)
def collocation_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 PMI collocations over adjacent bigrams — phrase mining with
    the deterministic sum-of-logs idiom and a TakeOrderedAndProject top-k."""
    from ..operators.text_analysis import collocation_pmi

    return collocation_pmi(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Round 5: preference-data / RLHF-prep + robust curation screens
# ---------------------------------------------------------------------------


@query(
    "reward_group_normalize",
    """
    WITH b AS (
      SELECT user_id AS group_id, event_id AS sample_id,
             CAST(FLOOR(CAST(value AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS ru
      FROM events
    ),
    s AS (
      SELECT group_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ru) AS BIGINT) AS sum_u,
             CAST(SUM(ru * ru) AS BIGINT) AS sumsq_u
      FROM b GROUP BY 1
    )
    SELECT b.group_id, b.sample_id, b.ru AS reward_millis, s.n AS group_n,
           CASE WHEN s.n > 1 AND s.n * s.sumsq_u - s.sum_u * s.sum_u > 0
                THEN CAST(FLOOR(CAST(s.n * b.ru - s.sum_u AS DOUBLE)
                     / sqrt(CAST(s.n * s.sumsq_u - s.sum_u * s.sum_u AS DOUBLE))
                     * 1000000 + 0.5) AS BIGINT)
                ELSE 0 END AS adv_micros
    FROM b JOIN s USING (group_id)
    """,
)
def reward_group_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRPO-style group-relative advantage over (user → sampled events):
    exact-integer group moments, one sqrt+divide on exact inputs, micro-unit
    quantized — the RL reward-normalization pass, partitioning-invariant."""
    from ..operators.preference import reward_group_normalize

    return reward_group_normalize(_events(spark, sf_dir))


@query(
    "dpo_pair_mining",
    """
    WITH s AS (
      SELECT source AS group_id, doc_id,
             CAST(FLOOR(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' ')) * 1000000 + 0.5) AS BIGINT) AS score_u
      FROM documents
    ),
    top AS (
      SELECT group_id, doc_id, score_u,
             row_number() OVER (PARTITION BY group_id
                                ORDER BY score_u DESC, doc_id ASC) AS pair_rank
      FROM s
    ),
    bot AS (
      SELECT group_id, doc_id, score_u,
             row_number() OVER (PARTITION BY group_id
                                ORDER BY score_u ASC, doc_id DESC) AS pair_rank
      FROM s
    )
    SELECT t.group_id, CAST(t.pair_rank AS INTEGER) AS pair_rank,
           t.doc_id AS chosen_id, b.doc_id AS rejected_id,
           t.score_u AS chosen_score_u, b.score_u AS rejected_score_u,
           t.score_u - b.score_u AS margin_u
    FROM top t JOIN bot b USING (group_id, pair_rank)
    WHERE t.pair_rank <= 5 AND t.score_u > b.score_u
    """,
)
def dpo_pair_mining_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO chosen/rejected pair construction per source (top-5 vs bottom-5
    by distinct-token-fraction score, mirrored total orders, ties dropped);
    grouped_topk pre-rank keeps hot sources off a single window task."""
    from ..operators.preference import dpo_pairs

    return dpo_pairs(_docs(spark, sf_dir))


@query(
    "char_entropy_quality",
    """
    WITH ch AS (
      SELECT doc_id, substr(text, g.i, 1) AS c
      FROM documents, unnest(generate_series(1, length(text))) AS g(i)
    ),
    pc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n_c FROM ch GROUP BY 1, 2),
    t AS (SELECT doc_id, CAST(SUM(n_c) AS BIGINT) AS n_chars,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct_chars
          FROM pc GROUP BY 1)
    SELECT t.doc_id, t.n_chars, t.n_distinct_chars,
           -CAST(SUM(n_c * CAST(FLOOR(log10(CAST(n_c AS DOUBLE)
                / CAST(t.n_chars AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
                 AS DOUBLE) / t.n_chars / 1000000.0 AS char_entropy10
    FROM pc JOIN t USING (doc_id)
    GROUP BY t.doc_id, t.n_chars, t.n_distinct_chars
    """,
)
def char_entropy_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character-distribution entropy (gibberish / base64 / padding
    screen) with the count-weighted integer-log discipline — raw text never
    shuffles, payload is alphabet-bounded."""
    from ..operators.text_analysis import char_entropy_scores

    return char_entropy_scores(_docs(spark, sf_dir))


@query(
    "mad_outlier_flags",
    """
    WITH b AS (
      SELECT doc_id, source AS group_id, CAST(n_chars AS DOUBLE) AS x
      FROM documents
    ),
    m AS (SELECT group_id, quantile_cont(x, 0.5) AS med FROM b GROUP BY 1),
    d AS (SELECT b.doc_id, b.group_id, b.x, m.med, abs(b.x - m.med) AS dev
          FROM b JOIN m USING (group_id)),
    md AS (SELECT group_id, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
    SELECT d.doc_id, d.group_id, CAST(d.x AS BIGINT) AS value,
           d.med AS group_median, md.mad AS group_mad,
           d.dev > 3.0 * md.mad AS is_outlier
    FROM d JOIN md USING (group_id)
    """,
)
def mad_outlier_flags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier flags on document length per source — the
    anomaly screen a few huge documents cannot drag around; exact-percentile
    interpolation is bit-identical across engines."""
    from ..operators.quality import mad_outlier_flags

    return mad_outlier_flags(_docs(spark, sf_dir))


def _bpe_oracle_cte(n_merges: int = 4) -> str:
    """Iterative-CTE replay of BPE merge induction (the k-means-CTE trick):
    per step a weighted pair count, a top-1 rule, and a ``list_reduce``
    fold identical to the Spark higher-order-function fold."""
    parts = [
        "w0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM ("
        "SELECT unnest(string_split(text, ' ')) AS word FROM documents) "
        "WHERE length(word) > 0 GROUP BY 1)",
        "t0 AS (SELECT word, freq, string_split(word, '') AS toks FROM w0)",
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"p{i} AS (SELECT toks[g.j] AS ml, toks[g.j + 1] AS mr, "
            f"CAST(SUM(freq) AS BIGINT) AS c "
            f"FROM t{i - 1}, unnest(generate_series(1, len(toks) - 1)) AS g(j) "
            f"GROUP BY 1, 2)"
        )
        parts.append(
            f"r{i} AS (SELECT ml, mr, ml || '~' || mr AS m, c FROM p{i} "
            f"ORDER BY c DESC, ml, mr LIMIT 1)"
        )
        if i < n_merges:
            parts.append(
                f"t{i} AS (SELECT word, freq, string_split(list_reduce(toks, "
                f"(acc, x) -> CASE WHEN regexp_extract(acc, '[^ ]+$') = r{i}.ml "
                f"AND x = r{i}.mr THEN regexp_replace(acc, '[^ ]+$', '') || r{i}.m "
                f"ELSE acc || ' ' || x END), ' ') AS toks FROM t{i - 1}, r{i})"
            )
    sel = "\n    UNION ALL ".join(
        f"SELECT {i} AS step, ml AS merge_left, mr AS merge_right, "
        f"m AS merged, c AS pair_count FROM r{i}"
        for i in range(1, n_merges + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + sel


@query("bpe_merge_induction", _bpe_oracle_cte(n_merges=4))
def bpe_merge_induction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 4 BPE merge rules learned from the documents corpus — the
    tokenizer-training pass, iterating on the vocabulary-scale word-frequency
    table with a broadcast 1-row rule per step; the oracle replays the whole
    iterative induction."""
    from ..operators.text_analysis import bpe_merge_steps

    return bpe_merge_steps(_docs(spark, sf_dir), n_merges=4)


# ---------------------------------------------------------------------------
# Round 5: corpus rewrite dedup, privacy audit, temporal weighting
# ---------------------------------------------------------------------------


@query(
    "dedup_span_rewrite",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             CAST(floor(len(string_split(text, ' ')) / 20.0) AS INT) AS n_spans
      FROM documents
    ),
    sp AS (
      SELECT doc_id, g.i AS idx,
             md5(array_to_string(list_slice(ws, g.i * 20 + 1, g.i * 20 + 20), ' ')) AS h
      FROM w, unnest(generate_series(0, n_spans - 1)) AS g(i)
      WHERE n_spans >= 1
    ),
    keep AS (
      SELECT doc_id, idx FROM (
        SELECT doc_id, idx,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
        FROM sp)
      WHERE rn = 1
    ),
    ka AS (SELECT doc_id, list_sort(list(idx)) AS keep_idxs FROM keep GROUP BY 1)
    SELECT w.doc_id, w.n_spans,
           CAST(COALESCE(len(ka.keep_idxs), 0) AS INT) AS n_kept,
           CAST(COALESCE(len(ka.keep_idxs), 0) * 20 AS BIGINT) AS kept_words,
           md5(COALESCE(array_to_string(list_transform(COALESCE(ka.keep_idxs, []),
               i -> array_to_string(list_slice(w.ws, i * 20 + 1, i * 20 + 20), ' ')), ' '), ''))
             AS cleaned_hash
    FROM w LEFT JOIN ka USING (doc_id)
    WHERE w.n_spans >= 1
    """,
)
def dedup_span_rewrite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring corpus REWRITE: duplicated 20-word spans removed
    everywhere but their first occurrence, docs re-assembled, result
    hash-verified — the transform step downstream of ``dedup_span_exact``'s
    report; digests-only shuffles on the frequency path."""
    from ..operators.dedup import span_dedup_rewrite

    return span_dedup_rewrite(_docs(spark, sf_dir))


@query(
    "k_anonymity_audit",
    """
    SELECT c_nationkey,
           c_mktsegment,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT c_custkey % 97) AS BIGINT) AS n_sensitive,
           COUNT(*) < 5 AS at_risk
    FROM customer
    GROUP BY 1, 2, 3
    """,
)
def k_anonymity_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over the customer quasi-identifier
    tuple (nation, segment, $1000 balance band): groups smaller than k=5 are
    re-identifiable and flagged ``at_risk``; ``n_sensitive`` counts distinct
    values of a stand-in sensitive attribute per group (l-diversity). One
    QI-keyed partial-aggregated shuffle."""
    from ..catalog import load_tables
    from ..operators.privacy import k_anonymity_audit

    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    return k_anonymity_audit(
        cust.withColumn(
            "acctbal_band", F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
        ),
        ["c_nationkey", "c_mktsegment", "acctbal_band"],
        k=5,
        sensitive=(F.col("c_custkey") % 97),
    )


@query(
    "time_decay_user_scores",
    """
    WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS ref_day FROM events),
    aged AS (
      SELECT user_id,
             date_diff('day', CAST(ts AS DATE), ref.ref_day) AS age_days,
             value AS v
      FROM events, ref
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(v * 1000000.0
               / power(2.0, age_days // 7) + 0.5)
               AS BIGINT)) AS BIGINT) AS decayed_value_micros,
           CAST(MIN(age_days) AS INT) AS newest_age_days
    FROM aged GROUP BY 1
    """,
)
def time_decay_user_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed per-user engagement (half-life 7 days, whole-step
    binary decay so the factor is an exact IEEE power of two; per-row
    micro-quantization before the order-insensitive integer sum)."""
    from ..operators.temporal import time_decay_scores

    return time_decay_scores(_events(spark, sf_dir))


@query(
    "dsir_importance_weights",
    """
    WITH toks AS (
      SELECT doc_id, is_target,
             CAST(CAST(concat('0x', substr(md5(w), 1, 4)) AS BIGINT) % 256 AS INT) AS b
      FROM (
        SELECT doc_id, lang = 'en' AS is_target,
               unnest(string_split(text, ' ')) AS w
        FROM documents
      )
      WHERE length(w) > 0
    ),
    per_bucket AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS a_b,
             CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS t_b
      FROM toks GROUP BY 1
    ),
    totals AS (SELECT SUM(a_b) AS A, SUM(t_b) AS T FROM per_bucket),
    ratios AS (
      SELECT b,
             CAST(FLOOR(log10(CAST(t_b + 1 AS DOUBLE) / CAST(T + 256 AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT)
             - CAST(FLOOR(log10(CAST(a_b + 1 AS DOUBLE) / CAST(A + 256 AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) AS ratio_u
      FROM per_bucket, totals
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(ratio_u) AS BIGINT) AS dsir_score_micros,
           CAST(SUM(ratio_u) AS BIGINT) > 0 AS lean_target
    FROM toks JOIN ratios USING (b)
    GROUP BY 1
    """,
)
def dsir_importance_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (hashed-unigram importance resampling weights) with English as
    the target domain: 256-bucket md5 features, add-one-smoothed micro-log
    ratios broadcast to the token stream, exact integer doc sums."""
    from ..operators.importance import dsir_importance_weights

    return dsir_importance_weights(_docs(spark, sf_dir), F.col("lang") == "en")


@query(
    "bigram_lm_scores",
    """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    big AS (
      SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
      FROM words, unnest(generate_series(1, len(ws) - 1)) AS g(i)
      WHERE len(ws) >= 2
    ),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY 1),
    v AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS V
      FROM (SELECT unnest(ws) AS w FROM words)
      WHERE length(w) > 0
    ),
    model AS (
      SELECT w1, w2,
             -CAST(FLOOR(log10(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + V AS DOUBLE))
                   * 1000000 + 0.5) AS BIGINT) AS nll_u
      FROM c2 JOIN c1 USING (w1), v
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(nll_u) AS BIGINT) AS nll_sum_micros,
           CAST(SUM(nll_u) // COUNT(*) AS BIGINT) AS avg_nll_micros
    FROM big JOIN model USING (w1, w2)
    GROUP BY 1
    """,
)
def bigram_lm_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-one bigram LM scoring every document's average
    negative log-likelihood (the KenLM-style perplexity screen); the bigram
    table is vocabulary-bounded and the scoring join co-partitions on the
    bigram key."""
    from ..operators.importance import bigram_lm_scores

    return bigram_lm_scores(_docs(spark, sf_dir))


@query(
    "weighted_systematic_sample",
    """
    WITH b AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents),
    c AS (
      SELECT doc_id, w,
             SUM(w) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce
      FROM b
    ),
    t AS (SELECT CAST(SUM(w) AS BIGINT) AS wt FROM b)
    SELECT doc_id, w AS weight, CAST(ce - w AS BIGINT) AS cum_start,
           CAST(((200 * ce) // wt + 1) // 2
                - ((200 * (ce - w)) // wt + 1) // 2 AS INT) AS times_selected
    FROM c, t
    WHERE ((200 * ce) // wt + 1) // 2 - ((200 * (ce - w)) // wt + 1) // 2 > 0
    """,
)
def weighted_systematic_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted systematic resample of the corpus (100 probes at
    exact-integer midpoints): the deterministic weighted-sampling pass of a
    mixture builder, computed with bucketed two-phase prefix sums — the
    oracle's single global window is exactly what the operator avoids."""
    from ..operators.sampling import weighted_systematic_sample

    return weighted_systematic_sample(_docs(spark, sf_dir), "n_chars")


@query(
    "entity_resolution_parts",
    """
    WITH RECURSIVE names0 AS (
      SELECT DISTINCT p_name AS s FROM part
    ),
    blocked AS (SELECT s, string_split(s, ' ')[1] AS blk FROM names0),
    pairs AS (
      SELECT a.s AS name_a, b.s AS name_b
      FROM blocked a JOIN blocked b
        ON a.blk = b.blk AND a.s < b.s AND levenshtein(a.s, b.s) <= 4
    ),
    edges AS (
      SELECT name_a AS u, name_b AS v FROM pairs
      UNION
      SELECT name_b, name_a FROM pairs
    ),
    reach(u, label) AS (
      SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
    ),
    comp AS (SELECT u AS node, MIN(label) AS component FROM reach GROUP BY u),
    ent AS (
      SELECT names0.s AS name, COALESCE(comp.component, names0.s) AS entity_id
      FROM names0 LEFT JOIN comp ON names0.s = comp.node
    )
    SELECT ent.entity_id,
           CAST(COUNT(DISTINCT p_name) AS BIGINT) AS n_names,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           MIN(p_partkey) AS canonical_partkey
    FROM part JOIN ent ON part.p_name = ent.name
    GROUP BY 1
    """,
)
def entity_resolution_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution on the part-name domain: first-token
    blocking → Levenshtein≤4 candidate pairs → min-label connected
    components → canonical entity id per name cluster → part counts rolled
    up to entities. The quadratic term is bounded per block over the
    DISTINCT name set; the CC loop runs on the (tiny) pair list; the oracle
    replays the whole chain including the iterative closure."""
    from ..catalog import load_tables
    from ..operators.fuzzy import fuzzy_match_pairs
    from ..operators.graph import connected_components

    parts = load_tables(spark, sf_dir, ("part",))["part"]
    # CC's first step eagerly checkpoints its symmetric edge view, so an
    # eager checkpoint here (pair-list-sized) both feeds it once and leaves
    # no cache entry behind
    pairs = fuzzy_match_pairs(parts, "p_name", max_distance=4).localCheckpoint(eager=True)
    comp = connected_components(pairs, src="name_a", dst="name_b")
    names = parts.select(F.col("p_name").alias("name")).distinct()
    ent = names.join(comp, names.name == comp.node, "left").select(
        "name", F.coalesce("component", "name").alias("entity_id")
    )
    return (
        parts.join(ent, parts.p_name == ent.name)
        .groupBy("entity_id")
        .agg(
            F.count_distinct("p_name").cast("bigint").alias("n_names"),
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.min("p_partkey").alias("canonical_partkey"),
        )
    )


def _pagerank_oracle_cte(iters: int = 5) -> str:
    """Unrolled integer-PageRank replay over the MinHash near-dup pair set
    (same pair CTE as ``dedup_clusters``): one CTE per iteration, all-bigint
    arithmetic identical to ``operators.graph.pagerank``."""
    parts = [
        f"pairs AS ({ORACLE_MINHASH})",
        "edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs "
        "UNION SELECT doc_b, doc_a FROM pairs)",
        "deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1)",
        "pr0 AS (SELECT v AS node, CAST(1000000 AS BIGINT) AS pr FROM deg)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"pr{i} AS (SELECT e.u AS node, "
            f"CAST(150000 + (85 * SUM(p.pr // d.deg)) // 100 AS BIGINT) AS pr "
            f"FROM edges e JOIN pr{i - 1} p ON e.v = p.node "
            f"JOIN deg d ON d.v = e.v GROUP BY e.u)"
        )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"\n    SELECT pr{iters}.node, pr{iters}.pr AS pagerank_micros, "
        f"deg.deg AS degree FROM pr{iters} JOIN deg ON pr{iters}.node = deg.v"
    )


@query("pagerank_dup_graph", _pagerank_oracle_cte(iters=5))
def pagerank_dup_graph_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (5 rounds, d=0.85) over the MinHash near-dup
    graph: surfaces the hub documents of boilerplate families. The oracle
    unrolls all five all-bigint iterations over the same pair CTE."""
    from ..operators.graph import pagerank

    pairs = minhash_near_duplicates(_docs(spark, sf_dir))  # CC/PR/tri checkpoint internally
    return pagerank(pairs)


def _bpe_apply_oracle_cte(n_merges: int = 4) -> str:
    """Encode-pass replay: the induction CTEs extended with the LAST rule's
    fold (t4), then the corpus word stream joined against the encoded
    vocabulary for per-doc token accounting."""
    parts = [
        "w0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM ("
        "SELECT unnest(string_split(text, ' ')) AS word FROM documents) "
        "WHERE length(word) > 0 GROUP BY 1)",
        "t0 AS (SELECT word, freq, string_split(word, '') AS toks FROM w0)",
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"p{i} AS (SELECT toks[g.j] AS ml, toks[g.j + 1] AS mr, "
            f"CAST(SUM(freq) AS BIGINT) AS c "
            f"FROM t{i - 1}, unnest(generate_series(1, len(toks) - 1)) AS g(j) "
            f"GROUP BY 1, 2)"
        )
        parts.append(
            f"r{i} AS (SELECT ml, mr, ml || '~' || mr AS m, c FROM p{i} "
            f"ORDER BY c DESC, ml, mr LIMIT 1)"
        )
        parts.append(
            f"t{i} AS (SELECT word, freq, string_split(list_reduce(toks, "
            f"(acc, x) -> CASE WHEN regexp_extract(acc, '[^ ]+$') = r{i}.ml "
            f"AND x = r{i}.mr THEN regexp_replace(acc, '[^ ]+$', '') || r{i}.m "
            f"ELSE acc || ' ' || x END), ' ') AS toks FROM t{i - 1}, r{i})"
        )
    sel = (
        f"enc AS (SELECT word, CAST(len(toks) AS BIGINT) AS n_toks FROM t{n_merges}),\n"
        "    dw AS (SELECT doc_id, w.word FROM (SELECT doc_id, "
        "unnest(string_split(text, ' ')) AS word FROM documents) w "
        "WHERE length(w.word) > 0)\n"
        "    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, "
        "CAST(SUM(length(word)) AS BIGINT) AS chars_total, "
        "CAST(SUM(n_toks) AS BIGINT) AS bpe_tokens, "
        "CAST((SUM(length(word)) * 1000000) // SUM(n_toks) AS BIGINT) "
        "AS compression_ratio_micros "
        "FROM dw JOIN enc USING (word) GROUP BY 1"
    )
    return "WITH " + ",\n    ".join(parts) + ",\n    " + sel


@query("bpe_apply_encode", _bpe_apply_oracle_cte(n_merges=4))
def bpe_apply_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ENCODE pass: apply the 4 corpus-learned BPE merges to every
    document and account chars vs BPE tokens (compression ratio in integer
    micro-units). Each distinct word is encoded once in the vocab table; the
    corpus joins against it on the word key — the oracle replays the entire
    train-then-encode chain."""
    from ..operators.text_analysis import bpe_encode_lengths

    return bpe_encode_lengths(_docs(spark, sf_dir), n_merges=4)


_V4_SQL = """
    WITH reps AS (
      SELECT md5(text) AS ch, MIN(doc_id) AS kept_id FROM documents GROUP BY 1
    ),
    s1 AS (SELECT d.* FROM documents d JOIN reps r ON d.doc_id = r.kept_id),
    w AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             CAST(floor(len(string_split(text, ' ')) / 20.0) AS INT) AS n_spans
      FROM s1
    ),
    sp AS (
      SELECT doc_id, g.i AS idx,
             md5(array_to_string(list_slice(ws, g.i * 20 + 1, g.i * 20 + 20), ' ')) AS h
      FROM w, unnest(generate_series(0, n_spans - 1)) AS g(i)
      WHERE n_spans >= 1
    ),
    keep AS (
      SELECT doc_id, idx FROM (
        SELECT doc_id, idx, row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
        FROM sp) WHERE rn = 1
    ),
    ka AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_kept FROM keep GROUP BY 1),
    spanned AS (
      SELECT w.doc_id, COALESCE(ka.n_kept, 0) AS n_kept
      FROM w LEFT JOIN ka USING (doc_id) WHERE w.n_spans >= 1
    ),
    s2 AS (
      SELECT s1.* FROM s1 LEFT JOIN spanned z ON s1.doc_id = z.doc_id
      WHERE z.doc_id IS NULL OR z.n_kept > 0
    ),
    toks AS (
      SELECT doc_id, is_target,
             CAST(CAST(concat('0x', substr(md5(tw), 1, 4)) AS BIGINT) % 256 AS INT) AS b
      FROM (SELECT doc_id, lang = 'en' AS is_target,
                   unnest(string_split(text, ' ')) AS tw FROM s2)
      WHERE length(tw) > 0
    ),
    pb AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS a_b,
             CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS t_b
      FROM toks GROUP BY 1
    ),
    tt AS (SELECT SUM(a_b) AS A, SUM(t_b) AS T FROM pb),
    ratios AS (
      SELECT b,
             CAST(FLOOR(log10(CAST(t_b + 1 AS DOUBLE) / CAST(T + 256 AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT)
             - CAST(FLOOR(log10(CAST(a_b + 1 AS DOUBLE) / CAST(A + 256 AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) AS ratio_u
      FROM pb, tt
    ),
    dsir AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(ratio_u) AS BIGINT) AS score_u
      FROM toks JOIN ratios USING (b) GROUP BY 1
    ),
    words2 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM s2),
    big AS (
      SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
      FROM words2, unnest(generate_series(1, len(ws) - 1)) AS g(i)
      WHERE len(ws) >= 2
    ),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY 1),
    v AS (
      SELECT CAST(COUNT(DISTINCT vw) AS BIGINT) AS V
      FROM (SELECT unnest(ws) AS vw FROM words2) WHERE length(vw) > 0
    ),
    model AS (
      SELECT w1, w2,
             -CAST(FLOOR(log10(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + V AS DOUBLE))
                   * 1000000 + 0.5) AS BIGINT) AS nll_u
      FROM c2 JOIN c1 USING (w1), v
    ),
    lm AS (
      SELECT doc_id, CAST(SUM(nll_u) AS BIGINT) // COUNT(*) AS avg_nll
      FROM big JOIN model USING (w1, w2) GROUP BY doc_id
    ),
    thr AS (SELECT SUM(avg_nll) // COUNT(*) AS thr FROM lm),
    kept2 AS (SELECT doc_id FROM lm, thr WHERE avg_nll <= thr)
    SELECT s2.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.n_tokens) AS BIGINT) AS n_tokens_total,
           CAST(SUM(d.score_u) AS BIGINT) AS dsir_total_micros,
           CAST(SUM(CASE WHEN d.score_u > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lean_target
    FROM s2 JOIN kept2 USING (doc_id) JOIN dsir d USING (doc_id)
    GROUP BY 1
"""


@query("training_corpus_pipeline_v4", _V4_SQL)
def training_corpus_pipeline_v4_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 corpus pipeline: exact dedup → span-rewrite boilerplate gate
    (docs whose every 20-word span is owned elsewhere drop; short docs
    bypass) → DSIR importance weights (target = English) → bigram-LM
    quality gate (keep docs at or below the corpus-mean average NLL) →
    per-language accounting. Every stage is the already-oracle-checked
    operator; ONE DuckDB oracle replays the full chain, self-referential
    corpus statistics included."""
    from ..operators.dedup import exact_duplicate_groups, span_dedup_rewrite
    from ..operators.importance import bigram_lm_scores, dsir_importance_weights

    docs = _docs(spark, sf_dir)
    reps = exact_duplicate_groups(docs).select(
        F.col("representative_id").alias("doc_id")
    )
    # eager checkpoints, not persist: s1/s2 each feed several downstream
    # stages — persist() reuses the data but Catalyst re-plans the whole
    # upstream chain inside every consumer (the connected-components
    # lesson); the deduped corpus is materialized once per stage boundary
    # (at 100 TB these boundaries are the tables you'd write out anyway)
    s1 = docs.join(reps, "doc_id").localCheckpoint(eager=True)
    span = span_dedup_rewrite(s1).select("doc_id", "n_kept")
    s2 = (
        s1.join(span, "doc_id", "left")
        .filter(F.col("n_kept").isNull() | (F.col("n_kept") > 0))
        .drop("n_kept")
        .localCheckpoint(eager=True)
    )
    dsir = dsir_importance_weights(s2, F.col("lang") == "en")
    lm = bigram_lm_scores(s2)
    thr = lm.agg(F.expr("sum(avg_nll_micros) div count(1)").alias("thr"))
    kept = (
        lm.crossJoin(F.broadcast(thr))
        .filter(F.col("avg_nll_micros") <= F.col("thr"))
        .select("doc_id")
    )
    return (
        s2.join(kept, "doc_id")
        .join(dsir, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens_total"),
            F.sum("dsir_score_micros").cast("bigint").alias("dsir_total_micros"),
            F.sum(F.when(F.col("dsir_score_micros") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_lean_target"),
        )
    )


@query(
    "dim_date_generated",
    """
    WITH span AS (
      SELECT MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi FROM orders
    ),
    days AS (
      SELECT CAST(g.d AS DATE) AS date_key
      FROM span, unnest(generate_series(span.lo, span.hi, INTERVAL 1 DAY)) AS g(d)
    )
    SELECT date_key,
           CAST(year(date_key) AS INT) AS year,
           CAST(quarter(date_key) AS INT) AS quarter,
           CAST(month(date_key) AS INT) AS month,
           CAST(isodow(date_key) AS INT) AS iso_dow,
           isodow(date_key) >= 6 AS is_weekend,
           CAST(date_trunc('month', date_key) AS DATE) AS month_start,
           date_key = last_day(date_key) AS is_month_end
    FROM days
    """,
)
def dim_date_generated_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension spanning the orders fact's date range —
    the silver-layer dim_date every star schema carries. Built distributed
    (1-row min/max broadcast → ``sequence`` explode), no driver-side
    calendar loop; at any scale this is |days| rows from one 1-row agg."""
    from ..catalog import load_tables

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    span = o.agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
    days = span.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("date_key")
    )
    dow = F.dayofweek("date_key")  # Sun=1..Sat=7 → ISO Mon=1..Sun=7
    iso_dow = F.when(dow == 1, 7).otherwise(dow - 1)
    return days.select(
        "date_key",
        F.year("date_key").cast("int").alias("year"),
        F.quarter("date_key").cast("int").alias("quarter"),
        F.month("date_key").cast("int").alias("month"),
        iso_dow.cast("int").alias("iso_dow"),
        (iso_dow >= 6).alias("is_weekend"),
        F.trunc("date_key", "month").alias("month_start"),
        (F.col("date_key") == F.last_day("date_key")).alias("is_month_end"),
    )


@query(
    "contribution_share_by_region",
    """
    WITH nat AS (
      SELECT n.n_regionkey AS region_key, n.n_name AS nation,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    reg AS (SELECT region_key, SUM(revenue) AS region_revenue FROM nat GROUP BY 1)
    SELECT r.r_name AS region, nat.nation, nat.revenue,
           CAST(FLOOR(nat.revenue / reg.region_revenue * 1000000 + 0.5) AS BIGINT)
             AS share_micros,
           rank() OVER (PARTITION BY nat.region_key
                        ORDER BY nat.revenue DESC, nat.nation) AS rank_in_region
    FROM nat JOIN reg USING (region_key) JOIN region r ON nat.region_key = r.r_regionkey
    """,
)
def contribution_share_by_region_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total contribution analysis: each nation's share of its
    region's order revenue plus in-region rank. The fact aggregates FIRST
    (partial-combined shuffle on the 25-nation key); the window then runs
    over ≤25 pre-aggregated rows per region — the aggregate-then-window
    shape that keeps OLAP share queries scale-free."""
    from pyspark.sql import Window

    from ..catalog import load_tables

    t = load_tables(spark, sf_dir, ("orders", "customer", "nation", "region"))
    nat = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_regionkey").alias("region_key"), F.col("n_name").alias("nation"))
        # r16: long cents partials replace the decimal(28,2) buffer's
        # per-row BigDecimal add (guide §5); bit-identical double
        .agg(
            _exact_unscaled_sum(
                F.expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"), 2
            ).alias("revenue")
        )
    )
    reg = nat.groupBy("region_key").agg(F.sum("revenue").alias("region_revenue"))
    w = Window.partitionBy("region_key").orderBy(F.desc("revenue"), F.asc("nation"))
    return (
        nat.join(F.broadcast(reg), "region_key")
        .join(F.broadcast(t["region"]), F.col("region_key") == F.col("r_regionkey"))
        .select(
            F.col("r_name").alias("region"),
            "nation",
            "revenue",
            F.floor(F.col("revenue") / F.col("region_revenue") * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("share_micros"),
            F.rank().over(w).alias("rank_in_region"),
        )
    )


@query(
    "psi_value_drift",
    """
    WITH stats AS (
      SELECT MAX(ts) AS ts_hi,
             MIN(CAST(value AS DOUBLE)) AS lo,
             MAX(CAST(value AS DOUBLE)) AS hi
      FROM events
    ),
    binned AS (
      SELECT event_type AS k,
             CAST(LEAST(FLOOR((CAST(value AS DOUBLE) - stats.lo)
                  / (stats.hi - stats.lo) * 10), 9) AS INT) AS bin,
             ts >= stats.ts_hi - INTERVAL 7 DAY AS is_cur
      FROM events, stats
    ),
    per_bin AS (
      SELECT k, bin,
             CAST(SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT) AS c_cur,
             CAST(SUM(CASE WHEN is_cur THEN 0 ELSE 1 END) AS BIGINT) AS c_ref
      FROM binned GROUP BY 1, 2
    ),
    totals AS (
      SELECT k, CAST(SUM(c_cur) AS BIGINT) AS n_cur,
             CAST(SUM(c_ref) AS BIGINT) AS n_ref
      FROM per_bin GROUP BY 1
    ),
    terms AS (
      SELECT per_bin.k, totals.n_ref, totals.n_cur,
             CAST(FLOOR(
               (CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + 10 AS DOUBLE)
                - CAST(c_ref + 1 AS DOUBLE) / CAST(n_ref + 10 AS DOUBLE))
               * log10((CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + 10 AS DOUBLE))
                       / (CAST(c_ref + 1 AS DOUBLE) / CAST(n_ref + 10 AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS t_u
      FROM per_bin JOIN totals USING (k)
    )
    SELECT k AS event_type, MIN(n_ref) AS n_ref, MIN(n_cur) AS n_cur,
           CAST(SUM(t_u) AS BIGINT) AS psi_micros,
           CAST(SUM(t_u) AS BIGINT) > 200000 AS drifted
    FROM terms GROUP BY 1
    """,
)
def psi_value_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift monitor: trailing-7-day value distribution vs history per
    event type over 10 equal-width bins; micro-quantized per-bin terms,
    1-row stats broadcast, two small keyed aggregations."""
    from ..operators.quality import psi_value_drift

    return psi_value_drift(_events(spark, sf_dir))


@query(
    "dedup_prefix_filter_jaccard",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             ws[g.i] || ' ' || ws[g.i + 1] || ' ' || ws[g.i + 2] AS sh
      FROM w, unnest(generate_series(1, len(ws) - 2)) AS g(i)
      WHERE len(ws) >= 3
    ),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS ni
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(ni AS DOUBLE) / (za.n + zb.n - ni) AS jaccard
    FROM inter
    JOIN sz za ON doc_a = za.doc_id
    JOIN sz zb ON doc_b = zb.doc_id
    WHERE CAST(ni AS DOUBLE) / (za.n + zb.n - ni) >= 0.5
    """,
)
def dedup_prefix_filter_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact prefix-filtered set-similarity join (Jaccard ≥ 0.5 on 3-gram
    shingles). The ORACLE is the naive all-pairs quadratic join — the
    operator must reproduce it exactly from rare-prefix collisions only,
    proving the zero-false-negative guarantee LSH can't give."""
    from ..operators.dedup import prefix_filter_jaccard_pairs

    return prefix_filter_jaccard_pairs(_docs(spark, sf_dir))


@query(
    "exact_quantiles_distributed",
    """
    WITH s AS (SELECT l_returnflag AS g, CAST(l_quantity AS DOUBLE) AS v FROM lineitem),
    n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY 1),
    r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM s),
    f AS (SELECT * FROM (VALUES (25, 100), (50, 100), (90, 100), (99, 100))
          AS t(p_num, p_den))
    SELECT r.g AS l_returnflag, CAST(f.p_num AS INT) AS pct_num,
           CAST(f.p_den AS INT) AS pct_den, n.n, r.v AS value
    FROM r JOIN n USING (g)
    JOIN f ON r.rn = (n.n * f.p_num + f.p_den - 1) // f.p_den
    """,
)
def exact_quantiles_distributed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p25/p50/p90/p99 of lineitem quantity per return flag by
    distributed rank selection — same numbers as the single-buffer
    ``percentile()`` anti-pattern (and as the oracle's global per-group
    sort), but every window task sorts only one value bucket. The scale-safe
    exact-quantile path that the sketch queries' accuracy anchors should
    migrate to at 100 TB."""
    from ..catalog import load_tables
    from ..operators.aggregates import distributed_exact_quantiles

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return distributed_exact_quantiles(li, "l_returnflag", "l_quantity")


_TRIANGLE_SQL = f"""
    WITH pairs AS ({ORACLE_MINHASH}),
    e AS MATERIALIZED (
      SELECT DISTINCT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
      FROM pairs WHERE doc_a <> doc_b
    ),
    sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
            FROM sym GROUP BY 1),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pn AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY 1
    )
    SELECT deg.node, deg.degree,
           CAST(COALESCE(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN deg.degree >= 2
                THEN (2 * COALESCE(pn.n_triangles, 0) * 1000000)
                     // (deg.degree * (deg.degree - 1))
                ELSE 0 END AS BIGINT) AS clustering_coeff_micros
    FROM deg LEFT JOIN pn USING (node)
"""


@query("graph_triangle_counts", _TRIANGLE_SQL)
def graph_triangle_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient over the MinHash
    near-dup graph: clique-like neighborhoods are template families (safe to
    collapse); low-coefficient hubs are chain merges a transitive-closure
    dedup would over-merge. Oriented wedge counting — three joins on the
    pair list, never the corpus. See operators/graph.py::triangle_counts."""
    from ..operators.graph import triangle_counts

    pairs = minhash_near_duplicates(_docs(spark, sf_dir))  # CC/PR/tri checkpoint internally
    return triangle_counts(pairs)


@query(
    "spatial_grid_neighbors",
    """
    WITH pts AS (
      SELECT c_custkey AS point_id,
             CAST(concat('0x', substr(md5('x:' || CAST(c_custkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 1000000 AS x,
             CAST(concat('0x', substr(md5('y:' || CAST(c_custkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 1000000 AS y
      FROM customer
    )
    SELECT a.point_id AS id_a, b.point_id AS id_b,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
    FROM pts a JOIN pts b ON a.point_id < b.point_id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= 20000 * 20000
    """,
)
def spatial_grid_neighbors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join (all point pairs within 20 km on a synthetic
    1000×1000 km entity map, coordinates md5-derived so both engines build
    the identical point set): the engine uses the grid-cell blocked join —
    one cell-key shuffle, 9-cell neighborhood probe, exact integer
    distances — while the oracle is the NAIVE all-pairs join, so a green
    row proves the grid join's zero-false-negative guarantee. See
    operators/spatial.py."""
    from ..operators.spatial import grid_neighbor_pairs

    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    key = F.col("c_custkey").cast("string")
    pts = cust.select(
        F.col("c_custkey").alias("point_id"),
        (F.conv(F.substring(F.md5(F.concat(F.lit("x:"), key)), 1, 15), 16, 10)
         .cast("bigint") % 1000000).alias("x"),
        (F.conv(F.substring(F.md5(F.concat(F.lit("y:"), key)), 1, 15), 16, 10)
         .cast("bigint") % 1000000).alias("y"),
    )
    return grid_neighbor_pairs(pts, radius=20000)


@query(
    "vocab_coverage_curve",
    """
    WITH toks AS (
      SELECT tok FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE length(tok) > 0
    ),
    counts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_tokens FROM counts),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rn FROM counts
    ),
    ks AS (SELECT * FROM (VALUES (100), (1000), (10000)) v(top_k))
    SELECT CAST(ks.top_k AS INTEGER) AS top_k,
           CAST(COALESCE(SUM(r.n), 0) AS BIGINT) AS covered_tokens,
           CAST(COUNT(r.n) AS BIGINT) AS n_types_used,
           tot.total_tokens,
           (CAST(COALESCE(SUM(r.n), 0) AS BIGINT) * 1000000) // tot.total_tokens
             AS coverage_micros
    FROM ks LEFT JOIN ranked r ON r.rn <= ks.top_k, tot
    GROUP BY ks.top_k, tot.total_tokens
    """,
)
def vocab_coverage_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget coverage curve: token-instance coverage of the top-k
    token types for k ∈ {100, 1000, 10000}. The engine never ranks the full
    vocabulary — each point is a TakeOrderedAndProject top-k over the cached
    count table + a keyless aggregate; the oracle uses the naive global
    row_number. See operators/text_analysis.py::vocab_coverage."""
    from ..operators.text_analysis import vocab_coverage

    return vocab_coverage(_docs(spark, sf_dir))


_INCR_MINHASH_SQL = f"""
    WITH fp AS ({ORACLE_MINHASH})
    SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS new_id,
           CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS corpus_id,
           jaccard
    FROM fp WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
"""


@query("incremental_minhash_index", _INCR_MINHASH_SQL)
def incremental_minhash_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-dup screen: the %10==0 slice of `documents` plays an
    arriving batch, the rest the deduped corpus; LSH band collisions are
    generated ONLY new×corpus (at 100 TB the corpus side is a stored
    signature index, so a batch never rescans the corpus). Identical
    signature/verify semantics to dedup_minhash_lsh — the oracle is the
    full pair set restricted to one-endpoint-new, which a green row proves
    equal to the incremental computation. See
    operators/dedup.py::incremental_minhash_new_duplicates."""
    from ..operators.dedup import incremental_minhash_new_duplicates

    docs = _docs(spark, sf_dir)
    new = docs.filter((F.col("doc_id") % 10) == 0)
    corpus = docs.filter((F.col("doc_id") % 10) != 0)
    return incremental_minhash_new_duplicates(corpus, new)


@query(
    "decontaminate_embedding_cosine",
    f"""
    WITH bench AS (
      SELECT vec_id AS bench_id, embedding FROM embeddings
      WHERE vec_id % 50 = 0
    ),
    corpus AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0
    ),
    scored AS (
      SELECT a.vec_id, b.bench_id,
             FLOOR({_COS_SQL.replace('b.embedding', 'b.embedding')} * 1000000 + 0.5)
               / 1000000.0 AS score
      FROM corpus a, bench b
    ),
    best AS (
      SELECT vec_id, bench_id, score,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, bench_id DESC) AS rn
      FROM scored
    )
    SELECT vec_id, bench_id AS nearest_benchmark_id, score AS max_score
    FROM best WHERE rn = 1 AND score >= 0.4
    """,
)
def decontaminate_embedding_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination — the embedding-space complement of the
    n-gram `decontaminate_ngram_overlap` gate: corpus vectors whose cosine
    against ANY held-out benchmark vector reaches 0.4, with the argmax
    benchmark id (ties → larger id, replicated by the oracle's rank order).
    The benchmark slice is evaluation-set-sized and broadcast; the corpus
    pays one scan × |benchmark| fused vector ops and a per-vector
    partial-aggregated max — no corpus self-join, no shuffle of embeddings.
    At 100 TB this is exactly the shape of an eval-leakage sweep: broadcast
    the eval embeddings, scan the corpus once."""
    e = _emb(spark, sf_dir)
    bench = e.filter((F.col("vec_id") % 50) == 0).select(
        F.col("vec_id").alias("bench_id"), F.col("embedding").alias("b_emb")
    )
    corpus = e.filter((F.col("vec_id") % 50) != 0).alias("a")
    scored = corpus.crossJoin(F.broadcast(bench.alias("b"))).select(
        F.col("a.vec_id").alias("vec_id"),
        "bench_id",
        quantize(
            dot_product("a.embedding", "b.b_emb")
            / (
                F.sqrt(dot_product("a.embedding", "a.embedding"))
                * F.sqrt(dot_product("b.b_emb", "b.b_emb"))
            )
        ).alias("score"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max(F.struct("score", "bench_id")).alias("m")
    )
    return best.select(
        "vec_id",
        F.col("m.bench_id").alias("nearest_benchmark_id"),
        F.col("m.score").alias("max_score"),
    ).filter(F.col("max_score") >= 0.4)


_CONTAINMENT_SQL = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sig AS (
      SELECT doc_id, {_SIG_COLS}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_BANDS_SQL}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
      FROM pairs p
      JOIN sh sa ON p.doc_a = sa.doc_id
      JOIN sh sb ON p.doc_b = sb.doc_id AND sa.sh = sb.sh
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(za.n_sh AS BIGINT) AS n_a,
           CAST(zb.n_sh AS BIGINT) AS n_b,
           (i.n_inter * 1000000) // za.n_sh AS containment_a_micros,
           (i.n_inter * 1000000) // zb.n_sh AS containment_b_micros
    FROM inter i
    JOIN sizes za ON i.doc_a = za.doc_id
    JOIN sizes zb ON i.doc_b = zb.doc_id
    WHERE (i.n_inter * 1000000) // za.n_sh >= 700000
       OR (i.n_inter * 1000000) // zb.n_sh >= 700000
"""


@query("dedup_containment_pairs", _CONTAINMENT_SQL)
def dedup_containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT over the LSH candidate set: |A∩B|/|A| and
    |A∩B|/|B| in exact integer micros, keeping pairs where either direction
    reaches 0.7 — catches quote-inclusion / doc-inside-doc relations that
    symmetric Jaccard under-scores (a 20-word quote inside a 2000-word doc
    has Jaccard ≈ 0.01 but containment 1.0 from the quote's side).
    Candidates come from the Jaccard-tuned 8×2 banding, so recall is
    LSH-candidate-limited by construction; ``dedup_containment_exact`` is
    the FULL-recall path (prefix filtering on the smaller set), with the
    naive all-pairs join as its oracle. This row's oracle replays the
    identical bands+containment computation, so the gate is exact. See
    operators/dedup.py::lsh_containment_pairs."""
    from ..operators.dedup import lsh_containment_pairs

    return lsh_containment_pairs(_docs(spark, sf_dir))


_CONTAINMENT_EXACT_SQL = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
      SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh sa JOIN sh sb ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(za.n_sh AS BIGINT) AS n_a,
           CAST(zb.n_sh AS BIGINT) AS n_b,
           (i.n_inter * 1000000) // za.n_sh AS containment_a_micros,
           (i.n_inter * 1000000) // zb.n_sh AS containment_b_micros
    FROM inter i
    JOIN sizes za ON i.doc_a = za.doc_id
    JOIN sizes zb ON i.doc_b = zb.doc_id
    WHERE i.n_inter * 10 >= 7 * za.n_sh
       OR i.n_inter * 10 >= 7 * zb.n_sh
"""


@query("dedup_containment_exact", _CONTAINMENT_EXACT_SQL)
def dedup_containment_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-recall one-sided containment join at t = 0.7 — the guarantee
    the LSH-candidate-limited ``dedup_containment_pairs`` row cannot make:
    its oracle here is the NAIVE all-pairs shingle join, so every
    quote-inclusion pair the banding would miss must be found. Candidates
    come from prefix filtering on the smaller set (containment ≥ t bounds
    how many of the smaller set's shingles can miss, so its rarest
    ``n − ⌈t·n⌉ + 1`` shingles must hit the partner — pigeonhole, zero
    false negatives). See operators/dedup.py::containment_prefix_pairs."""
    from ..operators.dedup import containment_prefix_pairs

    return containment_prefix_pairs(_docs(spark, sf_dir))


@query(
    "winsorize_price_stats",
    """
    WITH r AS (
      SELECT l_returnflag AS g, l_extendedprice AS v,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) AS rn
      FROM lineitem
    ),
    n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM r GROUP BY 1),
    b AS (
      SELECT r.g,
             MAX(CASE WHEN rn = (n.n * 5 + 99) // 100 THEN v END) AS lo_v,
             MAX(CASE WHEN rn = (n.n * 95 + 99) // 100 THEN v END) AS hi_v
      FROM r JOIN n USING (g) GROUP BY 1
    )
    SELECT r.g AS l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(ROUND(MAX(b.lo_v) * 100) AS BIGINT) AS lo_cents,
           CAST(ROUND(MAX(b.hi_v) * 100) AS BIGINT) AS hi_cents,
           CAST(COUNT(CASE WHEN r.v < b.lo_v THEN 1 END) AS BIGINT)
             AS n_clipped_low,
           CAST(COUNT(CASE WHEN r.v > b.hi_v THEN 1 END) AS BIGINT)
             AS n_clipped_high,
           CAST(SUM(CAST(ROUND(GREATEST(b.lo_v, LEAST(b.hi_v, r.v)) * 100)
                         AS BIGINT)) AS BIGINT) AS winsorized_sum_cents
    FROM r JOIN b USING (g)
    GROUP BY 1
    """,
)
def winsorize_price_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized price statistics per return flag: clip at the group's
    exact ⌈p·n⌉ p05/p95 order statistics (computed by the scale-safe
    bucketed rank selection, not a single-buffer percentile), count what
    was clipped, and report the winsorized sum in exact integer cents. The
    oracle recomputes the same order statistics with a naive global
    per-group sort. See operators/aggregates.py::winsorize_stats."""
    from ..operators.aggregates import winsorize_stats

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return winsorize_stats(li, "l_returnflag", "l_extendedprice")


@query(
    "ngram_topp_nucleus",
    """
    WITH pairs AS (
      SELECT array_to_string(words[g.i:g.i+1], ' ') AS prefix,
             words[g.i + 2] AS next_word
      FROM (SELECT string_split(text, ' ') AS words FROM documents) d,
           unnest(generate_series(1, len(d.words) - 2)) AS g(i)
    ),
    counts AS (
      SELECT prefix, next_word, CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs GROUP BY 1, 2
    ),
    ranked AS (
      SELECT prefix, next_word, n,
             CAST(row_number() OVER w AS BIGINT) AS rank,
             CAST(SUM(n) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
             CAST(SUM(n) OVER (PARTITION BY prefix) AS BIGINT) AS total
      FROM counts
      WINDOW w AS (PARTITION BY prefix ORDER BY n DESC, next_word)
    )
    SELECT prefix, next_word, n, rank, total
    FROM ranked
    WHERE total >= 5 AND 10 * (cum - n) < 9 * total
    """,
)
def ngram_topp_nucleus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) continuation sets per bigram context: the smallest
    rank-prefix covering 90% of the context's continuation mass — pure
    integer membership (10·cum_before < 9·total), vocabulary-scale windows
    only. See operators/text_analysis.py::nucleus_continuations."""
    from ..operators.text_analysis import nucleus_continuations

    return nucleus_continuations(_docs(spark, sf_dir))


@query(
    "zipf_fit_tokens",
    """
    WITH toks AS (
      SELECT tok FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE length(tok) > 0
    ),
    counts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1),
    topk AS (
      SELECT tok, n, CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT)
               AS r
      FROM counts ORDER BY n DESC, tok LIMIT 1000
    ),
    pts AS (
      SELECT CAST(FLOOR(log10(CAST(r AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(log10(CAST(n AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS y
      FROM topk
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pts
    )
    SELECT np AS n_points,
           ((np * sxy - sx * sy) * 1000) // (np * sxx - sx * sx)
             AS zipf_slope_milli
    FROM s
    """,
)
def zipf_fit_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the top-1000 token frequencies: least-squares
    slope of log10(freq) vs log10(rank) (natural corpora sit near −1;
    template/boilerplate-heavy or synthetic corpora drift off it — a
    one-number corpus-health diagnostic). Exactness discipline: logs
    milli-quantized per point (correctly-rounded log10 of integer-derived
    doubles, the PMI precedent), every regression sum a bigint, slope via
    integer division — no float accumulation anywhere. Rank over the ≤1000
    top-k rows comes from a broadcast non-equi self-join, not a
    single-partition window."""
    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.length("tok") > 0)
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    topk = counts.orderBy(F.desc("n"), F.asc("tok")).limit(1000)
    a, b = topk.alias("a"), topk.alias("b")
    ranked = (
        a.join(
            F.broadcast(b),
            (F.col("b.n") > F.col("a.n"))
            | ((F.col("b.n") == F.col("a.n")) & (F.col("b.tok") < F.col("a.tok"))),
            "left",
        )
        .groupBy(F.col("a.tok").alias("tok"), F.col("a.n").alias("n"))
        .agg((F.count(F.col("b.tok")) + 1).cast("bigint").alias("r"))
    )
    pts = ranked.select(
        F.floor(F.log10(F.col("r").cast("double")) * 1000 + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
        F.floor(F.log10(F.col("n").cast("double")) * 1000 + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
    )
    return s.select(
        F.col("np").alias("n_points"),
        F.expr("((np * sxy - sx * sy) * 1000) div (np * sxx - sx * sx)").alias(
            "zipf_slope_milli"
        ),
    )


@query(
    "quantile_normalize_doclen",
    """
    WITH gr AS (
      SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS n_chars,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY n_chars, doc_id) AS BIGINT)
               AS group_rank,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_group
      FROM documents
    ),
    gl AS (
      SELECT CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
               AS target_rank,
             CAST(n_chars AS DOUBLE) AS normalized_value
      FROM documents
    ),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
    mapped AS (
      SELECT gr.doc_id, gr.source, gr.n_chars, gr.group_rank, gr.n_group,
             (gr.group_rank * nt.n_total + gr.n_group - 1) // gr.n_group
               AS target_rank
      FROM gr, nt
    )
    SELECT m.doc_id, m.source, m.n_chars, m.group_rank, m.n_group,
           m.target_rank, g.normalized_value
    FROM mapped m JOIN gl g USING (target_rank)
    """,
)
def quantile_normalize_doclen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of document lengths: every doc's
    n_chars maps onto the GLOBAL length distribution at its within-source
    quantile (rank ⌈r·N/n⌉) — after it, every source has an identical
    length distribution (the batch-effect corrector). Engine ranks come
    from bucketed rank selection (no whole-group windows — a 5-source
    corpus never collapses onto 5 tasks); the oracle is the naive
    two-window + join form. See operators/aggregates.py::quantile_normalize."""
    from ..operators.aggregates import quantile_normalize

    docs = _docs(spark, sf_dir)
    return quantile_normalize(docs, "source", "n_chars", "doc_id")


@query(
    "corpus_datasheet",
    """
    WITH per_source AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(list_filter(string_split(text, ' '),
                                      t -> length(t) > 0))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY 1
    ),
    dup AS (
      SELECT CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dups
      FROM documents
    ),
    langs AS (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS n FROM documents),
    med AS (
      SELECT CAST(n_chars AS BIGINT) AS v FROM (
        SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
               COUNT(*) OVER () AS n
        FROM documents
      ) WHERE rn = (n + 1) // 2
    )
    SELECT 'n_docs' AS metric, source AS scope, n_docs AS value FROM per_source
    UNION ALL
    SELECT 'n_ws_tokens', source, n_tokens FROM per_source
    UNION ALL
    SELECT 'n_exact_dup_docs', '_corpus', n_dups FROM dup
    UNION ALL
    SELECT 'n_languages', '_corpus', n FROM langs
    UNION ALL
    SELECT 'p50_doc_chars', '_corpus', v FROM med
    """,
)
def corpus_datasheet_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datasheet ('datasheets for datasets'): one long-form relation
    of headline corpus facts — per-source doc/token counts, exact-duplicate
    count, language count, median document length (the ⌈(n+1)/2⌉ order
    statistic via the bucketed rank machinery, not a single-buffer
    percentile). The one-query artifact a training-data release publishes
    next to the data. All values exact integers."""
    from ..operators.aggregates import grouped_exact_ranks

    docs = _docs(spark, sf_dir)
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            F.size(F.filter(F.split("text", " "), lambda t: F.length(t) > 0))
        )
        .cast("bigint")
        .alias("n_tokens"),
    ).localCheckpoint(eager=True)  # |sources| rows; no cache entry to leak
    n_docs_rows = per_source.select(
        F.lit("n_docs").alias("metric"), F.col("source").alias("scope"), F.col("n_docs").alias("value")
    )
    tok_rows = per_source.select(
        F.lit("n_ws_tokens").alias("metric"), F.col("source").alias("scope"), F.col("n_tokens").alias("value")
    )
    dup_row = docs.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.md5("text"))).cast("bigint").alias("value")
    ).select(F.lit("n_exact_dup_docs").alias("metric"), F.lit("_corpus").alias("scope"), "value")
    lang_row = docs.agg(F.count_distinct("lang").cast("bigint").alias("value")).select(
        F.lit("n_languages").alias("metric"), F.lit("_corpus").alias("scope"), "value"
    )
    ranks = grouped_exact_ranks(
        docs.select(F.lit(0).alias("_all"), "doc_id", "n_chars"), "_all", "n_chars", "doc_id"
    )
    med_row = (
        ranks.where(F.col("rank") == F.expr("(n + 1) div 2"))
        .select(
            F.lit("p50_doc_chars").alias("metric"),
            F.lit("_corpus").alias("scope"),
            F.col("n_chars").cast("bigint").alias("value"),
        )
    )
    return n_docs_rows.unionByName(tok_rows).unionByName(dup_row).unionByName(lang_row).unionByName(med_row)


# ---------------------------------------------------------------------------
# Round 7: retrieval scoring + named corpus-filter rule sets + LSH tuning
# ---------------------------------------------------------------------------

# the five highest-signal content words in the synthetic corpus vocabulary
_BM25_TERMS = ("spark", "join", "window", "merge", "stream")
_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@query(
    "bm25_doc_relevance",
    f"""
    WITH dl AS (
      SELECT doc_id, string_split(text, ' ') AS words,
             len(string_split(text, ' ')) AS dl
      FROM documents
    ),
    scal AS (
      SELECT COUNT(*) AS nd, SUM(len(string_split(text, ' '))) AS sum_dl
      FROM documents
    ),
    tf AS (
      SELECT d.doc_id, d.dl, t.term, COUNT(*) AS tf
      FROM dl d, unnest(d.words) AS t(term)
      WHERE t.term IN ({_BM25_IN})
      GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1)
    SELECT tf.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_matched_terms,
           CAST(SUM(CAST(FLOOR(
             ln((CAST(s.nd AS DOUBLE) - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
                                   / (CAST(s.sum_dl AS DOUBLE) / s.nd)))
               * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS bm25_micros
    FROM tf JOIN dfreq d USING (term), scal s
    GROUP BY 1
    """,
)
def bm25_relevance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 score of every document against a fixed query-term set
    (operators/text_analysis.py::bm25_scores) — retrieval-weighted corpus
    slicing. Per-term contributions quantized to integer micros before the
    per-doc sum, so the aggregate is shuffle-order-independent."""
    from ..operators.text_analysis import bm25_scores

    return bm25_scores(_docs(spark, sf_dir), _BM25_TERMS)


_GOPHER_IN = ", ".join(f"'{t}'" for t in ("the", "be", "to", "of", "and", "that", "have", "with"))


@query(
    "text_gopher_rules",
    rf"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
             CAST(LENGTH(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS mean_word_len,
             CAST((LENGTH(text) - LENGTH(replace(text, '#', '')))
                  + FLOOR(CAST(LENGTH(text) - LENGTH(replace(text, '...', '')) AS DOUBLE) / 3.0)
               AS DOUBLE) / len(string_split(text, ' ')) AS symbol_ratio,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
               / len(string_split(text, ' ')) AS alpha_word_ratio,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w IN ({_GOPHER_IN}))) AS INTEGER) AS n_stop_hits
      FROM documents
    )
    SELECT *,
           (r_word_count AND r_mean_word_len AND r_symbol_ratio
              AND r_alpha_words AND r_stop_words) AS keep
    FROM (
      SELECT *,
             (n_words >= 50 AND n_words <= 100000) AS r_word_count,
             (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_mean_word_len,
             (symbol_ratio <= 0.1) AS r_symbol_ratio,
             (alpha_word_ratio >= 0.8) AS r_alpha_words,
             (n_stop_hits >= 2) AS r_stop_words
      FROM feats
    )
    """,
)
def gopher_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule corpus gate (operators/text_analysis.py::
    gopher_quality_flags): per-rule booleans + composite keep flag, the
    named filter set (Rae et al. 2021) a pre-training pipeline ablates."""
    from ..operators.text_analysis import gopher_quality_flags

    return gopher_quality_flags(_docs(spark, sf_dir))


@query(
    "lsh_band_selectivity",
    """
    SELECT CAST(s_pct AS INTEGER) AS s_pct,
           CAST(8 AS INTEGER) AS bands,
           CAST(2 AS INTEGER) AS rows_per_band,
           CAST(FLOOR((1.0 - power(1.0 - power(CAST(s_pct AS DOUBLE) / 100.0, 2.0), 8.0))
                      * 1000000.0 + 0.5) AS BIGINT) AS p_collide_micros
    FROM generate_series(2, 100, 2) AS t(s_pct)
    """,
)
def lsh_band_selectivity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theoretical LSH s-curve for the dedup banding defaults
    (operators/dedup.py::band_selectivity_curve) — the tuning table behind
    the b=8, r=2 choice (50% collision at s ≈ 0.35)."""
    from ..operators.dedup import band_selectivity_curve

    return band_selectivity_curve(spark, bands=8, rows_per_band=2, step_pct=2)


_LANE_MATCH = " + ".join(f"(CASE WHEN x.h{s} = y.h{s} THEN 1 ELSE 0 END)" for s in range(16))


@query(
    "minhash_estimate_error",
    f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
    bands AS ({_BANDS_SQL}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
      FROM pairs p
      JOIN sh sa ON p.doc_a = sa.doc_id
      JOIN sh sb ON p.doc_b = sb.doc_id AND sa.sh = sb.sh
      GROUP BY 1, 2
    ),
    lanes AS (
      SELECT p.doc_a, p.doc_b, ({_LANE_MATCH}) AS n_matching
      FROM pairs p
      JOIN sig x ON p.doc_a = x.doc_id
      JOIN sig y ON p.doc_b = y.doc_id
    )
    SELECT l.doc_a, l.doc_b,
           CAST(l.n_matching AS INTEGER) AS n_matching_lanes,
           CAST((l.n_matching * CAST(1000000 AS BIGINT)) // 16 AS BIGINT)
             AS est_jaccard_micros,
           CAST((COALESCE(i.n_inter, 0) * 1000000)
                // (za.n_sh + zb.n_sh - COALESCE(i.n_inter, 0)) AS BIGINT)
             AS exact_jaccard_micros,
           CAST((l.n_matching * CAST(1000000 AS BIGINT)) // 16
                - (COALESCE(i.n_inter, 0) * 1000000)
                  // (za.n_sh + zb.n_sh - COALESCE(i.n_inter, 0)) AS BIGINT)
             AS err_micros
    FROM lanes l
    LEFT JOIN inter i ON l.doc_a = i.doc_a AND l.doc_b = i.doc_b
    JOIN sizes za ON l.doc_a = za.doc_id
    JOIN sizes zb ON l.doc_b = zb.doc_id
    """,
)
def minhash_estimate_error_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration over the LSH candidate set
    (operators/dedup.py::minhash_estimate_calibration): signature-estimated
    vs exact Jaccard + signed error, all integer-exact."""
    from ..operators.dedup import minhash_estimate_calibration

    return minhash_estimate_calibration(_docs(spark, sf_dir))


@query(
    "ccnet_perplexity_buckets",
    """
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    wc AS (SELECT doc_id, w, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
    cc AS (SELECT w, SUM(cnt) AS cw FROM wc GROUP BY 1),
    tot AS (SELECT SUM(cw) AS tot FROM cc),
    probs AS (
      SELECT w, CAST(FLOOR(-log10(CAST(cw AS DOUBLE) / tot) * 1000000 + 0.5) AS BIGINT)
               AS nl_u
      FROM cc, tot
    ),
    doc_scores AS (
      SELECT wc.doc_id,
             CAST(CAST(SUM(wc.cnt * p.nl_u) AS BIGINT) // CAST(SUM(wc.cnt) AS BIGINT)
                  AS BIGINT) AS mean_micros
      FROM wc JOIN probs p ON wc.w = p.w
      GROUP BY 1
    ),
    ranked AS (
      SELECT s.doc_id, d.lang, s.mean_micros,
             ROW_NUMBER() OVER (PARTITION BY d.lang
                                ORDER BY s.mean_micros, s.doc_id) AS rank,
             COUNT(*) OVER (PARTITION BY d.lang) AS n
      FROM doc_scores s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang,
           CAST(mean_micros AS BIGINT) AS mean_neglog_micros,
           CAST(rank AS BIGINT) AS rank,
           CAST(n AS BIGINT) AS n,
           CASE ((rank - 1) * 3) // n
             WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM ranked
    """,
)
def ccnet_perplexity_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity split per language
    (operators/text_analysis.py::perplexity_buckets): exact within-language
    tertiles by unigram-LM mean -log10 p, skew-proof bucketed ranks."""
    from ..operators.text_analysis import perplexity_buckets

    return perplexity_buckets(_docs(spark, sf_dir))


@query(
    "cross_source_overlap",
    """
    WITH sh AS (SELECT DISTINCT source AS src, md5(text) AS h FROM documents),
    totals AS (SELECT src, COUNT(*) AS n_distinct FROM sh GROUP BY 1),
    shared AS (
      SELECT a.src AS source_a, b.src AS source_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b ON a.h = b.h AND a.src < b.src
      GROUP BY 1, 2
    )
    SELECT s.source_a, s.source_b,
           CAST(s.n_shared AS BIGINT) AS n_shared,
           CAST(ta.n_distinct AS BIGINT) AS n_a,
           CAST(tb.n_distinct AS BIGINT) AS n_b,
           CAST((s.n_shared * 1000000) // ta.n_distinct AS BIGINT) AS overlap_a_micros,
           CAST((s.n_shared * 1000000) // tb.n_distinct AS BIGINT) AS overlap_b_micros
    FROM shared s
    JOIN totals ta ON s.source_a = ta.src
    JOIN totals tb ON s.source_b = tb.src
    """,
)
def cross_source_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source duplication matrix (operators/profiling.py::
    cross_source_overlap): shared distinct content hashes per source pair +
    asymmetric overlap fractions — the mixture-weight double-count check."""
    from ..operators.profiling import cross_source_overlap

    return cross_source_overlap(_docs(spark, sf_dir))


@query(
    "doc_novelty_rates",
    f"""
    WITH sh AS ({_SHINGLES_SQL}),
    dfreq AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY 1)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           CAST((SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
                AS BIGINT) AS novelty_micros
    FROM sh s JOIN dfreq d ON s.sh = d.sh
    GROUP BY 1
    """,
)
def doc_novelty_rates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram novelty (operators/text_analysis.py::novelty_rates):
    fraction of a doc's distinct 3-gram shingles with corpus df = 1 —
    original-content signal / memorization-risk proxy, integer micros."""
    from ..operators.text_analysis import novelty_rates

    return novelty_rates(_docs(spark, sf_dir))


_V5_SQL = f"""
    WITH g AS (
      SELECT * FROM documents
      WHERE len(string_split(text, ' ')) BETWEEN 50 AND 100000
        AND CAST(LENGTH(replace(text, ' ', '')) AS DOUBLE)
              / len(string_split(text, ' ')) BETWEEN 3.0 AND 10.0
        AND CAST((LENGTH(text) - LENGTH(replace(text, '#', '')))
              + FLOOR(CAST(LENGTH(text) - LENGTH(replace(text, '...', '')) AS DOUBLE) / 3.0)
              AS DOUBLE) / len(string_split(text, ' ')) <= 0.1
        AND CAST(len(list_filter(string_split(text, ' '),
                                 w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
              / len(string_split(text, ' ')) >= 0.8
        AND len(list_filter(string_split(text, ' '), w -> w IN ({_GOPHER_IN}))) >= 2
    ),
    reps AS (SELECT md5(text) AS ch, MIN(doc_id) AS kept_id FROM g GROUP BY 1),
    s2 AS (SELECT g.* FROM g JOIN reps r ON g.doc_id = r.kept_id),
    w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM s2),
    wc AS (SELECT doc_id, w, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
    cc AS (SELECT w, SUM(cnt) AS cw FROM wc GROUP BY 1),
    tot AS (SELECT SUM(cw) AS tot FROM cc),
    probs AS (
      SELECT w, CAST(FLOOR(-log10(CAST(cw AS DOUBLE) / tot) * 1000000 + 0.5) AS BIGINT)
               AS nl_u
      FROM cc, tot
    ),
    doc_scores AS (
      SELECT wc.doc_id,
             CAST(CAST(SUM(wc.cnt * p.nl_u) AS BIGINT) // CAST(SUM(wc.cnt) AS BIGINT)
                  AS BIGINT) AS mean_micros
      FROM wc JOIN probs p ON wc.w = p.w
      GROUP BY 1
    ),
    ranked AS (
      SELECT s.doc_id, d.lang, s.mean_micros,
             ROW_NUMBER() OVER (PARTITION BY d.lang
                                ORDER BY s.mean_micros, s.doc_id) AS rank,
             COUNT(*) OVER (PARTITION BY d.lang) AS n
      FROM doc_scores s JOIN s2 d USING (doc_id)
    ),
    bucketed AS (
      SELECT doc_id, lang,
             CASE ((rank - 1) * 3) // n
               WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
             END AS bucket
      FROM ranked
    ),
    sh AS (
      SELECT DISTINCT d.doc_id,
             d.words[i] || ' ' || d.words[i+1] || ' ' || d.words[i+2] AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM s2) d,
           unnest(generate_series(1, len(d.words) - 2)) AS t(i)
    ),
    dfreq AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY 1),
    nov AS (
      SELECT s.doc_id,
             CAST((SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
                  AS BIGINT) AS novelty_micros
      FROM sh s JOIN dfreq d ON s.sh = d.sh
      GROUP BY 1
    )
    SELECT b.lang, b.bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(s2.text, ' '))) AS BIGINT) AS n_tokens_total,
           CAST(SUM(nov.novelty_micros) // COUNT(*) AS BIGINT) AS avg_novelty_micros
    FROM bucketed b
    JOIN s2 USING (doc_id)
    JOIN nov USING (doc_id)
    WHERE b.bucket <> 'tail'
    GROUP BY 1, 2
"""


@query("training_corpus_pipeline_v5", _V5_SQL)
def training_corpus_pipeline_v5_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 corpus pipeline: Gopher-rule gate → exact dedup → CCNet
    perplexity bucketing trained on the SURVIVING corpus (head+middle kept,
    tail dropped) → per-(lang, bucket) accounting with mean n-gram novelty.
    Every stage is the already-oracle-checked round-7 operator; ONE DuckDB
    oracle replays the whole chain including the self-referential LM and
    novelty statistics. Stage boundaries eager-checkpoint (the tables you'd
    materialize at 100 TB)."""
    from ..operators.dedup import exact_duplicate_groups
    from ..operators.text_analysis import (
        gopher_quality_flags,
        novelty_rates,
        perplexity_buckets,
    )

    docs = _docs(spark, sf_dir)
    kept = gopher_quality_flags(docs).filter(F.col("keep")).select("doc_id")
    s1 = docs.join(kept, "doc_id").localCheckpoint(eager=True)
    reps = exact_duplicate_groups(s1).select(
        F.col("representative_id").alias("doc_id")
    )
    s2 = s1.join(reps, "doc_id").localCheckpoint(eager=True)
    buckets = perplexity_buckets(s2).filter(F.col("bucket") != "tail").select(
        "doc_id", "lang", "bucket"
    )
    nov = novelty_rates(s2).select("doc_id", "novelty_micros")
    toks = s2.select("doc_id", F.size(F.split("text", " ")).alias("n_ws"))
    return (
        buckets.join(toks, "doc_id")
        .join(nov, "doc_id")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_ws").cast("bigint").alias("n_tokens_total"),
            F.expr("sum(novelty_micros) div count(1)").cast("bigint").alias(
                "avg_novelty_micros"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round 8: preference-data / corpus-weighting family — Bradley-Terry strength
# fitting, reward length-debiasing (+ debiased DPO mining), weak-labeler
# agreement, soft dedup weighting, tokenizer fertility.
# ---------------------------------------------------------------------------


def _bt_oracle_sql(iterations: int = 3) -> str:
    """Unrolled MM iterations mirroring bradley_terry_strengths exactly:
    every quantity integer micros, `//` == Spark `div` (operands are
    non-negative throughout)."""
    head = """
    WITH tot AS (
      SELECT user_id AS g, event_type AS item,
             CAST(SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 1000 + 0.5) AS BIGINT))
                  AS BIGINT) AS vu
      FROM events GROUP BY 1, 2
    ),
    pw AS (
      SELECT a.item AS i, b.item AS j,
             CASE WHEN a.vu > b.vu THEN 1 ELSE 0 END AS win_i
      FROM tot a JOIN tot b ON a.g = b.g AND a.item < b.item AND a.vu <> b.vu
    ),
    mat AS (SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(win_i) AS BIGINT) AS w_i
            FROM pw GROUP BY 1, 2),
    sym AS (SELECT i, j, n FROM mat UNION ALL SELECT j AS i, i AS j, n FROM mat),
    wins AS (
      SELECT item, CAST(SUM(w) AS BIGINT) AS w FROM (
        SELECT i AS item, w_i AS w FROM mat
        UNION ALL SELECT j AS item, n - w_i AS w FROM mat
      ) GROUP BY 1
    ),
    games AS (SELECT i AS item, CAST(SUM(n) AS BIGINT) AS n_games FROM sym GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM wins),
    s0 AS (SELECT item, CAST(1000000 AS BIGINT) AS s FROM wins)"""
    iters = []
    for k in range(1, iterations + 1):
        prev = f"s{k - 1}"
        iters.append(
            f""",
    d{k} AS (SELECT sym.i AS item,
                   CAST(SUM((sym.n * 1000000000000) // GREATEST(si.s + sj.s, 1))
                        AS BIGINT) AS d
            FROM sym JOIN {prev} si ON si.item = sym.i
                     JOIN {prev} sj ON sj.item = sym.j
            GROUP BY 1),
    r{k} AS (SELECT w.item,
                   CAST((w.w * 1000000000000) // GREATEST(d.d, 1) AS BIGINT) AS raw
            FROM wins w JOIN d{k} d ON d.item = w.item),
    s{k} AS (SELECT r{k}.item,
                   CAST((CAST(r{k}.raw AS HUGEINT) * nn.n_items * 1000000)
                        // GREATEST((SELECT CAST(SUM(raw) AS BIGINT) FROM r{k}), 1)
                        AS BIGINT) AS s
            FROM r{k}, nn)"""
        )
    tail = f"""
    SELECT w.item AS item, g.n_games, w.w AS n_wins, s{iterations}.s AS strength_micros,
           CAST(row_number() OVER (ORDER BY s{iterations}.s DESC, w.item ASC)
                AS INTEGER) AS rank
    FROM s{iterations} JOIN wins w ON w.item = s{iterations}.item
         JOIN games g ON g.item = s{iterations}.item
    """
    return head + "".join(iters) + tail


def _bt_calibration_oracle_sql(iterations: int = 3) -> str:
    """Same unrolled MM CTEs, with the calibration tail: observed vs
    BT-predicted win rate per decided pair."""
    full = _bt_oracle_sql(iterations)
    head = full[: full.rindex("SELECT w.item AS item")]
    return head + f"""SELECT m.i AS item_i, m.j AS item_j, m.n AS n_games, m.w_i AS wins_i,
           (m.w_i * 1000000) // m.n AS obs_micros,
           (si.s * 1000000) // GREATEST(si.s + sj.s, 1) AS pred_micros,
           ABS((m.w_i * 1000000) // m.n
               - (si.s * 1000000) // GREATEST(si.s + sj.s, 1)) AS abs_gap_micros
    FROM mat m JOIN s{iterations} si ON si.item = m.i
         JOIN s{iterations} sj ON sj.item = m.j
    """


@query("bt_preference_strengths", _bt_oracle_sql())
def bt_preference_strengths_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry MM fit over per-user pairwise event-type outcomes:
    corpus-scale work is one (user, item) aggregate; the MM loop runs on
    the |items|²-bounded win matrix with eager per-round checkpoints."""
    from ..operators.preference import bradley_terry_strengths

    return bradley_terry_strengths(_events(spark, sf_dir))


_DEBIAS_CTE = """
    WITH b AS (
      SELECT source AS group_id, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
             CAST(FLOOR(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' ')) * 1000000 + 0.5) AS BIGINT) AS y
      FROM documents
    ),
    s AS (
      SELECT group_id, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM b GROUP BY 1
    ),
    s2 AS (
      SELECT *, CASE WHEN n * sxx - sx * sx > 0
                     THEN CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE)
                     ELSE 0.0 END AS slope
      FROM s
    ),
    r AS (
      SELECT b.group_id, b.doc_id, b.x, b.y, s2.slope,
             CAST(FLOOR(CAST(b.y AS DOUBLE)
                  - (CAST(s2.sy AS DOUBLE) / CAST(s2.n AS DOUBLE)
                     + s2.slope * (CAST(b.x AS DOUBLE)
                                   - CAST(s2.sx AS DOUBLE) / CAST(s2.n AS DOUBLE)))
                  + 0.5) AS BIGINT) AS resid
      FROM b JOIN s2 USING (group_id)
    )
"""


@query(
    "reward_length_debias",
    _DEBIAS_CTE
    + """
    SELECT group_id, doc_id, x AS n_words, y AS score_u,
           CAST(FLOOR(slope * 1000 + 0.5) AS BIGINT) AS slope_milli_u_per_word,
           resid AS resid_micros
    FROM r
    """,
)
def reward_length_debias_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source OLS of reward on length; each doc's signal is the
    residual — exact bigint regression sums, one IEEE division, mirrored
    prediction chain (reward-model length-exploit guard)."""
    from ..operators.preference import reward_length_debias

    return reward_length_debias(_docs(spark, sf_dir))


@query(
    "dpo_pairs_debiased",
    _DEBIAS_CTE
    + """
    , top AS (SELECT *, row_number() OVER (PARTITION BY group_id
                                           ORDER BY resid DESC, doc_id ASC) AS pair_rank
              FROM r),
    bot AS (SELECT *, row_number() OVER (PARTITION BY group_id
                                         ORDER BY resid ASC, doc_id DESC) AS pair_rank
            FROM r)
    SELECT t.group_id, CAST(t.pair_rank AS INTEGER) AS pair_rank,
           t.doc_id AS chosen_id, bo.doc_id AS rejected_id,
           t.resid AS chosen_resid_u, bo.resid AS rejected_resid_u,
           t.resid - bo.resid AS margin_u,
           t.x AS chosen_words, bo.x AS rejected_words,
           t.y > bo.y AS raw_agrees
    FROM top t JOIN bot bo USING (group_id, pair_rank)
    WHERE t.pair_rank <= 5 AND t.resid > bo.resid
    """,
)
def dpo_pairs_debiased_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO mining on the length-debiased reward (top/bottom-5 by OLS
    residual), with a raw_agrees audit flag per pair — the two preference
    passes composed the way a production pipeline would."""
    from ..operators.preference import dpo_pairs_debiased

    return dpo_pairs_debiased(_docs(spark, sf_dir))


_WEAK_LABELERS = ["l_length", "l_stopword", "l_repetition", "l_alpha"]


def _kappa_oracle_sql() -> str:
    """Reuses the weak_label_votes labeler CTE, then one global confusion
    aggregate unpivoted to the six labeler pairs."""
    pairs = [
        (i, j)
        for i in range(len(_WEAK_LABELERS))
        for j in range(i + 1, len(_WEAK_LABELERS))
    ]
    cells = ",\n             ".join(
        f"CAST(SUM(CASE WHEN {_WEAK_LABELERS[i]} AND {_WEAK_LABELERS[j]} THEN 1 ELSE 0 END) AS BIGINT) AS a_{i}{j},\n"
        f"             CAST(SUM(CASE WHEN {_WEAK_LABELERS[i]} AND NOT {_WEAK_LABELERS[j]} THEN 1 ELSE 0 END) AS BIGINT) AS b_{i}{j},\n"
        f"             CAST(SUM(CASE WHEN NOT {_WEAK_LABELERS[i]} AND {_WEAK_LABELERS[j]} THEN 1 ELSE 0 END) AS BIGINT) AS c_{i}{j}"
        for i, j in pairs
    )
    union = "\n      UNION ALL\n      ".join(
        f"SELECT '{_WEAK_LABELERS[i]}' AS labeler_a, '{_WEAK_LABELERS[j]}' AS labeler_b,"
        f" n, a_{i}{j} AS a, b_{i}{j} AS b, c_{i}{j} AS c FROM agg"
        for i, j in pairs
    )
    return f"""
    WITH f AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ('the', 'and', 'of', 'is', 'a', 'to', 'in')))
               AS stop_hits,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS distinct_frac,
             CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
               / length(text) AS alpha_ratio
      FROM documents
    ),
    v AS (
      SELECT doc_id,
             COALESCE(n_words BETWEEN 20 AND 1000, FALSE) AS l_length,
             COALESCE(CAST(stop_hits AS DOUBLE) / n_words >= 0.05, FALSE) AS l_stopword,
             COALESCE(distinct_frac >= 0.3, FALSE) AS l_repetition,
             COALESCE(alpha_ratio >= 0.5, FALSE) AS l_alpha
      FROM f
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             {cells}
      FROM v
    ),
    p AS (
      {union}
    ),
    q AS (SELECT *, n - a - b - c AS d FROM p),
    rates AS (SELECT *, (1000000 * (a + d)) // n AS po_u,
                     (1000000 * (a + b)) // n AS p1_u,
                     (1000000 * (a + c)) // n AS p2_u FROM q),
    pe AS (SELECT *, (p1_u * p2_u + (1000000 - p1_u) * (1000000 - p2_u))
                       // 1000000 AS pe_u FROM rates)
    SELECT labeler_a, labeler_b, n AS n_docs, a AS both_true, b AS a_only,
           c AS b_only, d AS both_false,
           po_u AS po_micros, pe_u AS pe_micros,
           CASE WHEN pe_u < 1000000
                THEN CAST(FLOOR(CAST(po_u - pe_u AS DOUBLE)
                     / CAST(1000000 - pe_u AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                ELSE 0 END AS kappa_micros
    FROM pe
    """


@query("labeler_agreement_kappa", _kappa_oracle_sql())
def labeler_agreement_kappa_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Cohen's kappa between the four weak labelers: one global
    confusion aggregate in a single scan, unpivoted to 6 pair rows."""
    from ..operators.quality import labeler_agreement_kappa

    return labeler_agreement_kappa(_docs(spark, sf_dir))


@query(
    "dedup_soft_weights",
    """
    WITH h AS (
      SELECT source AS group_id, md5(text) AS content_hash,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      FROM documents
    ),
    fam AS (SELECT content_hash, CAST(COUNT(*) AS BIGINT) AS m FROM h GROUP BY 1),
    j AS (SELECT h.group_id, h.toks, 1000000 // fam.m AS w_u
          FROM h JOIN fam USING (content_hash))
    SELECT group_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS raw_tokens,
           CAST(SUM(w_u) AS BIGINT) AS eff_docs_micros,
           CAST(SUM(toks * w_u) AS BIGINT) AS eff_tokens_micros,
           (CAST(SUM(toks) AS BIGINT) * 1000000)
             // GREATEST(CAST(SUM(toks * w_u) AS BIGINT) // 1000000, 1)
             AS dedup_pressure_micros
    FROM j GROUP BY 1
    """,
)
def dedup_soft_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: copies of an m-times-repeated text each weigh 1/m —
    per-source raw vs effective doc/token mass and dedup pressure."""
    from ..operators.dedup import soft_dedup_weights

    return soft_dedup_weights(_docs(spark, sf_dir))


@query(
    "tokenizer_fertility_by_lang",
    r"""
    WITH d AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                  AS BIGINT) AS t,
             CAST(length(text) AS BIGINT) AS c
      FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS n_words,
           CAST(SUM(t) AS BIGINT) AS n_tokens,
           CAST(SUM(c) AS BIGINT) AS n_chars,
           (CAST(SUM(t) AS BIGINT) * 1000000) // GREATEST(CAST(SUM(w) AS BIGINT), 1)
             AS fertility_micros,
           (CAST(SUM(c) AS BIGINT) * 1000000) // GREATEST(CAST(SUM(t) AS BIGINT), 1)
             AS chars_per_token_micros,
           (CAST(SUM(t) AS BIGINT) * 1000000) // GREATEST(CAST(COUNT(*) AS BIGINT), 1)
             AS tokens_per_doc_micros
    FROM d GROUP BY 1
    """,
)
def tokenizer_fertility_by_lang_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (subword tokens per word),
    chars-per-token, tokens-per-doc — the multilingual tokenizer-equity
    audit, one keyed aggregate."""
    from ..operators.text_analysis import tokenizer_fertility

    return tokenizer_fertility(_docs(spark, sf_dir))


@query(
    "unimax_language_budget",
    """
    WITH per AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ),
    c AS (SELECT lang, n_tokens, 2 * n_tokens AS cap FROM per),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot,
                 CAST(COUNT(*) AS BIGINT) AS n_langs FROM c),
    b AS (SELECT (tot * 2) // 5 AS budget, n_langs FROM t),
    o AS (
      SELECT c.*, CAST(row_number() OVER (ORDER BY cap, lang) AS BIGINT) AS i,
             CAST(COALESCE(SUM(cap) OVER (ORDER BY cap, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS prefix
      FROM c
    ),
    f AS (SELECT o.*, b.budget, b.n_langs,
                 (o.cap * (b.n_langs - o.i + 1) + o.prefix <= b.budget) AS capped
          FROM o, b),
    s AS (SELECT CAST(COALESCE(SUM(CASE WHEN capped THEN cap END), 0) AS BIGINT)
                   AS cap_sum,
                 CAST(COALESCE(SUM(CASE WHEN capped THEN 1 END), 0) AS BIGINT) AS k
          FROM f)
    SELECT f.lang, f.n_tokens, f.cap AS cap_tokens, f.capped,
           CASE WHEN f.capped THEN f.cap
                ELSE (f.budget - s.cap_sum) // GREATEST(f.n_langs - s.k, 1)
           END AS alloc_tokens,
           ((CASE WHEN f.capped THEN f.cap
                  ELSE (f.budget - s.cap_sum) // GREATEST(f.n_langs - s.k, 1)
             END) * 1000000) // GREATEST(f.n_tokens, 1) AS epochs_micros
    FROM f, s
    """,
)
def unimax_language_budget_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax water-filling: 40% corpus-token budget spread uniformly
    across languages with a 2-epoch per-language cap; closed-form capped
    set via broadcast non-equi rank on the |langs|-scale table."""
    from ..operators.sampling import unimax_language_budget

    return unimax_language_budget(_docs(spark, sf_dir))


_V6_SQL = rf"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
             CAST(LENGTH(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS mean_word_len,
             CAST((LENGTH(text) - LENGTH(replace(text, '#', '')))
                  + FLOOR(CAST(LENGTH(text) - LENGTH(replace(text, '...', '')) AS DOUBLE) / 3.0)
               AS DOUBLE) / len(string_split(text, ' ')) AS symbol_ratio,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
               / len(string_split(text, ' ')) AS alpha_word_ratio,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w IN ({_GOPHER_IN}))) AS INTEGER) AS n_stop_hits
      FROM documents
    ),
    kept AS (
      SELECT doc_id FROM feats
      WHERE n_words >= 50 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_ratio <= 0.1 AND alpha_word_ratio >= 0.8 AND n_stop_hits >= 2
    ),
    s1 AS (SELECT d.* FROM documents d JOIN kept USING (doc_id)),
    h AS (SELECT lang, md5(text) AS content_hash,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
          FROM s1),
    g1 AS (SELECT lang, content_hash, CAST(COUNT(*) AS BIGINT) AS n_g,
                  CAST(SUM(toks) AS BIGINT) AS sum_toks
           FROM h GROUP BY 1, 2),
    fam AS (SELECT content_hash, CAST(SUM(n_g) AS BIGINT) AS m FROM g1 GROUP BY 1),
    eff AS (SELECT lang, CAST(SUM(n_g) AS BIGINT) AS n_docs,
                   CAST(SUM(sum_toks) AS BIGINT) AS raw_tokens,
                   CAST(SUM(sum_toks * (1000000 // m)) AS BIGINT) AS eff_tokens_micros
            FROM g1 JOIN fam USING (content_hash) GROUP BY 1),
    per AS (SELECT lang, n_docs, raw_tokens,
                   eff_tokens_micros // 1000000 AS n_tokens
            FROM eff),
    c AS (SELECT lang, n_tokens, 2 * n_tokens AS cap FROM per),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot,
                 CAST(COUNT(*) AS BIGINT) AS n_langs FROM c),
    b AS (SELECT (tot * 2) // 5 AS budget, n_langs FROM t),
    o AS (
      SELECT c.*, CAST(row_number() OVER (ORDER BY cap, lang) AS BIGINT) AS i,
             CAST(COALESCE(SUM(cap) OVER (ORDER BY cap, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS prefix
      FROM c
    ),
    f AS (SELECT o.*, b.budget, b.n_langs,
                 (o.cap * (b.n_langs - o.i + 1) + o.prefix <= b.budget) AS capped
          FROM o, b),
    s AS (SELECT CAST(COALESCE(SUM(CASE WHEN capped THEN cap END), 0) AS BIGINT)
                   AS cap_sum,
                 CAST(COALESCE(SUM(CASE WHEN capped THEN 1 END), 0) AS BIGINT) AS k
          FROM f)
    SELECT per.lang, per.n_docs, per.raw_tokens, per.n_tokens AS eff_tokens, f.capped,
           CASE WHEN f.capped THEN f.cap
                ELSE (f.budget - s.cap_sum) // GREATEST(f.n_langs - s.k, 1)
           END AS alloc_tokens,
           ((CASE WHEN f.capped THEN f.cap
                  ELSE (f.budget - s.cap_sum) // GREATEST(f.n_langs - s.k, 1)
             END) * 1000000) // GREATEST(per.n_tokens, 1) AS epochs_micros
    FROM per JOIN f USING (lang), s
    """


@query("training_corpus_pipeline_v6", _V6_SQL)
def training_corpus_pipeline_v6_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 corpus pipeline: Gopher-rule gate → SOFT dedup (copies of an
    m-times-repeated text weigh 1/m instead of being dropped) → UniMax
    water-filling of a 40% token budget over per-language EFFECTIVE token
    mass. The duplicate-aware alternative to the v5 hard-dedup chain: one
    oracle replays gate + weighting + allocation end-to-end. Corpus-scale
    work is two keyed aggregates behind one checkpoint boundary; the
    water-fill runs on the |langs|-row frame."""
    from ..operators.sampling import unimax_fill
    from ..operators.text_analysis import gopher_quality_flags

    docs = _docs(spark, sf_dir)
    kept = gopher_quality_flags(docs).filter(F.col("keep")).select("doc_id")
    s1 = docs.join(kept, "doc_id").localCheckpoint(eager=True)
    h = s1.select(
        "lang",
        F.md5("text").alias("content_hash"),
        F.size(F.split("text", " ")).cast("bigint").alias("toks"),
    )
    g1 = h.groupBy("lang", "content_hash").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("toks").alias("sum_toks"),
    )
    fam = g1.groupBy("content_hash").agg(F.sum("n_g").alias("m"))
    eff = (
        g1.join(fam, "content_hash")
        .groupBy("lang")
        .agg(
            F.sum("n_g").alias("n_docs"),
            F.sum("sum_toks").alias("raw_tokens"),
            F.sum(F.expr("sum_toks * (1000000 div m)")).alias("eff_tokens_micros"),
        )
    )
    per_lang = eff.select("lang", F.expr("eff_tokens_micros div 1000000").alias("n_tokens"))
    alloc = unimax_fill(per_lang)
    return eff.join(alloc, "lang").select(
        "lang",
        "n_docs",
        "raw_tokens",
        F.col("n_tokens").alias("eff_tokens"),
        "capped",
        "alloc_tokens",
        "epochs_micros",
    )


_V7_SQL = f"""
    WITH g0 AS (
      SELECT doc_id,
             CASE WHEN bucket < 25 THEN 'test' WHEN bucket < 50 THEN 'val'
                  ELSE 'train' END AS split,
             ws
      FROM (SELECT doc_id, string_split(text, ' ') AS ws, {_RHO_SPLIT} AS bucket
            FROM documents)
      WHERE len(ws) >= 5
    ),
    grams AS (
      SELECT DISTINCT doc_id, split,
             md5(array_to_string(ws[gg.i + 1 : gg.i + 5], ' ')) AS g
      FROM g0, unnest(generate_series(0, len(ws) - 5)) AS gg(i)
    ),
    test_g AS (SELECT DISTINCT g FROM grams WHERE split = 'test'),
    cand_g AS (SELECT doc_id, g FROM grams WHERE split <> 'test'),
    probes_t AS (
      SELECT CAST(('0x' || substr(md5(g), p.p * 8 + 1, 8)) AS BIGINT) % 65536 AS idx
      FROM test_g, unnest(generate_series(0, 3)) AS p(p)
    ),
    bitmap AS (
      SELECT CAST(idx // 32 AS INTEGER) AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(idx % 32 AS INTEGER)) AS word
      FROM probes_t GROUP BY 1
    ),
    cand_probes AS (
      SELECT doc_id, g,
             CAST(('0x' || substr(md5(g), p.p * 8 + 1, 8)) AS BIGINT) % 65536 AS idx
      FROM cand_g, unnest(generate_series(0, 3)) AS p(p)
    ),
    hits AS (
      SELECT doc_id, g,
             CASE WHEN SUM(CASE WHEN (COALESCE(b.word, 0)
                                      & (CAST(1 AS BIGINT)
                                         << CAST(cp.idx % 32 AS INTEGER))) <> 0
                               THEN 1 ELSE 0 END) = 4
                  THEN 1 ELSE 0 END AS bloom_hit
      FROM cand_probes cp
      LEFT JOIN bitmap b ON b.word_idx = CAST(cp.idx // 32 AS INTEGER)
      GROUP BY 1, 2
    ),
    flagged AS (
      SELECT doc_id, CAST(MAX(bloom_hit) AS INTEGER) AS flagged
      FROM hits GROUP BY 1
    ),
    -- corpus-in: every NON-TEST doc (test rows are the held-out benchmark,
    -- never training data); sub-5-word docs carry no probe n-grams and
    -- pass the gate trivially
    corpus_in AS (
      SELECT d.doc_id, d.source, d.text,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words_raw,
             COALESCE(f.flagged, 0) AS flagged
      FROM (SELECT doc_id, source, text,
                   ({_RHO_SPLIT}) AS bucket FROM documents) d
      LEFT JOIN flagged f USING (doc_id)
      WHERE d.bucket >= 25
    ),
    surv AS (SELECT * FROM corpus_in WHERE flagged = 0),
    -- ExactSubstr rewrite OVER THE SURVIVOR SET (composition order:
    -- window frequencies and first occurrences count survivors only)
    w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM surv),
    wn AS (SELECT doc_id, source, ws, len(ws) AS n_w FROM w WHERE len(ws) >= 10),
    wins AS (
      SELECT doc_id, g.i AS pos,
             md5(array_to_string(ws[g.i + 1 : g.i + 10], ' ')) AS h
      FROM wn, unnest(generate_series(0, n_w - 10)) AS g(i)
    ),
    dup AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM wins
      ) WHERE rn > 1
    ),
    brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER
                    (PARTITION BY doc_id ORDER BY pos) > 10
                  THEN 1 ELSE 0 END AS brk
      FROM dup
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
      FROM brk
    ),
    per_isl AS (
      SELECT doc_id, isl_id, MIN(pos) AS a, MAX(pos) AS b
      FROM isl GROUP BY 1, 2
    ),
    removed AS (
      SELECT doc_id, CAST(SUM(b - a + 10) AS BIGINT) AS n_removed
      FROM per_isl GROUP BY 1
    ),
    per_doc AS (
      SELECT s.source, s.n_words_raw,
             s.n_words_raw - COALESCE(r.n_removed, 0) AS n_kept
      FROM surv s LEFT JOIN removed r USING (doc_id)
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_in,
           CAST(SUM(c.flagged) AS BIGINT) AS n_decontam_removed,
           CAST(COUNT(*) - SUM(c.flagged) AS BIGINT) AS n_docs_out,
           CAST(SUM(CASE WHEN c.flagged = 0 THEN c.n_words_raw ELSE 0 END)
                AS BIGINT) AS raw_words,
           COALESCE((SELECT CAST(SUM(p.n_kept) AS BIGINT) FROM per_doc p
            WHERE p.source = c.source), 0) AS kept_words,
           CAST((SUM(CASE WHEN c.flagged = 0 THEN c.n_words_raw ELSE 0 END)
                 - COALESCE((SELECT SUM(p.n_kept) FROM per_doc p
                    WHERE p.source = c.source), 0)) * 1000000
                // GREATEST(SUM(CASE WHEN c.flagged = 0 THEN c.n_words_raw
                                     ELSE 0 END), 1) AS BIGINT)
             AS rewrite_removed_ratio_micros
    FROM corpus_in c GROUP BY 1
    """


@query("training_corpus_pipeline_v7", _V7_SQL)
def training_corpus_pipeline_v7_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-10 corpus pipeline: Bloom test-set decontamination gate
    (flagged docs drop — the one-sided prefilter, FPs included by design)
    → ExactSubstr position-level rewrite over the SURVIVOR set (window
    frequencies count survivors only) → per-source yield report
    (docs in/removed/out, raw vs kept words, rewrite removal ratio).
    Composes the round-10 operators end-to-end under one oracle; the
    corpus-scale work is the bloom probe scan (broadcast bitmap), one
    token-scale window-digest shuffle, and two keyed aggregates."""
    from ..operators.dedup import substring_dedup_rewrite
    from ..operators.sketches import bloom_decontaminate
    from ..operators.sampling import split_column

    docs = _docs(spark, sf_dir)
    flags = bloom_decontaminate(docs, n_words=5).select("doc_id", "flagged")
    corpus_in = (
        docs.filter(split_column("doc_id") != "test")
        .join(flags, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "text",
            F.size(F.split("text", " ")).cast("bigint").alias("n_words_raw"),
            F.coalesce("flagged", F.lit(0)).alias("flagged"),
        )
        .localCheckpoint(eager=True)
    )
    surv = corpus_in.filter(F.col("flagged") == 0)
    rw = substring_dedup_rewrite(surv, n_words=10).select("doc_id", "n_removed_words")
    per_doc = surv.join(rw, "doc_id", "left").select(
        "source",
        "n_words_raw",
        (
            F.col("n_words_raw") - F.coalesce("n_removed_words", F.lit(0))
        ).alias("n_kept"),
    )
    kept = per_doc.groupBy("source").agg(
        F.sum("n_kept").cast("bigint").alias("kept_words")
    )
    return (
        corpus_in.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_in"),
            F.sum("flagged").cast("bigint").alias("n_decontam_removed"),
            (F.count(F.lit(1)) - F.sum("flagged")).cast("bigint").alias("n_docs_out"),
            F.sum(F.expr("if(flagged = 0, n_words_raw, 0)"))
            .cast("bigint")
            .alias("raw_words"),
        )
        # LEFT join + COALESCE: a source whose every doc is
        # decontamination-flagged has no survivor row in `kept` — an
        # inner join would drop the whole source while the oracle keeps
        # it (round-10 advice); kept_words = 0 on both sides instead.
        .join(kept, "source", "left")
        .select(
            "source",
            "n_docs_in",
            "n_decontam_removed",
            "n_docs_out",
            "raw_words",
            F.coalesce("kept_words", F.lit(0)).cast("bigint").alias("kept_words"),
            F.expr(
                "cast((raw_words - coalesce(kept_words, 0)) * 1000000"
                " div greatest(raw_words, 1) as bigint)"
            ).alias("rewrite_removed_ratio_micros"),
        )
    )


@query("bt_winrate_calibration", _bt_calibration_oracle_sql())
def bt_winrate_calibration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed vs Bradley-Terry-predicted win rate per decided item pair
    with the absolute calibration gap — the fit-quality audit before the
    strengths drive preference mining."""
    from ..operators.preference import bt_winrate_calibration

    return bt_winrate_calibration(_events(spark, sf_dir))


def _mmr_oracle_sql(k: int = 3, lam_num: int = 7, lam_den: int = 10) -> str:
    """Unrolled greedy MMR selection mirroring mmr_diverse_topk: integer
    micro-vectors (dot products exact in doubles), undivided deci-micro
    scores, (score DESC, vec_id) argmax per group per step."""

    def cos(a: str, b: str) -> str:
        return (
            f"CAST(FLOOR(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
            f" / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
            f" * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
            f" * 1000000 + 0.5) AS BIGINT)"
        )

    mu = lam_den - lam_num
    head = f"""
    WITH vv AS (
      SELECT vec_id, label AS group_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS v
      FROM embeddings
    ),
    ce AS (
      SELECT group_id, t.i AS pos,
             CAST(FLOOR(CAST(SUM(v[t.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS val
      FROM vv, unnest(generate_series(1, len(v))) AS t(i)
      GROUP BY 1, 2
    ),
    cent AS (SELECT group_id, list(val ORDER BY pos) AS c FROM ce GROUP BY 1),
    rel AS (
      SELECT vv.vec_id, vv.group_id, vv.v, {cos("vv.v", "ct.c")} AS rel_u
      FROM vv JOIN cent ct USING (group_id)
    ),
    s1 AS (
      SELECT group_id, vec_id, v, rel_u, CAST(0 AS BIGINT) AS maxsim_u,
             {lam_num} * rel_u AS score_du
      FROM (SELECT *, row_number() OVER (PARTITION BY group_id
                 ORDER BY {lam_num} * rel_u DESC, vec_id) AS rn FROM rel)
      WHERE rn = 1
    )"""
    steps = []
    prev_sel = "s1"
    for step in range(2, k + 1):
        union = " UNION ALL ".join(f"SELECT vec_id FROM s{i}" for i in range(1, step))
        sel_union = " UNION ALL ".join(
            f"SELECT group_id, v FROM s{i}" for i in range(1, step)
        )
        steps.append(f""",
    c{step} AS (
      SELECT r.group_id, r.vec_id, r.v, r.rel_u,
             MAX({cos("r.v", "s.v")}) AS maxsim_u
      FROM rel r JOIN ({sel_union}) s USING (group_id)
      WHERE r.vec_id NOT IN ({union})
      GROUP BY 1, 2, 3, 4
    ),
    s{step} AS (
      SELECT group_id, vec_id, v, rel_u, maxsim_u,
             {lam_num} * rel_u - {mu} * maxsim_u AS score_du
      FROM (SELECT *, row_number() OVER (PARTITION BY group_id
                 ORDER BY {lam_num} * rel_u - {mu} * maxsim_u DESC, vec_id) AS rn
            FROM c{step})
      WHERE rn = 1
    )""")
        prev_sel = f"s{step}"
    tail_union = "\n      UNION ALL ".join(
        f"SELECT group_id, CAST({i} AS INTEGER) AS step, vec_id, rel_u, maxsim_u,"
        f" score_du FROM s{i}"
        for i in range(1, k + 1)
    )
    return head + "".join(steps) + f"""
    SELECT group_id, step, vec_id, rel_u AS rel_micros, maxsim_u AS maxsim_micros,
           score_du AS score_deci_micros
    FROM ({tail_union})
    """


@query("mmr_diverse_topk", _mmr_oracle_sql())
def mmr_diverse_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label MMR selection of 3 diverse high-relevance vectors
    (λ = 0.7): centroid relevance, greedy max-marginal steps with the
    selected set broadcast — never an intra-group all-pairs join."""
    from ..operators.clustering import mmr_diverse_topk

    return mmr_diverse_topk(_emb(spark, sf_dir))


@query(
    "temperature_sampling_weights",
    """
    WITH per AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ),
    sm AS (
      SELECT lang, n_tokens,
             CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
               AS s_milli
      FROM per
    ),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
                 CAST(SUM(s_milli) AS BIGINT) AS tot_s FROM sm)
    SELECT lang, n_tokens,
           (n_tokens * 1000000) // GREATEST(tot_tokens, 1) AS raw_share_micros,
           (s_milli * 1000000) // GREATEST(tot_s, 1) AS smoothed_share_micros,
           (((s_milli * 1000000) // GREATEST(tot_s, 1)) * 1000000)
             // GREATEST((n_tokens * 1000000) // GREATEST(tot_tokens, 1), 1)
             AS boost_micros
    FROM sm, t
    """,
)
def temperature_sampling_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language temperature-smoothed (alpha = 1/2) sampling weights —
    the exponentiated-smoothing mixture lever between natural frequency
    and UniMax's hard cap; one language-keyed aggregate + a 1-row
    broadcast total."""
    from ..operators.sampling import temperature_sampling_weights

    return temperature_sampling_weights(_docs(spark, sf_dir))


_RRF_COS_Q = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)


@query(
    "hybrid_rrf_retrieval",
    f"""
    WITH dl AS (
      SELECT doc_id, string_split(text, ' ') AS words,
             len(string_split(text, ' ')) AS dl
      FROM documents WHERE doc_id <> 0
    ),
    scal AS (
      SELECT COUNT(*) AS nd, SUM(len(string_split(text, ' '))) AS sum_dl
      FROM documents WHERE doc_id <> 0
    ),
    tf AS (
      SELECT d.doc_id, d.dl, t.term, COUNT(*) AS tf
      FROM dl d, unnest(d.words) AS t(term)
      WHERE t.term IN ({_BM25_IN})
      GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1),
    lex AS (
      SELECT tf.doc_id,
             CAST(SUM(CAST(FLOOR(
               ln((CAST(s.nd AS DOUBLE) - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
                                     / (CAST(s.sum_dl AS DOUBLE) / s.nd)))
                 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s
      FROM tf JOIN dfreq d USING (term), scal s
      GROUP BY 1
    ),
    dense AS (
      SELECT a.vec_id AS doc_id,
             CAST(FLOOR({_RRF_COS_Q} * 1000000 + 0.5) AS BIGINT) AS s
      FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) b
      WHERE a.vec_id <> 0
    ),
    lt AS (
      SELECT doc_id, CAST(rn AS INTEGER) AS lex_rank
      FROM (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rn
            FROM lex)
      WHERE rn <= 50
    ),
    dt AS (
      SELECT doc_id, CAST(rn AS INTEGER) AS dense_rank
      FROM (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rn
            FROM dense)
      WHERE rn <= 50
    )
    SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.lex_rank, d.dense_rank,
           CAST(COALESCE(1000000 // (60 + l.lex_rank), 0)
              + COALESCE(1000000 // (60 + d.dense_rank), 0) AS BIGINT)
             AS rrf_micros
    FROM lt l FULL OUTER JOIN dt d USING (doc_id)
    ORDER BY rrf_micros DESC, doc_id
    LIMIT 20
    """,
)
def hybrid_rrf_retrieval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse+dense hybrid retrieval: BM25 (fixed query terms) and
    embedding-cosine (query = vector 0) top-50 lists fused by reciprocal
    rank (k = 60) — rank fusion needs no score calibration; doc/vec 0
    plays the query and sits out both corpora. Corpus-scale work is the
    two leg scorers; the fusion itself only touches the two 50-row lists.
    See operators/similarity.py::hybrid_rrf_retrieval."""
    from ..operators.similarity import hybrid_rrf_retrieval
    from ..operators.text_analysis import bm25_scores

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") != 0)
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    dense = (
        e.filter(F.col("vec_id") != 0)
        .alias("a")
        .crossJoin(F.broadcast(q.alias("b")))
        .select(
            F.col("a.vec_id").alias("doc_id"),
            F.floor(
                dot_product("a.embedding", "b.q_emb")
                / (
                    F.sqrt(dot_product("a.embedding", "a.embedding"))
                    * F.sqrt(dot_product("b.q_emb", "b.q_emb"))
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cos_micros"),
        )
    )
    lex = bm25_scores(docs, _BM25_TERMS)
    return hybrid_rrf_retrieval(lex, dense)


@query(
    "cms_heavy_hitters",
    """
    WITH tok AS (
      SELECT t.w AS token
      FROM (SELECT string_split(text, ' ') AS ws FROM documents) d,
           unnest(d.ws) AS t(w)
    ),
    cells AS (
      SELECT u.j,
             CAST(('0x' || substr(md5(CAST(u.j AS VARCHAR) || '|' || token), 1, 15))
                  AS BIGINT) % 256 AS bucket,
             COUNT(*) AS c
      FROM tok, unnest([0, 1, 2, 3]) AS u(j)
      GROUP BY 1, 2
    ),
    topk AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM tok GROUP BY 1
      ORDER BY exact_count DESC, token
      LIMIT 20
    ),
    probe AS (
      SELECT tk.token, tk.exact_count, u.j,
             CAST(('0x' || substr(md5(CAST(u.j AS VARCHAR) || '|' || tk.token), 1, 15))
                  AS BIGINT) % 256 AS bucket
      FROM topk tk, unnest([0, 1, 2, 3]) AS u(j)
    )
    SELECT p.token, p.exact_count,
           CAST(MIN(c.c) AS BIGINT) AS cms_estimate,
           CAST(MIN(c.c) - p.exact_count AS BIGINT) AS overestimate
    FROM probe p JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
    GROUP BY 1, 2
    """,
)
def cms_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy-hitter audit: the corpus's exact top-20
    tokens probed against the d=4 × w=256 mergeable sketch grid —
    estimate ≥ exact (one-sided CM guarantee) with the overestimate
    surfaced; the grid is a constant-size map-side-combined aggregate.
    See operators/sketches.py::cms_heavy_hitters."""
    from ..operators.sketches import cms_heavy_hitters

    return cms_heavy_hitters(_docs(spark, sf_dir))


def _probe_gd_cte(t: int, sig) -> str:
    """One unrolled GD step (g{t}, w{t} CTEs) shared by the fit oracle and
    the calibration oracle."""
    if t == 1:
        scored = "SELECT f.*, CAST(500000 AS BIGINT) AS sig FROM f"
        upd = ", ".join(
            f"CAST(0 AS BIGINT) - (g{f} // n) // 2 AS w{f}" for f in range(5)
        )
        w_from = f"g{t}, nn"
    else:
        scored = f"SELECT f.*, {sig(f'w{t-1}')} AS sig FROM f, w{t-1}"
        upd = ", ".join(
            f"w{t-1}.w{f} - (g{f} // n) // 2 AS w{f}" for f in range(5)
        )
        w_from = f"g{t}, w{t-1}, nn"
    gsums = ", ".join(
        f"CAST(SUM(((sig - y) * x{f}) // 1000000) AS BIGINT) AS g{f}" for f in range(5)
    )
    return f""",
    g{t} AS MATERIALIZED (SELECT {gsums} FROM ({scored})),
    w{t} AS (SELECT {upd} FROM {w_from})"""


def _probe_oracle_sql(iters: int = 5) -> str:
    """Unrolled batch-GD replay of logistic_probe_fit: same integer-micro
    features, hard sigmoid, per-row-quantized gradients, truncating `//`
    (verified identical to Spark's `div` on negatives)."""
    from ..operators.probe import PROBE_STOPWORDS

    stop_in = ", ".join(f"'{s}'" for s in PROBE_STOPWORDS)
    mwl = "CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(ws)"
    n_hash = "length(text) - length(replace(text, '#', ''))"
    n_ell = "floor(CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3.0)"
    keep = (
        "len(ws) >= 50 AND len(ws) <= 100000"
        f" AND {mwl} >= 3.0 AND {mwl} <= 10.0"
        f" AND ({n_hash} + {n_ell}) / len(ws) <= 0.1"
        " AND CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)"
        "     / len(ws) >= 0.8"
        f" AND len(list_filter(ws, w -> w IN ({stop_in}))) >= 2"
    )

    def sig(w: str) -> str:
        dot = " + ".join(f"{w}.w{f} * x{f}" for f in range(5))
        return (
            f"LEAST(CAST(1000000 AS BIGINT), GREATEST(CAST(0 AS BIGINT),"
            f" 500000 + (({dot}) // 1000000) // 4))"
        )

    head = f"""
    WITH f0 AS (
      SELECT doc_id,
             CAST(CASE WHEN {keep} THEN 1000000 ELSE 0 END AS BIGINT) AS y,
             CAST(1000000 AS BIGINT) AS x0,
             CAST(LEAST(len(ws), 200) * 5000 AS BIGINT) AS x1,
             CAST(LEAST((CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT)
                         * 1000000) // GREATEST(len(ws), 1),
                        10000000) // 10 AS BIGINT) AS x2,
             CAST((len(list_filter(ws, w -> w IN ({stop_in}))) * 1000000)
                  // GREATEST(len(ws), 1) AS BIGINT) AS x3,
             CAST(LEAST(len(list_filter(ws, w -> w IN ({stop_in}))), 20)
                  * 50000 AS BIGINT) AS x4
      FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
    ),
    m AS (SELECT SUM(x1) // COUNT(*) AS m1, SUM(x2) // COUNT(*) AS m2,
                 SUM(x3) // COUNT(*) AS m3, SUM(x4) // COUNT(*) AS m4
          FROM f0),
    f AS (SELECT doc_id, y, x0,
                 CAST((x1 - m1) * 4 AS BIGINT) AS x1, CAST((x2 - m2) * 4 AS BIGINT) AS x2,
                 CAST((x3 - m3) * 4 AS BIGINT) AS x3, CAST((x4 - m4) * 4 AS BIGINT) AS x4
          FROM f0, m),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM f)"""
    parts = [head]
    for t in range(1, iters + 1):
        parts.append(_probe_gd_cte(t, sig))
        parts.append(f""",
    a{t} AS (
      SELECT CAST((SUM(CASE WHEN ({sig(f'w{t}')} >= 500000) = (y = 1000000)
                       THEN 1 ELSE 0 END) * 1000000) // MAX(nn.n) AS BIGINT)
               AS train_acc_micros
      FROM f, w{t}, nn
    )""")
    feats = ("bias", "len_words", "mean_word_len", "stopword_ratio",
             "stop_hits")
    tails = []
    for t in range(1, iters + 1):
        for fidx, name in enumerate(feats):
            tails.append(
                f"SELECT CAST({t} AS INTEGER) AS iteration, '{name}' AS feature,"
                f" CAST(w{fidx} AS BIGINT) AS weight_micros, train_acc_micros"
                f" FROM w{t}, a{t}"
            )
    return "".join(parts) + "\n    " + "\n    UNION ALL ".join(tails)


@query("logistic_quality_probe", _probe_oracle_sql())
def logistic_quality_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality probe trained end-to-end in the
    engine: 5 full-batch GD steps (the operator default) distilling the
    composite Gopher keep gate into surface stats (hard-sigmoid logistic,
    integer-micro arithmetic); each step is one scan of the checkpointed
    feature frame reduced to a broadcast 1-row gradient. See
    operators/probe.py::logistic_probe_fit."""
    from ..operators.probe import logistic_probe_fit

    return logistic_probe_fit(_docs(spark, sf_dir))


@query(
    "kneser_ney_bigram_scores",
    """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    big AS (
      SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
      FROM words, unnest(generate_series(1, len(ws) - 1)) AS g(i)
      WHERE len(ws) >= 2
    ),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY 1, 2),
    lead_t AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1,
                      CAST(COUNT(*) AS BIGINT) AS n1f
               FROM c2 GROUP BY 1),
    cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p FROM c2 GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM c2),
    model AS (
      SELECT w1, w2,
             -CAST(FLOOR(log10(
                 CAST(4 * c2 - 3 AS DOUBLE) / CAST(4 * c1 AS DOUBLE)
                 + (CAST(3 * n1f AS DOUBLE) * CAST(n1p AS DOUBLE))
                   / (CAST(4 * c1 AS DOUBLE) * CAST(nt AS DOUBLE))
               ) * 1000000 + 0.5) AS BIGINT) AS nll_u
      FROM c2 JOIN lead_t USING (w1) JOIN cont USING (w2), tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(nll_u) AS BIGINT) AS kn_nll_sum_micros,
           CAST(SUM(nll_u) // COUNT(*) AS BIGINT) AS kn_avg_nll_micros
    FROM big JOIN model USING (w1, w2)
    GROUP BY 1
    """,
)
def kneser_ney_bigram_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (absolute discount 3/4, exact
    continuation counts) scoring per-doc NLL — the KenLM/CCNet perplexity
    filter one smoothing class above the add-one bigram; model table is
    |bigram types|-bounded, NT broadcasts as a 1-row frame.
    See operators/importance.py::kneser_ney_bigram_scores."""
    from ..operators.importance import kneser_ney_bigram_scores

    return kneser_ney_bigram_scores(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# ANN recall calibration (estimator-vs-exact audit for the vector stack)
# ---------------------------------------------------------------------------

_ANN_CAL_SQL = f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
    exact AS (
      SELECT q_id, vec_id, rank_exact FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {_qcos_sql('e.embedding', 'q.qe')} DESC, e.vec_id)
                 AS rank_exact
        FROM embeddings e, q WHERE e.vec_id <> q.q_id
      ) WHERE rank_exact <= 10
    ),
    cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16),
    assign AS (
      SELECT e.vec_id, e.embedding, c.cent_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_qcos_sql('e.embedding', 'c.ce')} DESC, c.cent_id)
               AS rn
      FROM embeddings e, cent c
    ),
    cells AS (
      SELECT vec_id, embedding, CAST(cent_id AS INTEGER) AS cell FROM assign WHERE rn = 1
    ),
    probe AS (
      SELECT q_id, p_cell FROM (
        SELECT q.q_id, CAST(c.cent_id AS INTEGER) AS p_cell,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {_qcos_sql('c.ce', 'q.qe')} DESC, c.cent_id) AS prn
        FROM cent c, q
      ) WHERE prn <= 4
    ),
    ivf_top AS (
      SELECT q_id, vec_id, rank_approx FROM (
        SELECT p.q_id, cl.vec_id,
               row_number() OVER (PARTITION BY p.q_id
                                  ORDER BY {_qcos_sql('cl.embedding', 'q.qe')} DESC, cl.vec_id)
                 AS rank_approx
        FROM cells cl JOIN probe p ON cl.cell = p.p_cell JOIN q ON q.q_id = p.q_id
        WHERE cl.vec_id <> p.q_id
      ) WHERE rank_approx <= 10
    ),
    subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
    cb AS (
      SELECT s.sub, e.vec_id AS cent_id,
             CAST(e.embedding[s.sub * 8 + 1 : s.sub * 8 + 8] AS DOUBLE[]) AS c_vec
      FROM embeddings e, subs s WHERE e.vec_id < 16
    ),
    sv AS (
      SELECT e.vec_id, s.sub,
             CAST(e.embedding[s.sub * 8 + 1 : s.sub * 8 + 8] AS DOUBLE[]) AS v_sub
      FROM embeddings e, subs s
    ),
    codes AS (
      SELECT vec_id, sub, CAST(cent_id AS INTEGER) AS code FROM (
        SELECT sv.vec_id, sv.sub, cb.cent_id,
               row_number() OVER (
                 PARTITION BY sv.vec_id, sv.sub
                 ORDER BY {_PQ_L2.format(a="sv.v_sub", b="cb.c_vec")}, cb.cent_id) AS rn
        FROM sv JOIN cb ON sv.sub = cb.sub
      ) WHERE rn = 1
    ),
    dt AS (
      SELECT qq.q_id, cb.sub, CAST(cb.cent_id AS INTEGER) AS code,
             CAST({_PQ_L2.format(a="qq.q_sub", b="cb.c_vec")} AS BIGINT) AS qd2
      FROM (SELECT q.q_id, s.sub,
                   CAST(q.qe[s.sub * 8 + 1 : s.sub * 8 + 8] AS DOUBLE[]) AS q_sub
            FROM q, subs s) qq
      JOIN cb ON qq.sub = cb.sub
    ),
    pq_top AS (
      SELECT q_id, vec_id, rank_approx FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY d2_micros, vec_id)
                 AS rank_approx
        FROM (
          SELECT dt.q_id, c.vec_id, CAST(SUM(dt.qd2) AS BIGINT) AS d2_micros
          FROM codes c JOIN dt ON c.sub = dt.sub AND c.code = dt.code
          GROUP BY 1, 2
        ) WHERE vec_id <> q_id
      ) WHERE rank_approx <= 10
    ),
    ivf_cal AS (
      SELECT q.q_id, COUNT(e.rank_exact) AS n_hits,
             COALESCE(SUM(ABS(t.rank_approx - e.rank_exact)), 0) AS rank_disp
      FROM q
      LEFT JOIN ivf_top t ON t.q_id = q.q_id
      LEFT JOIN exact e ON e.q_id = t.q_id AND e.vec_id = t.vec_id
      GROUP BY 1
    ),
    pq_cal AS (
      SELECT q.q_id, COUNT(e.rank_exact) AS n_hits,
             COALESCE(SUM(ABS(t.rank_approx - e.rank_exact)), 0) AS rank_disp
      FROM q
      LEFT JOIN pq_top t ON t.q_id = q.q_id
      LEFT JOIN exact e ON e.q_id = t.q_id AND e.vec_id = t.vec_id
      GROUP BY 1
    )
    SELECT method, q_id, CAST(n_hits AS BIGINT) AS n_hits,
           CAST((n_hits * 1000000) // 10 AS BIGINT) AS recall_at_k_micros,
           CAST(rank_disp AS BIGINT) AS rank_displacement
    FROM (
      SELECT 'ivf' AS method, * FROM ivf_cal
      UNION ALL
      SELECT 'pq' AS method, * FROM pq_cal
    )
"""


@query("ann_recall_calibration", _ANN_CAL_SQL)
def ann_recall_calibration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-vs-exact audit for the ANN stack (the vector twin of
    minhash_estimate_error): 8 query vectors, IVF 4-probe and PQ-ADC
    top-10 each scored against brute-force cosine ground truth —
    recall@10 and total rank displacement per (method, query) in exact
    integers. The audit a 100 TB corpus runs before trusting ann_ivf_topk
    for semantic dedup. See operators/similarity.py::ann_recall_calibration."""
    from ..operators.similarity import ann_recall_calibration

    return ann_recall_calibration(
        _emb(spark, sf_dir), n_queries=8, k=10, n_centroids=16, nprobe=4, m=8
    )


@query(
    "multimodal_ppm_decode",
    """
    WITH t AS (
      SELECT doc_id,
             CAST(4 + doc_id % 5 AS INTEGER) AS width,
             CAST(3 + doc_id % 4 AS INTEGER) AS height,
             repeat(md5(text), 28) AS ph
      FROM documents
    ),
    px AS (
      SELECT doc_id, width, height, CAST(width * height AS BIGINT) AS n_pixels,
             list_transform(
               generate_series(0, width * height * 3 - 1),
               i -> CAST((strpos('0123456789abcdef', substr(ph, 2 * i + 1, 1)) - 1) * 16
                         + (strpos('0123456789abcdef', substr(ph, 2 * i + 2, 1)) - 1)
                    AS BIGINT)
             ) AS bytes
      FROM t
    ),
    sums AS (
      SELECT doc_id, width, height, CAST(255 AS INTEGER) AS maxval, n_pixels,
             CAST(list_sum(list_transform(generate_series(0, CAST(n_pixels AS INTEGER) - 1),
                                          p -> bytes[3 * p + 1])) AS BIGINT) AS r_sum,
             CAST(list_sum(list_transform(generate_series(0, CAST(n_pixels AS INTEGER) - 1),
                                          p -> bytes[3 * p + 2])) AS BIGINT) AS g_sum,
             CAST(list_sum(list_transform(generate_series(0, CAST(n_pixels AS INTEGER) - 1),
                                          p -> bytes[3 * p + 3])) AS BIGINT) AS b_sum
      FROM px
    )
    SELECT doc_id, width, height, maxval, n_pixels, r_sum, g_sum, b_sum,
           CAST((r_sum * 1000000) // n_pixels AS BIGINT) AS r_mean_micros,
           CAST((g_sum * 1000000) // n_pixels AS BIGINT) AS g_mean_micros,
           CAST((b_sum * 1000000) // n_pixels AS BIGINT) AS b_mean_micros
    FROM sums
    """,
)
def multimodal_ppm_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL image decode: synthesize valid binary PPM (P6)
    payloads per document (expression-level encoder — genuine files any
    netpbm tool opens), then decode them back with the pure-relational
    P6 decoder (hex header parse + positional pixel slice + per-channel
    integer folds, zero Python row loops, no stub on this path). The
    oracle recomputes the features from the format spec, so the gate
    proves the decoder reads the binary correctly.
    See operators/multimodal.py::ppm_p6_encode/ppm_p6_decode."""
    from ..operators.multimodal import ppm_p6_decode, ppm_p6_encode

    return ppm_p6_decode(ppm_p6_encode(_docs(spark, sf_dir)))


@query(
    "multimodal_wav_decode",
    """
    WITH t AS (
      SELECT doc_id, CAST(32 + doc_id % 64 AS BIGINT) AS n_samples,
             repeat(md5(text), 12) AS ph
      FROM documents
    ),
    sm AS (
      SELECT doc_id, n_samples,
        list_transform(generate_series(0, CAST(n_samples AS INTEGER) - 1),
          i -> (strpos('0123456789abcdef', substr(ph, 4 * i + 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(ph, 4 * i + 2, 1)) - 1)
               + 256 * ((strpos('0123456789abcdef', substr(ph, 4 * i + 3, 1)) - 1) * 16
                        + (strpos('0123456789abcdef', substr(ph, 4 * i + 4, 1)) - 1))
        ) AS us
      FROM t
    ),
    sg AS (
      SELECT doc_id, n_samples,
             list_transform(us,
               u -> CAST(u - CASE WHEN u >= 32768 THEN 65536 ELSE 0 END AS BIGINT))
               AS ss
      FROM sm
    )
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(16 AS INTEGER) AS bits_per_sample,
           n_samples,
           CAST(list_sum(ss) AS BIGINT) AS sum_amplitude,
           CAST(list_sum(list_transform(ss, x -> abs(x))) AS BIGINT) AS sum_abs,
           CAST(list_max(list_transform(ss, x -> abs(x))) AS BIGINT) AS peak_abs,
           CAST(list_sum(list_transform(ss, x -> abs(x))) * 1000000
                // GREATEST(n_samples, 1) AS BIGINT) AS mean_abs_micros
    FROM sg
    """,
)
def multimodal_wav_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL audio decode — the audio twin of the PPM row:
    synthesize valid RIFF/WAVE PCM payloads per document (expression-
    level encoder; genuine files the stdlib wave module opens, proven in
    tests), then decode them back with the pure-relational WAV decoder
    (hex header parse of the little-endian PCM fields + signed-16-bit
    sample folds, zero Python row loops, no stub on this path). The
    oracle recomputes the statistics from the format spec, so the gate
    proves the decoder reads the binary correctly.
    See operators/multimodal.py::wav_pcm_encode/wav_pcm_decode."""
    from ..operators.multimodal import wav_pcm_decode, wav_pcm_encode

    return wav_pcm_decode(wav_pcm_encode(_docs(spark, sf_dir)))


@query(
    "multimodal_y4m_decode",
    """
    WITH t AS (
      SELECT doc_id, 4 AS w, CAST(2 + doc_id % 3 AS INTEGER) AS h,
             CAST(2 + doc_id % 4 AS INTEGER) AS nf,
             repeat(md5(text), 15) AS ph
      FROM documents
    ),
    fr AS (
      SELECT doc_id, w, h, nf, ph, CAST(g.f AS INTEGER) AS frame_idx
      FROM t, unnest(generate_series(0, nf - 1)) AS g(f)
    ),
    ys AS (
      SELECT doc_id, w, h, nf, frame_idx,
             CAST(list_sum(list_transform(generate_series(0, w * h - 1),
               i -> (strpos('0123456789abcdef',
                            substr(ph, frame_idx * 6 * w * h + 2 * i + 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef',
                            substr(ph, frame_idx * 6 * w * h + 2 * i + 2, 1)) - 1)
             )) AS BIGINT) AS y_sum
      FROM fr
    )
    SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           nf AS n_frames, frame_idx,
           CAST(1 AS INTEGER) AS marker_ok, y_sum,
           CAST(y_sum * 1000000 // GREATEST(w * h, 1) AS BIGINT)
             AS y_mean_micros
    FROM ys
    """,
)
def multimodal_y4m_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL video decode, completing the real-codec trio (PPM
    image / WAV audio / y4m video): synthesize valid YUV4MPEG2 streams
    per document (expression-level encoder; genuine multi-frame y4m any
    ffmpeg-family tool reads), then decode with the pure-relational y4m
    decoder — hex header parse, fixed-stride FRAME walk with per-frame
    marker verification, per-frame luma-plane folds; one row per
    (doc, frame), the frame-sampling input shape. No stub, no UDF. The
    oracle recomputes from the format spec (marker_ok constant 1 there —
    the SPARK side actually verifies the bytes).
    See operators/multimodal.py::y4m_encode/y4m_decode."""
    from ..operators.multimodal import y4m_decode, y4m_encode

    return y4m_decode(y4m_encode(_docs(spark, sf_dir)))


_AHASH_BYTE = (
    "(strpos('0123456789abcdef', substr(ph, 2 * ({o}) + 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(ph, 2 * ({o}) + 2, 1)) - 1)"
)


@query(
    "image_ahash_dedup",
    f"""
    WITH t AS (
      SELECT doc_id,
             array_to_string((string_split(text, ' '))[1:8], ' ') AS tpl
      FROM documents
    ),
    d AS (
      SELECT doc_id, repeat(md5(tpl), 28) AS ph,
             CAST(('0x' || substr(md5(tpl), 1, 2)) AS BIGINT) AS b0
      FROM t
    ),
    dims AS (
      SELECT doc_id, ph,
             CAST(4 + b0 % 5 AS INTEGER) AS w,
             CAST(3 + (b0 // 5) % 4 AS INTEGER) AS h
      FROM d
    ),
    g AS (
      SELECT doc_id, w, h,
             list_transform(generate_series(0, w * h - 1),
               i -> (({_AHASH_BYTE.format(o='3 * i')})
                     + ({_AHASH_BYTE.format(o='3 * i + 1')})
                     + ({_AHASH_BYTE.format(o='3 * i + 2')})) // 3) AS gs
      FROM dims
    ),
    m AS (
      SELECT doc_id, w, h, gs,
             CAST(list_sum(gs) // (w * h) AS BIGINT) AS mg
      FROM g
    ),
    f AS (
      SELECT doc_id, w, h,
             CAST(list_sum(list_transform(generate_series(1, w * h),
               i -> CASE WHEN gs[i] >= mg
                         THEN CAST(1 AS BIGINT) << (i - 1)
                         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
      FROM m
    ),
    bd AS (
      SELECT doc_id, w, h, fp, CAST(j.j AS INTEGER) AS j,
             (fp // (CAST(1 AS BIGINT) << (CAST(j.j AS INTEGER) * 12))) % 4096 AS b
      FROM f, unnest(generate_series(0, 3)) AS j(j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
             a.w AS width, a.h AS height, a.fp AS fa, b2.fp AS fb
      FROM bd a JOIN bd b2
        ON a.w = b2.w AND a.h = b2.h AND a.j = b2.j AND a.b = b2.b
       AND a.doc_id < b2.doc_id
    )
    SELECT doc_a, doc_b, width, height,
           CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(fa, fb)) <= 3
    """,
)
def image_ahash_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup over REAL PPM payloads
    (operators/multimodal.py::image_ahash_pairs): per-image average hash
    (gray-vs-own-mean bits) banded into 12-bit blocks, candidate pairs
    form only inside (shape, band) buckets (pigeonhole-exact recall at
    hamming <= 3), verified by exact bit_count(xor). Images synthesize
    from each doc's 8-word template prefix (same banner -> identical
    file), the multimodal member of the dedup family. Oracle recomputes
    fingerprints from the format spec."""
    from ..operators.multimodal import image_ahash_pairs

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr("array_join(slice(split(text, ' '), 1, 8), ' ')").alias("tpl"),
    )
    return image_ahash_pairs(docs, text_col="tpl")


@query(
    "multimodal_corpus_datasheet",
    """
    WITH img AS (
      SELECT doc_id, CAST(4 + doc_id % 5 AS BIGINT) AS w,
             CAST(3 + doc_id % 4 AS BIGINT) AS h,
             repeat(md5(text), 28) AS ph
      FROM documents
    ),
    img_s AS (
      SELECT 'image/ppm' AS media_type,
             CAST(COUNT(*) AS BIGINT) AS n_payloads,
             CAST(SUM(w * h) AS BIGINT) AS n_units,
             CAST(SUM(sub.s) AS BIGINT) AS unit_sum
      FROM (
        SELECT w, h,
               list_sum(list_transform(generate_series(0, CAST(w * h * 3 AS INTEGER) - 1),
                 i -> (strpos('0123456789abcdef', substr(ph, 2 * i + 1, 1)) - 1) * 16
                    + (strpos('0123456789abcdef', substr(ph, 2 * i + 2, 1)) - 1))) AS s
        FROM img
      ) sub
    ),
    wav AS (
      SELECT doc_id, CAST(32 + doc_id % 64 AS BIGINT) AS ns,
             repeat(md5(text), 12) AS ph
      FROM documents
    ),
    wav_s AS (
      SELECT 'audio/wav' AS media_type,
             CAST(COUNT(*) AS BIGINT) AS n_payloads,
             CAST(SUM(ns) AS BIGINT) AS n_units,
             CAST(SUM(sub.s) AS BIGINT) AS unit_sum
      FROM (
        SELECT ns,
               list_sum(list_transform(generate_series(0, CAST(ns AS INTEGER) - 1),
                 i -> abs((strpos('0123456789abcdef', substr(ph, 4 * i + 1, 1)) - 1) * 16
                        + (strpos('0123456789abcdef', substr(ph, 4 * i + 2, 1)) - 1)
                        + 256 * ((strpos('0123456789abcdef', substr(ph, 4 * i + 3, 1)) - 1) * 16
                                 + (strpos('0123456789abcdef', substr(ph, 4 * i + 4, 1)) - 1))
                        - CASE WHEN (strpos('0123456789abcdef', substr(ph, 4 * i + 1, 1)) - 1) * 16
                                    + (strpos('0123456789abcdef', substr(ph, 4 * i + 2, 1)) - 1)
                                    + 256 * ((strpos('0123456789abcdef', substr(ph, 4 * i + 3, 1)) - 1) * 16
                                             + (strpos('0123456789abcdef', substr(ph, 4 * i + 4, 1)) - 1))
                                    >= 32768 THEN 65536 ELSE 0 END))) AS s
        FROM wav
      ) sub
    ),
    vid AS (
      SELECT doc_id, 4 AS w, CAST(2 + doc_id % 3 AS INTEGER) AS h,
             CAST(2 + doc_id % 4 AS INTEGER) AS nf,
             repeat(md5(text), 15) AS ph
      FROM documents
    ),
    vid_s AS (
      SELECT 'video/y4m' AS media_type,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_payloads,
             CAST(COUNT(*) AS BIGINT) AS n_units,
             CAST(SUM(sub.s) AS BIGINT) AS unit_sum
      FROM (
        SELECT doc_id,
               list_sum(list_transform(generate_series(0, w * h - 1),
                 i -> (strpos('0123456789abcdef',
                              substr(ph, g.f * 6 * w * h + 2 * i + 1, 1)) - 1) * 16
                    + (strpos('0123456789abcdef',
                              substr(ph, g.f * 6 * w * h + 2 * i + 2, 1)) - 1))) AS s
        FROM vid, unnest(generate_series(0, nf - 1)) AS g(f)
      ) sub
    )
    SELECT media_type, n_payloads, n_units, unit_sum,
           CAST(unit_sum * 1000000 // GREATEST(n_units, 1) AS BIGINT)
             AS unit_mean_micros
    FROM (SELECT * FROM img_s UNION ALL SELECT * FROM wav_s
          UNION ALL SELECT * FROM vid_s)
    """,
)
def multimodal_corpus_datasheet_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal corpus datasheet: ONE report over all three real
    codecs — images (pixel-byte mass over genuine PPM files), audio
    (absolute amplitude over genuine WAV PCM), video (per-frame luma
    over genuine y4m streams) — each family encoded and DECODED through
    its own relational codec, reduced to (media_type, n_payloads,
    n_units, unit_sum, unit_mean_micros). The capstone composition of
    the multimodal stack; all three decode legs are scan-side expression
    work reduced map-side to one row each."""
    from ..operators.multimodal import (
        ppm_p6_decode,
        ppm_p6_encode,
        wav_pcm_decode,
        wav_pcm_encode,
        y4m_decode,
        y4m_encode,
    )

    docs = _docs(spark, sf_dir)
    img = ppm_p6_decode(ppm_p6_encode(docs)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_payloads"),
        F.sum("n_pixels").cast("bigint").alias("n_units"),
        F.sum(F.expr("r_sum + g_sum + b_sum")).cast("bigint").alias("unit_sum"),
    ).select(F.lit("image/ppm").alias("media_type"), "*")
    aud = wav_pcm_decode(wav_pcm_encode(docs)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_payloads"),
        F.sum("n_samples").cast("bigint").alias("n_units"),
        F.sum("sum_abs").cast("bigint").alias("unit_sum"),
    ).select(F.lit("audio/wav").alias("media_type"), "*")
    vid = y4m_decode(y4m_encode(docs)).agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_payloads"),
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum("y_sum").cast("bigint").alias("unit_sum"),
    ).select(F.lit("video/y4m").alias("media_type"), "*")
    return (
        img.unionByName(aud)
        .unionByName(vid)
        .select(
            "media_type",
            "n_payloads",
            "n_units",
            "unit_sum",
            F.expr(
                "cast(unit_sum * 1000000 div greatest(n_units, 1) as bigint)"
            ).alias("unit_mean_micros"),
        )
    )





def _probe_cal_oracle_sql(iters: int = 5, buckets: int = 10) -> str:
    """Unrolled fit (the fit oracle's head + g/w CTE chain, reused
    verbatim) + final-weight scoring + equal-width probability binning —
    the reliability/ECE replay."""
    fit_sql = _probe_oracle_sql(iters)
    # keep head + g/w/a CTE chain; drop the fit oracle's UNION-ALL tail
    tail_marker = "\n    SELECT CAST(1 AS INTEGER) AS iteration"
    head_and_ctes = fit_sql[: fit_sql.index(tail_marker)]
    width = 1000000 // buckets

    def sig(w: str) -> str:
        dot = " + ".join(f"{w}.w{f} * x{f}" for f in range(5))
        return (
            f"LEAST(CAST(1000000 AS BIGINT), GREATEST(CAST(0 AS BIGINT),"
            f" 500000 + (({dot}) // 1000000) // 4))"
        )

    return (
        head_and_ctes
        + f""",
    scored AS (SELECT f.y, {sig(f'w{iters}')} AS sig FROM f, w{iters}),
    bkt AS (
      SELECT CAST(LEAST(sig // {width}, {buckets - 1}) AS INTEGER) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(sig) // COUNT(*) AS BIGINT) AS mean_pred_micros,
             CAST(SUM(y) // COUNT(*) AS BIGINT) AS obs_rate_micros
      FROM scored GROUP BY 1
    )
    SELECT bucket, n_docs, mean_pred_micros, obs_rate_micros,
           CAST(ABS(mean_pred_micros - obs_rate_micros) AS BIGINT) AS abs_gap_micros,
           CAST((n_docs * ABS(mean_pred_micros - obs_rate_micros)) // nn.n AS BIGINT)
             AS ece_contrib_micros
    FROM bkt, nn
    """
    )


@query("probe_calibration_ece", _probe_cal_oracle_sql())
def probe_calibration_ece_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE decomposition for the logistic quality
    probe: fit 5 GD steps, score the corpus with the FINAL weights, bin
    hard-sigmoid scores into 10 equal-width probability bins, report per
    bin the doc count, mean predicted probability, observed Gopher keep
    rate, absolute gap, and ECE contribution — all exact integer micros.
    The audit that decides whether the probe's scores can be used as
    keep-probabilities. See operators/probe.py::probe_calibration."""
    from ..operators.probe import probe_calibration

    return probe_calibration(_docs(spark, sf_dir), iterations=5, buckets=10)


# ---------------------------------------------------------------------------
# Embedding spectral decomposition (matrix-free power iteration)
# ---------------------------------------------------------------------------


def _pca_oracle_sql(iters: int = 6, dim: int = 64) -> str:
    """Long-form replay of embedding_pca_power: per-(row, dim) products with
    the same per-row micro quantization, HUGEINT renormalization mirroring
    Spark's DECIMAL(38,0) widening, truncating // throughout."""
    head = f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS xm
      FROM embeddings
    ),
    dims AS (SELECT unnest(generate_series(1, {dim})) AS i),
    m AS MATERIALIZED (
      SELECT d.i, CAST(SUM(e.xm[d.i]) // COUNT(*) AS BIGINT) AS mi
      FROM e CROSS JOIN dims d GROUP BY d.i
    ),
    v0 AS (SELECT i, CAST(1000000 - 1000 * (i - 1) AS BIGINT) AS vi FROM dims)"""
    parts = [head]
    for t in range(1, iters + 2):
        prev = f"v{t - 1}" if t <= iters else f"v{iters}"
        parts.append(f""",
    s{t} AS MATERIALIZED (
      SELECT e.vec_id,
             CAST(SUM((e.xm[d.i] - m.mi) * v.vi) // 1000000 AS BIGINT) AS s
      FROM e CROSS JOIN dims d
      JOIN m ON m.i = d.i JOIN {prev} v ON v.i = d.i
      GROUP BY e.vec_id
    ),
    g{t} AS MATERIALIZED (
      SELECT d.i, CAST(SUM(((e.xm[d.i] - m.mi) * s.s) // 1000000) AS BIGINT) AS gi
      FROM e CROSS JOIN dims d
      JOIN m ON m.i = d.i JOIN s{t} s ON s.vec_id = e.vec_id
      GROUP BY d.i
    )""")
        if t <= iters:
            parts.append(f""",
    v{t} AS MATERIALIZED (
      SELECT i, CAST((CAST(gi AS HUGEINT) * 1000000)
                     // GREATEST((SELECT MAX(ABS(gi)) FROM g{t}), 1) AS BIGINT) AS vi
      FROM g{t}
    )""")
    parts.append(f""",
    ray AS (
      SELECT CAST((
               (SELECT SUM(CAST(v.vi AS HUGEINT) * g.gi)
                FROM v{iters} v JOIN g{iters + 1} g ON g.i = v.i) * 1000000)
               // GREATEST((SELECT SUM(vi * vi) FROM v{iters}), 1) AS BIGINT)
        AS eigenvalue_micros
    )
    SELECT CAST(v.i - 1 AS INTEGER) AS dim,
           v.vi AS eigvec_micros,
           g.gi AS gv_micros,
           ray.eigenvalue_micros
    FROM v{iters} v JOIN g{iters + 1} g ON g.i = v.i, ray""")
    return "".join(parts)


@query("embedding_pca_power", _pca_oracle_sql())
def embedding_pca_power_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the centered embedding table by 6
    matrix-free power-iteration steps: G·v computed as one corpus scan
    reduced map-side to 64 bigints (G itself never materializes), L-inf
    integer renormalization, exact Rayleigh quotient. The whitening /
    anisotropy-audit primitive at 10^9-vector scale.
    See operators/decomposition.py::embedding_pca_power."""
    from ..operators.decomposition import embedding_pca_power

    return embedding_pca_power(_emb(spark, sf_dir), iterations=6, dim=64)


def _dawid_skene_oracle_sql(iters: int = 3) -> str:
    """Unrolled EM replay of dawid_skene_binary: the weak-vote CTE, then
    iters M-steps with the closed-form E-step expression inlined per
    round; HUGEINT widening mirrors Spark's DECIMAL(38,0)."""
    labs = _WEAK_LABELERS

    def m_step(t: int, qsrc: str) -> str:
        sums = ", ".join(
            f"CAST(SUM(CASE WHEN {lab} THEN q ELSE 0 END) AS BIGINT) AS sqv{k},"
            f" CAST(SUM(CASE WHEN NOT {lab} THEN 1000000 - q ELSE 0 END) AS BIGINT) AS s0v{k}"
            for k, lab in enumerate(labs)
        )
        alphas = ", ".join(
            f"CAST((CAST(sqv{k} AS HUGEINT) * 1000000) // GREATEST(sq, 1) AS BIGINT) AS a{k}"
            for k in range(len(labs))
        )
        betas = ", ".join(
            f"CAST((CAST(s0v{k} AS HUGEINT) * 1000000)"
            f" // GREATEST(n * 1000000 - sq, 1) AS BIGINT) AS b{k}"
            for k in range(len(labs))
        )
        return f""",
    ms{t} AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(q) AS BIGINT) AS sq, {sums}
      FROM {qsrc}
    ),
    p{t} AS MATERIALIZED (
      SELECT n, CAST(sq // n AS BIGINT) AS pi, {alphas}, {betas} FROM ms{t}
    )"""

    def q_sel(t: int) -> str:
        tt = " * ".join(
            f"CAST(CASE WHEN {lab} THEN a{k} ELSE 1000000 - a{k} END AS HUGEINT)"
            for k, lab in enumerate(labs)
        )
        uu = " * ".join(
            f"CAST(CASE WHEN {lab} THEN 1000000 - b{k} ELSE b{k} END AS HUGEINT)"
            for k, lab in enumerate(labs)
        )
        return f""",
    q{t} AS MATERIALIZED (
      SELECT vv.doc_id, {', '.join('vv.' + lab for lab in labs)},
             CAST(((CAST(pi AS HUGEINT) * {tt}) * 1000000)
                  // GREATEST(CAST(pi AS HUGEINT) * {tt}
                              + CAST(1000000 - pi AS HUGEINT) * {uu}, 1) AS BIGINT) AS q
      FROM vv, p{t}
    )"""

    head = f"""
    WITH f AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ('the', 'and', 'of', 'is', 'a', 'to', 'in')))
               AS stop_hits,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS distinct_frac,
             CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
               / length(text) AS alpha_ratio
      FROM documents
    ),
    vv AS MATERIALIZED (
      SELECT doc_id,
             COALESCE(n_words BETWEEN 20 AND 1000, FALSE) AS l_length,
             COALESCE(CAST(stop_hits AS DOUBLE) / n_words >= 0.05, FALSE) AS l_stopword,
             COALESCE(distinct_frac >= 0.3, FALSE) AS l_repetition,
             COALESCE(alpha_ratio >= 0.5, FALSE) AS l_alpha
      FROM f
    ),
    q0 AS MATERIALIZED (
      SELECT doc_id, {', '.join(labs)},
             CAST((CAST(l_length AS INT) + CAST(l_stopword AS INT)
                   + CAST(l_repetition AS INT) + CAST(l_alpha AS INT))
                  * 250000 AS BIGINT) AS q
      FROM vv
    )"""
    parts = [head, m_step(1, "q0")]
    for t in range(2, iters + 1):
        parts.append(q_sel(t - 1))
        parts.append(m_step(t, f"q{t - 1}"))
    parts.append(q_sel(iters))
    parts.append(f""",
    npos AS (SELECT CAST(SUM(CASE WHEN q >= 500000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos_posterior FROM q{iters})
    SELECT x.labeler, x.alpha_micros, x.beta_micros,
           p.pi AS pi_micros, p.n AS n_docs, npos.n_pos_posterior
    FROM p{iters} p, npos, (
      {" UNION ALL ".join(
          f"SELECT '{lab}' AS labeler, a{k} AS alpha_micros, b{k} AS beta_micros FROM p{iters}"
          for k, lab in enumerate(labs))}
    ) x""")
    return "".join(parts)


@query("dawid_skene_labelers", _dawid_skene_oracle_sql())
def dawid_skene_labelers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dawid-Skene confusion-matrix EM over the four weak labelers:
    per-labeler sensitivity/specificity, class prior, and the final
    posterior-positive count — 3 EM rounds, each ONE corpus scan reduced
    to a 9-number broadcast parameter row (posteriors never materialize);
    DECIMAL(38,0)/HUGEINT-widened integer-micro arithmetic throughout.
    See operators/quality.py::dawid_skene_binary."""
    from ..operators.quality import dawid_skene_binary

    return dawid_skene_binary(_docs(spark, sf_dir), iterations=3)


def _doremi_oracle_sql(
    rounds: int = 5, eta: int = 500000, smooth: int = 100000
) -> str:
    """Bigram-LM per-doc NLL (shared CTE shape with bigram_lm_scores),
    token-weighted domain NLL, then the MW rounds unrolled."""
    head = """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    big AS MATERIALIZED (
      SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
      FROM words, unnest(generate_series(1, len(ws) - 1)) AS g(i)
      WHERE len(ws) >= 2
    ),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY 1),
    v AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS V
      FROM (SELECT unnest(ws) AS w FROM words)
      WHERE length(w) > 0
    ),
    model AS MATERIALIZED (
      SELECT w1, w2,
             -CAST(FLOOR(log10(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + V AS DOUBLE))
                   * 1000000 + 0.5) AS BIGINT) AS nll_u
      FROM c2 JOIN c1 USING (w1), v
    ),
    perdoc AS MATERIALIZED (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(nll_u) AS BIGINT) AS nll_sum_micros
      FROM big JOIN model USING (w1, w2)
      GROUP BY 1
    ),
    dom AS MATERIALIZED (
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(p.nll_sum_micros) // GREATEST(SUM(p.n_bigrams), 1) AS BIGINT)
               AS dom_nll_micros
      FROM perdoc p JOIN documents d USING (doc_id)
      GROUP BY 1
    ),
    kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM dom),
    ex AS MATERIALIZED (
      SELECT source, n_docs, dom_nll_micros,
             CAST(dom_nll_micros - (SELECT MIN(dom_nll_micros) FROM dom) AS BIGINT)
               AS excess_micros
      FROM dom
    ),
    exn AS MATERIALIZED (
      SELECT source, n_docs, dom_nll_micros, excess_micros,
             CAST((excess_micros * 1000000)
                  // GREATEST((SELECT MAX(excess_micros) FROM ex), 1) AS BIGINT) AS exn
      FROM ex
    ),
    w0 AS MATERIALIZED (
      SELECT source, n_docs, dom_nll_micros, excess_micros, exn,
             CAST(1000000 // kk.k AS BIGINT) AS w
      FROM exn, kk
    )"""
    parts = [head]
    for t in range(1, rounds + 1):
        parts.append(f""",
    u{t} AS MATERIALIZED (
      SELECT source, n_docs, dom_nll_micros, excess_micros, exn,
             CAST((w * (1000000 + ({eta} * exn) // 1000000)) // 1000000 AS BIGINT) AS w
      FROM w{t - 1}
    ),
    w{t} AS MATERIALIZED (
      SELECT source, n_docs, dom_nll_micros, excess_micros, exn,
             CAST((w * 1000000) // GREATEST((SELECT SUM(w) FROM u{t}), 1) AS BIGINT) AS w
      FROM u{t}
    )""")
    parts.append(f"""
    SELECT source, n_docs, dom_nll_micros, excess_micros,
           CAST(((1000000 - {smooth}) * w + {smooth} * (1000000 // kk.k))
                // 1000000 AS BIGINT) AS weight_micros
    FROM w{rounds}, kk""")
    return "".join(parts)


@query("doremi_domain_weights", _doremi_oracle_sql())
def doremi_domain_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style excess-loss domain reweighting (linearized hedge):
    token-weighted per-source NLL under the corpus add-one bigram LM,
    excess over the easiest domain normalized to [0,1e6], 5
    multiplicative-weights rounds with renormalization, uniform
    smoothing - all-integer, |sources|-scale after one LM pass.
    See operators/sampling.py::doremi_domain_weights."""
    from ..operators.sampling import doremi_domain_weights

    return doremi_domain_weights(_docs(spark, sf_dir), rounds=5)


def _conformal_oracle_sql(iters: int = 5, alphas=(100000, 50000)) -> str:
    """Split-conformal replay: probe features + hash split, TRAIN-only
    centering and GD chain (shared _probe_gd_cte), exact order-statistic
    threshold per alpha, TEST coverage aggregate."""
    from ..operators.probe import PROBE_STOPWORDS

    stop_in = ", ".join(f"'{s}'" for s in PROBE_STOPWORDS)
    mwl = "CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(ws)"
    n_hash = "length(text) - length(replace(text, '#', ''))"
    n_ell = "floor(CAST(length(text) - length(replace(text, '...', ''))"
    n_ell += " AS DOUBLE) / 3.0)"
    keep = (
        "len(ws) >= 50 AND len(ws) <= 100000"
        f" AND {mwl} >= 3.0 AND {mwl} <= 10.0"
        f" AND ({n_hash} + {n_ell}) / len(ws) <= 0.1"
        " AND CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)"
        "     / len(ws) >= 0.8"
        f" AND len(list_filter(ws, w -> w IN ({stop_in}))) >= 2"
    )

    def sig(w: str) -> str:
        dot = " + ".join(f"{w}.w{f} * x{f}" for f in range(5))
        return (
            f"LEAST(CAST(1000000 AS BIGINT), GREATEST(CAST(0 AS BIGINT),"
            f" 500000 + (({dot}) // 1000000) // 4))"
        )

    head = f"""
    WITH f0 AS MATERIALIZED (
      SELECT doc_id,
             CAST(CASE WHEN {keep} THEN 1000000 ELSE 0 END AS BIGINT) AS y,
             CAST(1000000 AS BIGINT) AS x0,
             CAST(LEAST(len(ws), 200) * 5000 AS BIGINT) AS x1,
             CAST(LEAST((CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT)
                         * 1000000) // GREATEST(len(ws), 1),
                        10000000) // 10 AS BIGINT) AS x2,
             CAST((len(list_filter(ws, w -> w IN ({stop_in}))) * 1000000)
                  // GREATEST(len(ws), 1) AS BIGINT) AS x3,
             CAST(LEAST(len(list_filter(ws, w -> w IN ({stop_in}))), 20)
                  * 50000 AS BIGINT) AS x4,
             CASE WHEN bucket < 25 THEN 'test' WHEN bucket < 50 THEN 'val'
                  ELSE 'train' END AS split
      FROM (
        SELECT doc_id, text, string_split(text, ' ') AS ws,
               (strpos('0123456789abcdef',
                       substr(md5('split42:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef',
                         substr(md5('split42:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                 AS bucket
        FROM documents
      )
    ),
    m AS (SELECT SUM(x1) // COUNT(*) AS m1, SUM(x2) // COUNT(*) AS m2,
                 SUM(x3) // COUNT(*) AS m3, SUM(x4) // COUNT(*) AS m4
          FROM f0 WHERE split = 'train'),
    fall AS MATERIALIZED (
      SELECT doc_id, split, y, x0,
             CAST((x1 - m1) * 4 AS BIGINT) AS x1, CAST((x2 - m2) * 4 AS BIGINT) AS x2,
             CAST((x3 - m3) * 4 AS BIGINT) AS x3, CAST((x4 - m4) * 4 AS BIGINT) AS x4
      FROM f0, m
    ),
    f AS MATERIALIZED (SELECT * FROM fall WHERE split = 'train'),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM f)"""
    parts = [head]
    for t in range(1, iters + 1):
        parts.append(_probe_gd_cte(t, sig))
    parts.append(f""",
    scored AS MATERIALIZED (
      SELECT fall.split, fall.y, {sig(f'w{iters}')} AS sig FROM fall, w{iters}
    ),
    cal AS MATERIALIZED (
      SELECT CAST(1000000 AS BIGINT) - sig AS v FROM scored
      WHERE split = 'val' AND y = 1000000
    ),
    ncal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
    cnt AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM cal GROUP BY 1),
    cum AS MATERIALIZED (
      SELECT a.v, CAST(SUM(b.c) AS BIGINT) AS cum
      FROM cnt a JOIN cnt b ON b.v <= a.v GROUP BY a.v
    ),
    test AS MATERIALIZED (SELECT y, sig FROM scored WHERE split = 'test')""")
    rows = []
    for j, alpha in enumerate(alphas):
        parts.append(f""",
    k{j} AS (
      SELECT CAST({alpha} AS BIGINT) AS alpha_micros, n_cal,
             CAST(((n_cal + 1) * {1000000 - alpha} + 999999) // 1000000 AS BIGINT)
               AS k_order
      FROM ncal
    ),
    tau{j} AS (
      SELECT alpha_micros, n_cal, k_order,
             CASE WHEN k_order > n_cal THEN CAST(1000001 AS BIGINT)
                  ELSE (SELECT MIN(v) FROM cum, k{j} WHERE cum >= k_order) END
               AS tau_micros
      FROM k{j}
    ),
    row{j} AS (
      SELECT t.alpha_micros, t.n_cal, t.k_order, t.tau_micros,
             CAST(1000000 - t.tau_micros AS BIGINT) AS threshold_sig_micros,
             CAST(SUM(CASE WHEN y = 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_test_pos,
             CAST(SUM(CASE WHEN y = 1000000 AND sig >= 1000000 - t.tau_micros
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_test_pos_kept,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN sig >= 1000000 - t.tau_micros THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_test_kept
      FROM test, tau{j} t
      GROUP BY 1, 2, 3, 4, 5
    )""")
        rows.append(
            f"""SELECT alpha_micros, n_cal, k_order, tau_micros, threshold_sig_micros,
           n_test_pos, n_test_pos_kept,
           CAST((n_test_pos_kept * 1000000) // GREATEST(n_test_pos, 1) AS BIGINT)
             AS coverage_micros,
           n_test, n_test_kept,
           CAST((n_test_kept * 1000000) // GREATEST(n_test, 1) AS BIGINT)
             AS keep_rate_micros
    FROM row{j}"""
        )
    parts.append("\n    " + "\n    UNION ALL ".join(rows))
    return "".join(parts)


@query("probe_conformal_gate", _conformal_oracle_sql())
def probe_conformal_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal keep gate: probe fit on the TRAIN split only,
    nonconformity quantile over VAL true-keeps at alpha in {10%, 5%},
    realized coverage on TEST — the finite-sample miss-rate guarantee a
    100 TB gate wants before thresholding; exact order statistic via a
    broadcast non-equi cumulative join, small-sample +inf degeneracy
    handled. See operators/probe.py::probe_conformal_gate."""
    from ..operators.probe import probe_conformal_gate

    return probe_conformal_gate(_docs(spark, sf_dir), iterations=5)


_HLL_SQL = """
    WITH tok AS (
      SELECT t.w AS token
      FROM (SELECT string_split(lower(text), ' ') AS ws FROM documents) d,
           unnest(d.ws) AS t(w)
      WHERE t.w <> ''
    ),
    hx AS (
      SELECT CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h FROM tok
    ),
    ranks AS (
      SELECT CAST(h % 64 AS INTEGER) AS bucket,
             CASE WHEN h // 64 = 0 THEN 55
                  ELSE 55 - length(bin(h // 64)) END AS rank
      FROM hx
    ),
    regs AS (SELECT bucket, MAX(rank) AS reg FROM ranks GROUP BY 1),
    sk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_registers,
             CAST(SUM(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS s_present
      FROM regs
    ),
    ex AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS exact_distinct FROM tok),
    est AS (
      SELECT CAST(64 AS INTEGER) AS m, n_registers,
             CAST(64 - n_registers AS BIGINT) AS v_empty,
             CAST((CAST(709341 AS HUGEINT) * 4096
                   * CAST(CAST(1 AS BIGINT) << 55 AS HUGEINT))
                  // (CAST(s_present
                           + (64 - n_registers) * (CAST(1 AS BIGINT) << 55)
                           AS HUGEINT) * 1000000) AS BIGINT) AS raw_estimate,
             exact_distinct
      FROM sk, ex
    ),
    corr AS (
      SELECT m, n_registers, v_empty, raw_estimate,
             CASE WHEN v_empty > 0 AND raw_estimate <= 160
                  THEN CAST(FLOOR(64 * ln(CAST(64 AS DOUBLE) / v_empty) + 0.5)
                            AS BIGINT)
                  ELSE raw_estimate END AS corrected_estimate,
             exact_distinct
      FROM est
    )
    SELECT m, n_registers, v_empty, raw_estimate, corrected_estimate, exact_distinct,
           CAST((ABS(corrected_estimate - exact_distinct) * 1000000)
                // GREATEST(exact_distinct, 1) AS BIGINT) AS err_micros
    FROM corr
    """


@query("hll_distinct_tokens", _HLL_SQL)
def hll_distinct_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token cardinality with exact-count audit: the
    explicit mergeable register construction (64 cells, portable md5
    hash, bin()-based ranks, integer-exact estimate arithmetic, linear-
    counting small-range correction) — the cardinality twin of
    cms_heavy_hitters. See operators/sketches.py::hll_distinct_tokens."""
    from ..operators.sketches import hll_distinct_tokens

    return hll_distinct_tokens(_docs(spark, sf_dir), m=64)


@query(
    "rho_loss_selection",
    f"""
    WITH words AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS ws,
             CASE WHEN bucket < 25 THEN 'test' WHEN bucket < 50 THEN 'val'
                  ELSE 'train' END AS split
      FROM (SELECT doc_id, text, {_RHO_SPLIT} AS bucket FROM documents)
    ),
    big AS MATERIALIZED (
      SELECT doc_id, split, ws[g.i] AS w1, ws[g.i + 1] AS w2
      FROM words, unnest(generate_series(1, len(ws) - 1)) AS g(i)
      WHERE len(ws) >= 2
    ),
    fc2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY 1, 2),
    fc1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY 1),
    fv AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS V
      FROM (SELECT unnest(ws) AS w FROM words) WHERE length(w) > 0
    ),
    fmodel AS MATERIALIZED (
      SELECT w1, w2,
             -CAST(FLOOR(log10(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + V AS DOUBLE))
                   * 1000000 + 0.5) AS BIGINT) AS nll_u
      FROM fc2 JOIN fc1 USING (w1), fv
    ),
    hb AS MATERIALIZED (SELECT * FROM big WHERE split = 'val'),
    hc2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM hb GROUP BY 1, 2),
    hc1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM hb GROUP BY 1),
    hv AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS V
      FROM (SELECT unnest(ws) AS w FROM words WHERE split = 'val')
      WHERE length(w) > 0
    ),
    hmodel AS MATERIALIZED (
      SELECT w1, w2,
             -CAST(FLOOR(log10(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + V AS DOUBLE))
                   * 1000000 + 0.5) AS BIGINT) AS nll_u
      FROM hc2 JOIN hc1 USING (w1), hv
    ),
    scored AS MATERIALIZED (
      SELECT b.doc_id, fm.nll_u AS nll_full,
             COALESCE(hm.nll_u,
                      -CAST(FLOOR(log10(CAST(1 AS DOUBLE)
                            / CAST(COALESCE(h1.c1, 0) + hv.V AS DOUBLE))
                            * 1000000 + 0.5) AS BIGINT)) AS nll_hold
      FROM big b
      JOIN fmodel fm ON fm.w1 = b.w1 AND fm.w2 = b.w2
      LEFT JOIN hmodel hm ON hm.w1 = b.w1 AND hm.w2 = b.w2
      LEFT JOIN hc1 h1 ON h1.w1 = b.w1, hv
      WHERE b.split <> 'val'
    ),
    perdoc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(nll_full) AS BIGINT) AS nll_full_micros,
             CAST(SUM(nll_hold) AS BIGINT) AS nll_holdout_micros,
             CAST(SUM(nll_full) - SUM(nll_hold) AS BIGINT) AS rho_micros
      FROM scored GROUP BY 1
    )
    SELECT doc_id, n_bigrams, nll_full_micros, nll_holdout_micros, rho_micros,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY rho_micros DESC, doc_id) AS rank
      FROM perdoc
    ) WHERE rank <= 50
    """,
)
def rho_loss_selection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHO-loss data selection: per-doc reducible loss = NLL under the
    full-corpus bigram LM minus NLL under the val-split holdout LM
    (unseen holdout bigrams priced by add-one smoothing's closed form),
    top-50 most-learnable NON-holdout docs by exact integer-micro
    difference - the Mindermann et al. 2022 selection rule with the
    standard holdout/candidate disjointness (val docs scoring against a
    model trained on themselves would inflate their own rho).
    See operators/importance.py::rho_loss_selection."""
    from ..operators.importance import rho_loss_selection

    return rho_loss_selection(_docs(spark, sf_dir), top_k=50)


@query(
    "kmv_source_overlap",
    f"""
    WITH words AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
    sh AS MATERIALIZED (
      SELECT DISTINCT source,
             CAST(('0x' || substr(md5(ws[g.i] || ' ' || ws[g.i + 1] || ' ' || ws[g.i + 2]),
                                  1, 15)) AS BIGINT) AS h
      FROM words, unnest(generate_series(1, len(ws) - 2)) AS g(i)
      WHERE len(ws) >= 3
    ),
    sk AS MATERIALIZED (
      SELECT source, h FROM (
        SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM sh
      ) WHERE rn <= 128
    ),
    pairs AS (
      SELECT x.source AS sa, y.source AS sb
      FROM (SELECT DISTINCT source FROM sk) x
      JOIN (SELECT DISTINCT source FROM sk) y ON x.source < y.source
    ),
    uv AS MATERIALIZED (
      SELECT sa, sb, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
        SELECT p.sa, p.sb, a.h, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN sk a ON a.source = p.sa
        UNION ALL
        SELECT p.sa, p.sb, b.h, 0, 1
        FROM pairs p JOIN sk b ON b.source = p.sb
      ) GROUP BY 1, 2, 3
    ),
    topu AS MATERIALIZED (
      SELECT sa, sb, h, in_a, in_b FROM (
        SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM uv
      ) WHERE rn <= 128
    ),
    est AS (
      SELECT sa, sb,
             CAST(COUNT(*) AS BIGINT) AS n_union_sketch,
             CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_common_sketch,
             MAX(h) AS theta
      FROM topu GROUP BY 1, 2
    ),
    est2 AS (
      SELECT sa, sb, n_union_sketch, n_common_sketch,
             CAST((n_common_sketch * 1000000) // GREATEST(n_union_sketch, 1) AS BIGINT)
               AS jaccard_est_micros,
             CASE WHEN n_union_sketch < 128 THEN n_union_sketch
                  ELSE CAST((CAST(127 AS HUGEINT) * {1 << 60})
                            // GREATEST(theta, 1) AS BIGINT) END AS union_card_est
      FROM est
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT p.source AS sa, q.source AS sb, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM sh p JOIN sh q ON p.h = q.h AND p.source < q.source
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT pr.sa, pr.sb,
             CAST((COALESCE(i.n_inter, 0) * 1000000)
                  // GREATEST(za.n + zb.n - COALESCE(i.n_inter, 0), 1) AS BIGINT)
               AS jaccard_exact_micros
      FROM pairs pr
      LEFT JOIN inter i ON i.sa = pr.sa AND i.sb = pr.sb
      JOIN sizes za ON za.source = pr.sa
      JOIN sizes zb ON zb.source = pr.sb
    )
    SELECT e.sa AS source_a, e.sb AS source_b, e.n_union_sketch, e.n_common_sketch,
           e.jaccard_est_micros, e.union_card_est, x.jaccard_exact_micros,
           CAST(ABS(e.jaccard_est_micros - x.jaccard_exact_micros) AS BIGINT)
             AS abs_err_micros
    FROM est2 e JOIN exact x ON x.sa = e.sa AND x.sb = e.sb
    """,
)
def kmv_source_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k / theta-family) cross-source overlap: per-source
    128-minimum-hash sketches over distinct trigram shingles, pairwise
    Jaccard + union-cardinality estimates from sketch rows only
    (|sources|^2-bounded), exact Jaccard as the audit column - the set-
    operation sketch completing the CM/HLL/KMV trio.
    See operators/sketches.py::kmv_source_overlap."""
    from ..operators.sketches import kmv_source_overlap

    return kmv_source_overlap(_docs(spark, sf_dir), k=128)


_BLOOM_SQL = f"""
    WITH g0 AS (
      SELECT doc_id,
             CASE WHEN bucket < 25 THEN 'test' WHEN bucket < 50 THEN 'val'
                  ELSE 'train' END AS split,
             ws
      FROM (SELECT doc_id, string_split(text, ' ') AS ws, {_RHO_SPLIT} AS bucket
            FROM documents)
      WHERE len(ws) >= 5
    ),
    grams AS (
      SELECT DISTINCT doc_id, split,
             md5(array_to_string(ws[gg.i + 1 : gg.i + 5], ' ')) AS g
      FROM g0, unnest(generate_series(0, len(ws) - 5)) AS gg(i)
    ),
    test_g AS (SELECT DISTINCT g FROM grams WHERE split = 'test'),
    cand_g AS (SELECT doc_id, g FROM grams WHERE split <> 'test'),
    probes_t AS (
      SELECT CAST(('0x' || substr(md5(g), p.p * 8 + 1, 8)) AS BIGINT) % 65536 AS idx
      FROM test_g, unnest(generate_series(0, 3)) AS p(p)
    ),
    bitmap AS (
      SELECT CAST(idx // 32 AS INTEGER) AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(idx % 32 AS INTEGER)) AS word
      FROM probes_t GROUP BY 1
    ),
    cand_probes AS (
      SELECT doc_id, g,
             CAST(('0x' || substr(md5(g), p.p * 8 + 1, 8)) AS BIGINT) % 65536 AS idx
      FROM cand_g, unnest(generate_series(0, 3)) AS p(p)
    ),
    hits AS (
      SELECT doc_id, g,
             CASE WHEN SUM(CASE WHEN (COALESCE(b.word, 0)
                                      & (CAST(1 AS BIGINT)
                                         << CAST(cp.idx % 32 AS INTEGER))) <> 0
                               THEN 1 ELSE 0 END) = 4
                  THEN 1 ELSE 0 END AS bloom_hit
      FROM cand_probes cp
      LEFT JOIN bitmap b ON b.word_idx = CAST(cp.idx // 32 AS INTEGER)
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT c.doc_id, c.g,
             CASE WHEN t.g IS NULL THEN 0 ELSE 1 END AS exact_hit
      FROM cand_g c LEFT JOIN test_g t ON t.g = c.g
    )
    SELECT h.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_ngrams,
           CAST(SUM(h.bloom_hit) AS BIGINT) AS n_bloom_hits,
           CAST(SUM(e.exact_hit) AS BIGINT) AS n_exact_hits,
           CAST(SUM(h.bloom_hit) - SUM(e.exact_hit) AS BIGINT) AS n_false_positives,
           CAST(SUM(h.bloom_hit) > 0 AS INTEGER) AS flagged
    FROM hits h JOIN exact e ON e.doc_id = h.doc_id AND e.g = h.g
    GROUP BY 1
    """


@query(
    "split_leakage_audit",
    f"""
    WITH per AS (
      SELECT md5(array_to_string((string_split(text, ' '))[1:8], ' '))
               AS content_hash,
             doc_id,
             CASE WHEN bucket < 25 THEN 'test' WHEN bucket < 50 THEN 'val'
                  ELSE 'train' END AS split
      FROM (SELECT doc_id, text, {_RHO_SPLIT} AS bucket FROM documents)
    ),
    g AS (
      SELECT content_hash,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train,
             CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_val,
             CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test,
             CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
             MIN(doc_id) AS representative_id
      FROM per GROUP BY 1
    )
    SELECT content_hash, n_docs, n_train, n_val, n_test, n_splits,
           CAST((n_docs * (n_docs - 1)) // 2
                - (n_train * (n_train - 1)) // 2
                - (n_val * (n_val - 1)) // 2
                - (n_test * (n_test - 1)) // 2 AS BIGINT) AS n_cross_pairs,
           representative_id
    FROM g WHERE n_splits > 1
    """,
)
def split_leakage_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test leakage through duplicated content
    (operators/quality.py::split_leakage_audit): per-doc hash splits let
    template-sharing documents straddle splits; every 8-word-prefix
    template cluster is audited against the 3-way split and leaking
    clusters report their exact cross-split pair counts. One digest-keyed
    aggregate — raw text never shuffles; re-splitting BY digest is the
    remedy this audit verifies as a fixed point."""
    from ..operators.quality import split_leakage_audit

    return split_leakage_audit(_docs(spark, sf_dir))


@query(
    "cluster_safe_split",
    """
    WITH per AS (
      SELECT doc_id,
             md5(array_to_string((string_split(text, ' '))[1:8], ' '))
               AS content_hash
      FROM documents
    ),
    pb AS (
      SELECT doc_id, content_hash,
             (strpos('0123456789abcdef',
                     substr(md5('split42c:' || content_hash), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef',
                       substr(md5('split42c:' || content_hash), 2, 1)) - 1)
               AS bucket
      FROM per
    ),
    assigned AS (
      SELECT doc_id, content_hash,
             CASE WHEN bucket < 25 THEN 'test' WHEN bucket < 50 THEN 'val'
                  ELSE 'train' END AS split
      FROM pb
    ),
    clusters AS (
      SELECT content_hash,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
             MIN(split) AS split
      FROM assigned GROUP BY 1
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM assigned)
    SELECT split,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_leaking_clusters,
           CAST(SUM(n_docs) * 1000000 // tot AS BIGINT) AS share_micros
    FROM clusters, total GROUP BY 1, tot
    """,
)
def cluster_safe_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-safe split assignment — the remedy split_leakage_audit
    prescribes (operators/quality.py::cluster_safe_split): hash the
    duplicate-cluster key (template-prefix digest) instead of the doc id,
    so every cluster member shares a split by construction; the output
    re-runs the leakage audit on the new assignment (n_leaking_clusters
    must be 0 — the fixed point, oracle-gated rather than asserted)."""
    from ..operators.quality import cluster_safe_split

    return cluster_safe_split(_docs(spark, sf_dir))


@query("bloom_decontaminate", _BLOOM_SQL)
def bloom_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered test-set decontamination
    (operators/sketches.py::bloom_words/bloom_probe_flags/
    bloom_decontaminate): the test hash split's distinct 5-gram set
    compresses to a mergeable bitmap of <= _BLOOM_M/_BLOOM_WORD = 2048
    word rows (65536 bits, bit_or cells); candidate
    docs probe the broadcast bitmap map-side and flag on any hit; the
    exact semi-join audits the realized false-positive rate. Membership
    completes the sketch quartet (CM frequency / HLL cardinality / KMV
    set-ops / Bloom membership). Drop the audit and 100 TB
    decontamination is one scan."""
    from ..operators.sketches import bloom_decontaminate

    return bloom_decontaminate(_docs(spark, sf_dir), n_words=5)


def _hqs_oracle_sql(fractions=((1, 2), (9, 10), (99, 100)), w: int = 16, b: int = 64) -> str:
    head = f"""
    WITH xs AS MATERIALIZED (
      SELECT CAST(LEAST(len(string_split(text, ' ')), {w * b - 1}) AS BIGINT) AS x
      FROM documents
    ),
    hist AS MATERIALIZED (
      SELECT CAST(LEAST(x // {w}, {b - 1}) AS BIGINT) AS b, CAST(COUNT(*) AS BIGINT) AS c
      FROM xs GROUP BY 1
    ),
    nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist),
    cum AS MATERIALIZED (
      SELECT h1.b, h1.c, CAST(SUM(h2.c) AS BIGINT) AS cum
      FROM hist h1 JOIN hist h2 ON h2.b <= h1.b GROUP BY 1, 2
    ),
    vals AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS vc FROM xs GROUP BY 1),
    vcum AS MATERIALIZED (
      SELECT v1.x, CAST(SUM(v2.vc) AS BIGINT) AS vcum
      FROM vals v1 JOIN vals v2 ON v2.x <= v1.x GROUP BY 1
    )"""
    parts = [head]
    rows = []
    for j, (qn, qd) in enumerate(fractions):
        parts.append(f""",
    k{j} AS (
      SELECT CAST({qn} AS INTEGER) AS pct_num, CAST({qd} AS INTEGER) AS pct_den,
             n AS n_docs, CAST((n * {qn} + {qd} - 1) // {qd} AS BIGINT) AS k
      FROM nn
    ),
    sel{j} AS (
      SELECT k.pct_num, k.pct_den, k.n_docs, k.k, c.b AS bin,
             CAST(c.b * {w} * 1000000
                  + ((k.k - (c.cum - c.c)) * {w} * 1000000) // GREATEST(c.c, 1)
                  AS BIGINT) AS est_micros
      FROM k{j} k JOIN cum c ON c.cum >= k.k
      ORDER BY c.b LIMIT 1
    ),
    row{j} AS (
      SELECT s.pct_num, s.pct_den, s.n_docs, s.bin, s.est_micros,
             (SELECT MIN(v.x) FROM vcum v, k{j} kk WHERE v.vcum >= kk.k)
               AS exact_value
      FROM sel{j} s
    )""")
        rows.append(
            f"""SELECT pct_num, pct_den, n_docs, bin, est_micros, exact_value,
           CAST(ABS(est_micros - exact_value * 1000000) AS BIGINT) AS abs_err_micros
    FROM row{j}"""
        )
    parts.append("\n    " + "\n    UNION ALL ".join(rows))
    return "".join(parts)


@query("histogram_quantile_sketch", _hqs_oracle_sql())
def histogram_quantile_sketch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles of the tokens-per-document distribution from a fixed
    64-bin mergeable histogram (cell-wise-SUM merge contract) with
    within-bin integer interpolation, exact order statistics as the
    audit columns - the streaming/cross-shard companion to
    exact_quantiles_distributed; error bounded by one bin width.
    See operators/aggregates.py::histogram_quantile_sketch."""
    from ..operators.aggregates import histogram_quantile_sketch

    return histogram_quantile_sketch(_docs(spark, sf_dir))


def _langid_oracle_sql(
    profile_size: int = 40,
    doc_profile_size: int = 15,
    train_mod: int = 10,
    train_lt: int = 5,
) -> str:
    """DuckDB replay of langid_ngram_profile, GENERATED from the same
    parameters the operator call uses (round-11 advice: the constants
    were previously hardcoded in the SQL text, so parity held only for
    the wrapper's default arguments)."""
    return f"""
    WITH tr AS (
      SELECT doc_id, lang, substr(text, CAST(g.i AS INTEGER), 3) AS tri
      FROM documents, unnest(generate_series(1, len(text) - 2)) AS g(i)
      WHERE len(text) >= 3
    ),
    doc_tf AS (
      SELECT doc_id, lang, tri, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tr GROUP BY 1, 2, 3
    ),
    train_tf AS (
      SELECT lang, tri, CAST(SUM(tf) AS BIGINT) AS cnt
      FROM doc_tf WHERE doc_id % {train_mod} < {train_lt} GROUP BY 1, 2
    ),
    prof AS (
      SELECT lang AS cand_lang, tri, rl FROM (
        SELECT lang, tri,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY cnt DESC, tri) AS rl
        FROM train_tf
      ) WHERE rl <= {profile_size}
    ),
    langs AS (SELECT DISTINCT cand_lang FROM prof),
    dprof AS (
      SELECT doc_id, lang, tri, rd FROM (
        SELECT doc_id, lang, tri,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tf DESC, tri) AS rd
        FROM doc_tf
      ) WHERE rd <= {doc_profile_size}
    ),
    scored AS (
      SELECT d.doc_id, d.lang, l.cand_lang,
             CAST(SUM(COALESCE(abs(d.rd - p.rl), {profile_size})) AS BIGINT)
               AS oop_dist
      FROM dprof d CROSS JOIN langs l
      LEFT JOIN prof p ON p.cand_lang = l.cand_lang AND p.tri = d.tri
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, lang, cand_lang AS pred_lang, oop_dist,
           CAST(cand_lang = lang AS INTEGER) AS correct
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY oop_dist, cand_lang) AS rn
      FROM scored
    ) WHERE rn = 1
    """


_LANGID_PARAMS = dict(profile_size=40, doc_profile_size=15, train_mod=10, train_lt=5)


@query("langid_ngram_profile", _langid_oracle_sql(**_LANGID_PARAMS))
def langid_ngram_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile-learned n-gram language ID (Cavnar-Trenkle out-of-place
    measure; operators/text_analysis.py::langid_ngram_profile): per-lang
    character-trigram rank profiles learned from the deterministic
    doc_id%10<5 train split, broadcast, every doc classified by rank
    displacement against its own top-15 trigram profile, argmin per doc.
    The trained counterpart of the marker-word language_id heuristic —
    feeds the fertility/UniMax operators that assume a lang column.
    Pure integer arithmetic end to end."""
    from ..operators.text_analysis import langid_ngram_profile

    return langid_ngram_profile(_docs(spark, sf_dir), **_LANGID_PARAMS)


def _phash_oracle_sql(grid: int = 8, bands: int = 4, max_hamming: int = 3) -> str:
    """DuckDB replay of image_phash_pairs: same content-derived PPM
    frame as the aHash oracle, then fixed grid x grid nearest-neighbor
    resample -> SEPARABLE integer micro-cosine DCT-II (row pass, column
    pass — expression strings generated by the SAME weight code the
    Spark side uses) -> AC-sign bits -> equal-width banded buckets ->
    exact bit_count(xor) verify."""
    from ..operators.multimodal import dct_sign_fp_terms

    rowdct, coefs = dct_sign_fp_terms(grid, lambda n, i: f"{n}[{i}]")
    rd_list = "[" + ", ".join(rowdct) + "]"
    fp_sum = " + ".join(
        f"(CASE WHEN ({c}) > 0 THEN CAST({1 << k} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for k, c in enumerate(coefs)
    )
    n_bits = grid * grid - 1
    bpb = -(-n_bits // bands)
    return f"""
    WITH t AS (
      SELECT doc_id,
             array_to_string((string_split(text, ' '))[1:8], ' ') AS tpl
      FROM documents
    ),
    d AS (
      SELECT doc_id, repeat(md5(tpl), 28) AS ph,
             CAST(('0x' || substr(md5(tpl), 1, 2)) AS BIGINT) AS b0
      FROM t
    ),
    dims AS (
      SELECT doc_id, ph,
             CAST(4 + b0 % 5 AS INTEGER) AS w,
             CAST(3 + (b0 // 5) % 4 AS INTEGER) AS h
      FROM d
    ),
    g AS (
      SELECT doc_id, w, h,
             list_transform(generate_series(0, w * h - 1),
               i -> (({_AHASH_BYTE.format(o='3 * i')})
                     + ({_AHASH_BYTE.format(o='3 * i + 1')})
                     + ({_AHASH_BYTE.format(o='3 * i + 2')})) // 3) AS gs
      FROM dims
    ),
    g4t AS (
      SELECT doc_id,
             list_transform(generate_series(0, {grid * grid - 1}),
               s -> gs[((s // {grid}) * h // {grid}) * w
                       + ((s % {grid}) * w // {grid}) + 1]) AS gr
      FROM g
    ),
    rdt AS (SELECT doc_id, {rd_list} AS rd FROM g4t),
    f AS (SELECT doc_id, CAST({fp_sum} AS BIGINT) AS fp FROM rdt),
    bd AS (
      SELECT doc_id, fp, CAST(j.j AS INTEGER) AS j,
             (fp // (CAST(1 AS BIGINT) << (CAST(j.j AS INTEGER) * {bpb})))
               % {1 << bpb} AS b
      FROM f, unnest(generate_series(0, {bands - 1})) AS j(j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
             a.fp AS fa, b2.fp AS fb
      FROM bd a JOIN bd b2
        ON a.j = b2.j AND a.b = b2.b AND a.doc_id < b2.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(fa, fb)) <= {max_hamming}
    """


@query("image_phash_dedup", _phash_oracle_sql())
def image_phash_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual-hash (pHash) image dedup over REAL PPM payloads
    (operators/multimodal.py::image_phash_pairs): fixed 8x8
    nearest-neighbor resample, separable integer micro-cosine DCT-II,
    63-bit AC-sign fingerprint — brightness- and size-invariant where
    aHash is not — banded into 16-bit blocks (pigeonhole-exact recall
    at hamming <= 3, 2^16 buckets per band so the candidate stream
    stays bucketed at corpus scale), verified by exact bit_count(xor).
    Same content-derived image frame as image_ahash_dedup (8-word
    template prefix); the oracle's DCT expressions are GENERATED by the
    same weight code the Spark side uses."""
    from ..operators.multimodal import image_phash_pairs

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr("array_join(slice(split(text, ' '), 1, 8), ' ')").alias("tpl"),
    )
    return image_phash_pairs(docs, text_col="tpl")


@query(
    "crossmodal_pair_audit",
    """
    WITH base AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(32 + doc_id % 64 AS BIGINT) AS ns,
             CAST(2 + doc_id % 3 AS BIGINT) AS vh,
             CAST(2 + doc_id % 4 AS BIGINT) AS nf
      FROM documents
    ),
    per_doc AS (
      -- under the deterministic encode the size identities hold by
      -- construction, so the oracle asserts 1; the Spark side must EARN
      -- the same 1 by decoding the payload bytes and reconciling
      SELECT source, n_words, ns, nf,
             1 AS audio_sized_ok,
             1 AS video_sized_ok,
             CASE WHEN ns < n_words THEN 1 ELSE 0 END AS audio_underscaled
      FROM base
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(audio_sized_ok) AS BIGINT) AS n_audio_sized_ok,
           CAST(SUM(video_sized_ok) AS BIGINT) AS n_video_sized_ok,
           CAST(SUM(audio_underscaled) AS BIGINT) AS n_audio_underscaled,
           CAST(SUM(ns) AS BIGINT) AS total_samples,
           CAST(SUM(nf) AS BIGINT) AS total_frames,
           CAST(SUM(ns) * 1000000 // GREATEST(SUM(n_words), 1) AS BIGINT)
             AS samples_per_word_micros
    FROM per_doc GROUP BY 1
    """,
)
def crossmodal_pair_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal pairing QA (operators/multimodal.py::
    crossmodal_pair_audit): WAV and y4m payloads are encoded AND decoded
    through the real relational codecs, and the decoded structure
    (sample count, frame count, frame dims) is reconciled against the
    container byte size and the text word count — per-source counts of
    size-consistent audio/video payloads, impossible-narration flags
    (fewer samples than words), and the samples-per-word pacing ratio.
    The oracle replays the format spec's deterministic arithmetic; the
    Spark side earns the same numbers by actually walking the payload
    bytes (a decode leg that miscounted samples or frames would break
    the size identities and the hash)."""
    from ..operators.multimodal import crossmodal_pair_audit

    return crossmodal_pair_audit(_docs(spark, sf_dir))


def _audio_fp_oracle_sql(
    windows: int = 16, bands: int = 4, max_hamming: int = 3
) -> str:
    """DuckDB replay of audio_fingerprint_pairs, GENERATED from the same
    parameters the operator call uses (the langid round-11 advice rule):
    the oracle rebuilds the deterministic PCM sample stream from the
    encode spec (md5 hex, 16-bit LE, n = 32 + doc_id % 64), folds the
    same four integer band features per window, thresholds against the
    per-window mean, and replays the banded bucket join + exact
    bit_count verify. The Spark side must EARN the same bits by decoding
    the real WAV payload bytes."""
    n_bits = 4 * windows - 1
    bpb = -(-n_bits // bands)
    return f"""
    WITH d AS (
      SELECT doc_id, repeat(md5(text), 12) AS hs,
             CAST(32 + doc_id % 64 AS INTEGER) AS n
      FROM documents
    ),
    us AS (
      SELECT doc_id, n,
             list_transform(generate_series(0, n - 1), i ->
               CAST(('0x' || substr(hs, 4*i + 3, 2) || substr(hs, 4*i + 1, 2))
                    AS BIGINT)) AS uu
      FROM d
    ),
    sv AS (
      SELECT doc_id, n,
             list_transform(uu, u ->
               u - CASE WHEN u >= 32768 THEN 65536 ELSE 0 END) AS ss
      FROM us
    ),
    wf AS (
      SELECT doc_id, CAST(t.w AS INTEGER) AS w, n, ss,
             (CAST(t.w AS INTEGER) * n) // {windows} AS lo,
             ((CAST(t.w AS INTEGER) + 1) * n) // {windows} AS hi
      FROM sv, unnest(generate_series(0, {windows - 1})) AS t(w)
    ),
    feat AS (
      SELECT doc_id, w,
        COALESCE(list_sum(list_transform(generate_series(lo + 1, hi),
          j -> ss[j] * ss[j])), 0) AS en,
        COALESCE(list_sum(list_transform(generate_series(lo + 1, hi),
          j -> abs(ss[j]))), 0) AS sa,
        COALESCE(list_sum(list_transform(generate_series(lo + 2, hi),
          j -> CASE WHEN (ss[j-1] >= 0) <> (ss[j] >= 0)
               THEN 1 ELSE 0 END)), 0) AS zc,
        COALESCE(list_sum(list_transform(generate_series(lo + 2, hi),
          j -> abs(ss[j] - ss[j-1]))), 0) AS fx
      FROM wf
    ),
    tot AS (
      SELECT doc_id, w, en, sa, zc, fx,
             SUM(en) OVER (PARTITION BY doc_id) AS ten,
             SUM(sa) OVER (PARTITION BY doc_id) AS tsa,
             SUM(zc) OVER (PARTITION BY doc_id) AS tzc,
             SUM(fx) OVER (PARTITION BY doc_id) AS tfx
      FROM feat
    ),
    f AS (
      SELECT doc_id, CAST(SUM(
          (CASE WHEN en * {windows} > ten
                THEN CAST(1 AS BIGINT) << w ELSE CAST(0 AS BIGINT) END)
        + (CASE WHEN sa * {windows} > tsa
                THEN CAST(1 AS BIGINT) << ({windows} + w)
                ELSE CAST(0 AS BIGINT) END)
        + (CASE WHEN zc * {windows} > tzc
                THEN CAST(1 AS BIGINT) << (2 * {windows} + w)
                ELSE CAST(0 AS BIGINT) END)
        + (CASE WHEN w < {windows - 1} AND fx * {windows} > tfx
                THEN CAST(1 AS BIGINT) << (3 * {windows} + w)
                ELSE CAST(0 AS BIGINT) END)
      ) AS BIGINT) AS fp
      FROM tot GROUP BY 1
    ),
    bd AS (
      SELECT doc_id, fp, CAST(j.j AS INTEGER) AS j,
             (fp // (CAST(1 AS BIGINT) << (CAST(j.j AS INTEGER) * {bpb})))
               % {1 << bpb} AS b
      FROM f, unnest(generate_series(0, {bands - 1})) AS j(j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
             a.fp AS fa, b2.fp AS fb
      FROM bd a JOIN bd b2
        ON a.j = b2.j AND a.b = b2.b AND a.doc_id < b2.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(fa, fb)) <= {max_hamming}
    """


_AUDIO_FP_PARAMS = dict(windows=16, bands=4, max_hamming=3)


@query("audio_fingerprint_dedup", _audio_fp_oracle_sql(**_AUDIO_FP_PARAMS))
def audio_fingerprint_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio perceptual near-dup over REAL WAV payloads
    (operators/multimodal.py::audio_fingerprint_pairs) — the audio
    member of the modality near-dup trio (image aHash + pHash, video
    frame-sequence): the PCM stream is decoded through the real
    relational codec, folded into 16-window x 4-band integer features
    (energy, level, zero crossings, flux — the integer-exact analog of
    Chromaprint's band energies), mean-thresholded into a 63-bit
    fingerprint, banded into 4 x 16-bit pigeonhole buckets (exact recall
    at hamming <= 3), and verified by exact bit_count(xor)."""
    from ..operators.multimodal import audio_fingerprint_pairs

    return audio_fingerprint_pairs(_docs(spark, sf_dir), **_AUDIO_FP_PARAMS)


def _video_frame_fp_ctes(grid: int = 4) -> str:
    """Shared DuckDB CTE prefix rebuilding the per-frame DCT-sign
    fingerprints from the y4m encode spec (GENERATED from the same
    dct_sign_fp_terms weight code the Spark side uses) — ends with CTE
    ``f(doc_id, nf, fi, fp)``. Shared by the video near-dup and
    shot-boundary oracles."""
    from ..operators.multimodal import dct_sign_fp_terms

    rowdct, coefs = dct_sign_fp_terms(grid, lambda n, i: f"{n}[{i}]")
    rd_list = "[" + ", ".join(rowdct) + "]"
    fp_sum = " + ".join(
        f"(CASE WHEN ({c}) > 0 THEN CAST({1 << k} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for k, c in enumerate(coefs)
    )
    return f"""
    WITH d AS (
      SELECT doc_id, repeat(md5(text), 15) AS hs,
             4 AS w, CAST(2 + doc_id % 3 AS INTEGER) AS h,
             CAST(2 + doc_id % 4 AS INTEGER) AS nf
      FROM documents
    ),
    fr AS (
      SELECT doc_id, nf, CAST(f.f AS INTEGER) AS fi, w, h,
             substr(hs, CAST(f.f AS INTEGER) * (w * h * 6) + 1,
                    w * h * 2) AS lhex
      FROM d, unnest(generate_series(0, nf - 1)) AS f(f)
    ),
    g4t AS (
      SELECT doc_id, nf, fi,
             list_transform(generate_series(0, {grid * grid - 1}),
               c -> CAST(('0x' || substr(lhex,
                    2 * (((c // {grid}) * h // {grid}) * w
                         + ((c % {grid}) * w // {grid})) + 1, 2)) AS BIGINT))
               AS gr
      FROM fr
    ),
    rdt AS (SELECT doc_id, nf, fi, {rd_list} AS rd FROM g4t),
    f AS (SELECT doc_id, nf, fi, CAST({fp_sum} AS BIGINT) AS fp FROM rdt)
    """


def _video_phash_oracle_sql(grid: int = 4) -> str:
    """DuckDB replay of video_phash_pairs, GENERATED from the same grid
    parameter (and the SAME dct_sign_fp_terms weight code the Spark side
    uses): shared frame-fingerprint CTEs (_video_frame_fp_ctes), then the
    (frame_idx, fp) bucket join and majority vote over the aligned frame
    prefix. The Spark side must EARN the same frame fingerprints by
    walking the real payload bytes."""
    return f"""
    {_video_frame_fp_ctes(grid)},
    grp AS (
      SELECT doc_id, nf, list(fp ORDER BY fi) AS fps FROM f GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM f a JOIN f b
        ON a.fi = b.fi AND a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    v AS (
      SELECT c.doc_a, c.doc_b,
             CAST(LEAST(ga.nf, gb.nf) AS INTEGER) AS frames_compared,
             CAST(COALESCE(list_sum(list_transform(
               generate_series(1, LEAST(ga.nf, gb.nf)),
               i -> CASE WHEN ga.fps[i] = gb.fps[i] THEN 1 ELSE 0 END)), 0)
               AS INTEGER) AS matching_frames
      FROM cand c
      JOIN grp ga ON ga.doc_id = c.doc_a
      JOIN grp gb ON gb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, frames_compared, matching_frames
    FROM v WHERE 2 * matching_frames > frames_compared
    """




_VIDEO_PHASH_PARAMS = dict(grid=4)


@query("video_phash_dedup", _video_phash_oracle_sql(**_VIDEO_PHASH_PARAMS))
def video_phash_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup via per-frame perceptual fingerprints
    (operators/multimodal.py::video_phash_pairs) — closes the
    every-modality-has-a-real-near-dup claim: each y4m frame's luma
    plane is decoded from the real payload, grid-resampled, signed
    through the shared separable integer DCT-II (same embedded
    micro-cosine weight code as image pHash), and videos join on
    identical (frame_idx, fp) buckets with a majority vote over the
    aligned frame prefix (pigeonhole-exact recall for the majority
    rule)."""
    from ..operators.multimodal import video_phash_pairs

    return video_phash_pairs(_docs(spark, sf_dir), **_VIDEO_PHASH_PARAMS)


# ---------------------------------------------------------------------------
# Table-maintenance / migration operators (round 12): data-skipping audit,
# compaction planning, content fingerprints, snapshot reconciliation
# ---------------------------------------------------------------------------


_FILE_SKIP_PARAMS = dict(n_files=32, lo_pct=45, hi_pct=55)


def _file_skip_oracle_sql(n_files: int, lo_pct: int, hi_pct: int) -> str:
    """DuckDB replay of maintenance.file_skipping_audit over orders —
    generated from the SAME layout parameters the Spark wrapper passes."""
    per_layout = lambda name, fcol: f"""
      SELECT '{name}' AS layout,
             CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(CASE WHEN fmax < lo OR fmin > hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_files_skipped,
             CAST(SUM(CASE WHEN fmax < lo OR fmin > hi THEN nrows ELSE 0 END) AS BIGINT)
               AS rows_in_skipped_files,
             CAST(SUM(nrows) AS BIGINT) AS rows_total,
             CAST(SUM(nmatch) AS BIGINT) AS rows_matching
      FROM (
        SELECT {fcol} AS f, MIN(d) AS fmin, MAX(d) AS fmax,
               COUNT(*) AS nrows,
               SUM(CASE WHEN d BETWEEN lo AND hi THEN 1 ELSE 0 END) AS nmatch,
               MAX(lo) AS lo, MAX(hi) AS hi
        FROM base GROUP BY 1
      )"""
    return f"""
    WITH b AS (
      SELECT MIN(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS dmin,
             MAX(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS dmax
      FROM orders
    ),
    base AS (
      SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
             b.dmin + CAST(FLOOR((b.dmax - b.dmin) * {lo_pct} / 100) AS BIGINT) AS lo,
             b.dmin + CAST(FLOOR((b.dmax - b.dmin) * {hi_pct} / 100) AS BIGINT) AS hi,
             CAST(LEAST({n_files - 1},
                  FLOOR((datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) - b.dmin)
                        * {n_files} / (b.dmax - b.dmin + 1))) AS INTEGER) AS f_clustered,
             CAST(('0x' || substr(md5('file:' || CAST(o_orderkey AS VARCHAR)), 1, 2))
                  AS INTEGER) % {n_files} AS f_scattered
      FROM orders, b
    )
    {per_layout("clustered", "f_clustered")}
    UNION ALL
    {per_layout("scattered", "f_scattered")}
    """


@query("file_skipping_audit", _file_skip_oracle_sql(**_FILE_SKIP_PARAMS))
def file_skipping_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness audit
    (operators/maintenance.py::file_skipping_audit): the same orders scan
    bucketed into a date-clustered layout vs an md5-scattered one, each
    file's [min, max] day range tested against a central-decile predicate
    exactly as a parquet footer would be. At 100 TB this 2-row report is
    the evidence for (or against) paying for a clustering rewrite —
    clustered layouts skip ~90 % of files here, scattered ones skip none."""
    from ..operators.maintenance import file_skipping_audit

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    return file_skipping_audit(
        orders, "o_orderdate", "o_orderkey", **_FILE_SKIP_PARAMS
    )


_COMPACTION_PARAMS = dict(file_mod=37, target_bytes=1200)


def _compaction_oracle_sql(file_mod: int, target_bytes: int) -> str:
    return f"""
    WITH f AS (
      SELECT source AS part_key, doc_id % {file_mod} AS ord,
             CAST(SUM(length(text)) AS BIGINT) AS bytes
      FROM documents GROUP BY 1, 2
    ),
    c AS (
      SELECT part_key, ord, bytes,
             COALESCE(SUM(bytes) OVER (PARTITION BY part_key ORDER BY ord
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
      FROM f
    )
    SELECT part_key,
           CAST(FLOOR(cumb / {target_bytes}) AS INTEGER) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
           CAST(FLOOR(SUM(bytes) * 1000000 / {target_bytes}) AS BIGINT) AS fill_ppm
    FROM c GROUP BY 1, 2
    """


@query("compaction_bin_plan", _compaction_oracle_sql(**_COMPACTION_PARAMS))
def compaction_bin_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner
    (operators/maintenance.py::compaction_bin_plan): a simulated file
    inventory (one entry per (source, doc_id mod 37) group, sized by text
    bytes) linearly packed into ~target-byte output bins with one window
    cumsum per table partition — the distributed shape of Delta OPTIMIZE's
    per-partition file binning, with no driver-side loop over file lists."""
    from ..operators.maintenance import compaction_bin_plan

    docs = _docs(spark, sf_dir)
    files = docs.groupBy(
        F.col("source"),
        (F.col("doc_id") % _COMPACTION_PARAMS["file_mod"]).alias("file_idx"),
    ).agg(F.sum(F.length("text")).cast("bigint").alias("bytes"))
    return compaction_bin_plan(
        files,
        partition_col="source",
        order_col="file_idx",
        size_col="bytes",
        target_bytes=_COMPACTION_PARAMS["target_bytes"],
    )


@query(
    "dataset_fingerprint_manifest",
    """
    SELECT source AS group_key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(length(text)) AS BIGINT) AS total_payload_chars,
           bit_xor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || md5(text)), 1, 15))
                        AS BIGINT)) AS content_fingerprint
    FROM documents GROUP BY 1
    """,
)
def dataset_fingerprint_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orderless per-source content fingerprint
    (operators/maintenance.py::dataset_fingerprints): XOR-fold of a 60-bit
    digest of every (doc_id, text-digest) row. Associative + commutative ⇒
    one partial-aggregated groupBy whose result is independent of row
    order, partitioning, and file layout — two copies of a 100 TB corpus
    compare by exchanging |sources| rows, and a mismatch localizes to the
    source."""
    from ..operators.maintenance import dataset_fingerprints

    return dataset_fingerprints(
        _docs(spark, sf_dir), group_col="source", key_col="doc_id", payload_col="text"
    )


@query(
    "snapshot_full_outer_reconcile",
    """
    WITH oldsnap AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS p,
             o_orderstatus AS s
      FROM orders WHERE o_orderkey % 11 <> 0
    ),
    newsnap AS (
      SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS s
      FROM orders WHERE o_orderkey % 13 <> 0
    ),
    j AS (
      SELECT CASE WHEN oldsnap.k IS NULL THEN 'added'
                  WHEN newsnap.k IS NULL THEN 'removed'
                  WHEN oldsnap.p IS DISTINCT FROM newsnap.p
                       OR oldsnap.s IS DISTINCT FROM newsnap.s THEN 'changed'
                  ELSE 'unchanged' END AS change_class
      FROM oldsnap FULL OUTER JOIN newsnap ON oldsnap.k = newsnap.k
    ),
    classes AS (
      SELECT unnest(['added', 'removed', 'changed', 'unchanged']) AS change_class
    )
    SELECT c.change_class, CAST(COALESCE(g.cnt, 0) AS BIGINT) AS n_rows
    FROM classes c
    LEFT JOIN (SELECT change_class, COUNT(*) AS cnt FROM j GROUP BY 1) g
      USING (change_class)
    """,
)
def snapshot_full_outer_reconcile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation via one full-outer join
    (operators/maintenance.py::snapshot_reconcile) — the migration /
    backfill acceptance gate. Old snapshot = orders minus every 11th key
    with a +1.0 price perturbation on every 7th key; new snapshot = orders
    minus every 13th key; every key classifies as added / removed /
    changed / unchanged (null-safe compare), aggregated to four counter
    rows. One co-partitioned shuffle on the key — never a driver diff."""
    from ..operators.maintenance import snapshot_reconcile

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    oldsnap = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    newsnap = orders.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    return snapshot_reconcile(
        oldsnap, newsnap, "o_orderkey", ["o_totalprice", "o_orderstatus"]
    )


# ---------------------------------------------------------------------------
# Round-12 batch 2: DP release, reservoir sampling, survival analysis,
# experimentation, embedding ablation, video temporal segmentation
# ---------------------------------------------------------------------------


@query(
    "dp_noisy_group_counts",
    """
    WITH c AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_true
      FROM documents GROUP BY 1, 2
    ),
    n AS (
      SELECT *,
             CAST(('0x' || substr(md5('dp42:'
                      || COALESCE(md5(CAST(source AS VARCHAR)), '~null~')
                      || COALESCE(md5(CAST(lang AS VARCHAR)), '~null~')
                  ), 1, 13))
                  AS BIGINT) / 4503599627370496.0 AS h
      FROM c
    )
    SELECT source, lang, n_true,
           n_true + CAST(FLOOR(
               -1.0 * sign(h - 0.5)
               * ln(GREATEST(1e-12, 1.0 - 2.0 * ABS(h - 0.5)))
               * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS n_noisy,
           1.0 AS epsilon
    FROM n
    """,
)
def dp_noisy_group_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP Laplace-mechanism group counts
    (operators/privacy.py::dp_noisy_group_counts) — the privacy-preserving
    RELEASE side of the privacy family (k_anonymity_audit is the screen):
    sensitivity-1 count query, deterministic inverse-CDF Laplace noise
    from an md5 uniform of the group key, micro-quantized for engine-exact
    replay. n_true stays in the output because this row's job is to make
    the mechanism auditable."""
    from ..operators.privacy import dp_noisy_group_counts

    return dp_noisy_group_counts(
        _docs(spark, sf_dir), ["source", "lang"], epsilon=1.0
    )


@query(
    "weighted_reservoir_sample",
    """
    WITH s AS (
      SELECT source AS group_key, doc_id AS id, CAST(n_chars AS BIGINT) AS weight,
             CAST(FLOOR(
               ln(GREATEST(
                 CAST(('0x' || substr(md5('ares42:' || CAST(doc_id AS VARCHAR)), 1, 13))
                      AS BIGINT) / 4503599627370496.0,
                 1e-18)) / n_chars * 1000000.0) AS BIGINT) AS key_micro
      FROM documents WHERE n_chars > 0
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY group_key ORDER BY key_micro DESC, id) AS rank
      FROM s
    )
    SELECT group_key, id, weight, key_micro, CAST(rank AS INTEGER) AS rank
    FROM r WHERE rank <= 10
    """,
)
def weighted_reservoir_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-Res weighted reservoir sampling, k=10 per source
    (operators/sampling.py::weighted_reservoir_sample) — weighted
    WITHOUT-replacement sampling in one pass with no total-weight
    pre-aggregation (the streaming/100 TB counterpart to
    weighted_systematic_sample's exact global prefix sum); per-group
    top-k by the log-space Efraimidis–Spirakis key, micro-quantized."""
    from ..operators.sampling import weighted_reservoir_sample

    return weighted_reservoir_sample(
        _docs(spark, sf_dir), group_col="source", weight_col="n_chars", k=10
    )


@query(
    "kaplan_meier_churn",
    """
    WITH pu AS (
      SELECT user_id,
             date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) AS lt,
             CAST(MAX(ts) AS DATE) AS last_day
      FROM events GROUP BY 1
    ),
    hz AS (SELECT MAX(last_day) - 7 AS cutoff FROM pu),
    mk AS (
      SELECT lt, CASE WHEN last_day <= cutoff THEN 1 ELSE 0 END AS churned
      FROM pu, hz
    ),
    lt AS (
      SELECT lt AS t, CAST(SUM(churned) AS BIGINT) AS d,
             CAST(SUM(1 - churned) AS BIGINT) AS c
      FROM mk GROUP BY 1
    ),
    tot AS (SELECT SUM(d + c) AS n_total FROM lt),
    risk AS (
      SELECT t, d, c,
             CAST(n_total - COALESCE(SUM(d + c) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS n_at_risk
      FROM lt, tot
    ),
    terms AS (
      SELECT *,
             CAST(FLOOR(ln(GREATEST(1e-12, 1.0 - d / n_at_risk))
                  * 1000000000.0) AS BIGINT) AS term_ppb
      FROM risk
    ),
    surv AS (
      SELECT t, n_at_risk, d, c,
             CAST(SUM(term_ppb) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS log_survival_ppb
      FROM terms
    )
    SELECT CAST(t AS INTEGER) AS lifetime_days, n_at_risk,
           d AS n_churned, c AS n_censored, log_survival_ppb,
           FLOOR(EXP(log_survival_ppb / 1000000000.0) * 1000000.0 + 0.5)
             / 1000000.0 AS survival_ppm
    FROM surv
    """,
)
def kaplan_meier_churn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival over per-user activity lifetimes
    (operators/temporal.py::kaplan_meier_lifetimes) — churn curve with
    right-censoring (users active within 7 days of the corpus edge are
    censored, not churned); the survival product is carried as an exact
    integer log-space sum, with the prefix sums as broadcast non-equi
    self-joins on the tiny lifetime table (no global window)."""
    from ..operators.temporal import kaplan_meier_lifetimes

    return kaplan_meier_lifetimes(_events(spark, sf_dir))


@query(
    "cuped_adjusted_lift",
    """
    WITH b AS (
      SELECT MIN(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS dmin,
             MAX(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS dmax
      FROM events
    ),
    cut AS (
      SELECT dmin + CAST(FLOOR((dmax - dmin) / 2) AS BIGINT) AS cut_day FROM b
    ),
    pu AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN d < cut_day THEN vm ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN d >= cut_day THEN vm ELSE 0 END) AS BIGINT) AS y
      FROM (
        SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS vm
        FROM events
      ), cut
      GROUP BY 1
    ),
    armd AS (
      SELECT *,
             CASE WHEN CAST(('0x' || substr(md5('exp42:' || CAST(user_id AS VARCHAR)), 1, 1))
                       AS INTEGER) < 8
                  THEN 'treatment' ELSE 'control' END AS arm
      FROM pu
    ),
    m AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS DECIMAL(19,0))) AS sx,
             SUM(CAST(y AS DECIMAL(19,0))) AS sy,
             SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy,
             SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
             SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy
      FROM armd GROUP BY 1
    ),
    pooled AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS pn, CAST(SUM(sx) AS DOUBLE) AS psx,
             CAST(SUM(sy) AS DOUBLE) AS psy, CAST(SUM(sxy) AS DOUBLE) AS psxy,
             CAST(SUM(sxx) AS DOUBLE) AS psxx, CAST(SUM(syy) AS DOUBLE) AS psyy
      FROM m
    ),
    arms AS (
      SELECT MAX(CASE WHEN arm = 'treatment' THEN CAST(n AS DOUBLE) END) AS tn,
             MAX(CASE WHEN arm = 'treatment' THEN CAST(sx AS DOUBLE) END) AS tsx,
             MAX(CASE WHEN arm = 'treatment' THEN CAST(sy AS DOUBLE) END) AS tsy,
             MAX(CASE WHEN arm = 'control' THEN CAST(n AS DOUBLE) END) AS cn,
             MAX(CASE WHEN arm = 'control' THEN CAST(sx AS DOUBLE) END) AS csx,
             MAX(CASE WHEN arm = 'control' THEN CAST(sy AS DOUBLE) END) AS csy
      FROM m
    )
    SELECT CAST(tn AS BIGINT) AS n_treatment,
           CAST(cn AS BIGINT) AS n_control,
           (pn * psxy - psx * psy) / (pn * psxx - psx * psx) AS theta,
           (tsy / tn - csy / cn) / 1000000.0 AS lift_raw,
           (tsy / tn - csy / cn
            - ((pn * psxy - psx * psy) / (pn * psxx - psx * psx))
              * (tsx / tn - csx / cn)) / 1000000.0 AS lift_cuped,
           CAST(FLOOR((pn * psxy - psx * psy) * (pn * psxy - psx * psy)
                / (pn * psxx - psx * psx) / (pn * psyy - psy * psy)
                * 1000000.0 + 0.5) AS BIGINT) AS var_reduction_ppm
    FROM arms, pooled
    """,
)
def cuped_adjusted_lift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B lift over the event log
    (operators/experiments.py::cuped_adjusted_lift): deterministic
    hash-bucketed 50/50 assignment, pre/post split at the observed day-span
    midpoint, θ from pooled exact DECIMAL(38,0) moments, raw vs adjusted
    lift plus the achieved variance-reduction (ρ², ppm) in one row."""
    from ..operators.experiments import cuped_adjusted_lift

    return cuped_adjusted_lift(_events(spark, sf_dir))


# Bounded by default (round-13, clears the r12 scale weak flag): the query
# set is a FIXED-size deterministic hash sample — at 100× data the scored
# pair volume stays linear in the corpus instead of blowing up |corpus|².
# The exhaustive query_mod form remains a dim_ablation_recall parameter for
# calibration runs against a corpus sample (SCALE.md recipe).
_DIM_ABLATION_PARAMS = dict(dims=(4, 8, 16), full_dim=64, k=5, max_queries=256)


def _dim_ablation_oracle_sql(dims, full_dim, k, max_queries) -> str:
    all_dims = ", ".join(str(d) for d in list(dims) + [full_dim])

    def dot(x, y):
        return (
            f"list_dot_product(CAST(list_slice({x}, 1, t.d) AS DOUBLE[]),"
            f" CAST(list_slice({y}, 1, t.d) AS DOUBLE[]))"
        )

    return f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {max_queries}
    ),
    p AS (
      SELECT e.vec_id, e.embedding AS em, q.qid, q.qe
      FROM embeddings e, q WHERE e.vec_id <> q.qid
    ),
    sc AS (
      SELECT t.d AS dim, qid, vec_id,
             FLOOR({dot("em", "qe")}
               / GREATEST(sqrt({dot("em", "em")}) * sqrt({dot("qe", "qe")}),
                          CAST(1e-18 AS DOUBLE))
               * 1000000 + 0.5) / 1000000.0 AS score
      FROM p, (SELECT unnest([{all_dims}]) AS d) t
    ),
    tk AS (
      SELECT dim, qid, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY dim, qid ORDER BY score DESC, vec_id) AS rn
        FROM sc
      ) WHERE rn <= {k}
    ),
    tr AS (SELECT qid, vec_id FROM tk WHERE dim = {full_dim}),
    h AS (
      SELECT tk.dim, COUNT(DISTINCT tk.qid) AS nq,
             SUM(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS m
      FROM tk LEFT JOIN tr ON tk.qid = tr.qid AND tk.vec_id = tr.vec_id
      GROUP BY 1
    )
    SELECT CAST(dim AS INTEGER) AS dim, CAST(nq AS BIGINT) AS n_queries,
           CAST(FLOOR(m * 1000000 / ({k} * nq)) AS BIGINT) AS avg_recall_ppm
    FROM h
    """


@query("embedding_dim_ablation", _dim_ablation_oracle_sql(**_DIM_ABLATION_PARAMS))
def embedding_dim_ablation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation recall ablation
    (operators/similarity.py::dim_ablation_recall): exact-cosine recall@5
    of 4/8/16-dim prefixes against the 64-dim truth over a BOUNDED
    hash-sampled query set (256 smallest (md5(vec_id), vec_id) — fixed
    size at any corpus scale, so the measurement stays linear in the
    corpus) — the number that prices a truncated (4× cheaper) index
    before shipping it. Full-dim row reads 1.0 by construction."""
    from ..operators.similarity import dim_ablation_recall

    return dim_ablation_recall(_emb(spark, sf_dir), **_DIM_ABLATION_PARAMS)


_SHOT_PARAMS = dict(grid=4, hamming_threshold=4)


def _shot_oracle_sql(grid: int, hamming_threshold: int) -> str:
    return f"""
    {_video_frame_fp_ctes(grid)},
    lagd AS (
      SELECT doc_id, nf, fi, fp,
             lag(fp) OVER (PARTITION BY doc_id ORDER BY fi) AS prev
      FROM f
    ),
    h AS (
      SELECT doc_id, nf,
             CASE WHEN prev IS NULL THEN NULL
                  ELSE bit_count(xor(fp, prev)) END AS ham
      FROM lagd
    )
    SELECT doc_id, CAST(MAX(nf) AS INTEGER) AS n_frames,
           CAST(1 + SUM(CASE WHEN ham > {hamming_threshold} THEN 1 ELSE 0 END)
                AS INTEGER) AS n_shots,
           CAST(COALESCE(MAX(ham), 0) AS INTEGER) AS max_cut_hamming,
           CAST(COALESCE(FLOOR(SUM(ham) * 1000000 / COUNT(ham)), 0)
                AS BIGINT) AS mean_cut_hamming_ppm
    FROM h GROUP BY 1
    """


@query("video_shot_boundaries", _shot_oracle_sql(**_SHOT_PARAMS))
def video_shot_boundaries_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over REAL y4m payloads
    (operators/multimodal.py::video_shot_boundaries): consecutive-frame
    Hamming jumps of the shared DCT-sign frame fingerprints
    (video_frame_fingerprints — same producer as the near-dup join) mark
    cuts; per-video shot counts are the temporal segmentation a video
    pipeline runs before per-shot sampling/dedup."""
    from ..operators.multimodal import video_shot_boundaries

    return video_shot_boundaries(_docs(spark, sf_dir), **_SHOT_PARAMS)


@query(
    "srm_assignment_check",
    """
    WITH su AS (
      SELECT DISTINCT event_type AS segment, user_id AS uid FROM events
      UNION ALL
      SELECT DISTINCT '__overall__' AS segment, user_id AS uid FROM events
    ),
    a AS (
      SELECT segment,
             CASE WHEN CAST(('0x' || substr(md5('exp42:' || CAST(uid AS VARCHAR)), 1, 1))
                       AS INTEGER) < 8
                  THEN 1 ELSE 0 END AS is_t
      FROM su
    ),
    c AS (
      SELECT segment, CAST(SUM(is_t) AS BIGINT) AS n_treatment,
             CAST(SUM(1 - is_t) AS BIGINT) AS n_control
      FROM a GROUP BY 1
    )
    SELECT segment, n_treatment, n_control,
           (n_treatment - n_control) * (n_treatment - n_control)
             / (n_treatment + n_control) AS chi2,
           (n_treatment - n_control) * (n_treatment - n_control)
             / (n_treatment + n_control) > 3841 / 1000.0 AS srm_flag
    FROM c
    """,
)
def srm_assignment_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch gate
    (operators/experiments.py::srm_assignment_check): per-segment and
    overall chi-square on exposed-user arm counts under the SAME md5
    assignment as cuped_adjusted_lift — the integrity check that must
    pass before any lift readout means anything. Exact integer form
    (n_t−n_c)²/(n_t+n_c) — no fractional expectations."""
    from ..operators.experiments import srm_assignment_check

    return srm_assignment_check(_events(spark, sf_dir))


@query(
    "sentence_dedup_ccnet",
    """
    WITH s AS (
      SELECT doc_id, g.i - 1 AS pos, parts[g.i] AS sent
      FROM (SELECT doc_id, string_split(text, '. ') AS parts FROM documents) d,
           unnest(generate_series(1, len(d.parts))) AS g(i)
      WHERE length(parts[g.i]) >= 5
    ),
    inst AS (
      SELECT doc_id, md5(sent) AS h, CAST(length(sent) AS BIGINT) AS slen,
             ROW(doc_id, pos) AS inst_key
      FROM s
    ),
    gs AS (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS cnt, MIN(inst_key) AS owner_key
      FROM inst GROUP BY 1
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_sentences,
           CAST(FLOOR(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) * 1000000
                / COUNT(*)) AS BIGINT) AS dup_ratio_ppm,
           CAST(SUM(CASE WHEN inst_key = owner_key THEN slen ELSE 0 END)
                AS BIGINT) AS chars_kept
    FROM inst JOIN gs USING (h)
    GROUP BY 1
    """,
)
def sentence_dedup_ccnet_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-granularity dedup stats
    (operators/dedup.py::sentence_dedup_stats) — the CCNet first-pass
    granularity between whole-document hashing and position-level token
    spans: per-doc duplicated-sentence instance counts and the chars a
    keep-first-occurrence rewrite would retain (global ownership by exact
    lexicographic min(struct(doc_id, position)) — no arithmetic packing,
    so no collision at ≥10⁶ sentences/doc or negative doc_ids)."""
    from ..operators.dedup import sentence_dedup_stats

    return sentence_dedup_stats(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Round-13: DLT-style expectations (data-quality constraints on registry
# datasets) — the reference platform's @dp.expect/expect_or_drop/
# expect_or_fail contract (SURVEY.md §3), plans/expectations.py
# ---------------------------------------------------------------------------


@query(
    "expectations_gate_drop",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE COALESCE(lang IS NOT NULL, FALSE)
      AND COALESCE(n_chars >= 100, FALSE)
      AND COALESCE(doc_id >= 0, FALSE)
    GROUP BY 1
    """,
)
def expectations_gate_drop_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLT-style expectation enforcement through the REAL registry path
    (plans/expectations.py + plans/registry.py): a dataset generator
    decorated with two ``expect_or_drop`` constraints (lang present,
    n_chars >= 100) and one ``expect_or_fail`` (doc_id >= 0 — satisfied,
    so the update survives), materialized via PipelineContext and
    aggregated per source. Enforcement is plan-shaped: drops are plain
    filters (pushdown-eligible — the n_chars predicate reaches the
    parquet scan), fail is a raise_error-else filter that aborts on the
    first violating row executor-side. Oracle replays the surviving-row
    aggregate with identical NULL-is-violation semantics."""
    from ..plans.expectations import expect_or_drop, expect_or_fail
    from ..plans.registry import DatasetRegistry, PipelineContext

    reg = DatasetRegistry()

    @reg.table("clean_documents", comment="quality-gated documents")
    @expect_or_drop("lang_present", "lang IS NOT NULL")
    @expect_or_drop("min_length", "n_chars >= 100")
    @expect_or_fail("nonnegative_id", "doc_id >= 0")
    def clean_documents(ctx):
        return ctx.read("documents")

    ctx = PipelineContext(
        reg, spark, catalog_reader=lambda name: _docs(spark, sf_dir)
    )
    return (
        ctx.dataframe("clean_documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@query(
    "expectations_violation_counters",
    """
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN COALESCE(n_chars >= 200, FALSE)
                           THEN 0 ELSE 1 END) AS BIGINT) AS v_len,
             CAST(SUM(CASE WHEN COALESCE(lang <> 'zh', FALSE)
                           THEN 0 ELSE 1 END) AS BIGINT) AS v_lang,
             CAST(SUM(CASE WHEN COALESCE(doc_id >= 0, FALSE)
                           THEN 0 ELSE 1 END) AS BIGINT) AS v_id
      FROM documents
    )
    SELECT 'documents' AS dataset, e.expectation, e.policy, m.n_rows,
           CASE e.expectation
             WHEN 'long_enough' THEN m.v_len
             WHEN 'lang_not_zh' THEN m.v_lang
             ELSE m.v_id END AS n_violations,
           CAST(FLOOR(CASE e.expectation
             WHEN 'long_enough' THEN m.v_len
             WHEN 'lang_not_zh' THEN m.v_lang
             ELSE m.v_id END * 1000000 / m.n_rows) AS BIGINT)
             AS violation_ppm
    FROM m, (VALUES ('long_enough', 'keep'),
                    ('lang_not_zh', 'drop'),
                    ('nonnegative_id', 'fail')) e(expectation, policy)
    """,
)
def expectations_violation_counters_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Expectation violation counters as ONE aggregate pass
    (plans/expectations.py::expectation_counters): every declared
    constraint's violation count over the PRE-enforcement dataset reduces
    in the same map-side-combined aggregate (one row per expectation via
    explode-from-aggregate — no per-expectation scans, no driver loop).
    The DataFrame form of what ``PipelineContext.run()`` records as
    zero-extra-pass ``observe`` metrics during the write job — the DLT
    event-log expectation readout."""
    from ..plans.expectations import Expectation, expectation_counters

    exps = [
        Expectation("long_enough", "n_chars >= 200", "keep"),
        Expectation("lang_not_zh", "lang <> 'zh'", "drop"),
        Expectation("nonnegative_id", "doc_id >= 0", "fail"),
    ]
    return expectation_counters(_docs(spark, sf_dir), exps, dataset="documents")


@query(
    "sequential_ab_msprt",
    """
    WITH ev AS (
      SELECT CAST(ts AS DATE) AS day,
             CASE WHEN CAST(('0x' || substr(md5('exp42:' || CAST(user_id AS VARCHAR)), 1, 1))
                       AS INTEGER) < 8 THEN 't' ELSE 'c' END AS arm,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v
      FROM events
    ),
    daily AS (
      SELECT day, arm, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(v AS DECIMAL(19,0))) AS sv,
             SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS svv
      FROM ev GROUP BY 1, 2
    ),
    looks AS (SELECT DISTINCT day FROM daily),
    cum AS (
      SELECT l.day,
             CAST(SUM(CASE WHEN d.arm = 't' THEN d.n ELSE 0 END) AS BIGINT) AS tn,
             CAST(SUM(CASE WHEN d.arm = 'c' THEN d.n ELSE 0 END) AS BIGINT) AS cn,
             SUM(CASE WHEN d.arm = 't' THEN d.sv ELSE CAST(0 AS DECIMAL(19,0)) END) AS tsv,
             SUM(CASE WHEN d.arm = 'c' THEN d.sv ELSE CAST(0 AS DECIMAL(19,0)) END) AS csv,
             SUM(CASE WHEN d.arm = 't' THEN d.svv ELSE CAST(0 AS DECIMAL(19,0)) END) AS tsvv,
             SUM(CASE WHEN d.arm = 'c' THEN d.svv ELSE CAST(0 AS DECIMAL(19,0)) END) AS csvv
      FROM looks l JOIN daily d ON d.day <= l.day
      GROUP BY 1
    ),
    scored AS (
      SELECT day, tn, cn,
             CAST(tsv AS DOUBLE) / tn / 1000000.0
               - CAST(csv AS DOUBLE) / cn / 1000000.0 AS delta,
             GREATEST(
               (CAST(tsvv + csvv AS DOUBLE) / CAST(tn + cn AS DOUBLE) / 1000000.0 / 1000000.0
                - (CAST(tsv + csv AS DOUBLE) / CAST(tn + cn AS DOUBLE) / 1000000.0)
                  * (CAST(tsv + csv AS DOUBLE) / CAST(tn + cn AS DOUBLE) / 1000000.0))
               / (CAST(tn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(tn + cn AS DOUBLE)),
               1e-12) AS rho
      FROM cum
    ),
    ll AS (
      SELECT day, tn, cn, delta,
             0.5 * ln(rho / (rho + 0.25))
               + delta * delta * 0.25 / (2.0 * rho * (rho + 0.25)) AS log_lambda,
             tn > 0 AND cn > 0 AS has_both
      FROM scored
    )
    SELECT day, tn AS n_treatment, cn AS n_control,
           CASE WHEN has_both THEN CAST(FLOOR(delta * 1000000.0 + 0.5) AS BIGINT) END
             AS delta_micros,
           CASE WHEN has_both THEN CAST(FLOOR(log_lambda * 1000000.0 + 0.5) AS BIGINT) END
             AS log_lambda_micros,
           CASE WHEN has_both
                THEN CAST(FLOOR(log_lambda * 1000000.0 + 0.5) AS BIGINT) >= 2995732
                ELSE FALSE END AS crossed
    FROM ll
    """,
)
def sequential_ab_msprt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B readout
    (operators/experiments.py::msprt_sequential_ab): one look per observed
    day, mixture-SPRT log likelihood ratio from exact cumulative per-arm
    moments (prefix sums over the tiny per-day aggregate via a broadcast
    non-equi self-join — no global window), anytime-valid crossing against
    the inlined integer boundary ln(1/0.05)·10⁶ = 2995732. Completes the
    experimentation family: SRM gates assignment, CUPED sharpens the
    estimate, mSPRT says when peeking may stop."""
    from ..operators.experiments import msprt_sequential_ab

    return msprt_sequential_ab(_events(spark, sf_dir), tau=0.5, alpha=0.05)


@query(
    "vacuum_retention_plan",
    """
    WITH log AS (
      SELECT c_custkey, c_name, 'insert' AS ct, CAST(1 AS BIGINT) AS ver FROM customer
      UNION ALL
      SELECT c_custkey, c_name, 'update_preimage', CAST(2 AS BIGINT)
      FROM customer WHERE c_custkey % 5 = 0
      UNION ALL
      SELECT c_custkey, upper(c_name), 'update_postimage', CAST(2 AS BIGINT)
      FROM customer WHERE c_custkey % 5 = 0
      UNION ALL
      SELECT c_custkey, c_name, 'delete', CAST(3 AS BIGINT)
      FROM customer WHERE c_custkey % 7 = 0
    ),
    owner AS (
      SELECT c_custkey, MAX(ver) AS keep_ver
      FROM log WHERE ver <= 2 AND ct <> 'update_preimage'
      GROUP BY 1
    ),
    cls AS (
      SELECT l.ver AS file_version, l.c_custkey % 8 AS bucket,
             CAST(length(l.c_name) AS BIGINT) AS bytes,
             CASE WHEN l.ver > 2 THEN FALSE
                  WHEN l.ct = 'update_preimage' THEN TRUE
                  ELSE (l.ver <> o.keep_ver OR l.ct = 'delete') END AS rec
      FROM log l LEFT JOIN owner o USING (c_custkey)
    )
    SELECT file_version, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN rec THEN 1 ELSE 0 END) AS BIGINT) AS n_reclaimable,
           CAST(SUM(bytes) AS BIGINT) AS bytes_total,
           CAST(SUM(CASE WHEN rec THEN bytes ELSE 0 END) AS BIGINT)
             AS bytes_reclaimable,
           CASE WHEN SUM(CASE WHEN rec THEN 1 ELSE 0 END) = COUNT(*) THEN 'delete'
                WHEN SUM(CASE WHEN rec THEN 1 ELSE 0 END) = 0 THEN 'keep'
                ELSE 'rewrite' END AS action
    FROM cls GROUP BY 1, 2
    """,
)
def vacuum_retention_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention/VACUUM planner over the change-feed emulation
    (operators/maintenance.py::vacuum_plan): at horizon version 2 over the
    suite's deterministic 3-version customer log, classify every log row
    live-vs-reclaimable (preimages ≤ horizon reclaimable; superseded state
    rows reclaimable; a key's latest ≤-horizon live state row is its
    horizon-snapshot state and must stay) and report per simulated file
    (commit version × key bucket) the reclaimable rows/bytes and the
    action — delete (all reclaimable), rewrite (mixed), keep. Rounds out
    the table-ops suite next to compaction_bin_plan/cluster_zorder."""
    from ..operators.maintenance import vacuum_plan
    from .streaming_queries import _build_change_log

    log = _build_change_log(spark, sf_dir).read_batch(spark)
    return vacuum_plan(
        log,
        key_cols=["c_custkey"],
        horizon_version=2,
        file_cols=[
            F.col("_commit_version").alias("file_version"),
            (F.col("c_custkey") % 8).alias("bucket"),
        ],
        row_bytes=F.length("c_name"),
    )


@query(
    "expectations_quarantine_split",
    """
    SELECT 'kept' AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang IS NOT NULL AND COALESCE(n_chars >= 150, FALSE)
    UNION ALL
    SELECT 'quarantined',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_chars) AS BIGINT)
    FROM documents
    WHERE lang IS NOT NULL AND NOT COALESCE(n_chars >= 150, FALSE)
    """,
)
def expectations_quarantine_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine routing policy (plans/expectations.py::
    expect_or_quarantine + quarantine_rows): violating rows leave the
    dataset like a drop but stay addressable as a side relation for
    triage — the expectations analog of the S6 malformed-CSV quarantine.
    The split is an exact disjoint partition of the post-drop input (a
    plain SQL filter and its cond-false-or-NULL complement); this row
    checks BOTH sides' aggregates against the oracle, so a row lost or
    double-routed on either side breaks the hash."""
    from ..plans.expectations import expect_or_drop, expect_or_quarantine
    from ..plans.registry import DatasetRegistry, PipelineContext

    reg = DatasetRegistry()

    @reg.table("triaged_documents")
    @expect_or_drop("lang_present", "lang IS NOT NULL")
    @expect_or_quarantine("long_enough", "n_chars >= 150")
    def triaged_documents(ctx):
        return ctx.read("documents")

    ctx = PipelineContext(
        reg, spark, catalog_reader=lambda name: _docs(spark, sf_dir)
    )

    def agg(df, tag):
        return df.groupBy().agg(
            F.lit(tag).alias("split"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        ).select("split", "n_docs", "total_chars")

    kept = agg(ctx.dataframe("triaged_documents"), "kept")
    quarantined = agg(ctx.quarantine("triaged_documents"), "quarantined")
    return kept.unionByName(quarantined)


@query(
    "dp_clipped_noisy_sums",
    """
    WITH pu AS (
      SELECT event_type, user_id,
             GREATEST(CAST(-600000000 AS BIGINT), LEAST(CAST(600000000 AS BIGINT),
               CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)))
               AS clipped
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(clipped) AS BIGINT) AS sc
      FROM pu GROUP BY 1
    ),
    n AS (
      SELECT *,
             CAST(('0x' || substr(md5('dpsum42:'
                      || COALESCE(md5(CAST(event_type AS VARCHAR)), '~null~')
                  ), 1, 13))
                  AS BIGINT) / 4503599627370496.0 AS h
      FROM g
    )
    SELECT event_type, n_users,
           sc / 1000000.0 AS sum_clipped,
           (sc + CAST(FLOOR(
              -600000000.0 * sign(h - 0.5)
              * ln(GREATEST(1e-12, 1.0 - 2.0 * ABS(h - 0.5)))
              + 0.5) AS BIGINT)) / 1000000.0 AS sum_noisy,
           1.0 AS epsilon
    FROM n
    """,
)
def dp_clipped_noisy_sums_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP group SUMS with contribution clipping
    (operators/privacy.py::dp_clipped_noisy_sums) — the sum release the
    count mechanism cannot provide: per-user contributions clamp to ±600
    value units (chosen a priori near the testdata's per-user median so
    BOTH the clipped and unclipped paths are exercised) making the L1
    sensitivity exactly the clip bound, then one
    deterministic inverse-CDF Laplace draw per group at scale clip/ε
    (injective per-component-hashed noise key). Per-event_type releases
    over the event log."""
    from ..operators.privacy import dp_clipped_noisy_sums

    return dp_clipped_noisy_sums(
        _events(spark, sf_dir),
        ["event_type"],
        user_col="user_id",
        value_col="value",
        clip_micros=600_000_000,
        epsilon=1.0,
    )


# ---------------------------------------------------------------------------
# Round-14: dataset-level (aggregate) expectations — uniqueness, referential
# integrity, freshness as declarative registry constraints
# (plans/expectations.py aggregate section; VERDICT r13 'What's missing' #2)
# ---------------------------------------------------------------------------


@query(
    "expectations_unique_key",
    """
    SELECT o_custkey, o_orderdate, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders
    GROUP BY 1, 2
    HAVING COUNT(*) > 1
    """,
)
def expectations_unique_key_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-uniqueness audit through the registry's aggregate-expectation
    contract (plans/expectations.py::expect_unique + unique_violations):
    the orders dataset declares (o_custkey, o_orderdate) as its expected
    grain; the audit is ONE map-side-combined groupBy on the key returning
    each violated key tuple with its multiplicity — the duplicate-key
    detail a 100 TB table's quality dashboard drills into. The same
    declaration under policy='fail' aborts materialization
    (tests/test_registry.py stages that duplicate)."""
    from ..plans.expectations import agg_expectations_of, unique_violations
    from ..plans.registry import DatasetRegistry, PipelineContext

    reg = DatasetRegistry()

    @reg.table("orders_graded")
    @expect_unique(
        "unique_customer_day", ["o_custkey", "o_orderdate"], policy="keep"
    )
    def orders_graded(ctx):
        return ctx.read("orders")

    ctx = PipelineContext(
        reg,
        spark,
        catalog_reader=lambda name: load_tables(spark, sf_dir, (name,))[name],
    )
    exp = agg_expectations_of(orders_graded)[0]
    return unique_violations(ctx.dataframe("orders_graded"), exp)


@query(
    "expectations_referential",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE user_id IS NULL
       OR user_id IN (SELECT c_custkey FROM customer WHERE c_acctbal >= 0)
    GROUP BY 1
    """,
)
def expectations_referential_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity enforcement under the DROP policy
    (plans/expectations.py::expect_referential + enforce_aggregate_drops,
    wired through PipelineContext.dataframe): events whose user_id is
    missing from the funded-customers dim (c_acctbal >= 0 — a deliberately
    restricted dim so real orphans exist) are removed via a left-semi join
    compiled INTO the dataset's plan; NULL fks are exempt and kept (SQL
    MATCH SIMPLE). Catalyst broadcasts the dim side. The per-event_type
    aggregate hashes both the kept and the dropped populations — a row
    leaked or over-dropped on either side breaks the oracle match."""
    from ..plans.registry import DatasetRegistry, PipelineContext

    reg = DatasetRegistry()

    @reg.table("funded_customers")
    def funded_customers(ctx):
        return ctx.read("customer").filter(F.col("c_acctbal") >= 0)

    @reg.table("funded_user_events")
    @expect_referential(
        "user_in_funded_dim",
        ["user_id"],
        "funded_customers",
        ["c_custkey"],
        policy="drop",
    )
    def funded_user_events(ctx):
        return ctx.read("events")

    ctx = PipelineContext(
        reg,
        spark,
        catalog_reader=lambda name: load_tables(spark, sf_dir, (name,))[name],
    )
    return (
        ctx.dataframe("funded_user_events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


@query(
    "expectations_aggregate_counters",
    """
    WITH u AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT 1 AS one FROM orders
        GROUP BY o_custkey, o_orderdate HAVING COUNT(*) > 1
      )
    ),
    r1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders o
      WHERE o.o_custkey IS NOT NULL
        AND o.o_custkey NOT IN (SELECT c_custkey FROM customer
                                WHERE c_custkey IS NOT NULL)
    ),
    r2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders o
      WHERE o.o_custkey IS NOT NULL
        AND o.o_custkey NOT IN (SELECT c_custkey FROM customer
                                WHERE c_acctbal >= 0 AND c_custkey IS NOT NULL)
    ),
    f AS (SELECT MAX(o_orderdate) AS mx FROM orders)
    SELECT 'orders_quality' AS dataset, 'unique_order_day' AS expectation,
           'unique' AS kind, 'keep' AS policy, u.n AS n_violations FROM u
    UNION ALL
    SELECT 'orders_quality', 'customer_exists', 'referential', 'keep', r1.n
    FROM r1
    UNION ALL
    SELECT 'orders_quality', 'customer_funded', 'referential', 'keep', r2.n
    FROM r2
    UNION ALL
    SELECT 'orders_quality', 'fresh_within_400d', 'fresh', 'keep',
           CASE WHEN mx >= TIMESTAMP '2001-09-01 00:00:00' - INTERVAL 400 DAY
                THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END
    FROM f
    UNION ALL
    SELECT 'orders_quality', 'fresh_within_10d', 'fresh', 'keep',
           CASE WHEN mx >= TIMESTAMP '2001-09-01 00:00:00' - INTERVAL 10 DAY
                THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END
    FROM f
    """,
)
def expectations_aggregate_counters_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Aggregate-expectation violation counters via the registry surface
    (PipelineContext.aggregate_audit): one dataset declares all three
    constraint kinds — grain uniqueness, RI against the full and a
    restricted customer dim, and two freshness horizons around a fixed
    as-of (2001-09-01: 400 d passes, 10 d is stale) — and the audit
    relation reports (dataset, expectation, kind, policy, n_violations),
    one key-partitioned audit job per constraint. All keep-policy here so
    the counters themselves are the output; the fail path (raise_error
    compiled into the same relation) is exercised by
    tests/test_registry.py on a staged duplicate."""
    from ..plans.registry import DatasetRegistry, PipelineContext

    reg = DatasetRegistry()

    @reg.table("orders_quality")
    @expect_unique(
        "unique_order_day", ["o_custkey", "o_orderdate"], policy="keep"
    )
    @expect_referential(
        "customer_exists", ["o_custkey"], "customer", ["c_custkey"],
        policy="keep",
    )
    @expect_referential(
        "customer_funded", ["o_custkey"], "funded_customers", ["c_custkey"],
        policy="keep",
    )
    @expect_fresh(
        "fresh_within_400d", "o_orderdate", 400 * 86400,
        as_of="2001-09-01 00:00:00", policy="keep",
    )
    @expect_fresh(
        "fresh_within_10d", "o_orderdate", 10 * 86400,
        as_of="2001-09-01 00:00:00", policy="keep",
    )
    def orders_quality(ctx):
        return ctx.read("orders")

    @reg.table("funded_customers")
    def funded_customers(ctx):
        return ctx.read("customer").filter(F.col("c_acctbal") >= 0)

    ctx = PipelineContext(
        reg,
        spark,
        catalog_reader=lambda name: load_tables(spark, sf_dir, (name,))[name],
    )
    return ctx.aggregate_audit("orders_quality")


@query(
    "vacuum_apply_roundtrip",
    """
    WITH c AS (SELECT c_custkey, c_acctbal FROM customer),
    v2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(FLOOR(
               (CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
                     ELSE c_acctbal END) * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS acctbal_cents
      FROM c
    ),
    v3 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(FLOOR(
               (CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
                     ELSE c_acctbal END) * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS acctbal_cents
      FROM c WHERE c_custkey % 7 <> 0
    ),
    lr AS (
      SELECT CAST(COUNT(*) + SUM(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_rows
      FROM c
    )
    SELECT 'snapshot_v2' AS metric, n_rows, acctbal_cents FROM v2
    UNION ALL
    SELECT 'snapshot_v3', n_rows, acctbal_cents FROM v3
    UNION ALL
    SELECT 'log_rows_post_vacuum', n_rows, CAST(NULL AS BIGINT) FROM lr
    """,
)
def vacuum_apply_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM apply step paired with the r13 planner
    (operators/maintenance.py::vacuum_apply): physically reclaim the
    3-version customer change log at horizon version 2 — per-file actions
    from the planner's classification (keep files HARDLINKED untouched,
    all-reclaimable files dropped, mixed files' live remainders rewritten
    in one job), crash-safe tmp-dir swap — then read the POST-VACUUM log
    and return the v2 and v3 snapshot aggregates plus the surviving log
    row count. The oracle derives all three from `customer` directly, so
    a vacuum that corrupts any at-or-after-horizon snapshot (or reclaims
    the wrong rows) breaks the hash. Byte-identical keep files and the
    pre/post snapshot equivalence are additionally asserted in
    tests/test_round14_ops.py."""
    from ..operators.maintenance import vacuum_apply
    from ..streaming.cdf import snapshot_as_of
    from .streaming_queries import _build_change_log

    cf = _build_change_log(spark, sf_dir)
    vacuum_apply(spark, cf.path, ["c_custkey"], horizon_version=2)
    log = cf.read_batch(spark)
    cents = F.sum(
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
    ).cast("bigint")

    def snap_agg(version, tag):
        return (
            snapshot_as_of(log, ["c_custkey"], version)
            .groupBy()
            .agg(
                F.lit(tag).alias("metric"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                cents.alias("acctbal_cents"),
            )
        )

    log_rows = log.groupBy().agg(
        F.lit("log_rows_post_vacuum").alias("metric"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.lit(None).cast("bigint").alias("acctbal_cents"),
    )
    return (
        snap_agg(2, "snapshot_v2")
        .unionByName(snap_agg(3, "snapshot_v3"))
        .unionByName(log_rows)
    )


@query(
    "expectations_quarantine_replay",
    """
    WITH funded AS (
      SELECT c_custkey FROM customer WHERE c_acctbal >= 0
    ),
    first_pass AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events
      WHERE user_id IS NULL OR user_id IN (SELECT c_custkey FROM funded)
    ),
    replayed AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events
      WHERE user_id IS NOT NULL
        AND user_id NOT IN (SELECT c_custkey FROM funded)
        AND user_id IN (SELECT c_custkey FROM customer
                        WHERE c_custkey IS NOT NULL)
    ),
    final_total AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events
      WHERE user_id IS NULL
         OR user_id IN (SELECT c_custkey FROM customer
                        WHERE c_custkey IS NOT NULL)
    )
    SELECT 'first_pass' AS phase, n_events, n_users FROM first_pass
    UNION ALL SELECT 'replayed', n_events, n_users FROM replayed
    UNION ALL SELECT 'final_total', n_events, n_users FROM final_total
    """,
)
def expectations_quarantine_replay_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The late-arriving-dimension workflow END-TO-END over the aggregate
    quarantine policy (plans/expectations.py::aggregate_quarantine_rows):
    pass 1 gates events against an incomplete dim (funded customers only)
    with policy='quarantine' — orphans are parked, not lost; then the dim
    update lands (full customer table) and the PARKED relation replays
    through a second registry under the same referential constraint. The
    three-phase aggregate (first_pass / replayed / final_total) hashes the
    convergence claim: kept ∪ replayed must equal the dataset gated
    against the complete dim exactly — a row lost in parking, duplicated
    in replay, or still orphaned after the dim update breaks the oracle
    match. This is the production pattern DLT users build around
    expectations: park early-arriving facts, re-admit them when the
    dimension catches up."""
    from ..plans.registry import DatasetRegistry, PipelineContext

    reader = lambda name: load_tables(spark, sf_dir, (name,))[name]  # noqa: E731

    reg = DatasetRegistry()

    @reg.table("funded_customers")
    def funded_customers(ctx):
        return ctx.read("customer").filter(F.col("c_acctbal") >= 0)

    @reg.table("gated_events")
    @expect_referential(
        "user_known", ["user_id"], "funded_customers", ["c_custkey"],
        policy="quarantine",
    )
    def gated_events(ctx):
        return ctx.read("events")

    ctx = PipelineContext(reg, spark, catalog_reader=reader)
    kept = ctx.dataframe("gated_events")
    parked = ctx.aggregate_quarantine("gated_events").drop("_violated")

    reg2 = DatasetRegistry()

    @reg2.table("full_customers")
    def full_customers(ctx2):
        return ctx2.read("customer")

    @reg2.table("replayed_events")
    @expect_referential(
        "user_known", ["user_id"], "full_customers", ["c_custkey"],
        policy="drop",
    )
    def replayed_events(ctx2):
        return ctx2.read("parked_events")

    ctx2 = PipelineContext(
        reg2,
        spark,
        catalog_reader=lambda n: parked if n == "parked_events" else reader(n),
    )
    replayed = ctx2.dataframe("replayed_events")

    def phase_agg(df, tag):
        return df.groupBy().agg(
            F.lit(tag).alias("phase"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )

    return (
        phase_agg(kept, "first_pass")
        .unionByName(phase_agg(replayed, "replayed"))
        .unionByName(phase_agg(kept.unionByName(replayed), "final_total"))
    )
