"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All built-in-function pipelines (no UDFs) — the whole
module is one projection per operator, codegen'd and scan-parallel, which is
exactly what survives a 100 TB corpus sweep.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "language_id",
    "langid_ngram_profile",
    "quality_scores",
    "token_counts",
    "fingerprints",
    "repetition_scores",
    "boilerplate_flags",
    "unigram_lm_scores",
    "tfidf_top_terms",
    "vocab_coverage",
    "LANG_MARKERS",
    "GOPHER_STOP_WORDS",
    "gopher_quality_flags",
    "bm25_scores",
    "perplexity_buckets",
    "novelty_rates",
]

# marker-stopword lists per language (n-gram-heuristic langid; tiny on purpose
# — the operator shape matters, swap lists for fastText-grade tables in prod)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "a", "to", "in"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "zh": ("的", "是", "在", "了", "和"),
}


def _marker_count(words_col: str, markers: Sequence[str]) -> Column:
    quoted = ", ".join("'" + m.replace("'", "''") + "'" for m in markers)
    return F.expr(f"size(filter({words_col}, w -> w IN ({quoted})))")


def language_id(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    markers: Mapping[str, Sequence[str]] = LANG_MARKERS,
) -> DataFrame:
    """Marker-word language ID: per-language hit counts over the word array,
    argmax with a fixed precedence order, 'und' when no markers hit.
    Returns (doc_id, predicted_lang, plus one <lang>_hits column each)."""
    from .dedup import spread

    langs = list(markers)
    base = spread(docs, id_col).select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("words")
    )
    scored = base.select(
        "doc_id", *[_marker_count("words", markers[lg]).alias(f"{lg}_hits") for lg in langs]
    )
    best = F.greatest(*[F.col(f"{lg}_hits") for lg in langs])
    pred: Column = F.lit("und")
    # fixed precedence: first language in dict order wins ties
    for lg in reversed(langs):
        pred = F.when((F.col(f"{lg}_hits") == best) & (best > 0), lg).otherwise(pred)
    return scored.select("doc_id", pred.alias("predicted_lang"), *[f"{lg}_hits" for lg in langs])


def quality_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heuristic quality features + composite score: length, word stats,
    stopword ratio, alpha ratio. All IEEE-deterministic arithmetic."""
    from .dedup import spread

    stop = LANG_MARKERS["en"]
    quoted = ", ".join(f"'{m}'" for m in stop)
    base = spread(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("t"),
        F.split(F.col(text_col), " ").alias("words"),
    )
    feats = base.select(
        "doc_id",
        F.length("t").alias("n_chars"),
        F.size("words").alias("n_words"),
        (F.length(F.regexp_replace(F.col("t"), " ", "")).cast("double") / F.size("words")).alias(
            "avg_word_len"
        ),
        (F.expr(f"size(filter(words, w -> w IN ({quoted})))").cast("double") / F.size("words")).alias(
            "stopword_ratio"
        ),
        (F.regexp_count(F.col("t"), F.lit("[a-z]")).cast("double") / F.length("t")).alias(
            "alpha_ratio"
        ),
    )
    score = (
        F.least(F.col("n_words").cast("double") / 100.0, F.lit(1.0)) * 0.4
        + F.col("stopword_ratio") * 0.3
        + F.col("alpha_ratio") * 0.3
    )
    return feats.select("*", score.alias("quality_score"))


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens
    (letter runs / digit runs / single punctuation) + chars."""
    from .dedup import spread

    return spread(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), " ")).alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")).alias(
            "bpe_ish_tokens"
        ),
        F.length(F.col(text_col)).alias("n_chars"),
    )


def fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints: content digest of normalized text, order-free
    digest of the sorted word set, and a winnowing-style min-shingle digest
    (min md5 over word 4-grams — the rolling-hash representative)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    words = F.split(norm, " ")
    shingle4 = (
        # let-bound: normalize+split once per row, not per shingle
        "element_at(transform(array(words), words -> "
        "CASE WHEN size(words) >= 4 THEN "
        "array_min(transform(sequence(1, size(words) - 3), "
        "i -> md5(concat_ws(' ', element_at(words, i), element_at(words, i + 1), "
        "element_at(words, i + 2), element_at(words, i + 3))))) ELSE NULL END), 1)"
    )
    from .dedup import spread

    return spread(docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)), id_col).select(
        F.col("doc_id"), norm.alias("norm"), words.alias("words")
    ).select(
        "doc_id",
        F.md5(F.col("norm")).alias("content_fp"),
        F.md5(F.concat_ws(" ", F.array_sort(F.col("words")))).alias("bag_of_words_fp"),
        F.expr(shingle4).alias("min_shingle_fp"),
    )


def repetition_scores(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals for corpus filtering: per-document
    duplicate-token fraction (1 - distinct/total) and top-token fraction
    (modal token count / total). Highly repetitive documents (boilerplate,
    keyword stuffing, degenerate generations) score high on both.

    Fully distributed: explode -> two-level hash aggregate keyed by
    (doc, token) then doc. Both levels are map-side-combinable shuffles and
    per-document state is just its distinct-token set — no driver collects,
    no Python. Fractions are emitted as integer micro-units so the result is
    order-independent and oracle-exact."""
    from .dedup import spread

    toks = (
        spread(docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("t")), "doc_id")
        .select("doc_id", F.explode(F.split(F.lower(F.col("t")), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return per_tok.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.floor((F.lit(1.0) - F.count(F.lit(1)) / F.sum("c")) * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("dup_token_micros"),
        F.floor(F.max("c") / F.sum("c") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("top_token_micros"),
    )


def boilerplate_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_doc_freq: int = 3,
    max_frac: float = 0.5,
) -> DataFrame:
    """C4-style boilerplate detection, restated span-wise: a word ``n``-gram
    appearing in ≥ ``min_doc_freq`` DISTINCT documents is boilerplate
    (navigation chrome, license headers, templated footers); documents whose
    boilerplate-span fraction exceeds ``max_frac`` are dropped from the
    training corpus (``keep = false``).

    Plan shape: shingle (distinct per doc) → corpus doc-frequency per shingle
    via a window over the shingle key (one shuffle, no self-join) → per-doc
    re-aggregate. At 100 TB both shuffles carry only (doc_id, 16-byte-ish
    shingle) pairs and partial-aggregate map-side; hot boilerplate shingles
    are exactly the skewed keys AQE's skew handling splits. Documents with
    fewer than ``n`` words have no spans and are absent from the output
    (nothing to judge)."""
    from pyspark.sql import Window

    from .dedup import word_shingles

    # hashed shingles: the window exchange + sort carry 8-byte ints, not
    # ~30-byte strings (3-5x less shuffle CPU/GC; semantics identical at a
    # 2^-64 collision rate — only shingle identity matters here)
    sh = word_shingles(docs, text_col, id_col, n, hashed=True)
    w = Window.partitionBy("sh")
    flagged = sh.select("doc_id", (F.count(F.lit(1)).over(w) >= min_doc_freq).alias("is_boiler"))
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0)).cast("bigint").alias("n_boilerplate"),
    )
    frac = F.col("n_boilerplate").cast("double") / F.col("n_spans")
    return per_doc.select(
        "doc_id",
        "n_spans",
        "n_boilerplate",
        F.floor(frac * 1000000 + F.lit(0.5)).cast("bigint").alias("boilerplate_micros"),
        (frac <= F.lit(max_frac)).alias("keep"),
    )


def unigram_lm_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram language-model scoring — the KenLM-style perplexity filter of
    a training-data pipeline, restated with a corpus-trained unigram model:
    p(w) = corpus_count(w) / corpus_total, and each document scores the mean
    negative log10 probability of its tokens (low = fluent/common wording,
    high = rare/garbled). Two uses: quality gating and domain-mismatch
    detection.

    Float discipline: per-WORD -log10 p(w) is quantized to integer
    micro-units once, then all per-doc accumulation is exact integer
    arithmetic (count-weighted sums) — order-free, so the DuckDB oracle
    hash-matches. Plan shape: one corpus-count aggregate (vocabulary-sized
    output), a 1-row total broadcast onto it, then (doc, word, count) joins
    the tiny per-word table (AQE broadcasts it) and re-aggregates by doc —
    the same single-exchange clustering as simhash."""
    from .dedup import spread

    words = spread(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("t")), "doc_id"
    ).select("doc_id", F.explode(F.split(F.col("t"), " ")).alias("w"))
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    corpus_counts = wc.groupBy("w").agg(F.sum("cnt").alias("cw"))
    total = corpus_counts.agg(F.sum("cw").alias("tot"))
    neglog_micros = F.floor(
        -F.log10(F.col("cw").cast("double") / F.col("tot")) * 1000000 + F.lit(0.5)
    ).cast("bigint")
    probs = corpus_counts.crossJoin(F.broadcast(total)).select(
        "w", neglog_micros.alias("nl_u")
    )
    return (
        wc.join(probs, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("nl_u")).cast("bigint").alias("sum_neglog_micros"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_neglog_micros",
            (
                F.col("sum_neglog_micros").cast("double")
                / F.col("n_tokens")
                / F.lit(1000000.0)
            ).alias("avg_neglog10_p"),
        )
    )


def encode_token_ids(docs: DataFrame, vocab_size: int = 256) -> DataFrame:
    """Tokenizer encode stage: map every document to its token-id sequence
    under a corpus-derived frequency vocabulary.

    Three scale-safe stages: (1) vocabulary = top-``vocab_size`` tokens by
    (count DESC, token ASC) via ``orderBy().limit()`` — plans as distributed
    TakeOrderedAndProject, never a single-partition sort, with ids assigned by
    a window over only ``vocab_size`` rows; (2) the vocabulary (tiny by
    construction) BROADCAST-joins onto the exploded (doc, position, token)
    stream, out-of-vocab tokens encode as id 0; (3) sequences reassemble with
    one shuffle on doc_id, ``array_sort`` over (pos, id) structs restoring
    token order independent of partition interleaving.

    This is the encode step a training pipeline runs after text hygiene and
    before packing (see operators/packing.py); ids are '|'-joined strings so
    the result value-hashes across engines.
    """
    from pyspark.sql import Window

    from .dedup import spread

    counts = (
        spread(docs, "doc_id")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    order = [F.desc("n"), F.asc("token")]
    vocab = (
        counts.orderBy(*order)
        .limit(vocab_size)
        .withColumn("token_id", F.row_number().over(Window.orderBy(*order)))
        .select("token", "token_id")
    )
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    enc = toks.join(F.broadcast(vocab), "token", "left")
    item = F.struct(
        F.col("pos"), F.coalesce(F.col("token_id"), F.lit(0)).alias("tid")
    )
    return enc.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(item)), lambda x: x["tid"].cast("string")
            ),
            "|",
        ).alias("token_ids"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("token_id").isNull(), 1).otherwise(0)).alias("n_unk"),
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic keyword/topic signal a
    corpus pipeline uses for domain tagging and mixture labeling.
    ``idf = log10(N / df(term))`` over the whole corpus; ``score = tf · idf``.

    Float discipline: per-TERM idf is quantized to integer micro-units once
    (the proven unigram-LM idiom — see ``unigram_lm_scores``), so the per-doc
    score ``tf · idf_micros`` and its ranking are exact integer arithmetic
    that a DuckDB oracle replays bit-for-bit.

    Scale: term frequencies aggregate with map-side partials; the document
    frequency table is vocabulary-sized (tiny vs corpus) and AQE broadcasts
    it back onto (doc, term) counts; the corpus size N is a 1-row broadcast.
    The per-doc top-k goes through ``grouped_topk`` — a bounded local pre-rank
    per (doc, input-partition) ahead of the real per-doc window — so no
    reduce task ever sees more than k rows per document per input partition.
    """
    from .dedup import spread
    from .similarity import grouped_topk

    words = spread(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("t")), "doc_id"
    ).select("doc_id", F.explode(F.split(F.col("t"), " ")).alias("term"))
    wc = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = wc.groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    n = docs.select(F.count(F.lit(1)).alias("nd"))
    idf_u = F.floor(
        F.log10(F.col("nd").cast("double") / F.col("dfc")) * 1000000 + F.lit(0.5)
    ).cast("bigint")
    idf = dfreq.crossJoin(F.broadcast(n)).select("term", idf_u.alias("idf_micros"))
    scored = wc.join(idf, "term").select(
        "doc_id",
        "term",
        F.col("tf").cast("bigint").alias("tf"),
        (F.col("tf") * F.col("idf_micros")).cast("bigint").alias("score_micros"),
    )
    order = [F.desc("score_micros"), F.asc("term")]
    return grouped_topk(scored, ["doc_id"], k, order, rank_name="rn").select(
        "doc_id", "term", "tf", "score_micros", F.col("rn").cast("int").alias("rn")
    )


def ngram_continuations(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_n: int = 2,
    top_k: int = 3,
) -> DataFrame:
    """Next-token statistics: for each ``prefix_n``-word context, the corpus
    count of each continuation word and its rank — the raw material of
    n-gram LM smoothing, contamination probes, and memorization audits.
    Keeps the ``top_k`` continuations per context, ranked by (count desc,
    word asc) for a total deterministic order.

    Plan shape: explode (prefix, next) pairs → one (prefix, next)-keyed
    partial-aggregated count → per-prefix top-k via grouped_topk's
    per-partition pre-rank (no whole-corpus window funnel). Shuffles carry
    short string keys only; at 100 TB the count table is vocabulary-sized,
    orders smaller than the corpus."""
    from .similarity import grouped_topk

    n = prefix_n + 1
    idx_prefix = ", ".join(f"element_at(words, i + {k})" for k in range(prefix_n))
    pair_expr = (
        # let-bound: split once per row, not per n-gram
        "element_at(transform(array(words), words -> "
        f"CASE WHEN size(words) >= {n} THEN "
        f"transform(sequence(1, size(words) - {n - 1}), "
        f"i -> struct(concat_ws(' ', {idx_prefix}) AS prefix, "
        f"element_at(words, i + {prefix_n}) AS next_word)) "
        "ELSE array() END), 1)"
    )
    pairs = docs.select(
        F.split(F.col(text_col), " ").alias("words")
    ).select(F.explode(F.expr(pair_expr)).alias("p")).select("p.prefix", "p.next_word")
    counts = pairs.groupBy("prefix", "next_word").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ranked = grouped_topk(
        counts, ["prefix"], top_k, [F.desc("n"), F.asc("next_word")], rank_name="rank"
    )
    return ranked.select("prefix", "next_word", "n", F.col("rank").cast("bigint").alias("rank"))


def source_drift_scores(
    docs: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Distribution-drift monitor: per-source unigram KL divergence (base 10)
    against the whole-corpus distribution — the ops check that one crawl
    source hasn't shifted vocabulary (spam injection, template change,
    encoding rot) relative to the mix.

    KL_10(source || corpus) = Σ_w p_s(w) · log10(p_s(w) / p_c(w)), computed
    with the unigram-LM integer discipline: the probability ratio is a ratio
    of exact integer products (n_sw·N_c)/(N_s·n_cw) — every operand < 2^53 —
    its log10 quantizes once to 1e-6, and all accumulation is exact
    count-weighted integer arithmetic. Non-negative by Gibbs' inequality;
    ~zero for a source matching the mix.

    Plan shape: one (source, word) count, one word re-aggregate (both
    map-side-combinable, vocabulary-scale outputs), a broadcast 1-row total,
    one join back, one per-source sum. No corpus-sized shuffle carries text."""
    from .dedup import spread

    words = spread(
        docs.select(F.col(group_col).alias("src"), F.col(text_col).alias("t")), "src"
    ).select("src", F.explode(F.split(F.col("t"), " ")).alias("w"))
    sw = words.groupBy("src", "w").agg(F.count(F.lit(1)).alias("n_sw"))
    cw = sw.groupBy("w").agg(F.sum("n_sw").alias("n_cw"))
    src_tot = sw.groupBy("src").agg(F.sum("n_sw").alias("n_s"))
    corpus_tot = cw.agg(F.sum("n_cw").alias("n_c"))
    ratio = (F.col("n_sw") * F.col("n_c")).cast("double") / (
        F.col("n_s") * F.col("n_cw")
    ).cast("double")
    term_u = (F.col("n_sw") * F.floor(F.log10(ratio) * 1000000 + F.lit(0.5)).cast("bigint"))
    per_src = (
        sw.join(cw, "w")
        .join(F.broadcast(src_tot), "src")
        .crossJoin(F.broadcast(corpus_tot))
        .groupBy("src", "n_s")
        .agg(F.sum(term_u).alias("sum_term_u"))
    )
    return per_src.select(
        F.col("src").alias(group_col),
        F.col("n_s").cast("bigint").alias("n_tokens"),
        (F.col("sum_term_u").cast("double") / F.col("n_s") / F.lit(1000000.0)).alias(
            "kl10_drift"
        ),
    )


def collocation_pmi(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Collocation extraction: top-k adjacent-word bigrams by pointwise
    mutual information — the phrase-mining pass (tokenizer merge candidates,
    stopword-phrase screens) of corpus analysis.

    PMI = log10(p(ab) / (p(a)·p(b))) computed as a SUM OF LOGS — the integer
    products overflow 2^53, but an identical add/subtract sequence of
    correctly-rounded log10 terms is cross-engine deterministic, then
    quantizes once to micro-units. Count tables are vocabulary-scale with
    map-side combine; the final top-k is an orderBy().limit() —
    TakeOrderedAndProject, no global sort."""
    from pyspark.sql import Window

    words = docs.select(F.split(F.col(text_col), " ").alias("ws"))
    bigrams = words.select(
        F.explode(
            F.expr(
                # let-bound: split once per row, not per bigram
                "element_at(transform(array(ws), ws -> "
                "CASE WHEN size(ws) >= 2 THEN transform(sequence(1, size(ws) - 1), "
                "i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2)) "
                "ELSE array() END), 1)"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    unigrams = words.select(F.explode("ws").alias("w"))
    nb = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    nu = unigrams.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("n_w"))
    tot_b = nb.agg(F.sum("n_ab").alias("n_bigrams"))
    tot_u = nu.agg(F.sum("n_w").alias("n_words"))
    lg = lambda c: F.log10(F.col(c).cast("double"))  # noqa: E731
    pmi_micro = F.floor(
        (
            lg("n_ab") + lg("n_words") + lg("n_words")
            - lg("n_bigrams") - lg("n_a") - lg("n_b")
        )
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        nb.filter(F.col("n_ab") >= min_count)
        .join(nu.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a")), "w1")
        .join(nu.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b")), "w2")
        .crossJoin(F.broadcast(tot_b))
        .crossJoin(F.broadcast(tot_u))
        .select("w1", "w2", "n_ab", pmi_micro.alias("pmi_micro"))
    )
    order = [F.desc("pmi_micro"), F.asc("w1"), F.asc("w2")]
    top = scored.orderBy(*order).limit(top_k)
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def char_entropy_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-distribution Shannon entropy per document (base 10) — the
    gibberish/compression-artifact screen: natural text sits in a narrow
    entropy band, while base64 blobs, repeated padding, and binary spills
    fall far outside it.

    H₁₀ = −Σ_c (n_c/N)·log10(n_c/N), computed with the same count-weighted
    integer-log discipline as the KL drift monitor: each character's
    log10(n_c/N) quantizes once to 1e-6 (bigint), accumulation is exact
    integer arithmetic weighted by the exact count n_c, and the final
    division by N happens once in doubles. Bit-identical across engines
    and partitionings.

    Plan shape: one narrow (doc, char)-keyed count with map-side combine
    (≤ alphabet-size rows per doc), one per-doc re-aggregate — raw text never
    shuffles, so the shuffle payload is bounded by |alphabet|·n_docs."""
    chars = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    ).filter(F.length("ch") > 0)
    per_char = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n_c"))
    tot = per_char.groupBy("doc_id").agg(
        F.sum("n_c").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
    )
    term_u = F.col("n_c") * F.floor(
        F.log10(F.col("n_c").cast("double") / F.col("n_chars").cast("double")) * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    agg = (
        per_char.join(tot, "doc_id")
        .groupBy("doc_id", "n_chars", "n_distinct_chars")
        .agg(F.sum(term_u).alias("sum_term_u"))
    )
    return agg.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_distinct_chars").cast("bigint").alias("n_distinct_chars"),
        (
            -F.col("sum_term_u").cast("double")
            / F.col("n_chars")
            / F.lit(1000000.0)
        ).alias("char_entropy10"),
    )


def _bpe_pair_expr() -> Column:
    return F.expr(
        "transform(sequence(1, size(toks) - 1), "
        "j -> struct(element_at(toks, j) AS l, element_at(toks, j + 1) AS r))"
    )


def _bpe_fold_expr() -> Column:
    return F.expr(
        "split(aggregate(slice(toks, 2, greatest(size(toks) - 1, 0)), "
        "element_at(toks, 1), "
        "(acc, x) -> CASE WHEN regexp_extract(acc, '[^ ]+$', 0) = l AND x = r "
        "THEN concat(regexp_replace(acc, '[^ ]+$', ''), m) "
        "ELSE concat(acc, ' ', x) END), ' ')"
    )


def bpe_merge_steps(
    docs: DataFrame, n_merges: int = 4, text_col: str = "text"
) -> DataFrame:
    """Byte-pair-encoding merge induction — the tokenizer-TRAINING pass:
    learn the first ``n_merges`` BPE merge rules from the corpus. Returns one
    row per learned rule: (step, merge_left, merge_right, merged,
    pair_count).

    Like every real BPE trainer, the iteration runs on the WORD-FREQUENCY
    table, not the corpus: one corpus-scale count collapses text to
    (distinct word, freq), and each merge step is then vocabulary-scale —
    a weighted adjacent-pair count (map-side combine), a top-1 rule pick
    (TakeOrderedAndProject), and a broadcast of the 1-row rule into a
    higher-order-function fold that applies it leftmost-greedy to each
    word's token sequence. No driver-side collect anywhere; at 100 TB the
    per-step cost is O(|vocab|), independent of corpus size.

    The greedy application is a string fold (acc = emitted tokens joined by
    spaces): if the accumulator's last token equals the rule's left and the
    next token equals its right, the pair fuses into ``left~right``;
    DuckDB's ``list_reduce`` replays the identical fold, so the whole
    iterative algorithm is oracle-checkable (same trick as the k-means CTE
    chain). Ties on pair count break lexicographically; the '~' joiner makes
    merged tokens self-describing (documents containing a literal '~' would
    alias, acceptable for rule mining)."""
    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select("word", "freq", F.split("word", "").alias("toks"))
        # materialize the vocab once: every merge step re-reads it, and the
        # per-step fold output is checkpointed below so lineage (and thus
        # recomputation) never chains across iterations — the production
        # analog is the trainer's in-memory word-count dictionary
        .localCheckpoint()
    )
    out, _ = _bpe_learn(words, _bpe_pair_expr(), _bpe_fold_expr(), n_merges, apply_last=False)
    return out


def _bpe_learn(words, pair_expr, fold_expr, n_merges: int, apply_last: bool):
    """Shared BPE training loop: returns (rules_df, encoded_vocab_df).
    ``apply_last`` controls whether the final rule is folded into the
    vocabulary (the trainer's output doesn't need it; the encoder does)."""
    rules = []
    seqs = words
    for step in range(1, n_merges + 1):
        pairs = (
            seqs.filter(F.size("toks") >= 2)
            .select("freq", F.explode(pair_expr).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("c"))
        )
        rule = (
            pairs.orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .select("l", "r", F.concat_ws("~", "l", "r").alias("m"), "c")
            # 1-row materialization: the rule is referenced twice (output
            # union + next fold) and would otherwise re-run the pair count
            .localCheckpoint()
        )
        rules.append(
            rule.select(
                F.lit(step).alias("step"),
                F.col("l").alias("merge_left"),
                F.col("r").alias("merge_right"),
                F.col("m").alias("merged"),
                F.col("c").alias("pair_count"),
            )
        )
        if step < n_merges or apply_last:
            seqs = (
                seqs.crossJoin(F.broadcast(rule))
                .select("word", "freq", fold_expr.alias("toks"))
                .localCheckpoint()
            )
    out = rules[0]
    for r in rules[1:]:
        out = out.unionByName(r)
    return out, seqs


def bpe_encode_lengths(
    docs: DataFrame, n_merges: int = 4, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """BPE tokenizer APPLICATION — the encode pass paired with
    ``bpe_merge_steps``'s training pass: learn ``n_merges`` rules from the
    corpus, encode every word with all of them, and report per-document
    token accounting: ``(doc_id, n_words, chars_total, bpe_tokens,
    compression_ratio_micros)`` where the ratio is chars-per-BPE-token in
    integer micro-units (higher = merges fired more; base64/gibberish
    documents compress worst and stick out).

    Scale: encoding is a join of the corpus word stream against the
    vocabulary-scale encoded-word table on the word key — the corpus never
    re-folds per document; each word is encoded ONCE in the vocab table no
    matter how many billions of times it occurs."""
    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select("word", "freq", F.split("word", "").alias("toks"))
        .localCheckpoint()
    )
    _, seqs = _bpe_learn(words, _bpe_pair_expr(), _bpe_fold_expr(), n_merges, apply_last=True)
    enc = seqs.select("word", F.size("toks").cast("bigint").alias("n_toks"))
    dw = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).filter(F.length("word") > 0)
    return (
        dw.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("chars_total"),
            F.sum("n_toks").cast("bigint").alias("bpe_tokens"),
        )
        .withColumn(
            "compression_ratio_micros",
            F.expr("(chars_total * 1000000) div bpe_tokens").cast("bigint"),
        )
    )


def vocab_coverage(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ks: Sequence[int] = (100, 1000, 10000),
) -> DataFrame:
    """Tokenizer-budget coverage curve: for each candidate vocabulary size
    ``k``, the fraction of corpus token INSTANCES covered by the ``k`` most
    frequent token types — the first number a tokenizer design reads off a
    new corpus (how much of the stream the base vocab absorbs before BPE
    merges have to earn their keep).

    One corpus-scale pass builds the vocabulary-bounded count table (cached
    across the curve points); each ``k`` is then a TakeOrderedAndProject
    top-k plus a keyless partial aggregate — no global window, no rank over
    the full vocabulary, so the curve costs |ks| vocabulary-scale scans on
    top of one tokenize shuffle. Ties break on (count desc, token asc) in
    both the engine and the oracle.
    """
    from .dedup import spread

    toks = (
        spread(docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("t")), "doc_id")
        .select(F.explode(F.split(F.col("t"), " ")).alias("tok"))
        .where(F.length("tok") > 0)
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("n")).persist()
    try:
        total = counts.agg(F.sum("n").cast("bigint").alias("total_tokens"))
        curve = None
        for k in ks:
            topk = counts.orderBy(F.desc("n"), F.asc("tok")).limit(int(k))
            row = topk.agg(
                F.lit(int(k)).cast("int").alias("top_k"),
                F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("covered_tokens"),
                F.count(F.lit(1)).cast("bigint").alias("n_types_used"),
            )
            curve = row if curve is None else curve.unionByName(row)
        # |ks| rows — materialize eagerly so the vocabulary-scale counts
        # cache can be released before returning (no cache accumulation
        # across repeated calls in one session)
        return curve.crossJoin(F.broadcast(total)).select(
            "top_k",
            "covered_tokens",
            "n_types_used",
            "total_tokens",
            F.expr("(covered_tokens * 1000000) div total_tokens").alias(
                "coverage_micros"
            ),
        ).localCheckpoint(eager=True)
    finally:
        counts.unpersist()


def nucleus_continuations(
    docs: DataFrame,
    text_col: str = "text",
    prefix_n: int = 2,
    p_num: int = 9,
    p_den: int = 10,
    min_total: int = 5,
) -> DataFrame:
    """Top-p (nucleus) continuation sets: for each ``prefix_n``-word
    context, the SMALLEST rank-prefix of continuations whose cumulative
    count reaches ``p_num/p_den`` of the context total — the n-gram
    analog of nucleus sampling's candidate set, and the shape of
    "how peaked is this context" memorization probes. Membership test is
    pure integers (``p_den·cum_before < p_num·total``: keep while the
    EXCLUSIVE prefix is still below the mass threshold), rank ties break
    (count desc, word asc) in both engines.

    The per-context window runs on the vocabulary-scale (prefix, next)
    count table — bounded by continuations-per-context, never corpus rows;
    contexts with fewer than ``min_total`` observations are dropped as
    noise."""
    n = prefix_n + 1
    idx_prefix = ", ".join(f"element_at(words, i + {k})" for k in range(prefix_n))
    pair_expr = (
        # let-bound: split once per row, not per n-gram
        "element_at(transform(array(words), words -> "
        f"CASE WHEN size(words) >= {n} THEN "
        f"transform(sequence(1, size(words) - {n - 1}), "
        f"i -> struct(concat_ws(' ', {idx_prefix}) AS prefix, "
        f"element_at(words, i + {prefix_n}) AS next_word)) "
        "ELSE array() END), 1)"
    )
    from pyspark.sql import Window

    pairs = (
        docs.select(F.split(F.col(text_col), " ").alias("words"))
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.prefix", "p.next_word")
    )
    counts = pairs.groupBy("prefix", "next_word").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy("prefix").orderBy(F.desc("n"), F.asc("next_word"))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = counts.select(
        "prefix",
        "next_word",
        "n",
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.sum("n").over(wcum).cast("bigint").alias("cum"),
        F.sum("n").over(wall).cast("bigint").alias("total"),
    )
    return ranked.where(
        (F.col("total") >= min_total)
        & (F.lit(p_den) * (F.col("cum") - F.col("n")) < F.lit(p_num) * F.col("total"))
    ).select("prefix", "next_word", "n", "rank", "total")


# Gopher-style repetition/quality rule set (Rae et al. 2021, table A1 subset):
# document-level stop set used by the "contains >= 2 stop words" rule.
GOPHER_STOP_WORDS: tuple[str, ...] = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-rule quality filter (Rae et al. 2021 §A.1.1): per-document
    feature columns plus one boolean per rule and a composite ``keep`` flag.
    The classic pre-training corpus gate — a user filters with
    ``.where("keep")`` and keeps the per-rule booleans for ablation counts.

    Rules (word-level subset; the line-level bullet/ellipsis rules are
    degenerate on this corpus's single-line documents and are represented by
    the symbol-ratio rule that subsumes their intent):
      * 50 <= n_words <= 100_000
      * 3.0 <= mean word length <= 10.0
      * symbol-to-word ratio ('#' or '...') <= 0.1
      * >= 80% of words contain at least one [a-z] character
      * document contains >= 2 distinct-position hits from the Gopher stop set

    All expressions are single-projection Spark built-ins (codegen'd,
    scan-parallel, no shuffle) — identical arithmetic shape to the DuckDB
    oracle, so every double is IEEE-reproducible. Scale: embarrassingly
    parallel map over the corpus; the filter pushes nothing but a scan.
    """
    from .dedup import spread

    quoted = ", ".join(f"'{m}'" for m in GOPHER_STOP_WORDS)
    base = spread(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("t"),
        F.split(F.col(text_col), " ").alias("words"),
    )
    n_hash = F.length("t") - F.length(F.regexp_replace(F.col("t"), "#", ""))
    n_ellipsis = F.floor(
        (F.length("t") - F.length(F.regexp_replace(F.col("t"), r"\.\.\.", ""))).cast("double")
        / F.lit(3.0)
    )
    feats = base.select(
        "doc_id",
        F.size("words").alias("n_words"),
        (F.length(F.regexp_replace(F.col("t"), " ", "")).cast("double") / F.size("words")).alias(
            "mean_word_len"
        ),
        ((n_hash + n_ellipsis).cast("double") / F.size("words")).alias("symbol_ratio"),
        (
            F.expr("size(filter(words, w -> w rlike '[a-z]'))").cast("double") / F.size("words")
        ).alias("alpha_word_ratio"),
        F.expr(f"size(filter(words, w -> w IN ({quoted})))").cast("int").alias("n_stop_hits"),
    )
    return feats.select(
        "*",
        ((F.col("n_words") >= 50) & (F.col("n_words") <= 100000)).alias("r_word_count"),
        ((F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0)).alias(
            "r_mean_word_len"
        ),
        (F.col("symbol_ratio") <= 0.1).alias("r_symbol_ratio"),
        (F.col("alpha_word_ratio") >= 0.8).alias("r_alpha_words"),
        (F.col("n_stop_hits") >= 2).alias("r_stop_words"),
    ).select(
        "*",
        (
            F.col("r_word_count")
            & F.col("r_mean_word_len")
            & F.col("r_symbol_ratio")
            & F.col("r_alpha_words")
            & F.col("r_stop_words")
        ).alias("keep"),
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 relevance of every document against a fixed query-term set
    (Robertson/Spärck Jones probabilistic model) — the retrieval scorer a
    training pipeline uses for targeted corpus slicing ("give me the docs
    about X") and quality-weighted sampling.

    ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))`` (the standard
    Lucene-positive variant); per-(doc, term) contribution
    ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` is quantized to
    integer micro-units BEFORE the per-document sum, so the aggregate is
    order-independent exact integer arithmetic (the ``tfidf_top_terms``
    float discipline — a float sum across shuffle partitions would be
    rounding-order nondeterministic).

    Scale: tf aggregates with map-side partials on (doc, term); the df/idf
    table is |query_terms| rows and broadcasts; the two corpus scalars
    (N, total token count) are a 1-row broadcast crossJoin. One shuffle on
    doc_id for the final sum — nothing else moves.
    """
    from .dedup import spread

    terms = [t.replace("'", "''") for t in query_terms]
    base = spread(docs, id_col).select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("words")
    )
    dl = base.select("doc_id", F.size("words").alias("dl"), "words")
    scal = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
    )
    tf = (
        dl.select("doc_id", "dl", F.explode("words").alias("term"))
        .where(F.col("term").isin(list(query_terms)))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("dfc"))
    idf = dfreq.crossJoin(F.broadcast(scal)).select(
        "term",
        F.log(
            (F.col("nd").cast("double") - F.col("dfc") + 0.5) / (F.col("dfc") + 0.5) + 1.0
        ).alias("idf"),
        (F.col("sum_dl").cast("double") / F.col("nd")).alias("avgdl"),
    )
    contrib = F.floor(
        F.col("idf")
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * ((1.0 - b) + b * F.col("dl") / F.col("avgdl")))
        * 1000000.0
        + 0.5
    ).cast("bigint")
    return (
        tf.join(F.broadcast(idf), "term")
        .select("doc_id", contrib.alias("contrib_micros"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_matched_terms"),
            F.sum("contrib_micros").cast("bigint").alias("bm25_micros"),
        )
    )


def perplexity_buckets(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", lang_col: str = "lang"
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): per language,
    rank documents by unigram-LM mean -log10 p(token) and split the corpus
    into exact tertiles — ``head`` (most fluent), ``middle``, ``tail``. The
    canonical pre-training corpus partitioning: train on head+middle, mine
    tail for recall, ablate by bucket.

    Per-doc score is the integer-micro mean (bigint div — order-free); the
    within-language rank uses ``grouped_exact_ranks`` (bucketed rank
    selection, skew-proof — a 90%-English corpus never collapses onto one
    task the way a whole-language window would), and the tertile is exact
    integer arithmetic ``((rank-1)·3) div n``. Ties break on doc id, so the
    assignment is deterministic and the DuckDB oracle replays it.
    """
    from .aggregates import grouped_exact_ranks

    scores = unigram_lm_scores(docs, text_col, id_col).select(
        "doc_id",
        F.expr("sum_neglog_micros div n_tokens").cast("bigint").alias("mean_micros"),
    )
    # r16 (guide §5): the bucketed-rank machinery evaluates its input
    # THREE times (percentile_approx seed pass, per-bucket-count pass,
    # final ranked plan) — each re-ran the whole unigram-LM token pipeline
    # (explode + two aggregates + join). The scored frame is one narrow
    # row per DOC, so materialize it once; the three machinery passes then
    # scan doc-scale rows. Measured: ccnet_perplexity_buckets 3.2 → ~1.3 s
    # at sf0.1.
    scored = docs.select(F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")).join(
        scores, "doc_id"
    ).localCheckpoint(eager=True)
    ranks = grouped_exact_ranks(scored, "lang", "mean_micros", "doc_id")
    bucket_idx = F.expr("((rank - 1) * 3) div n")
    return ranks.select(
        F.col("doc_id"),
        F.col("lang"),
        F.col("mean_micros").cast("bigint").alias("mean_neglog_micros"),
        F.col("rank"),
        F.col("n"),
        F.when(bucket_idx == 0, F.lit("head"))
        .when(bucket_idx == 1, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def novelty_rates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_n: int = 3
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's distinct
    word ``shingle_n``-grams that appear NOWHERE else in the corpus
    (document frequency 1). High novelty = original content; low novelty =
    boilerplate/templated/duplicated text — the complement of the dedup
    family of signals, and a cheap memorization-risk proxy (a doc whose
    shingles all recur elsewhere teaches the model nothing new).

    Integer-exact micros; documents with fewer than ``shingle_n`` words have
    no shingles and produce no row (same domain as the shingle table).
    Scale: the document-frequency table is one map-side-combinable aggregate
    over the (already distinct) shingle frame; the unique-flag join is
    shingle-keyed and AQE-managed; one final doc-keyed aggregate.
    """
    from .dedup import word_shingles

    sh = word_shingles(docs, text_col, id_col, n=shingle_n)
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    return (
        sh.join(dfreq, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("bigint").alias(
                "n_unique"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.expr("(n_unique * 1000000) div n_shingles").alias("novelty_micros"),
        )
    )


def tokenizer_fertility(
    docs: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Tokenizer fertility audit per language: BPE-ish tokens per
    whitespace word (fertility — the multilingual-tokenizer-equity metric:
    a language whose words fragment into 3× more subword tokens pays 3× the
    sequence length for the same content) plus chars-per-token compression
    and tokens-per-doc, all as exact integer-micro ratios of bigint sums.

    One narrow scan (the same regex token counter as ``token_counts``) into
    one partial-aggregated groupBy on the language key — language domain is
    vocabulary-scale, so the output is tiny at any corpus size.
    """
    per_doc = docs.select(
        F.col(lang_col).alias("lang"),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("w"),
        F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
        .cast("bigint")
        .alias("t"),
        F.length(F.col(text_col)).cast("bigint").alias("c"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("w").alias("n_words"),
            F.sum("t").alias("n_tokens"),
            F.sum("c").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_tokens",
            "n_chars",
            F.expr("(n_tokens * 1000000) div greatest(n_words, 1)").alias(
                "fertility_micros"
            ),
            F.expr("(n_chars * 1000000) div greatest(n_tokens, 1)").alias(
                "chars_per_token_micros"
            ),
            F.expr("(n_tokens * 1000000) div greatest(n_docs, 1)").alias(
                "tokens_per_doc_micros"
            ),
        )
    )


def langid_ngram_profile(
    docs: DataFrame,
    profile_size: int = 40,
    doc_profile_size: int = 15,
    train_mod: int = 10,
    train_lt: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """PROFILE-LEARNED n-gram language ID (Cavnar & Trenkle 1994's
    out-of-place measure) — the trained counterpart of the marker-word
    ``language_id`` heuristic: per-language character-trigram rank
    profiles are LEARNED from a deterministic labeled split of the
    corpus itself (``doc_id % train_mod < train_lt``), broadcast, and
    every document is classified by the rank-displacement distance
    between its own top-``doc_profile_size`` trigram profile and each
    language profile (absent trigrams cost the maximum displacement
    ``profile_size``). Argmin per document, ties broken by language
    name — fully deterministic integer arithmetic, no floats anywhere.

    Returns (doc_id, lang, pred_lang, oop_dist, correct) — true label
    rides along so the caller can reduce to a confusion matrix or
    accuracy; ``correct`` is the 0/1 agreement flag.

    Scale: the trigram explode feeds two keyed aggregates (token-scale,
    map-side combined); the language profile is |langs|·profile_size
    rows — broadcast; the per-document profile is |docs|·doc_profile_size
    rows cross-joined against the broadcast language list (≤ dozens) and
    probed against the broadcast profile, so after the doc-profile
    window NOTHING shuffles on more than |docs| keys. The language
    profile build uses ``grouped_topk`` — |langs| is tiny, and a naive
    per-language window would funnel the whole token stream into
    |langs| tasks."""
    from .dedup import spread
    from .similarity import grouped_topk

    tris = spread(docs, id_col).filter(F.length(text_col) >= 3).select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.explode(
            F.expr(
                f"transform(sequence(1, length({text_col}) - 2),"
                f" i -> substring({text_col}, i, 3))"
            )
        ).alias("tri"),
    )
    doc_tf = tris.groupBy("doc_id", "lang", "tri").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    # language profiles come from the TRAIN split only — labels are
    # consumed here and nowhere else, so the apply side is honest
    train_tf = (
        doc_tf.filter(F.col("doc_id") % train_mod < train_lt)
        .groupBy("lang", "tri")
        .agg(F.sum("tf").cast("bigint").alias("cnt"))
    )
    prof = grouped_topk(
        train_tf, ["lang"], profile_size, [F.desc("cnt"), F.asc("tri")], "rl"
    ).select(F.col("lang").alias("cand_lang"), "tri", "rl")
    langs = prof.select("cand_lang").distinct()
    # r16 (guide §2.2): the per-DOC top-k was a two-window grouped_topk —
    # an exchange plus TWO full sorts of the (doc, trigram) stream. Docs
    # are plentiful (no per-group funnel, unlike the per-LANG profile
    # above, which keeps grouped_topk), so one aggregate derives the
    # profile instead: collect the doc's distinct-trigram structs, sort
    # the array (struct(-tf, tri) ascending == (tf DESC, tri ASC) — a
    # total order, trigrams are distinct per doc), slice k, posexplode
    # hands back the ranks. Row width is bounded by doc length.
    dprof = (
        doc_tf.groupBy("doc_id", "lang")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct((-F.col("tf")).alias("ntf"), "tri"))
                ),
                1,
                doc_profile_size,
            ).alias("top")
        )
        .select("doc_id", "lang", F.posexplode("top").alias("i", "t"))
        .select("doc_id", "lang", F.col("t.tri").alias("tri"), (F.col("i") + 1).alias("rd"))
    )
    scored = (
        dprof.crossJoin(F.broadcast(langs))
        .join(F.broadcast(prof), ["cand_lang", "tri"], "left")
        .groupBy("doc_id", "lang", "cand_lang")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("rd") - F.col("rl")), F.lit(profile_size)
                )
            )
            .cast("bigint")
            .alias("oop_dist")
        )
    )
    return (
        scored.groupBy("doc_id", "lang")
        .agg(
            F.expr(
                "min_by(struct(cand_lang, oop_dist),"
                " struct(oop_dist, cand_lang))"
            ).alias("b")
        )
        .select(
            "doc_id",
            "lang",
            F.col("b.cand_lang").alias("pred_lang"),
            F.col("b.oop_dist").alias("oop_dist"),
        )
        .select(
            "*",
            F.expr("cast(pred_lang = lang as int)").alias("correct"),
        )
    )
