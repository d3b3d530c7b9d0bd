"""Count-min sketch: fixed-size mergeable frequency state.

The exact token-frequency table is vocabulary-scale — fine for one corpus
audit, but streaming ingestion and cross-shard monitoring at 100 TB want a
frequency summary whose SIZE does not grow with the vocabulary. The
count-min sketch (Cormode & Muthukrishnan 2005) is that summary: a d×w grid
of counters where every token increments one counter per hash row, point
estimates are the MIN over a token's d cells, and the guarantee is
one-sided — estimate ≥ exact always, overestimate ≤ εN with probability
1−δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉.

Spark shape: the grid IS a (row, bucket) partial aggregate — map-side
combine collapses every partition's token instances into ≤ d·w cells before
the exchange, so the shuffle moves a constant-size sketch regardless of
corpus or vocabulary size, and two sketches merge by adding cells
(associative — the incremental/streaming update is the same aggregate).

Hashing is md5-salted per row (`md5(j || '|' || token)` → first 15 hex
chars → bigint → mod w): deterministic, engine-portable (DuckDB replays it
verbatim), and row-independent enough for the CM guarantee in practice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "cms_cells",
    "cms_heavy_hitters",
    "hll_registers",
    "hll_distinct_tokens",
    "hll_summary",
    "kmv_source_overlap",
    "bloom_words",
    "bloom_probe_flags",
    "bloom_decontaminate",
    "bloom_design_check",
    "cms_design_check",
    "hll_design_check",
]


def _bucket(row: Column, token: Column, w: int) -> Column:
    h = F.md5(F.concat_ws("|", row.cast("string"), token))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % F.lit(w)


def cms_cells(
    tokens: DataFrame, token_col: str = "token", d: int = 4, w: int = 256
) -> DataFrame:
    """The d×w sketch grid over a token-instance frame: one
    (row, bucket)-keyed count aggregate, map-side-combined to ≤ d·w cells
    per partition before the exchange. Returns (j, bucket, c)."""
    j = F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("j")
    return (
        tokens.select(F.col(token_col).alias("_tok"))
        .select("_tok", j)
        .select("j", _bucket(F.col("j"), F.col("_tok"), w).alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_heavy_hitters(
    docs: DataFrame,
    d: int = 4,
    w: int = 256,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Heavy-hitter audit of the count-min sketch against ground truth:
    the corpus's true top-``k`` tokens (exact count, TakeOrderedAndProject
    cut with token tie-breaks) probed against the sketch — estimate = MIN
    over the token's d cells, overestimate = estimate − exact (≥ 0 by the
    CM one-sided guarantee; a negative value means the sketch is broken).

    At 100 TB the candidate set comes from the stream (or a prior round's
    hitters) and each point query costs O(d) cell lookups against the
    broadcastable d·w-cell grid; the vocabulary-scale exact count here
    exists to VERIFY the sketch, mirroring approx_distinct_sketch's
    estimate-vs-exact contract.

    Returns (token, exact_count, cms_estimate, overestimate).
    """
    toks = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    cells = cms_cells(toks, "token", d, w)
    topk = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("token"))
        .limit(k)
    )
    probe = topk.select(
        "token",
        "exact_count",
        F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("j"),
    ).withColumn("bucket", _bucket(F.col("j"), F.col("token"), w))
    return (
        probe.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "token",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
    )


def hll_registers(
    tokens: DataFrame, token_col: str = "token", m: int = 64
) -> DataFrame:
    """HyperLogLog register table (Flajolet et al. 2007) over a
    token-instance frame: the same portable 60-bit md5 hash as the CM
    sketch splits into a bucket (low log2(m) bits via mod) and a
    (60−log2 m)-bit remainder whose leading-zero rank feeds a per-bucket
    MAX — one map-side-combined aggregate to ≤ m rows, mergeable across
    partitions/shards/batches by cell-wise MAX (the same merge contract
    as ``cms_cells``). Ranks come from ``bin()`` string length — exact
    integer bit arithmetic, engine-portable (no float log2).

    Returns (bucket, reg): buckets with no items are absent (reg 0)."""
    assert m & (m - 1) == 0, "m must be a power of two"
    w_bits = 60 - m.bit_length() + 1
    h = F.conv(F.substring(F.md5(F.col(token_col)), 1, 15), 16, 10).cast("bigint")
    return (
        tokens.select(
            (h % m).cast("int").alias("bucket"),
            F.expr(
                f"cast(conv(substring(md5({token_col}), 1, 15), 16, 10) as bigint)"
                f" div {m}"
            ).alias("r"),
        )
        .select(
            "bucket",
            F.expr(
                f"case when r = 0 then {w_bits + 1}"
                f" else {w_bits + 1} - length(bin(r)) end"
            )
            .cast("int")
            .alias("rank"),
        )
        .groupBy("bucket")
        .agg(F.max("rank").alias("reg"))
    )


def hll_distinct_tokens(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", m: int = 64
) -> DataFrame:
    """Distinct-token cardinality by HyperLogLog, audited against the
    exact count — the constant-size distinct sketch for streaming
    ingestion and cross-shard vocabulary monitoring (the cardinality twin
    of ``cms_heavy_hitters``; ``approx_distinct_sketch`` covers Spark's
    built-in HLL++, this one is the explicit, mergeable, oracle-exact
    register construction).

    Estimate arithmetic is integer-exact: Σ 2^(−M_j) is scaled by 2^55
    (max-rank power), so S = Σ 2^(55−M_j) ≤ m·2^55 fits bigint, and the
    raw estimate α₆₄·m²·2^55 div (S·10⁶) widens through DECIMAL(38,0)
    (α₆₄ = 0.7213/(1+1.079/64) quantized to 709341 micros). The standard
    small-range correction (linear counting m·ln(m/V) when V empty
    registers exist and E ≤ 2.5m) is the one libm call, quantized
    floor(·+0.5) like the repo's other log-space scores.

    Scale: the sketch aggregate shuffles ≤ m cells regardless of corpus
    or vocabulary; the exact count_distinct is the AUDIT column (drop it
    in production and the whole job is sketch-sized).

    Returns ONE row: (m, n_registers, v_empty, raw_estimate,
    corrected_estimate, exact_distinct, err_micros)."""
    toks = docs.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    regs = hll_registers(toks, "token", m)
    exact = toks.agg(F.count_distinct("token").cast("bigint").alias("exact_distinct"))
    return hll_summary(regs, exact, m)


def hll_summary(regs: DataFrame, exact: DataFrame, m: int = 64) -> DataFrame:
    """The one-row estimate/audit readout over a register table — shared
    by the batch sketch and the streaming-maintenance path (whose
    registers arrive pre-merged from micro-batch appends)."""
    sketch = regs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_registers"),
        F.sum(F.expr("shiftleft(cast(1 as bigint), 55 - reg)"))
        .cast("bigint")
        .alias("s_present"),
    )
    two55 = 1 << 55
    return (
        sketch.crossJoin(F.broadcast(exact))
        .select(
            F.lit(m).cast("int").alias("m"),
            "n_registers",
            (F.lit(m).cast("bigint") - F.col("n_registers")).alias("v_empty"),
            F.expr(
                f"cast((cast(709341 as decimal(38,0)) * {m * m} * {two55})"
                f" div ((s_present + ({m} - n_registers) * cast({two55} as bigint))"
                " * cast(1000000 as decimal(38,0))) as bigint)"
            ).alias("raw_estimate"),
            "exact_distinct",
        )
        .select(
            "m",
            "n_registers",
            "v_empty",
            "raw_estimate",
            F.expr(
                f"case when v_empty > 0 and raw_estimate <= {m * 5 // 2}"
                f" then cast(floor({m} * ln(cast({m} as double) / v_empty) + 0.5)"
                " as bigint) else raw_estimate end"
            ).alias("corrected_estimate"),
            "exact_distinct",
        )
        .select(
            "*",
            F.expr(
                "(abs(corrected_estimate - exact_distinct) * 1000000)"
                " div greatest(exact_distinct, 1)"
            ).alias("err_micros"),
        )
    )


def kmv_source_overlap(
    docs: DataFrame,
    k: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-source content overlap by KMV (k-minimum-values / bottom-k)
    sketches (Bar-Yossef et al. 2002; the theta-sketch family) — the SET-
    OPERATION sketch completing the trio: CM = frequency, HLL =
    cardinality, KMV = intersections/Jaccard. Each source's distinct
    trigram-shingle set reduces to its k smallest portable 60-bit hashes
    (a per-source ``grouped_topk`` — constant state per source, mergeable
    by keep-k-smallest-of-union); every source PAIR then estimates
    Jaccard as the fraction of common values below the union sketch's
    k-th smallest hash θ — all exact integer arithmetic on the sketch
    rows, |sources|²-bounded.

    The exact per-pair Jaccard rides along as the AUDIT column (computed
    from the full distinct (source, hash) table — drop it in production
    and the pair stage touches only sketch rows).

    Union cardinality uses the standard KMV estimator (k−1)·2⁶⁰ div θ
    when the union sketch is full, else the exact union count (sketch
    holds the whole set). Returns one row per unordered source pair:
    (source_a, source_b, n_union_sketch, n_common_sketch,
    jaccard_est_micros, union_card_est, jaccard_exact_micros,
    abs_err_micros).
    """
    from .dedup import spread
    from .similarity import grouped_topk

    # rebalance before the shingle/md5 fan-out: a single-split parquet
    # input would otherwise pin the whole hash workload to one core
    docs = spread(docs, id_col)
    words = docs.select(
        F.col("source"), F.split(F.col(text_col), " ").alias("ws")
    )
    sh = (
        words.filter(F.size("ws") >= 3)
        .select(
            "source",
            F.explode(
                F.expr(
                    # let-bound: split once per row, not per shingle
                    "element_at(transform(array(ws), ws ->"
                    " transform(sequence(1, size(ws) - 2), i -> concat_ws(' ',"
                    " element_at(ws, i), element_at(ws, i + 1),"
                    " element_at(ws, i + 2)))), 1)"
                )
            ).alias("s"),
        )
        .select(
            "source",
            F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("bigint").alias("h"),
        )
    )
    # r16 (guide §2.4): ONE corpus shuffle keyed on the hash replaces the
    # former distinct + a second groupBy(h) for the exact-intersection
    # audit: grouping the raw stream by h with a collect_set(source)
    # dedups (source, h) pairs AND is exactly the shared-source table the
    # audit fans out from; the distinct per-source stream re-derives by
    # exploding the cached rows (a map, no exchange).
    hs = (
        sh.groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
        .persist()
    )
    sh = hs.select(F.explode("ss").alias("source"), "h")
    sketch = grouped_topk(sh, ["source"], k, [F.asc("h")]).select("source", "h")

    pairs = (
        sketch.select("source").distinct().alias("x")
        .join(
            sketch.select("source").distinct().alias("y"),
            F.expr("x.source < y.source"),
        )
        .select(F.col("x.source").alias("sa"), F.col("y.source").alias("sb"))
    )
    av = sketch.select(F.col("source").alias("sa"), "h")
    bv = sketch.select(F.col("source").alias("sb"), "h")
    union_vals = (
        pairs.join(F.broadcast(av), "sa")
        .select("sa", "sb", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            pairs.join(F.broadcast(bv), "sb")
            .select("sa", "sb", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
        )
        .groupBy("sa", "sb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    topu = grouped_topk(union_vals, ["sa", "sb"], k, [F.asc("h")])
    est = topu.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_union_sketch"),
        F.sum(F.expr("if(in_a = 1 and in_b = 1, 1, 0)"))
        .cast("bigint")
        .alias("n_common_sketch"),
        F.max("h").alias("theta"),
    ).select(
        "sa",
        "sb",
        "n_union_sketch",
        "n_common_sketch",
        F.expr("(n_common_sketch * 1000000) div greatest(n_union_sketch, 1)").alias(
            "jaccard_est_micros"
        ),
        F.expr(
            f"case when n_union_sketch < {k} then n_union_sketch"
            f" else cast((cast({k - 1} as decimal(38,0)) * {1 << 60})"
            " div greatest(theta, 1) as bigint) end"
        ).alias("union_card_est"),
    )
    # exact audit from the full distinct (source, hash) table. ONE
    # groupBy on h (not a self-join): each shared hash carries its
    # sorted source set, and the ≤|sources|² pair fan-out happens
    # inside the already-grouped row — the shingle table shuffles once
    # instead of twice, and no join ever rematches the corpus.
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    inter = (
        hs.filter(F.size("ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (a, i) ->"
                    " transform(slice(ss, i + 2, size(ss) - i - 1), b ->"
                    " struct(a as sa, b as sb))))"
                )
            ).alias("pr")
        )
        .groupBy(F.col("pr.sa").alias("sa"), F.col("pr.sb").alias("sb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    exact = (
        pairs.join(inter, ["sa", "sb"], "left")
        .join(sizes.select(F.col("source").alias("sa"), F.col("n").alias("na")), "sa")
        .join(sizes.select(F.col("source").alias("sb"), F.col("n").alias("nb")), "sb")
        .select(
            "sa",
            "sb",
            F.expr(
                "(coalesce(n_inter, 0) * 1000000)"
                " div greatest(na + nb - coalesce(n_inter, 0), 1)"
            ).alias("jaccard_exact_micros"),
        )
    )
    out = (
        est.join(exact, ["sa", "sb"])
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_union_sketch",
            "n_common_sketch",
            "jaccard_est_micros",
            "union_card_est",
            "jaccard_exact_micros",
            F.expr("abs(jaccard_est_micros - jaccard_exact_micros)").alias(
                "abs_err_micros"
            ),
        )
    )
    try:
        # |sources|²-bounded; eager so the distinct shingle cache is
        # released before returning (containment_prefix_pairs discipline)
        return out.localCheckpoint(eager=True)
    finally:
        hs.unpersist()


# ---------------------------------------------------------------------------
# Bloom filter: constant-size mergeable MEMBERSHIP state — the fourth sketch
# (CM = frequency, HLL = cardinality, KMV = set ops, Bloom = membership)
# ---------------------------------------------------------------------------

_BLOOM_M = 65536  # bits (~n·k/ln2 for the ~4k-gram test split at this corpus: FP ≈ 0.2%; undersized bitmaps saturate and flag everything)
_BLOOM_K = 4  # probes per item
_BLOOM_WORD = 32  # bits per word row (BIGINT << 63 overflows in DuckDB)


def _bloom_probe_idx(col: str, k: int = _BLOOM_K, m_bits: int = _BLOOM_M) -> Column:
    """Array of k bit indices for one item: consecutive 8-hex-char slices
    of md5 (32 bits each, independent enough for Bloom's FP bound) mod m —
    deterministic and engine-portable (DuckDB replays the same slices).
    The md5 is let-bound (one-element transform) so it folds ONCE per
    item, not once per probe — the r12 loop-invariant HOF gate caught
    the collapsed form re-hashing k times."""
    return F.expr(
        f"element_at(transform(array(md5({col})), hh -> "
        f"transform(sequence(0, {k - 1}), p -> "
        f"cast(conv(substring(hh, p * 8 + 1, 8), 16, 10) as bigint)"
        f" % {m_bits})), 1)"
    )


def bloom_words(items: DataFrame, col: str, m_bits: int = _BLOOM_M, k: int = _BLOOM_K) -> DataFrame:
    """Bloom bitmap over a string column as (word_idx, word) rows —
    ≤ m_bits/32 rows total, built by ONE keyed bit_or aggregate
    (map-side combined), MERGEABLE across shards/micro-batches by
    cell-wise bit_or (associative/commutative/idempotent — the same
    contract the HLL registers ship with). 32-bit words keep the shift
    exact in both engines."""
    probes = items.select(F.explode(_bloom_probe_idx(col, k, m_bits)).alias("idx"))
    return (
        probes.select(
            F.expr(f"idx div {_BLOOM_WORD}").cast("int").alias("word_idx"),
            F.expr(f"cast(idx % {_BLOOM_WORD} as int)").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(
            F.expr("bit_or(shiftleft(cast(1 as bigint), bit))").alias("word")
        )
    )


def bloom_probe_flags(
    cands: DataFrame,
    bitmap: DataFrame,
    col: str,
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
) -> DataFrame:
    """Membership test of ``cands[col]`` against a (word_idx, word) Bloom
    bitmap: the bitmap folds into ONE broadcast map row (word_idx →
    word), and each item checks its k probe bits as a single ``forall``
    expression — NO per-probe fan-out, NO re-aggregate; the candidate
    frame gains a ``bloom_hit`` (0/1) column in pure map-side expression
    work (the first cut exploded k rows per item and re-grouped, which
    re-shuffled the candidate stream k-wide — the probe's 30× timing
    caught it). One-sided: a 0 is certain absence; a 1 may be a false
    positive with the standard (1 − e^{-kn/m})^k rate."""
    # DENSE word array, built once in the 1-row frame: Spark map lookups
    # are linear scans of the entry array, so a map-typed bitmap costs
    # O(m/32) per probe (measured 3× on the whole operator at m=65536);
    # element_at on an array is O(1)
    n_words = m_bits // _BLOOM_WORD
    bm = bitmap.agg(
        F.map_from_entries(F.collect_list(F.struct("word_idx", "word"))).alias(
            "bmm"
        )
    ).select(
        F.expr(
            f"transform(sequence(0, {n_words - 1}),"
            " w -> coalesce(element_at(bmm, cast(w as int)), cast(0 as bigint)))"
        ).alias("bm")
    )
    return cands.crossJoin(F.broadcast(bm)).select(
        *[c for c in cands.columns],
        F.expr(
            # md5 let-bound: hashed once per item, not once per probe
            f"cast(forall(element_at(transform(array(md5({col})), hh ->"
            f" transform(sequence(0, {k - 1}), p ->"
            f" cast(conv(substring(hh, p * 8 + 1, 8), 16, 10) as bigint)"
            f" % {m_bits})), 1),"
            f" i -> (element_at(bm, cast(i div {_BLOOM_WORD} as int) + 1)"
            f" & shiftleft(cast(1 as bigint), cast(i % {_BLOOM_WORD} as int)))"
            " != 0) as int)"
        ).alias("bloom_hit"),
    )


def bloom_ngrams(
    docs: DataFrame,
    n_words: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc distinct ``n_words``-gram digests with the 3-way hash-split
    column — the shared input of the batch decontaminator and the
    streaming bitmap-maintenance path. Returns (doc_id, split, g)."""
    from .sampling import split_column

    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            split_column(id_col).alias("split"),
            F.split(F.col(text_col), " ").alias("ws"),
        )
        .filter(F.size("ws") >= n_words)
        .select(
            "doc_id",
            "split",
            F.explode(
                F.expr(
                    # let-bound: split once per row, not per gram
                    "element_at(transform(array(ws), ws -> "
                    f"transform(sequence(0, size(ws) - {n_words}), "
                    f"i -> md5(array_join(slice(ws, i + 1, {n_words}), ' ')))), 1)"
                )
            ).alias("g"),
        )
        .distinct()
    )


def bloom_decontaminate(
    docs: DataFrame,
    n_words: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
    bitmap: DataFrame | None = None,
) -> DataFrame:
    """Test-set decontamination with a Bloom prefilter (the GPT-3 n-gram
    decontamination shape — Brown et al. 2020 appendix C — with the exact
    membership join demoted to an AUDIT): the held-out ``test`` hash
    split's distinct ``n_words``-gram set compresses into a ≤ m/32-row
    Bloom bitmap; every candidate (non-test) document's distinct n-grams
    probe the BROADCAST bitmap map-side, and a document is flagged when
    any n-gram hits. The exact semi-join against the test n-gram table
    rides along as the audit, so the output exposes the realized
    false-positive rate next to the guarantee.

    Returns one row per candidate doc with ≥ 1 n-gram: (doc_id,
    n_ngrams, n_bloom_hits, n_exact_hits, n_false_positives, flagged).

    Scale: the bitmap is CONSTANT bytes however large the test set; the
    candidate pass is scan + broadcast probe (no shuffle beyond the
    per-doc re-aggregate). Drop the exact-audit join in production and
    100 TB decontamination is one map-side pass — the point of carrying
    a membership sketch instead of the test-set n-gram table itself.

    ``bitmap`` (optional): a pre-merged (word_idx, word) table — e.g. the
    streaming-maintenance store — used instead of building one here; the
    bit_or merge contract makes the two bit-identical."""
    # persist (released in the finally): the distinct-gram table feeds
    # three consumers (bitmap build, exact-audit join, candidate probes)
    # and recomputes its token-scale shuffle per consumer otherwise
    # (measured ~3× on the 30× probe)
    grams = bloom_ngrams(docs, n_words, text_col, id_col).persist()
    test_g = grams.filter(F.col("split") == "test").select("g").distinct()
    cand_g = grams.filter(F.col("split") != "test").select("doc_id", "g")
    if bitmap is None:
        bitmap = bloom_words(test_g, "g", m_bits, k)
    # the exact audit flag attaches BEFORE the probe fan-out so it rides
    # the same per-gram aggregate — one candidate-scale join total, not a
    # second hits⋈exact pass (the audit join is the only shuffle the
    # production prefilter drops)
    cand_with_exact = cand_g.join(
        test_g.withColumn("exact_hit", F.lit(1)), "g", "left"
    ).select("doc_id", "g", F.coalesce("exact_hit", F.lit(0)).alias("exact_hit"))
    hits = bloom_probe_flags(cand_with_exact, bitmap, "g", m_bits, k)
    out = (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
            F.sum("bloom_hit").cast("bigint").alias("n_bloom_hits"),
            F.sum("exact_hit").cast("bigint").alias("n_exact_hits"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_bloom_hits",
            "n_exact_hits",
            (F.col("n_bloom_hits") - F.col("n_exact_hits")).alias(
                "n_false_positives"
            ),
            F.expr("cast(n_bloom_hits > 0 as int)").alias("flagged"),
        )
    )
    try:
        # per-doc-sized; eager so the gram cache is released on return
        return out.localCheckpoint(eager=True)
    finally:
        grams.unpersist()


# ---------------------------------------------------------------------------
# Design-time parameter guards (round-12). The round-10 4096-bit Bloom
# saturation was caught by a COMPOSITION, not the oracle — both engines
# agreed on the useless all-hits answer. These analytic checks fail a bad
# (m, k, w, d, m_registers) choice at plan-build time, before a single
# byte is scanned; tests/test_sketch_properties.py pins each bound against
# a pure-Python simulation of the exact md5 constructions above.
# ---------------------------------------------------------------------------


def bloom_design_check(
    m_bits: int, k: int, n_items: int, max_fp: float = 0.02
) -> float:
    """Analytic Bloom false-positive rate (1 - e^{-kn/m})^k for the
    planned item count; raises when it exceeds ``max_fp`` — i.e. when
    the bitmap would silently saturate (the r10 failure mode: at
    m=4096, n~4k grams the fill is ~98% and every probe reads as a
    hit). Returns the expected FP rate."""
    import math

    if m_bits <= 0 or k <= 0:
        raise ValueError("m_bits and k must be positive")
    fill = 1.0 - math.exp(-k * n_items / m_bits)
    fp = fill**k
    if fp > max_fp:
        raise ValueError(
            f"Bloom(m={m_bits}, k={k}) saturates at n={n_items}:"
            f" fill={fill:.1%}, expected FP {fp:.2%} > {max_fp:.2%} —"
            " widen m_bits (m ~ 1.44 * k * n for the optimum)"
        )
    return fp


def cms_design_check(
    d: int, w: int, n_instances: int, min_heavy_count: int, max_rel_over: float = 0.5
) -> float:
    """Count-min noise floor: a width-``w`` row smears ~N/w spurious
    count onto every cell, so a heavy hitter of true count C is only
    readable when N/w << C (the min over d rows concentrates the bound
    with failure probability ~e^-d, it does not shrink the floor).
    Raises when the expected overestimate N/w exceeds ``max_rel_over``
    of the smallest count the caller intends to read. Returns N/w."""
    if d <= 0 or w <= 0:
        raise ValueError("d and w must be positive")
    floor = n_instances / w
    if floor > max_rel_over * min_heavy_count:
        raise ValueError(
            f"CMS(d={d}, w={w}) noise floor N/w = {floor:.0f} drowns"
            f" counts near {min_heavy_count} (allowed"
            f" {max_rel_over:.0%}) — widen w past"
            f" {n_instances / (max_rel_over * min_heavy_count):.0f}"
        )
    return floor


def hll_design_check(m: int, target_rel_err: float = 0.15) -> float:
    """HyperLogLog standard error 1.04/sqrt(m); raises when the chosen
    register count cannot meet ``target_rel_err`` (and on a non-power-
    of-two m, which breaks the bucket split). Returns the expected
    relative error."""
    if m < 16 or m & (m - 1) != 0:
        raise ValueError(f"m={m} must be a power of two >= 16")
    err = 1.04 / (m**0.5)
    if err > target_rel_err:
        raise ValueError(
            f"HLL(m={m}) standard error {err:.1%} exceeds the"
            f" {target_rel_err:.1%} target — need m >="
            f" {int((1.04 / target_rel_err) ** 2) + 1} registers"
        )
    return err
