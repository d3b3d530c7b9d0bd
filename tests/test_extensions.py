"""Behavioral checks for extension operators beyond the oracle hash gate."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

QUERIES = entry_mod.queries()


def test_minhash_finds_planted_near_duplicates(spark, sf_dir):
    pairs = QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    for r in pairs:
        assert r.jaccard >= 0.5
        assert r.doc_a < r.doc_b


def test_multimodal_decode_stub_plumbing(spark, sf_dir):
    df = QUERIES["multimodal_decode_features"](spark, sf_dir)
    assert df.columns == ["doc_id", "media_type", "width", "height", "n_frames", "checksum"]
    rows = df.collect()
    n_docs = QUERIES["multimodal_payload_metadata"](spark, sf_dir).count()
    assert len(rows) == n_docs
    for r in rows[:20]:
        assert 16 <= r.width < 80 and 16 <= r.height < 80
        if r.media_type == "image/png":
            assert r.n_frames == 1
    # deterministic across runs (Arrow batch boundaries must not leak)
    again = {r.doc_id: r for r in df.collect()}
    for r in rows:
        assert again[r.doc_id] == r


def test_ann_topk_contains_query_itself(spark, sf_dir):
    top = QUERIES["ann_bruteforce_topk"](spark, sf_dir).collect()
    assert top[0].vec_id == 0 and abs(top[0].score - 1.0) < 1e-9
    assert [r.rank for r in sorted(top, key=lambda r: r.rank)] == list(range(1, len(top) + 1))


def test_bucketed_ann_is_subset_semantics(spark, sf_dir):
    """Bucketed candidates all share the query's bucket (pruning is real)."""
    df = QUERIES["ann_lsh_bucketed_topk"](spark, sf_dir)
    buckets = {r.bucket for r in df.collect()}
    assert len(buckets) == 1


def test_simhash_fingerprints_use_full_64_bits(spark, sf_dir):
    """The 64-bit fingerprint should spread across the full signed range
    (bit 63 = two's-complement sign), and every doc gets exactly one."""
    fps = QUERIES["dedup_simhash_fingerprints"](spark, sf_dir)
    stats = fps.agg(
        F.min("simhash").alias("mn"),
        F.max("simhash").alias("mx"),
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
    ).collect()[0]
    assert stats.n == stats.n_docs
    # with ~even sign-bit odds, docs land on both sides of 0
    assert stats.mn < 0 < stats.mx


def test_simhash_banding_requires_enough_bands():
    import pytest
    from adventureworkslakehousepoc_spark.operators.dedup import simhash_near_duplicates

    with pytest.raises(ValueError, match="bands"):
        simhash_near_duplicates(None, bands=4, max_hamming=4)


def test_multimodal_resize_and_frame_sample(spark, sf_dir):
    from adventureworkslakehousepoc_spark.operators.multimodal import (
        attach_binary_payload,
        resize_images,
        sample_frames,
    )
    from adventureworkslakehousepoc_spark.catalog import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    payloads = attach_binary_payload(docs)
    n_images = payloads.filter(F.col("media_type") == "image/png").count()
    resized = resize_images(payloads)
    assert resized.count() == n_images
    r = resized.first()
    assert r.width == 224 and r.height == 224 and len(bytes(r.payload)) <= 224 * 3

    frames = sample_frames(payloads)
    n_videos = payloads.filter(F.col("media_type") == "video/mp4").count()
    assert frames.count() >= n_videos  # ≥1 sampled frame per video
    f = frames.first()
    assert f.frame_idx % 10 == 0 and len(bytes(f.frame_payload)) <= 8
    # determinism across runs
    a = sorted((x.doc_id, x.frame_idx) for x in frames.collect())
    b = sorted((x.doc_id, x.frame_idx) for x in sample_frames(payloads).collect())
    assert a == b


def test_ivf_ann_recall_and_pruning(spark, sf_dir):
    """IVF search scans only the probed cells (a strict subset of the corpus)
    yet keeps high recall against the exact brute-force top-k."""
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
        ivf_assign_cells,
    )

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    n = emb.count()
    cells = ivf_assign_cells(emb, n_centroids=16)
    assert cells.count() == n  # every vector lands in exactly one cell
    assert cells.select("cell").distinct().count() > 1  # codebook actually partitions

    exact = {r.vec_id for r in cosine_topk(emb, 0, 10).collect()}
    approx_rows = cosine_topk_ivf(emb, 0, 10, n_centroids=16, nprobe=4).collect()
    assert len(approx_rows) == 10
    recall = len(exact & {r.vec_id for r in approx_rows}) / 10
    assert recall >= 0.5, f"IVF recall {recall} too low vs brute force"
    # candidate set (probed cells) is a strict subset of the corpus
    probed = {r.cell for r in approx_rows}
    scanned = cells.filter(F.col("cell").isin(list(probed))).count()
    assert scanned < n


def test_hash_sample_invariant_under_partitioning(spark, sf_dir):
    """Sample membership is a pure function of the key — unchanged by
    repartitioning (df.sample() cannot promise this)."""
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.sampling import (
        hash_sample,
        stratified_hash_sample,
    )

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    s1 = {r.o_orderkey for r in hash_sample(orders, "o_orderkey", 4).collect()}
    s2 = {r.o_orderkey for r in hash_sample(orders.repartition(7), "o_orderkey", 4).collect()}
    assert s1 == s2
    n = orders.count()
    assert 0 < len(s1) < n  # a real subset, roughly 4/16
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    strat = stratified_hash_sample(docs, "doc_id", "lang", {"en": 2}, default=8)
    by_lang = {r.lang: r.n for r in strat.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    full = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # dominant class sampled at a lower rate than the rest
    assert by_lang["en"] / full["en"] < max(
        by_lang[lg] / full[lg] for lg in by_lang if lg != "en"
    )


def test_knn_join_matches_naive_window(spark, sf_dir):
    """grouped_topk's two-phase cut must equal the naive per-query window."""
    from pyspark.sql import Window
    from adventureworkslakehousepoc_spark.operators.similarity import (
        cosine_similarity,
        knn_join,
        quantize,
    )
    from adventureworkslakehousepoc_spark.catalog import load_tables

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    got = knn_join(e, n_queries=4, k=3)
    rows = got.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r.rank)
    assert set(per_q) == {0, 1, 2, 3}
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())

    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    naive = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", quantize(cosine_similarity("embedding", "q_embedding")).alias("score"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("vec_id"))
            ),
        )
        .filter(F.col("rank") <= 3)
    )
    assert sorted((r.q_id, r.rank, r.vec_id) for r in rows) == sorted(
        (r.q_id, r.rank, r.vec_id) for r in naive.collect()
    )


def test_boilerplate_flags_semantics(spark):
    from adventureworkslakehousepoc_spark.operators.text_analysis import boilerplate_flags

    boiler = "one two three four five"
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique alpha beta"),
            (2, boiler + " other gamma delta"),
            (3, boiler),                      # 100% boilerplate -> dropped
            (4, "totally different words here now"),
            (5, "shrt"),                      # < 5 words: no spans, absent
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in boilerplate_flags(docs).collect()}
    assert 5 not in out
    assert not out[3].keep and out[3].boilerplate_micros == 1000000
    assert out[4].keep and out[4].n_boilerplate == 0
    assert out[1].keep and out[1].n_boilerplate == 1  # only the shared span


def test_unigram_lm_rare_words_score_higher(spark):
    from adventureworkslakehousepoc_spark.operators.text_analysis import unigram_lm_scores

    common = " ".join(["the"] * 20)
    docs = spark.createDataFrame(
        [(1, common), (2, common), (3, common), (4, "zyzzyva qwerty plugh xyzzy")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.avg_neglog10_p for r in unigram_lm_scores(docs).collect()}
    assert out[4] > out[1]


def test_fuzzy_match_pairs_blocked(spark):
    from adventureworkslakehousepoc_spark.operators.fuzzy import fuzzy_match_pairs

    df = spark.createDataFrame(
        [("red widget",), ("red widgets",), ("red gadget",), ("blue widget",), ("red widget",)],
        "name string",
    )
    got = {(r.name_a, r.name_b): r.distance for r in fuzzy_match_pairs(df, "name", 3).collect()}
    # distinct-value domain: the duplicate "red widget" collapses
    assert got[("red widget", "red widgets")] == 1
    assert ("blue widget", "red widget") not in got  # different block
    assert all(d <= 3 for d in got.values())


def test_pack_sequences_partition_invariant(spark, sf_dir):
    """The hierarchical prefix sum must reconstruct the same global offsets
    for ANY physical partitioning of the input (offset + local sum is
    boundary-independent)."""
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.packing import pack_training_sequences

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    a = sorted(map(tuple, pack_training_sequences(d).collect()))
    b = sorted(map(tuple, pack_training_sequences(d.repartition(3)).collect()))
    assert a == b
    # chunks are dense: every doc's start_offset equals the running total
    for grp_rows in (a,):
        by_src = {}
        for doc_id, src, n, start, ci, co in grp_rows:
            by_src.setdefault(src, []).append((doc_id, n, start))
        for src, rows in by_src.items():
            rows.sort()
            run = 0
            for doc_id, n, start in rows:
                assert start == run, (src, doc_id)
                run += n


def test_pq_codes_compact_and_recall(spark, sf_dir):
    """PQ index: every vector gets exactly m 4-bit codes; ADC search ranks
    the query itself first at distance 0 and keeps useful recall vs the
    exact-L2 top-k (recall < 1 by design — it's the compressed scale path)."""
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        squared_l2,
    )

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    n = e.count()
    codes = pq_encode(e)
    assert codes.count() == n * 8
    rng = codes.agg(F.min("code"), F.max("code")).collect()[0]
    assert rng[0] >= 0 and rng[1] < 16

    top = sorted(pq_topk(e, 0, 10).collect(), key=lambda r: r.rank)
    assert top[0].vec_id == 0 and top[0].approx_d2 == 0.0

    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_embedding"))
    exact = (
        e.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.floor(squared_l2("embedding", "q_embedding") * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .limit(10)
    )
    ex = {r.vec_id for r in exact.collect()}
    got = {r.vec_id for r in top}
    assert len(ex & got) / 10 >= 0.2


def test_negative_pairs_deterministic_and_no_self(spark, sf_dir):
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.assembly import negative_pairs

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    out = negative_pairs(docs, k=4)
    rows = out.collect()
    n_docs = docs.count()
    assert len(rows) == 4 * n_docs
    per_anchor = {}
    for r in rows:
        assert r.neg_id != r.anchor_id
        assert 0 <= r.neg_id < n_docs
        per_anchor.setdefault(r.anchor_id, set()).add(r.neg_rank)
    assert all(v == {0, 1, 2, 3} for v in per_anchor.values())
    # partition-layout invariance: same pairs after an adversarial repartition
    again = {
        (r.anchor_id, r.neg_rank): r.neg_id
        for r in negative_pairs(docs.repartition(13), k=4).collect()
    }
    assert {(r.anchor_id, r.neg_rank): r.neg_id for r in rows} == again


def test_hash_bucket_filter_superset_of_exact_semi(spark, sf_dir):
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.runtime_filter import (
        prune_with_hash_bucket_filter,
    )

    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    exact = {
        r.l_orderkey
        for r in t["lineitem"]
        .join(urgent, t["lineitem"]["l_orderkey"] == urgent["o_orderkey"], "left_semi")
        .select("l_orderkey")
        .collect()
    }
    # generous geometry: near-zero false positives expected, never a miss
    kept = {
        r.l_orderkey
        for r in prune_with_hash_bucket_filter(
            t["lineitem"], "l_orderkey", urgent, "o_orderkey", n_buckets=1 << 20
        )
        .select("l_orderkey")
        .collect()
    }
    assert exact <= kept
    # adversarially tiny filter (16 buckets): heavy collisions, still superset
    tiny = {
        r.l_orderkey
        for r in prune_with_hash_bucket_filter(
            t["lineitem"], "l_orderkey", urgent, "o_orderkey", n_buckets=16
        )
        .select("l_orderkey")
        .collect()
    }
    assert exact <= tiny


def test_shuffle_assignment_partition_invariant(spark, sf_dir):
    """The training-shuffle permutation is a pure function of (seed, id):
    re-partitioning the input must not move a single row's global position,
    and positions must be exactly 1..N with bucket-contiguous ranges."""
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.sampling import shuffle_assignment

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    base = {r.doc_id: (r.bucket, r.pos_in_bucket, r.global_pos)
            for r in shuffle_assignment(docs).collect()}
    again = {r.doc_id: (r.bucket, r.pos_in_bucket, r.global_pos)
             for r in shuffle_assignment(docs.repartition(7, "source")).collect()}
    assert base == again
    positions = sorted(p for _, _, p in base.values())
    assert positions == list(range(1, len(base) + 1))
    # global order sorts by (bucket, key): bucket ranges must be contiguous
    by_pos = sorted(base.values(), key=lambda t: t[2])
    assert [b for b, _, _ in by_pos] == sorted(b for b, _, _ in by_pos)


def test_span_duplicate_stats_semantics(spark):
    """Planted fixture: doc 1 and 2 share their first 20-word span; doc 3 is
    all-unique; doc 4 is shorter than one span and must not appear."""
    from adventureworkslakehousepoc_spark.operators.dedup import span_duplicate_stats

    shared = " ".join(f"s{i}" for i in range(20))
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(20))  # noqa: E731
    rows = [
        (1, shared + " " + uniq("a")),
        (2, shared + " " + uniq("b")),
        (3, uniq("c") + " " + uniq("d")),
        (4, "too short"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in span_duplicate_stats(docs, n_words=20).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].n_spans == 2 and out[1].n_dup_spans == 1
    assert out[2].n_spans == 2 and out[2].n_dup_spans == 1
    assert out[3].n_spans == 2 and out[3].n_dup_spans == 0
    assert out[1].dup_ratio_micros == 500000


def test_substring_coverage_first_occurrence_and_islands(spark):
    """ExactSubstr semantics on a planted fixture: the globally-first
    instance of a duplicated window is NOT removable; a full-copy doc is
    100% covered by one merged run; a doc embedding one shared 10-gram
    mid-text gets exactly that window as a single run; sub-window docs
    are excluded."""
    from adventureworkslakehousepoc_spark.operators.dedup import (
        substring_dedup_coverage,
    )

    base = " ".join(f"w{i}" for i in range(12))  # 12 words -> 3 windows
    mid = (
        " ".join(f"x{i}" for i in range(10))
        + " "
        + " ".join(f"w{i}" for i in range(10))  # base's first window
        + " "
        + " ".join(f"y{i}" for i in range(5))
    )
    rows = [(0, base), (1, base), (2, mid), (3, "too short")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in substring_dedup_coverage(docs, n_words=10).collect()}
    assert set(out) == {0, 1, 2}
    # doc 0 is the first occurrence everywhere: nothing removable
    assert out[0].n_windows == 3 and out[0].n_dup_windows == 0
    assert out[0].covered_dup_words == 0 and out[0].dup_ratio_micros == 0
    # doc 1 is a verbatim copy: all 3 windows removable, ONE merged run
    # covering the entire 12 words
    assert out[1].n_dup_windows == 3 and out[1].n_dup_runs == 1
    assert out[1].covered_dup_words == 12 and out[1].max_dup_run_words == 12
    assert out[1].dup_ratio_micros == 1000000
    # doc 2 embeds one shared window at pos 10: a single 10-word run
    assert out[2].n_windows == 16  # 25 words
    assert out[2].n_dup_windows == 1 and out[2].n_dup_runs == 1
    assert out[2].covered_dup_words == 10 and out[2].max_dup_run_words == 10
    assert out[2].dup_ratio_micros == 10 * 1000000 // 25


def test_wav_codec_roundtrips_against_stdlib_wave(spark):
    """The expression-level WAV encoder must emit files the stdlib wave
    module opens (genuine RIFF/PCM), and the relational decoder's header
    fields and amplitude statistics must equal a struct-level python
    parse of those same bytes."""
    import io
    import struct
    import wave

    from adventureworkslakehousepoc_spark.operators.multimodal import (
        wav_pcm_decode,
        wav_pcm_encode,
    )

    df = spark.createDataFrame(
        [(7, "hello world of audio"), (12, "another doc"), (63, "x")],
        ["doc_id", "text"],
    )
    enc = wav_pcm_encode(df)
    dec = {r.doc_id: r for r in wav_pcm_decode(enc).collect()}
    for r in enc.collect():
        w = wave.open(io.BytesIO(bytes(r.payload)))
        samples = struct.unpack(
            "<%dh" % w.getnframes(), w.readframes(w.getnframes())
        )
        d = dec[r.doc_id]
        assert (d.sample_rate, d.n_channels, d.bits_per_sample) == (
            w.getframerate(),
            w.getnchannels(),
            8 * w.getsampwidth(),
        )
        assert d.n_samples == w.getnframes()
        assert d.sum_amplitude == sum(samples)
        assert d.sum_abs == sum(abs(x) for x in samples)
        assert d.peak_abs == max(abs(x) for x in samples)
        assert d.mean_abs_micros == d.sum_abs * 1000000 // d.n_samples


def test_y4m_codec_roundtrips_against_byte_parse(spark):
    """The expression-level y4m encoder must emit genuine YUV4MPEG2
    streams (header + FRAME-marker walk parses byte-exactly in python),
    and the relational decoder's per-frame luma sums must equal the
    python parse of those same bytes."""
    from adventureworkslakehousepoc_spark.operators.multimodal import (
        y4m_decode,
        y4m_encode,
    )

    texts = {7: "video doc one", 12: "another", 2: "x"}
    df = spark.createDataFrame(sorted(texts.items()), ["doc_id", "text"])
    enc = y4m_encode(df)
    payloads = {r.doc_id: bytes(r.payload) for r in enc.collect()}
    out = y4m_decode(enc).collect()
    assert len(out) == sum(2 + d % 4 for d in texts)
    for r in out:
        hdr, rest = payloads[r.doc_id].split(b"\n", 1)
        parts = hdr.decode().split(" ")
        w, h = int(parts[1][1:]), int(parts[2][1:])
        assert parts[0] == "YUV4MPEG2" and parts[6] == "C444"
        fsz = 3 * w * h
        off = (6 + fsz) * r.frame_idx
        assert rest[off : off + 6] == b"FRAME\n" and r.marker_ok == 1
        frame = rest[off + 6 : off + 6 + fsz]
        assert (r.width, r.height) == (w, h)
        assert r.y_sum == sum(frame[: w * h])
        assert r.y_mean_micros == r.y_sum * 1000000 // (w * h)


def test_image_ahash_pairs_dedup_and_guardrail(spark):
    """Identical image content pairs at hamming 0 (and dims derive from
    content, so the pair shares a shape); unrelated content produces no
    pair at the strict threshold; thresholds that break the pigeonhole
    recall guarantee raise instead of silently losing recall."""
    import pytest as _pytest

    from adventureworkslakehousepoc_spark.operators.multimodal import (
        image_ahash_pairs,
    )

    df = spark.createDataFrame(
        [(1, "same banner text"), (2, "same banner text"), (9, "other content")],
        ["doc_id", "text"],
    )
    out = image_ahash_pairs(df).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in out] == [(1, 2, 0)]
    assert out[0].width == out[0].width and out[0].height >= 3

    with _pytest.raises(ValueError, match="pigeonhole"):
        image_ahash_pairs(df, max_hamming=4, bands=4)


def test_bitext_margin_mining_suppresses_hubs(spark):
    """The ratio margin must mine the true translation even when a HUB
    target (cosine-close to every source) beats it on raw cosine —
    verified against an exact integer replay of the same bucketing,
    quantization, k-NN sums, and margin arithmetic."""
    import math

    import numpy as np

    from adventureworkslakehousepoc_spark.operators.similarity import (
        bitext_margin_mining,
    )

    eps = 0.05
    d = 8
    def basis(i):
        v = np.full(d, eps)
        v[i] = 1.0
        return v / np.linalg.norm(v)

    s = [basis(i) for i in range(3)]
    # true targets: rotated enough that the hub beats them on raw cosine
    t = [
        (s[i] + 1.7 * basis(i + 3)) / np.linalg.norm(s[i] + 1.7 * basis(i + 3))
        for i in range(3)
    ]
    hub = (s[0] + s[1] + s[2]) / np.linalg.norm(s[0] + s[1] + s[2])
    rows = [(i, [float(x) for x in s[i]], 0) for i in range(3)]
    rows += [(10 + i, [float(x) for x in t[i]], 1) for i in range(3)]
    rows.append((99, [float(x) for x in hub], 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.src_id: r for r in bitext_margin_mining(df, k=4, bits=8).collect()}

    # exact replay (all vectors share bucket 255: every coordinate > 0)
    vecs = {i: np.array(v, dtype=np.float32).astype(np.float64) for i, v, _ in rows}
    def cos_u(a, b):
        c = float(vecs[a] @ vecs[b]) / (
            math.sqrt(float(vecs[a] @ vecs[a])) * math.sqrt(float(vecs[b] @ vecs[b]))
        )
        return math.floor(c * 1e6 + 0.5)

    srcs, tgts = [0, 1, 2], [10, 11, 12, 99]
    cu = {(a, b): cos_u(a, b) for a in srcs for b in tgts}
    sx = {a: (sum(sorted((cu[(a, b)] for b in tgts), reverse=True)[:4]), min(4, len(tgts))) for a in srcs}
    sy = {b: (sum(sorted((cu[(a, b)] for a in srcs), reverse=True)[:4]), min(4, len(srcs))) for b in tgts}
    expect = {}
    for a in srcs:
        best = None
        for b in tgts:
            num = cu[(a, b)] * 2 * sx[a][1] * sy[b][1] * 1000000
            den = max(sx[a][0] * sy[b][1] + sy[b][0] * sx[a][1], 1)
            m = num // den
            key = (m, -b)
            if best is None or key > best[0]:
                best = (key, b, m)
        expect[a] = (best[1], best[2], int(best[2] > 1050000))

    assert {
        a: (r.tgt_id, r.margin_micros, r.mined) for a, r in out.items()
    } == expect
    for i, a in enumerate(srcs):
        # the hub wins on raw cosine yet the margin mines the true target
        assert cu[(a, 99)] > cu[(a, 10 + i)]
        assert out[a].tgt_id == 10 + i


def test_substring_rewrite_removes_exactly_covered_words(spark):
    """The rewrite must remove exactly the coverage op's covered words:
    the first occurrence survives verbatim (hash of the original text), a
    verbatim copy empties entirely (md5 of ''), and an embedded shared
    window excises exactly its 10 words from the middle."""
    import hashlib

    from adventureworkslakehousepoc_spark.operators.dedup import (
        substring_dedup_coverage,
        substring_dedup_rewrite,
    )

    base = " ".join(f"w{i}" for i in range(12))
    pre = " ".join(f"x{i}" for i in range(10))
    post = " ".join(f"y{i}" for i in range(5))
    mid = pre + " " + " ".join(f"w{i}" for i in range(10)) + " " + post
    rows = [(0, base), (1, base), (2, mid)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in substring_dedup_rewrite(docs, n_words=10).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert out[0].n_removed_words == 0 and out[0].cleaned_hash == md5(base)
    assert out[1].n_kept_words == 0 and out[1].cleaned_hash == md5("")
    assert out[2].n_removed_words == 10
    assert out[2].cleaned_hash == md5(pre + " " + post)
    cov = {
        r.doc_id: r for r in substring_dedup_coverage(docs, n_words=10).collect()
    }
    for d in out:
        assert out[d].n_removed_words == cov[d].covered_dup_words


def test_split_leakage_audit_flags_cross_split_clusters_only(spark):
    """A template cluster straddling train/test leaks (exact cross-pair
    count); a same-split cluster and a singleton must not appear. Doc ids
    1/3/4 are train and 2 is test under the split42 hash."""
    from adventureworkslakehousepoc_spark.operators.quality import (
        split_leakage_audit,
    )

    tpl_a = "the quick brown fox jumps over the lazy"  # 8 words
    tpl_b = "entirely different opening words for the second group"
    rows = [
        (1, tpl_a + " dog tail one"),
        (2, tpl_a + " dog tail two"),  # test split -> leaks vs doc 1
        (3, tpl_b + " alpha"),
        (4, tpl_b + " beta"),  # both train -> no leak
        (6, "a unique single document prefix here entirely alone"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = split_leakage_audit(docs, prefix_words=8).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_docs == 2 and r.n_splits == 2
    assert (r.n_train, r.n_val, r.n_test) == (1, 0, 1)
    assert r.n_cross_pairs == 1 and r.representative_id == 1


def test_bloom_decontaminate_one_sided_and_mergeable(spark):
    """Bloom membership is one-sided (every exact hit IS a bloom hit,
    n_false_positives >= 0); a candidate doc sharing a 5-gram with a test
    doc must flag with an exact hit; a disjoint doc must have zero exact
    hits; and the bitmap built over two halves merges by cell-wise bit_or
    into exactly the whole-set bitmap (the shard/stream contract)."""
    from pyspark.sql import functions as F

    from adventureworkslakehousepoc_spark.operators.sketches import (
        bloom_decontaminate,
        bloom_words,
    )

    leak = "alpha beta gamma delta epsilon"
    rows = [
        (2, leak + " zeta eta theta"),  # test split (bucket 17)
        (1, "intro words here then " + leak),  # train, contains the 5-gram
        (3, " ".join(f"u{i}" for i in range(12))),  # train, disjoint
        (4, "tiny"),  # sub-n-gram, excluded
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in bloom_decontaminate(docs, n_words=5).collect()}
    assert set(out) == {1, 3}
    assert out[1].n_exact_hits >= 1 and out[1].flagged == 1
    for r in out.values():
        assert r.n_bloom_hits >= r.n_exact_hits  # one-sided
        assert r.n_false_positives == r.n_bloom_hits - r.n_exact_hits >= 0
    assert out[3].n_exact_hits == 0

    items = spark.createDataFrame(
        [(f"item-{i}",) for i in range(200)], ["g"]
    )
    whole = {
        r.word_idx: r.word for r in bloom_words(items, "g").collect()
    }
    h1 = bloom_words(items.filter("substring(g, 6, 10) < '1'"), "g")
    h2 = bloom_words(items.filter("substring(g, 6, 10) >= '1'"), "g")
    merged = {
        r.word_idx: r.word
        for r in h1.unionByName(h2)
        .groupBy("word_idx")
        .agg(F.expr("bit_or(word)").alias("word"))
        .collect()
    }
    assert merged == whole


def test_ivf_incremental_update_matches_python_replay(spark):
    """The mergeable (sum, count) centroid sketch must equal a pure-Python
    replay of the same quantized assignment + integer-micro mean
    arithmetic, a drifting append batch must flag its cell for retrain,
    and an untouched cell must report zero shift."""
    import math

    from adventureworkslakehousepoc_spark.operators.similarity import (
        ivf_incremental_update,
    )

    # base (vec_id % 5 != 0): two tight groups on +x and +y; append
    # (vec_id % 5 == 0): vec 5 pulls the +x cell hard toward +z, vec 10
    # lands squarely in +x. No append touches the +y cell.
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0, 0.0], 0),
        (3, [0.9, 0.1, 0.0, 0.0], 0),
        (4, [0.1, 0.9, 0.0, 0.0], 0),
        (6, [0.8, 0.0, 0.1, 0.0], 0),
        (5, [0.5, 0.0, 0.9, 0.0], 0),
        (10, [0.95, 0.05, 0.0, 0.0], 0),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {
        r.cell: r
        for r in ivf_incremental_update(
            df, n_centroids=2, append_mod=5, drift_threshold_micros=20000
        ).collect()
    }

    def q6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def cos(a, b):
        num = sum(float(x) * float(y) for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(float(x) ** 2 for x in a))
            * math.sqrt(sum(float(y) ** 2 for y in b))
        )

    import numpy as np

    vecs = {i: np.array(v, dtype=np.float32) for i, v, _ in rows}
    cents = [(1, vecs[1]), (2, vecs[2])]

    def assign(i):
        scores = [(q6(cos(vecs[i], c)), -cid) for cid, c in cents]
        best = max(scores)
        return -best[1]

    base_ids = [i for i in vecs if i % 5 != 0]
    app_ids = [i for i in vecs if i % 5 == 0]
    micros = {i: [math.floor(float(x) * 1e6 + 0.5) for x in vecs[i]] for i in vecs}

    def trunc_div(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    for cell in (1, 2):
        bs = [i for i in base_ids if assign(i) == cell]
        ap = [i for i in app_ids if assign(i) == cell]
        nb, na = len(bs), len(ap)
        shift = 0
        for d in range(4):
            sb = sum(micros[i][d] for i in bs)
            sa = sum(micros[i][d] for i in ap)
            shift = max(
                shift, abs(trunc_div(sb, nb) - trunc_div(sb + sa, nb + na))
            )
        r = out[cell]
        assert (r.n_base, r.n_append, r.n_total) == (nb, na, nb + na)
        assert r.linf_centroid_shift_micros == shift, (cell, shift)
        assert r.append_share_micros == na * 1000000 // (nb + na)
        assert r.needs_retrain == int(shift > 20000)
    # the planted geometry: +x cell drifted, +y cell untouched
    xcell, ycell = assign(3), assign(4)
    assert out[xcell].needs_retrain == 1
    assert out[ycell].n_append == 0
    assert out[ycell].linf_centroid_shift_micros == 0


def test_canonicalize_url_rules(spark):
    """Each canonicalization rule on a pointed fixture: case folding is
    scheme+host only, default ports are scheme-aware, tracking params
    drop while real params sort, and non-default ports / path case
    survive."""
    from adventureworkslakehousepoc_spark.operators.web import (
        canonicalize_url,
        url_dedup_clusters,
    )

    rows = [
        (1, "HTTPS://WWW.Example.COM:443/Path/?utm_source=x&b=2&a=1#frag"),
        (2, "https://example.com/Path?a=1&b=2"),
        (3, "http://example.com:80/"),
        (4, "http://example.com:8080/x"),
        (5, "https://shop.example.com/SALE/?gclid=abc&ref=tw"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    got = {
        r.doc_id: r.c
        for r in df.select("doc_id", canonicalize_url("url").alias("c")).collect()
    }
    assert got[1] == "https://example.com/Path?a=1&b=2"
    assert got[2] == got[1]  # variants collapse
    assert got[3] == "http://example.com"
    assert got[4] == "http://example.com:8080/x"  # non-default port kept
    assert got[5] == "https://shop.example.com/SALE"  # path case kept

    clusters = {
        r.canonical_url: r for r in url_dedup_clusters(df, "url").collect()
    }
    c = clusters["https://example.com/Path?a=1&b=2"]
    assert c.n_docs == 2 and c.n_raw_variants == 2 and c.representative_id == 1
    assert c.domain == "example.com"
    assert clusters["https://shop.example.com/SALE"].domain == "shop.example.com"


def test_tfidf_idf_zero_for_ubiquitous_terms(spark):
    """A term present in every document has idf = log10(1) = 0, so its score
    is 0 regardless of tf; rare terms outrank it."""
    from adventureworkslakehousepoc_spark.operators.text_analysis import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "common common common rare1"), (2, "common rare2"), (3, "common rare3")],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    top1 = {d: rs[0].term for d, rs in by_doc.items() if rs[0].rn == 1}
    assert top1 == {1: "rare1", 2: "rare2", 3: "rare3"}
    common = [r for r in out if r.term == "common"]
    assert all(r.score_micros == 0 for r in common)


def test_grouped_map_centroids_partition_invariant(spark, sf_dir):
    """applyInPandas group folds are integer micro-units — repartitioning the
    input must not change a single output value, and the plan must be Arrow
    grouped-map, not row-at-a-time Python."""
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.grouped_map import label_centroids

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    base = {r.label: r for r in label_centroids(emb).collect()}
    again = {r.label: r for r in label_centroids(emb.repartition(13, "vec_id")).collect()}
    assert set(base) == set(again)
    for k in base:
        assert base[k] == again[k]
    plan = label_centroids(emb)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan and "BatchEvalPython" not in plan


def test_int8_quantize_honors_vec_col_name(spark):
    """ADVICE r4: the recon/code F.expr strings must interpolate vec_col —
    a renamed embedding column has to produce identical codes and MSE."""
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.similarity import int8_quantize

    emb = load_tables(spark, "/root/testdata/sf0.001", ("embeddings",))["embeddings"]
    base = {r.vec_id: r for r in int8_quantize(emb).collect()}
    renamed = emb.withColumnRenamed("embedding", "vec data")  # needs backticks
    again = {
        r.vec_id: r for r in int8_quantize(renamed, vec_col="vec data").collect()
    }
    assert set(base) == set(again)
    for k in base:
        assert base[k].codes == again[k].codes
        assert base[k].recon_mse_micros == again[k].recon_mse_micros


def test_weak_label_votes_null_and_empty_text_vote_false(spark):
    """ADVICE r4: zero-length / NULL text must yield FALSE labelers and
    votes=0 (non-null), matching the oracle's COALESCE(..., FALSE)."""
    from adventureworkslakehousepoc_spark.operators.quality import weak_label_votes

    docs = spark.createDataFrame(
        [(1, ""), (2, None), (3, "the and of is a to in " + "word " * 30)],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in weak_label_votes(docs).collect()}
    # empty text: split('') = [''] in both engines → 1 distinct token of 1 →
    # l_repetition True; every other labeler False, keep False, nothing null
    r1 = rows[1]
    assert (r1.l_length, r1.l_stopword, r1.l_repetition, r1.l_alpha) == (
        False, False, True, False,
    )
    assert r1.votes == 1 and r1.keep is False
    # NULL text: all ratios null → all labelers coalesce to False
    r2 = rows[2]
    assert (r2.l_length, r2.l_stopword, r2.l_repetition, r2.l_alpha) == (
        False, False, False, False,
    )
    assert r2.votes == 0 and r2.keep is False
    assert rows[3].votes >= 3 and rows[3].keep is True


def test_stream_tmp_env_honored_after_import(monkeypatch, tmp_path):
    """ADVICE r4: AWLH_STREAM_TMP set after module import must be honored by
    scratch_dir (it used to be frozen in a module-level constant)."""
    from adventureworkslakehousepoc_spark.streaming import runner

    target = str(tmp_path / "late-env")
    monkeypatch.setenv("AWLH_STREAM_TMP", target)
    d = runner.scratch_dir("probe")
    assert d.startswith(target)


def test_reward_normalize_partition_invariant_and_degenerate(spark):
    """Advantages are exact-integer-derived → repartitioning cannot change
    them; n==1 and zero-variance groups emit advantage 0; per-group
    advantages sum to ~0 (z-score property, up to quantization)."""
    from adventureworkslakehousepoc_spark.operators.preference import (
        reward_group_normalize,
    )

    rows = [
        (1, 101, 1.0), (1, 102, 2.0), (1, 103, 3.0),   # symmetric group
        (2, 201, 7.25),                                  # singleton
        (3, 301, 5.0), (3, 302, 5.0),                    # zero variance
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "value"])
    out = {r.sample_id: r for r in reward_group_normalize(df).collect()}
    assert out[201].adv_micros == 0 and out[201].group_n == 1
    assert out[301].adv_micros == 0 and out[302].adv_micros == 0
    # symmetric group: z-scores are -sqrt(3/2), 0, +sqrt(3/2)
    assert out[102].adv_micros == 0
    assert out[101].adv_micros == -out[103].adv_micros
    assert abs(out[103].adv_micros - 1224745) <= 1  # sqrt(1.5) in micros
    again = {
        r.sample_id: r
        for r in reward_group_normalize(df.repartition(7, "event_id")).collect()
    }
    assert out.keys() == again.keys()
    for k in out:
        assert out[k] == again[k]


def test_dpo_pairs_disjoint_and_ordered(spark, sf_dir):
    """Chosen and rejected sides never share a document, margins are
    strictly positive, and ranks stay within pairs_per_group."""
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.preference import dpo_pairs

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    rows = dpo_pairs(docs).collect()
    assert rows
    for r in rows:
        assert r.chosen_id != r.rejected_id
        assert r.margin_u > 0
        assert 1 <= r.pair_rank <= 5
    chosen = {(r.group_id, r.chosen_id) for r in rows}
    rejected = {(r.group_id, r.rejected_id) for r in rows}
    assert not chosen & rejected


def test_char_entropy_uniform_and_constant(spark):
    """A string of one repeated char has entropy 0; a string with k equally
    frequent chars has entropy log10(k)."""
    import math

    from adventureworkslakehousepoc_spark.operators.text_analysis import (
        char_entropy_scores,
    )

    docs = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abcdabcdabcd")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in char_entropy_scores(docs).collect()}
    assert out[1].char_entropy10 == 0.0
    assert out[1].n_distinct_chars == 1
    assert abs(out[2].char_entropy10 - math.log10(4)) < 1e-5
    assert out[2].n_chars == 12


def test_mad_outliers_flag_only_extremes(spark):
    """One wild value among tight ones is flagged; the tight ones are not;
    and the threshold uses the robust MAD, not the mean."""
    from adventureworkslakehousepoc_spark.operators.quality import mad_outlier_flags

    rows = [(i, "s", 100 + i) for i in range(9)] + [(99, "s", 10_000)]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    out = {r.doc_id: r for r in mad_outlier_flags(docs).collect()}
    assert out[99].is_outlier is True
    assert all(not out[i].is_outlier for i in range(9))


def test_bpe_merge_induction_hand_computed(spark):
    """Tiny corpus where the merge sequence is checkable by hand: 'low' x4
    and 'lower' x2 → first merge (l,o) count 6, then (l~o,w) count 6; step 3
    ties (l~o~w,e) with (e,r) at count 2 and the lexicographic tie-break
    picks (e,r)."""
    from adventureworkslakehousepoc_spark.operators.text_analysis import (
        bpe_merge_steps,
    )

    docs = spark.createDataFrame(
        [(1, "low low low low lower lower")], ["doc_id", "text"]
    )
    rules = {r.step: r for r in bpe_merge_steps(docs, n_merges=3).collect()}
    assert (rules[1].merge_left, rules[1].merge_right, rules[1].pair_count) == ("l", "o", 6)
    assert (rules[2].merge_left, rules[2].merge_right, rules[2].pair_count) == ("l~o", "w", 6)
    assert rules[3].merged == "e~r" and rules[3].pair_count == 2


def test_span_rewrite_is_idempotent_and_conserves_spans(spark):
    """Rewriting keeps exactly one instance of every distinct span
    (first-occurrence), so Σ n_kept == #distinct spans, and docs that are
    exact duplicates of an earlier doc keep nothing."""
    from adventureworkslakehousepoc_spark.operators.dedup import span_dedup_rewrite

    rows = [
        (1, " ".join(f"a{i}" for i in range(40))),          # spans A0 A1
        (2, " ".join(f"a{i}" for i in range(40))),          # dup of doc 1
        (3, " ".join(f"a{i}" for i in range(20, 60))),      # A1 + fresh B
        (4, " ".join(f"c{i}" for i in range(25))),          # unique C
        (5, "short doc"),                                   # no full span
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in span_dedup_rewrite(docs).collect()}
    assert 5 not in out                      # < 20 words → no row
    assert out[1].n_kept == 2                # first occurrence keeps all
    assert out[2].n_kept == 0                # exact dup keeps nothing
    assert out[3].n_kept == 1                # A1 already owned by doc 1
    assert out[4].n_kept == 1
    assert sum(r.n_kept for r in out.values()) == 4  # 4 distinct spans
    # md5('') marks a fully-deduplicated doc
    assert out[2].cleaned_hash == "d41d8cd98f00b204e9800998ecf8427e"


def test_k_anonymity_flags_small_groups(spark):
    from adventureworkslakehousepoc_spark.operators.privacy import k_anonymity_audit

    rows = [(i, "US", "A", i % 3) for i in range(10)] + [(99, "FR", "B", 7)]
    df = spark.createDataFrame(rows, ["id", "country", "seg", "sens"])
    out = {(r.country, r.seg): r for r in
           k_anonymity_audit(df, ["country", "seg"], k=5, sensitive="sens").collect()}
    assert out[("US", "A")].group_size == 10 and not out[("US", "A")].at_risk
    assert out[("US", "A")].n_sensitive == 3
    assert out[("FR", "B")].group_size == 1 and out[("FR", "B")].at_risk


def test_time_decay_halves_per_step(spark):
    import datetime as dt

    from adventureworkslakehousepoc_spark.operators.temporal import time_decay_scores

    base = dt.datetime(2024, 1, 29, 12, 0, 0)
    rows = [
        (1, base, 10.0),                       # age 0  → 10.0
        (1, base - dt.timedelta(days=7), 10.0),  # 1 half-life → 5.0
        (1, base - dt.timedelta(days=14), 10.0),  # 2 → 2.5
        (2, base - dt.timedelta(days=6), 8.0),   # same step 0 → 8.0
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = {r.user_id: r for r in time_decay_scores(df).collect()}
    assert out[1].decayed_value_micros == 17_500_000
    assert out[1].n_events == 3 and out[1].newest_age_days == 0
    assert out[2].decayed_value_micros == 8_000_000


def test_dsir_weights_lean_toward_target_language(spark):
    """Docs made of target-only tokens must outscore docs of non-target
    tokens under the hashed-ngram importance ratio."""
    from pyspark.sql import functions as F

    from adventureworkslakehousepoc_spark.operators.importance import (
        dsir_importance_weights,
    )

    rows = (
        [(i, "the and of to in with for on", "en") for i in range(8)]
        + [(100 + i, "der und von zu im mit für auf", "de") for i in range(8)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.doc_id: r for r in
           dsir_importance_weights(docs, F.col("lang") == "en").collect()}
    assert all(out[i].lean_target for i in range(8))
    assert all(not out[100 + i].lean_target for i in range(8))
    assert out[0].dsir_score_micros > 0 > out[100].dsir_score_micros


def test_bigram_lm_common_transitions_score_lower(spark):
    """A document of corpus-frequent bigrams must have lower average NLL
    than one full of transitions seen only once."""
    from adventureworkslakehousepoc_spark.operators.importance import bigram_lm_scores

    common = [(i, "a b a b a b a b") for i in range(9)]
    rare = [(50, "q z x v k j w m")]
    docs = spark.createDataFrame(common + rare, ["doc_id", "text"])
    out = {r.doc_id: r for r in bigram_lm_scores(docs).collect()}
    assert out[0].avg_nll_micros < out[50].avg_nll_micros
    assert out[50].n_bigrams == 7
    # single-token / empty docs produce no row
    one = spark.createDataFrame([(1, "solo")], ["doc_id", "text"])
    assert bigram_lm_scores(one).count() == 0


def test_weighted_systematic_sample_exact_and_partition_invariant(spark):
    """Total multiplicity == n_picks exactly; doubling a row's weight cannot
    reduce its multiplicity; result identical under any input partitioning."""
    from adventureworkslakehousepoc_spark.operators.sampling import (
        weighted_systematic_sample,
    )

    rows = [(i, 10 + (i * 37) % 90) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "n_chars"])
    out = weighted_systematic_sample(df, "n_chars", n_picks=50).collect()
    assert sum(r.times_selected for r in out) == 50
    one = weighted_systematic_sample(df.repartition(1), "n_chars", n_picks=50)
    assert sorted(map(tuple, out)) == sorted(map(tuple, one.collect()))
    # a row heavier than W/n must be picked at least once
    heavy = spark.createDataFrame(rows + [(999, 100000)], ["doc_id", "n_chars"])
    hv = {r.doc_id: r.times_selected
          for r in weighted_systematic_sample(heavy, "n_chars", n_picks=50).collect()}
    assert hv[999] >= 40  # 100000 / (100000 + ~11000) of 50 probes


def test_weighted_systematic_sample_keys_near_int64_max(spark):
    """Keys near 2^62 (and the largest bigint) must not overflow the id
    bucketing: the sample equals a pure-Python systematic sample — rows in
    id order, probe count f(x) = ((2n·x div W) + 1) div 2, multiplicity
    f(cum_end) − f(cum_start)."""
    from adventureworkslakehousepoc_spark.operators.sampling import (
        weighted_systematic_sample,
    )

    rows = [((1 << 62) + i * 7919, 10 + (i * 37) % 90) for i in range(200)]
    rows.append(((1 << 63) - 1, 500))
    n, total = 50, sum(w for _, w in rows)

    def probes(x):
        return ((2 * n * x) // total + 1) // 2

    want, cum = set(), 0
    for doc_id, w in sorted(rows):
        if probes(cum + w) > probes(cum):
            want.add((doc_id, w, cum, probes(cum + w) - probes(cum)))
        cum += w
    df = spark.createDataFrame(rows, "doc_id bigint, n_chars bigint")
    got = {tuple(r) for r in weighted_systematic_sample(df, "n_chars", n_picks=n).collect()}
    assert got == want and sum(r[3] for r in got) == n


def test_pagerank_hub_outranks_leaves(spark):
    """On a star graph the center must outrank every leaf; ranks are exact
    integers and partition-invariant."""
    from adventureworkslakehousepoc_spark.operators.graph import pagerank

    star = [(0, i) for i in range(1, 9)]
    edges = spark.createDataFrame(star, ["doc_a", "doc_b"])
    pr = {r.node: r for r in pagerank(edges).collect()}
    assert pr[0].degree == 8
    assert all(pr[0].pagerank_micros > pr[i].pagerank_micros for i in range(1, 9))
    again = {r.node: r.pagerank_micros
             for r in pagerank(edges.repartition(7)).collect()}
    assert again == {k: v.pagerank_micros for k, v in pr.items()}


def test_prefix_filter_equals_naive_jaccard(spark, sf_dir):
    """The prefix-filtered join must return EXACTLY the naive all-pairs
    result (zero false negatives — the prefix-filter theorem), and its
    candidate count must be well below the full quadratic pair space."""
    from pyspark.sql import functions as F

    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
        word_shingles,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    got = {(r.doc_a, r.doc_b): round(r.jaccard, 9)
           for r in prefix_filter_jaccard_pairs(docs).collect()}
    sh = word_shingles(docs, n=3).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    naive = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("ni"))
        .join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select("doc_a", "doc_b",
                (F.col("ni").cast("double") / (F.col("za.n") + F.col("zb.n") - F.col("ni"))).alias("j"))
        .filter(F.col("j") >= 0.5)
    )
    want = {(r.doc_a, r.doc_b): round(r.j, 9) for r in naive.collect()}
    assert got == want and len(got) > 0


def test_psi_zero_for_identical_distributions_and_flags_shift(spark):
    """PSI must be ~0 when current and reference windows share a value
    distribution, and large when the current window shifts regime."""
    import datetime as dt

    from adventureworkslakehousepoc_spark.operators.quality import psi_value_drift

    base = dt.datetime(2024, 3, 1)
    stable, shifted = [], []
    for i in range(400):
        # same repeating value cycle in both windows → identical histograms
        day_offset = i % 20  # 0..19 days back: half inside the 7-day window
        v = float((i // 20) % 10)  # independent of day_offset
        stable.append((i, base - dt.timedelta(days=day_offset), "stable", v, ""))
        # 'shifted' events: history near 0..4, current window near 5..9
        sv = float((i // 20) % 5) if day_offset > 7 else float(5 + (i // 20) % 5)
        shifted.append((10000 + i, base - dt.timedelta(days=day_offset), "shifted", sv, ""))
    df = spark.createDataFrame(
        stable + shifted, ["event_id", "ts", "event_type", "value", "props"]
    )
    out = {r.event_type: r for r in psi_value_drift(df).collect()}
    assert not out["stable"].drifted
    assert out["shifted"].drifted
    assert out["shifted"].psi_micros > 5 * max(out["stable"].psi_micros, 1)


def test_distributed_quantiles_match_percentile_builtin(spark, sf_dir):
    """The rank-selection quantiles must equal Spark's own single-buffer
    exact `percentile` (ceil-rank discrete convention) on real data."""
    from pyspark.sql import functions as F

    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.aggregates import (
        distributed_exact_quantiles,
    )

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    got = {
        (r.l_returnflag, r.pct_num): r.value
        for r in distributed_exact_quantiles(li, "l_returnflag", "l_quantity").collect()
    }
    rows = (
        li.select("l_returnflag", F.col("l_quantity").cast("double").alias("v"))
        .groupBy("l_returnflag")
        .agg(F.sort_array(F.collect_list("v")).alias("vs"))
        .collect()
    )
    for r in rows:
        n = len(r.vs)
        for p in (25, 50, 90, 99):
            rank = (n * p + 99) // 100  # ceil(n·p/100), 1-based
            assert got[(r.l_returnflag, p)] == r.vs[rank - 1]


def test_vocab_coverage_closed_form(spark):
    """10×'a' 5×'b' 1×'c' across docs → top-1 covers 10/16, top-2 15/16,
    larger k saturates at 16/16 with only 3 types used."""
    from adventureworkslakehousepoc_spark.operators.text_analysis import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "a a a a a a a a a a"), (2, "b b b b b"), (3, "c")],
        "doc_id bigint, text string",
    )
    got = {r["top_k"]: r.asDict() for r in vocab_coverage(docs, ks=(1, 2, 100)).collect()}
    assert got[1]["covered_tokens"] == 10 and got[1]["n_types_used"] == 1
    assert got[1]["coverage_micros"] == 625_000
    assert got[2]["covered_tokens"] == 15
    assert got[100]["covered_tokens"] == 16 and got[100]["n_types_used"] == 3
    assert got[100]["coverage_micros"] == 1_000_000
    assert all(r["total_tokens"] == 16 for r in got.values())


def test_incremental_minhash_equals_restricted_full_pass(spark, sf_dir):
    """The incremental new×corpus pair set must equal the full-corpus LSH
    pass restricted to pairs with exactly one endpoint in the new slice —
    same signatures, same banding, same verify."""
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.dedup import (
        incremental_minhash_new_duplicates,
        minhash_near_duplicates,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    new = docs.filter((F.col("doc_id") % 10) == 0)
    corpus = docs.filter((F.col("doc_id") % 10) != 0)
    inc = {
        (r["new_id"], r["corpus_id"]): round(r["jaccard"], 9)
        for r in incremental_minhash_new_duplicates(corpus, new).collect()
    }
    full = minhash_near_duplicates(docs).collect()
    expect = {}
    for r in full:
        a_new, b_new = r["doc_a"] % 10 == 0, r["doc_b"] % 10 == 0
        if a_new != b_new:
            k = (r["doc_a"], r["doc_b"]) if a_new else (r["doc_b"], r["doc_a"])
            expect[k] = round(r["jaccard"], 9)
    assert inc == expect and len(inc) > 0


def test_incremental_minhash_keeps_overlapping_ids_apart(spark):
    """A doc_id present in both the batch and the corpus names two different
    documents: each pair end must read its own side's shingle set. With
    corpus {1: T, 2: T} and batch {2: T}, the answer is new 2 against
    corpus 1 and corpus 2, once each — not one row per merged set."""
    from adventureworkslakehousepoc_spark.operators.dedup import (
        incremental_minhash_new_duplicates,
    )

    t = " ".join(f"w{i}" for i in range(12))
    corpus = spark.createDataFrame([(1, t), (2, t)], "doc_id bigint, text string")
    new = spark.createDataFrame([(2, t)], "doc_id bigint, text string")
    got = sorted(
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in incremental_minhash_new_duplicates(corpus, new).collect()
    )
    assert got == [(2, 1, 1.0), (2, 2, 1.0)]


def test_winsorize_equal_numerator_fractions_no_duplication(spark):
    """Fractions with equal numerators but different denominators — (1,4)
    and (1,2) — must select distinct bounds rows: matching on pct_num alone
    duplicated both bounds per group and doubled every count/sum after the
    join-back."""
    from adventureworkslakehousepoc_spark.operators.aggregates import winsorize_stats

    rows = [("g", float(v)) for v in range(1, 101)]
    df = spark.createDataFrame(rows, "grp string, price double")
    out = winsorize_stats(df, "grp", "price", lo_frac=(1, 4), hi_frac=(1, 2)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_rows"] == 100
    assert r["lo_cents"] == 2500  # p25 of 1..100 = 25.00
    assert r["hi_cents"] == 5000  # p50 = 50.00
    assert r["n_clipped_low"] == 24 and r["n_clipped_high"] == 50
    # sum = 24·25 + (25..50) + 50·50 = 600 + 975 + 2500
    assert r["winsorized_sum_cents"] == (600 + 975 + 2500) * 100

    import pytest as _pytest

    with _pytest.raises(ValueError):
        winsorize_stats(df, "grp", "price", lo_frac=(1, 2), hi_frac=(1, 2))


def test_exact_ranks_and_quantiles_exclude_nulls(spark):
    """NULL values must carry no rank: the old floor(NULL) path landed them
    in the top bucket, inflated n, and interleaved bogus ranks below the
    top bucket's real values."""
    from adventureworkslakehousepoc_spark.operators.aggregates import (
        distributed_exact_quantiles,
        grouped_exact_ranks,
    )

    rows = [("g", i, v) for i, v in enumerate([10.0, None, 20.0, 30.0, None, 40.0])]
    df = spark.createDataFrame(rows, "grp string, rid bigint, v double")
    ranked = grouped_exact_ranks(df, "grp", "v", "rid").collect()
    assert len(ranked) == 4  # null rows dropped
    by_rank = {r["rank"]: r["v"] for r in ranked}
    assert by_rank == {1: 10.0, 2: 20.0, 3: 30.0, 4: 40.0}
    assert all(r["n"] == 4 for r in ranked)

    q = distributed_exact_quantiles(df, "grp", "v", fractions=((50, 100),)).collect()
    assert len(q) == 1 and q[0]["n"] == 4 and q[0]["value"] == 20.0


def test_quantile_buckets_balanced_on_heavy_tail(spark):
    """Skew hardening: on a heavy-tailed (exponentially spaced) column,
    equal-width [min,max] buckets collapse — nearly every row lands in
    bucket 0 and one task sorts ~n rows. The percentile-seeded boundaries
    must keep the largest bucket within a few× of the ideal n/n_buckets."""
    from adventureworkslakehousepoc_spark.operators.aggregates import (
        _quantile_seeded_buckets,
        distributed_exact_quantiles,
    )
    from pyspark.sql import functions as F

    n, n_buckets = 8000, 64
    df = spark.range(n).select(
        F.lit("g").alias("g"), F.pow(F.lit(2.0), (F.col("id") % 40)).alias("v")
    )
    sizes = (
        _quantile_seeded_buckets(df, n_buckets)
        .groupBy("b").count().collect()
    )
    biggest = max(r["count"] for r in sizes)
    assert biggest <= 4 * (n // n_buckets), f"bucket collapse: max={biggest}"
    # and the exact quantiles on the same heavy-tailed data stay exact
    got = {r["pct_num"]: r["value"]
           for r in distributed_exact_quantiles(df, "g", "v").collect()}
    vals = sorted(2.0 ** (i % 40) for i in range(n))
    for p in (25, 50, 90, 99):
        assert got[p] == vals[(n * p + 99) // 100 - 1]


def test_containment_exact_finds_quote_inclusion(spark):
    """A short doc fully quoted inside a long doc has Jaccard ~|A|/|B|
    (tiny) but containment 1.0 — the exact prefix path must find it, and
    identical copies must expand through the family collapse."""
    from adventureworkslakehousepoc_spark.operators.dedup import containment_prefix_pairs

    quote = " ".join(f"w{i}" for i in range(10))
    long_doc = quote + " " + " ".join(f"x{i}" for i in range(200))
    other = " ".join(f"y{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, other), (4, quote)],  # 4 = exact copy of 1
        "doc_id bigint, text string",
    )
    rows = {(r["doc_a"], r["doc_b"]): r for r in containment_prefix_pairs(docs).collect()}
    assert (1, 2) in rows and rows[(1, 2)]["containment_a_micros"] == 1_000_000
    assert rows[(1, 2)]["n_a"] == 8  # 10 words -> 8 distinct 3-shingles
    assert (1, 4) in rows and rows[(1, 4)]["n_inter"] == 8  # intra-family
    assert (2, 4) in rows  # copy inherits the rep's verdict
    assert not any(3 in p for p in rows)


def test_containment_exact_orients_counts_with_member_ids(spark):
    """Family expansion must swap n_a/n_b (and the micros) along with the
    ids: the representative pair (1, 2) has the quote as doc_a, but its
    copy 4 expands to member pair (2, 4), where the quote is doc_b."""
    from adventureworkslakehousepoc_spark.operators.dedup import containment_prefix_pairs

    quote = " ".join(f"w{i}" for i in range(10))
    long_doc = quote + " " + " ".join(f"x{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, quote), (2, long_doc), (4, quote)], "doc_id bigint, text string"
    )
    got = sorted(tuple(r) for r in containment_prefix_pairs(docs).collect())
    assert got == [
        (1, 2, 8, 8, 208, 1_000_000, 38_461),
        (1, 4, 8, 8, 8, 1_000_000, 1_000_000),
        (2, 4, 8, 208, 8, 38_461, 1_000_000),
    ]


def test_dedup_operators_cache_is_bounded(spark, sf_dir):
    """Leak contract: the lazy operators (MinHash/SimHash/ngram) and the
    set-index joins (prefix/containment, which return eager checkpoints but
    keep their shared set index) hold ONE-slot caches that are swapped out
    on the next call — so neither a repeat round on the same input nor a
    call on a different input may grow the cache."""
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.dedup import (
        containment_prefix_pairs,
        minhash_near_duplicates,
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
        simhash_near_duplicates,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    ops = (
        prefix_filter_jaccard_pairs,
        containment_prefix_pairs,
        minhash_near_duplicates,
        simhash_near_duplicates,
        ngram_jaccard_pairs,
    )

    def persistent_rdds_after(k):
        for op in ops:
            op(docs.filter(F.col("doc_id") % k == 0)).count()
        # eager results are local checkpoints, which stay registered until
        # the JVM collects them; the caches are the other persisted RDDs
        rdds = spark._jsc.sc().getPersistentRDDs().values().iterator()
        n = 0
        while rdds.hasNext():
            n += not rdds.next().isCheckpointed()
        return n

    n_rdds_round1 = persistent_rdds_after(7)
    n_rdds_round2 = persistent_rdds_after(7)
    assert n_rdds_round2 <= n_rdds_round1, (
        f"dedup caches grew across calls: {n_rdds_round1} -> {n_rdds_round2}"
    )
    n_rdds_other = persistent_rdds_after(5)
    assert n_rdds_other <= n_rdds_round1, (
        f"dedup caches grew on another input: {n_rdds_round1} -> {n_rdds_other}"
    )


def test_set_index_is_shared_by_containment_and_prefix(spark, sf_dir):
    """Containment then prefix then MinHash calibration over the same docs:
    the later joins read the family index the containment join cached, so
    none of their Spark executions reads a parquet file, and the prefix
    pairs still equal the naive join."""
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.dedup import (
        containment_prefix_pairs,
        minhash_estimate_calibration,
        prefix_filter_jaccard_pairs,
        word_shingles,
    )
    from adventureworkslakehousepoc_spark.plans.audit import StatusWindow, extended_plans

    def parquet_files_read(window, runs):
        return sum(window.node_metric(e.id, "Scan parquet", "number of files read") for e in runs)

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    small = docs.filter(F.col("doc_id") % 3 == 0)
    with extended_plans(spark):
        containment_prefix_pairs(small)
        window = StatusWindow(spark)
        pairs = prefix_filter_jaccard_pairs(small)
        ran = window.executions()
        calibration = StatusWindow(spark)
        minhash_estimate_calibration(small)
        ran_calibration = calibration.executions()
    # the last execution is the eager checkpoint of the verified pairs
    assert ran and "InMemoryTableScan" in ran[-1].physical
    assert parquet_files_read(window, ran) == 0, "the prefix join re-read its input"
    assert ran_calibration and parquet_files_read(window, ran_calibration) == 0, (
        "the calibration re-read its input"
    )

    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    sh = {}
    for r in word_shingles(small).collect():
        sh.setdefault(r["doc_id"], set()).add(r["sh"])
    expect = {}
    for a in sh:
        for b in sh:
            if a < b:
                inter = len(sh[a] & sh[b])
                j = inter / (len(sh[a]) + len(sh[b]) - inter)
                if j >= 0.5:
                    expect[(a, b)] = j
    assert got == expect


def test_fresh_cache_serves_no_stale_input(spark, sf_dir, tmp_path):
    """A table rewritten in place keeps its plan, so a plan-equal cached
    frame must still be dropped: the second call returns the new file's
    pairs, none of the old ids."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.dedup import (
        containment_prefix_pairs,
        minhash_near_duplicates,
    )

    src = pq.read_table(f"{sf_dir}/documents.parquet")
    i = src.schema.get_field_index("doc_id")

    def ids_after_rewrite(op, offset):
        shifted = src.set_column(i, "doc_id", pc.add(src["doc_id"], offset))
        pq.write_table(shifted, tmp_path / "documents.parquet")
        docs = load_tables(spark, str(tmp_path), ("documents",))["documents"]
        return {i for r in op(docs).collect() for i in (r["doc_a"], r["doc_b"])}

    for op in (minhash_near_duplicates, containment_prefix_pairs):
        assert ids_after_rewrite(op, 1_000_000)
        got = ids_after_rewrite(op, 2_000_000)
        assert got and min(got) >= 2_000_000, f"{op.__name__} served stale ids"


def test_fresh_cache_recaches_a_slot_dropped_outside_it(spark, sf_dir):
    """After ``clearCache()`` the slot's frame is no longer cached; the next
    call on the same input must cache it again instead of serving it
    uncached, which would re-run the corpus pass on every later call."""
    from pyspark import StorageLevel

    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.dedup import (
        _LAST_CACHED,
        minhash_near_duplicates,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    minhash_near_duplicates(docs).count()
    spark.catalog.clearCache()
    minhash_near_duplicates(docs).count()
    minhash_near_duplicates(docs).count()
    assert _LAST_CACHED["set_signatures"][0].storageLevel != StorageLevel.NONE


def _signature_aggregate_runs(spark, df) -> int:
    """Partial MinHash signature aggregates in the executed plan of a
    collected frame, each cached plan counted once however many scans read
    it: the number of times one execution computes the signatures."""
    jvm = spark._jvm
    seen, runs, stack = set(), 0, [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif name == "InMemoryTableScanExec":
            builder = node.relation().cacheBuilder()
            if jvm.System.identityHashCode(builder) not in seen:
                seen.add(jvm.System.identityHashCode(builder))
                stack.append(builder.cachedPlan())
        else:
            if name.endswith("AggregateExec"):
                runs += "partial_min(substring(md5" in node.aggregateExpressions().toString()
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
    return runs


def test_minhash_signatures_aggregate_once_per_call(spark, sf_dir, monkeypatch):
    """The LSH band self-join reads the signature frame on both sides and
    the verify once per pair end; every MinHash caller holds it in one
    cached slot, so a call computes the 16-lane aggregate once, not once
    per reference. The calibration report is returned checkpointed, so its
    count is read off the frame it checkpointed."""
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators import dedup
    from adventureworkslakehousepoc_spark.queries.extensions import dedup_containment_pairs_q

    spark.catalog.clearCache()
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    checkpointed, checkpoint = [], type(docs).localCheckpoint
    monkeypatch.setattr(
        type(docs),
        "localCheckpoint",
        lambda df, *args, **kw: checkpointed.append(df) or checkpoint(df, *args, **kw),
    )
    for df in (dedup.minhash_near_duplicates(docs), dedup_containment_pairs_q(spark, sf_dir)):
        assert df.collect()
        assert _signature_aggregate_runs(spark, df) == 1
    assert dedup.minhash_estimate_calibration(docs).collect()
    assert _signature_aggregate_runs(spark, checkpointed[-1]) == 1


def test_winsorize_excludes_nulls(spark):
    """NULL values carry no rank in the bounds computation, so they must
    not count in the join-back either: greatest/least skip NULLs, and an
    unfiltered NULL v clipped to hi_v — adding hi_cents to the sum and a
    phantom row to n_rows the quantiles never saw."""
    from adventureworkslakehousepoc_spark.operators.aggregates import winsorize_stats

    rows = [("g", v) for v in [10.0, 20.0, 30.0, 40.0, None, None]]
    df = spark.createDataFrame(rows, "grp string, price double")
    out = winsorize_stats(df, "grp", "price", lo_frac=(25, 100), hi_frac=(75, 100)).collect()
    assert len(out) == 1
    r = out[0]
    # ⌈4·25/100⌉ = 1 → lo = 10; ⌈4·75/100⌉ = 3 → hi = 30
    assert r["n_rows"] == 4, "NULL rows must not count"
    assert r["lo_cents"] == 1000 and r["hi_cents"] == 3000
    assert r["n_clipped_low"] == 0 and r["n_clipped_high"] == 1
    assert r["winsorized_sum_cents"] == (10 + 20 + 30 + 30) * 100


def test_quantile_buckets_single_bucket_degrades_gracefully(spark):
    """n_buckets=1 used to build a CASE chain referencing a _q1 column that
    was never created (and passed an empty fraction list to
    percentile_approx); it must degrade to one bucket like the old
    equal-width code did — and the exact quantiles must still be exact."""
    from pyspark.sql import functions as F

    from adventureworkslakehousepoc_spark.operators.aggregates import (
        _quantile_seeded_buckets,
        distributed_exact_quantiles,
    )

    df = spark.range(100).select(
        F.lit("g").alias("g"), F.col("id").cast("double").alias("v")
    )
    rows = _quantile_seeded_buckets(df, 1).collect()
    assert len(rows) == 100 and all(r["b"] == 0 for r in rows)
    got = {r["pct_num"]: r["value"]
           for r in distributed_exact_quantiles(df, "g", "v", n_buckets=1).collect()}
    vals = sorted(float(i) for i in range(100))
    for p in (25, 50, 90, 99):
        assert got[p] == vals[(100 * p + 99) // 100 - 1]


def test_containment_threshold_exact_on_boundary_rational(spark):
    """The threshold compare must be exact for ANY rational t, not just
    ones where t_num·10^6 divides evenly: at t=1/3, a pair with containment
    exactly 1/3 was rejected by the old floor-to-micros filter
    (floor(10^6/3)·3 = 999999 < 10^6)."""
    from adventureworkslakehousepoc_spark.operators.dedup import (
        containment_prefix_pairs,
    )

    # A: "a b c d e" → 3 shingles {abc,bcd,cde}; B shares exactly {a b c}
    # prefix → n_inter=1, n_a=3 → containment_a = 1/3 exactly; B is long
    # enough that containment_b < 1/3
    doc_a = "a b c d e"
    doc_b = "a b c " + " ".join(f"q{i}" for i in range(8))
    doc_c = " ".join(f"z{i}" for i in range(6))  # no overlap with anything
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c)], "doc_id bigint, text string"
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in containment_prefix_pairs(docs, t_num=1, t_den=3).collect()
    }
    assert (1, 2) in rows, "containment exactly t must pass the filter"
    r = rows[(1, 2)]
    assert r["n_inter"] == 1 and r["n_a"] == 3
    assert all(3 not in k for k in rows), "disjoint doc must not pair"


def test_bm25_hand_computed_single_doc_corpus(spark):
    """BM25 on a 3-doc corpus where one query term appears in exactly one
    doc: contribution must equal the hand-derived closed form."""
    import math

    from adventureworkslakehousepoc_spark.operators.text_analysis import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "spark join spark"),       # dl=3, tf(spark)=2, tf(join)=1
            (2, "table scan filter sort"), # dl=4, no hits
            (3, "join order"),             # dl=2, tf(join)=1
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in bm25_scores(docs, ("spark", "join"), k1=1.2, b=0.75).collect()
    }
    assert set(out) == {1, 3}
    assert out[1]["n_matched_terms"] == 2 and out[3]["n_matched_terms"] == 1

    n, avgdl = 3, 9.0 / 3
    def idf(df_):
        return math.log((n - df_ + 0.5) / (df_ + 0.5) + 1.0)
    def contrib(tf, dl, df_):
        return math.floor(
            idf(df_) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6 + 0.5
        )
    assert out[1]["bm25_micros"] == contrib(2, 3, 1) + contrib(1, 3, 2)
    assert out[3]["bm25_micros"] == contrib(1, 2, 2)


def test_gopher_rules_each_rule_fires_independently(spark):
    from adventureworkslakehousepoc_spark.operators.text_analysis import (
        gopher_quality_flags,
    )

    good = "the of data " + " ".join(["word"] * 60)  # 63 words, all rules pass
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "the of short"),                        # word-count rule fails
            (3, "the of " + " ".join(["ab"] * 60)),     # mean word len < 3
            (4, "the of " + " ".join(["####"] * 60)),   # symbol + alpha fail
            (5, " ".join(["word"] * 60)),               # no stop words
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_quality_flags(docs).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["r_word_count"] is False
    assert out[3]["keep"] is False and out[3]["r_mean_word_len"] is False
    assert out[4]["r_symbol_ratio"] is False and out[4]["r_alpha_words"] is False
    assert out[5]["keep"] is False and out[5]["r_stop_words"] is False
    # ellipsis counting: 2 literal '...' runs over 60+2 words is under the
    # 0.1 cap, 62 words * 0.1 = 6.2 > 2 hits
    assert out[1]["symbol_ratio"] == 0.0


def test_band_selectivity_curve_shape(spark):
    """p(s) is monotone in s, ~0 at s=0.02, ~1 at s=1.0, and crosses 50%
    near the (1/b)^(1/r) threshold (~0.35 for b=8, r=2)."""
    from adventureworkslakehousepoc_spark.operators.dedup import band_selectivity_curve

    rows = band_selectivity_curve(spark, bands=8, rows_per_band=2, step_pct=2).collect()
    assert len(rows) == 50
    by_s = {r["s_pct"]: r["p_collide_micros"] for r in rows}
    assert by_s[100] == 1_000_000
    assert by_s[2] < 4000
    vals = [by_s[s] for s in sorted(by_s)]
    assert vals == sorted(vals)
    crossing = min(s for s in sorted(by_s) if by_s[s] >= 500_000)
    assert 30 <= crossing <= 40


def test_minhash_calibration_identical_docs_estimate_exact_one(spark):
    """Two identical docs: every lane matches, est == exact == 1.0; a
    planted near-dup pair appears with exact <= est bounds sane."""
    from adventureworkslakehousepoc_spark.operators.dedup import (
        minhash_estimate_calibration,
    )

    base = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " extra tail words here")],
        "doc_id long, text string",
    )
    rows = {(r["doc_a"], r["doc_b"]): r for r in minhash_estimate_calibration(docs).collect()}
    assert (1, 2) in rows
    r12 = rows[(1, 2)]
    assert r12["n_matching_lanes"] == 16
    assert r12["est_jaccard_micros"] == 1_000_000
    assert r12["exact_jaccard_micros"] == 1_000_000
    assert r12["err_micros"] == 0
    for r in rows.values():
        assert 0 <= r["n_matching_lanes"] <= 16
        assert r["err_micros"] == r["est_jaccard_micros"] - r["exact_jaccard_micros"]


def test_perplexity_buckets_exact_tertiles_per_lang(spark):
    """9 docs in one language split 3/3/3; rare-word docs land in tail."""
    from adventureworkslakehousepoc_spark.operators.text_analysis import (
        perplexity_buckets,
    )

    common = "the the the the"
    rows = []
    for i in range(6):
        rows.append((i, common, "en"))          # all-common → head-ish
    rows.append((6, "rare1 rare2 rare3 rare4", "en"))
    rows.append((7, "rare5 rare6 rare7 rare8", "en"))
    rows.append((8, "rare9 rareA rareB rareC", "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = perplexity_buckets(docs).collect()
    assert len(out) == 9
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r["doc_id"])
    assert sorted(len(v) for v in by_bucket.values()) == [3, 3, 3]
    # the three all-rare docs score strictly higher neglog → tail
    assert sorted(by_bucket["tail"]) == [6, 7, 8]


def test_minhash_calibration_equals_naive_reference(spark):
    """Family collapse must be invisible: on a corpus with planted duplicate
    families, the report equals a pure-Python naive per-pair computation
    (md5-lane signatures, band collisions, exact set Jaccard)."""
    import hashlib
    from itertools import combinations

    from adventureworkslakehousepoc_spark.operators.dedup import (
        minhash_estimate_calibration,
    )

    texts = {
        1: "a b c d e f g h i j",
        2: "a b c d e f g h i j",          # exact dup of 1
        3: "a b c d e f g h i j",          # exact dup of 1
        4: "a b c d e f g x y z",          # near dup of family {1,2,3}
        5: "p q r s t u v w",              # unrelated
        6: "p q r s t u v w",              # exact dup of 5
        7: "m n o",                        # single-shingle doc
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    def shingle_set(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    def signature(ss):
        lanes = []
        for s in range(16):
            digs = (
                hashlib.md5(f"{s // 4}:{sh}".encode()).hexdigest() for sh in ss
            )
            lanes.append(min(d[8 * (s % 4) : 8 * (s % 4) + 8] for d in digs))
        return lanes

    sets = {i: shingle_set(t) for i, t in texts.items()}
    sigs = {i: signature(ss) for i, ss in sets.items() if ss}
    expected = {}
    for a, b in combinations(sorted(sigs), 2):
        banded = any(
            sigs[a][2 * j] + sigs[a][2 * j + 1] == sigs[b][2 * j] + sigs[b][2 * j + 1]
            for j in range(8)
        )
        if not banded:
            continue
        n_match = sum(1 for s in range(16) if sigs[a][s] == sigs[b][s])
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        expected[(a, b)] = (
            n_match,
            n_match * 1_000_000 // 16,
            inter * 1_000_000 // union,
        )

    got = {
        (r["doc_a"], r["doc_b"]): (
            r["n_matching_lanes"],
            r["est_jaccard_micros"],
            r["exact_jaccard_micros"],
        )
        for r in minhash_estimate_calibration(docs).collect()
    }
    assert got == expected
    # sanity: the corpus actually exercises both expansion paths
    assert expected[(1, 2)][2] == 1_000_000  # intra-family
    assert any(v[2] < 1_000_000 for v in expected.values())  # cross-family


def test_cross_source_overlap_counts_shared_distinct_contents(spark):
    from adventureworkslakehousepoc_spark.operators.profiling import (
        cross_source_overlap,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha", "s1"),
            (2, "alpha", "s1"),   # duplicate WITHIN s1 — counts once
            (3, "alpha", "s2"),   # shared with s1
            (4, "beta", "s2"),
            (5, "beta", "s3"),    # shared s2/s3
            (6, "gamma", "s3"),
        ],
        "doc_id long, text string, source string",
    )
    out = {(r["source_a"], r["source_b"]): r for r in cross_source_overlap(docs).collect()}
    assert set(out) == {("s1", "s2"), ("s2", "s3")}
    r = out[("s1", "s2")]
    assert (r["n_shared"], r["n_a"], r["n_b"]) == (1, 1, 2)
    assert r["overlap_a_micros"] == 1_000_000  # s1 entirely contained in s2
    assert r["overlap_b_micros"] == 500_000
    r = out[("s2", "s3")]
    assert (r["n_shared"], r["n_a"], r["n_b"]) == (1, 2, 2)


def test_novelty_rates_unique_vs_duplicated_shingles(spark):
    from adventureworkslakehousepoc_spark.operators.text_analysis import novelty_rates

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),        # shingles {a b c, b c d}
            (2, "a b c x"),        # shares 'a b c' with doc 1
            (3, "p q r s t"),      # fully novel
            (4, "xy"),             # < 3 words → no row
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in novelty_rates(docs).collect()}
    assert set(out) == {1, 2, 3}
    assert (out[1]["n_shingles"], out[1]["n_unique"]) == (2, 1)
    assert out[1]["novelty_micros"] == 500_000
    assert (out[2]["n_shingles"], out[2]["n_unique"]) == (2, 1)
    assert out[3]["novelty_micros"] == 1_000_000


def test_perplexity_buckets_partition_invariant(spark, sf_dir):
    """Bucket assignment is a pure function of the corpus — repartitioning
    must not move any document (guards the bucketed-rank machinery against
    partition-order leakage)."""
    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.text_analysis import (
        perplexity_buckets,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    a = {r["doc_id"]: (r["bucket"], r["rank"]) for r in perplexity_buckets(docs).collect()}
    b = {
        r["doc_id"]: (r["bucket"], r["rank"])
        for r in perplexity_buckets(docs.repartition(13)).collect()
    }
    assert a == b


# ---------------------------------------------------------------------------
# Round 8: preference family (Bradley-Terry, length debias, kappa, soft
# dedup, fertility)
# ---------------------------------------------------------------------------


def _bt_naive(rows, iterations=3):
    """Pure-Python replay of bradley_terry_strengths' exact integer
    arithmetic: (strengths, wins, games) keyed by item."""
    import math
    from collections import defaultdict

    tot = defaultdict(int)
    for g, item, v in rows:
        tot[(g, item)] += math.floor(float(v) * 1000 + 0.5)
    by_g = defaultdict(dict)
    for (g, item), vu in tot.items():
        by_g[g][item] = vu
    mat = defaultdict(lambda: [0, 0])
    for d in by_g.values():
        items = sorted(d)
        for x in range(len(items)):
            for y in range(x + 1, len(items)):
                i, j = items[x], items[y]
                if d[i] == d[j]:
                    continue
                m = mat[(i, j)]
                m[0] += 1
                if d[i] > d[j]:
                    m[1] += 1
    wins, games, sym = defaultdict(int), defaultdict(int), {}
    for (i, j), (n, w_i) in mat.items():
        wins[i] += w_i
        wins[j] += n - w_i
        games[i] += n
        games[j] += n
        sym[(i, j)] = n
        sym[(j, i)] = n
    items = sorted(wins)
    n_items = len(items)
    s = {i: 1000000 for i in items}
    for _ in range(iterations):
        den = {i: 0 for i in items}
        for (i, j), n in sym.items():
            den[i] += (n * 10**12) // max(s[i] + s[j], 1)
        raw = {i: (wins[i] * 10**12) // max(den[i], 1) for i in items}
        total = sum(raw.values())
        s = {i: (raw[i] * n_items * 1000000) // max(total, 1) for i in items}
    return s, dict(wins), dict(games)


def test_bradley_terry_equals_naive_reference(spark):
    """The distributed MM fit must reproduce a pure-Python replay of the
    same integer arithmetic bit-for-bit, including a zero-win item."""
    rows = [
        # judge 1: a > b > c   judge 2: a > b, b > c   judge 3: b > a
        (1, "a", 9.0), (1, "b", 5.0), (1, "c", 1.0),
        (2, "a", 7.5), (2, "b", 3.25), (2, "c", 0.5),
        (3, "a", 2.0), (3, "b", 6.0),
        # judge 4: ties everywhere -> discarded
        (4, "a", 4.0), (4, "b", 4.0), (4, "c", 4.0),
        # item d loses every decided game
        (1, "d", 0.25), (2, "d", 0.125),
    ]
    from adventureworkslakehousepoc_spark.operators.preference import (
        bradley_terry_strengths,
    )

    df = spark.createDataFrame(rows, "user_id int, event_type string, value double")
    got = {
        r["item"]: (r["strength_micros"], r["n_wins"], r["n_games"], r["rank"])
        for r in bradley_terry_strengths(df).collect()
    }
    s, wins, games = _bt_naive(rows)
    assert set(got) == set(s)
    order = sorted(s, key=lambda i: (-s[i], i))
    for item in s:
        assert got[item] == (
            s[item],
            wins[item],
            games[item],
            order.index(item) + 1,
        ), item
    # the all-ties judge contributed nothing; d lost every decided game
    assert wins["d"] == 0 and got["d"][0] < got["a"][0]


def test_reward_length_debias_degenerate_groups(spark):
    """n == 1 and zero-length-variance groups take the slope-0 fallback:
    residual is the exactly-centered score (0 for the singleton)."""
    from adventureworkslakehousepoc_spark.operators.preference import (
        reward_length_debias,
    )

    rows = [
        ("solo", 1, "alpha beta gamma"),
        # same length (3 words) everywhere -> den == 0 -> slope 0
        ("flat", 2, "a a a"),
        ("flat", 3, "x y z"),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in reward_length_debias(df).collect()}
    assert got[1]["resid_micros"] == 0 and got[1]["slope_milli_u_per_word"] == 0
    # flat group: scores 333333 (a a a -> 1/3) and 1000000 -> mean 666666.5
    assert got[2]["slope_milli_u_per_word"] == 0
    assert got[2]["resid_micros"] + got[3]["resid_micros"] in (0, 1)  # floor(x+.5) pair
    assert got[3]["resid_micros"] > 0 > got[2]["resid_micros"]


def test_dpo_debiased_overrules_length_bias(spark):
    """A verbose doc that wins on raw score but owes it to length loses the
    debiased ranking — the emitted pair flags raw disagreement."""
    from adventureworkslakehousepoc_spark.operators.preference import (
        dpo_pairs_debiased,
    )

    # strong positive length->score trend; doc 30 sits far ABOVE the trend
    # at the short end, doc 10 far below it at the long end
    rows = []
    rows.append(("s", 10, " ".join(f"w{i % 12}" for i in range(40))))  # long, low distinct
    rows.append(("s", 20, " ".join(f"v{i}" for i in range(36))))       # long, high distinct
    rows.append(("s", 30, "q r s t"))                                   # short, all distinct
    rows.append(("s", 40, "m m n n"))                                   # short, half distinct
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    pairs = dpo_pairs_debiased(df, pairs_per_group=1).collect()
    assert len(pairs) == 1
    p = pairs[0].asDict()
    assert p["chosen_resid_u"] > p["rejected_resid_u"]
    assert p["margin_u"] == p["chosen_resid_u"] - p["rejected_resid_u"]


def test_labeler_agreement_kappa_matches_python_recompute(spark, sf_dir):
    """The one-scan confusion aggregate must equal a row-by-row Python
    recomputation of Cohen's kappa over the collected vote table."""
    import math
    from collections import Counter

    from adventureworkslakehousepoc_spark.catalog import load_tables
    from adventureworkslakehousepoc_spark.operators.quality import (
        labeler_agreement_kappa,
        weak_label_votes,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    votes = weak_label_votes(docs).collect()
    labels = ["l_length", "l_stopword", "l_repetition", "l_alpha"]
    got = {
        (r["labeler_a"], r["labeler_b"]): r.asDict()
        for r in labeler_agreement_kappa(docs).collect()
    }
    assert len(got) == 6
    n = len(votes)
    for ii in range(4):
        for jj in range(ii + 1, 4):
            c = Counter((bool(r[labels[ii]]), bool(r[labels[jj]])) for r in votes)
            a, b, cc, d = c[(True, True)], c[(True, False)], c[(False, True)], c[(False, False)]
            row = got[(labels[ii], labels[jj])]
            assert (row["both_true"], row["a_only"], row["b_only"], row["both_false"]) == (a, b, cc, d)
            assert row["n_docs"] == n
            po = (1000000 * (a + d)) // n
            p1 = (1000000 * (a + b)) // n
            p2 = (1000000 * (a + cc)) // n
            pe = (p1 * p2 + (1000000 - p1) * (1000000 - p2)) // 1000000
            assert row["po_micros"] == po
            assert row["pe_micros"] == pe
            want = (
                math.floor((po - pe) / (1000000 - pe) * 1000000 + 0.5)
                if pe < 1000000
                else 0
            )
            assert row["kappa_micros"] == want


def test_soft_dedup_weights_mass_conservation(spark):
    """Each m-copy family carries total weight m·(10⁶ div m) ≤ 10⁶ and the
    per-source rollup reflects cross-source family sizes."""
    from adventureworkslakehousepoc_spark.operators.dedup import soft_dedup_weights

    rows = [
        ("s1", 1, "dup text here"),
        ("s1", 2, "dup text here"),
        ("s2", 3, "dup text here"),   # m = 3 across sources
        ("s2", 4, "unique two words"),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    got = {r["group_id"]: r.asDict() for r in soft_dedup_weights(df).collect()}
    w3 = 1000000 // 3
    assert got["s1"]["eff_docs_micros"] == 2 * w3
    assert got["s2"]["eff_docs_micros"] == w3 + 1000000
    assert got["s1"]["raw_tokens"] == 6 and got["s2"]["raw_tokens"] == 6
    assert got["s1"]["eff_tokens_micros"] == 2 * 3 * w3
    assert got["s2"]["eff_tokens_micros"] == 3 * w3 + 3 * 1000000
    # pressure: s1 is pure duplicates -> ~3x; s2 mixed -> between 1x and 3x
    assert got["s1"]["dedup_pressure_micros"] == (6 * 1000000) // max((6 * w3) // 1000000, 1)
    assert 1000000 < got["s2"]["dedup_pressure_micros"] < got["s1"]["dedup_pressure_micros"]


def test_tokenizer_fertility_hand_computed(spark):
    from adventureworkslakehousepoc_spark.operators.text_analysis import (
        tokenizer_fertility,
    )

    rows = [
        ("en", 1, "hello world"),          # 2 words, 2 bpe tokens, 11 chars
        ("en", 2, "it's x1"),              # 2 words, 5 bpe tokens (it,',s,x,1), 7 chars
        ("zh", 3, "abc def ghi"),          # 3 words, 3 tokens, 11 chars
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, text string")
    got = {r["lang"]: r.asDict() for r in tokenizer_fertility(df).collect()}
    en = got["en"]
    assert (en["n_docs"], en["n_words"], en["n_tokens"], en["n_chars"]) == (2, 4, 7, 18)
    assert en["fertility_micros"] == (7 * 1000000) // 4
    assert en["chars_per_token_micros"] == (18 * 1000000) // 7
    assert en["tokens_per_doc_micros"] == (7 * 1000000) // 2
    zh = got["zh"]
    assert zh["fertility_micros"] == 1000000


def test_unimax_budget_water_filling_matches_greedy(spark):
    """Closed-form capped set == the greedy water-filling loop, and the
    allocation exhausts the budget up to the integer-div remainder."""
    from adventureworkslakehousepoc_spark.operators.sampling import (
        unimax_language_budget,
    )

    rows = []
    sizes = {"aa": 10, "bb": 40, "cc": 400, "dd": 1000}
    did = 0
    for lang, n in sizes.items():
        # one doc of n words per language
        rows.append((lang, did, " ".join(f"w{i}" for i in range(n))))
        did += 1
    df = spark.createDataFrame(rows, "lang string, doc_id long, text string")
    got = {r["lang"]: r.asDict() for r in unimax_language_budget(df).collect()}
    # greedy replay: B = 40% of 1450 = 580, caps = 2n ascending
    budget, remaining = (sum(sizes.values()) * 2) // 5, dict(sizes)
    caps = {k: 2 * v for k, v in sizes.items()}
    alloc = {}
    langs = sorted(caps, key=lambda k: (caps[k], k))
    b, m = budget, len(langs)
    for idx, lang in enumerate(langs):
        if caps[lang] * (m - idx) <= b:
            alloc[lang] = caps[lang]
            b -= caps[lang]
        else:
            share = b // (m - idx)
            for rest in langs[idx:]:
                alloc[rest] = share
            break
    for lang in sizes:
        assert got[lang]["alloc_tokens"] == alloc[lang], (lang, got[lang], alloc)
        assert got[lang]["capped"] == (alloc[lang] == caps[lang]) or alloc[lang] == caps[lang]
        assert got[lang]["epochs_micros"] == alloc[lang] * 1000000 // sizes[lang]
        assert got[lang]["epochs_micros"] <= 2_000_000


def test_bt_strengths_partition_invariant(spark):
    """Integer-micro MM arithmetic makes the fit independent of input
    partitioning: 1 partition vs 13 give identical strengths and ranks."""
    import random

    from adventureworkslakehousepoc_spark.operators.preference import (
        bradley_terry_strengths,
    )

    rng = random.Random(8)
    rows = [
        (u, t, round(rng.uniform(0, 10), 3))
        for u in range(40)
        for t in ["a", "b", "c", "d", "e"]
        if rng.random() < 0.8
    ]
    df = spark.createDataFrame(rows, "user_id int, event_type string, value double")
    one = {r["item"]: r.asDict() for r in bradley_terry_strengths(df.coalesce(1)).collect()}
    many = {
        r["item"]: r.asDict()
        for r in bradley_terry_strengths(df.repartition(13)).collect()
    }
    assert one == many


def test_bt_calibration_gap_consistency(spark):
    """obs/pred/gap columns are internally consistent and pred matches the
    strengths table's s_i/(s_i+s_j) for every emitted pair."""
    from adventureworkslakehousepoc_spark.operators.preference import (
        bradley_terry_strengths,
        bt_winrate_calibration,
    )

    rows = [
        (1, "a", 9.0), (1, "b", 5.0), (1, "c", 1.0),
        (2, "a", 7.5), (2, "b", 3.25), (2, "c", 0.5),
        (3, "a", 2.0), (3, "b", 6.0),
    ]
    df = spark.createDataFrame(rows, "user_id int, event_type string, value double")
    s = {r["item"]: r["strength_micros"] for r in bradley_terry_strengths(df).collect()}
    for r in bt_winrate_calibration(df).collect():
        d = r.asDict()
        assert d["item_i"] < d["item_j"]
        assert d["obs_micros"] == d["wins_i"] * 1000000 // d["n_games"]
        assert d["pred_micros"] == s[d["item_i"]] * 1000000 // max(
            s[d["item_i"]] + s[d["item_j"]], 1
        )
        assert d["abs_gap_micros"] == abs(d["obs_micros"] - d["pred_micros"])


def test_mmr_equals_greedy_reference(spark):
    """MMR selection must equal a pure-Python greedy replay of the same
    integer arithmetic (micro-quantized vectors, deci-micro scores)."""
    import math
    import random

    from adventureworkslakehousepoc_spark.operators.clustering import mmr_diverse_topk

    rng = random.Random(88)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 2) for i in range(24)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = sorted(
        (r["group_id"], r["step"], r["vec_id"], r["rel_micros"],
         r["maxsim_micros"], r["score_deci_micros"])
        for r in mmr_diverse_topk(df, k=3).collect()
    )

    # pure-Python replay — NOTE: quantize through float32 first, as the
    # array<float> column does
    import struct as _s

    def f32(x):
        return _s.unpack("f", _s.pack("f", x))[0]

    q = {i: [math.floor(f32(x) * 1e6 + 0.5) for x in v] for i, v, _ in rows}
    grp = {i: g for i, _, g in rows}

    def cos_u(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return math.floor(
            dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))
            * 1e6 + 0.5
        )

    want = []
    for g in (0, 1):
        members = [i for i in q if grp[i] == g]
        n = len(members)
        cent = [
            math.floor(sum(q[i][p] for i in members) / n) for p in range(8)
        ]
        rel = {i: cos_u(q[i], cent) for i in members}
        sel = []
        for step in range(1, 4):
            best = None
            for i in members:
                if i in sel:
                    continue
                ms = max((cos_u(q[i], q[j]) for j in sel), default=0)
                sc = 7 * rel[i] - 3 * ms
                key = (-sc, i)
                if best is None or key < best[0]:
                    best = (key, i, ms, sc)
            sel.append(best[1])
            want.append((g, step, best[1], rel[best[1]], best[2], best[3]))
    assert got == sorted(want)


def test_temperature_weights_replay_and_flattening(spark):
    """alpha=1/2 weights must equal an integer-exact Python replay, keep
    the size ordering, and sit closer to uniform than the raw shares."""
    import math

    from adventureworkslakehousepoc_spark.operators.sampling import (
        temperature_sampling_weights,
    )

    rows = []
    doc = 0
    for lang, n_docs, n_words in (("en", 40, 12), ("fr", 9, 7), ("zh", 2, 5)):
        for _ in range(n_docs):
            rows.append((doc, " ".join(["w"] * n_words), lang))
            doc += 1
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r["lang"]: (
            r["n_tokens"], r["raw_share_micros"], r["smoothed_share_micros"],
            r["boost_micros"],
        )
        for r in temperature_sampling_weights(df).collect()
    }

    toks = {"en": 40 * 12, "fr": 9 * 7, "zh": 2 * 5}
    tot = sum(toks.values())
    s = {k: math.floor(math.sqrt(v) * 1000 + 0.5) for k, v in toks.items()}
    tot_s = sum(s.values())
    for k in toks:
        raw = toks[k] * 1_000_000 // tot
        smo = s[k] * 1_000_000 // tot_s
        assert got[k] == (toks[k], raw, smo, smo * 1_000_000 // max(raw, 1))

    uniform = 1_000_000 // 3
    for k in toks:
        raw, smo = got[k][1], got[k][2]
        assert abs(smo - uniform) <= abs(raw - uniform)
    assert got["zh"][3] > got["fr"][3] > got["en"][3]
    order = sorted(toks, key=toks.get)
    assert sorted(order, key=lambda k: got[k][2]) == order


def test_rrf_fusion_matches_replay(spark):
    """Fused ranking must equal a pure-Python RRF replay, including docs
    present in only one leg and integer-division contribution arithmetic."""
    from adventureworkslakehousepoc_spark.operators.similarity import (
        hybrid_rrf_retrieval,
    )

    lex_rows = [(i, (97 * i) % 41) for i in range(30)]
    dense_rows = [(i, (53 * i) % 37) for i in range(10, 40)]
    lex = spark.createDataFrame(lex_rows, "doc_id long, bm25_micros long")
    dense = spark.createDataFrame(dense_rows, "doc_id long, cos_micros long")
    got = [
        (r["doc_id"], r["lex_rank"], r["dense_rank"], r["rrf_micros"])
        for r in hybrid_rrf_retrieval(lex, dense, n=15, out_k=10).collect()
    ]

    def ranks(rows, n):
        order = sorted(rows, key=lambda t: (-t[1], t[0]))[:n]
        return {d: i + 1 for i, (d, _) in enumerate(order)}

    lr, dr = ranks(lex_rows, 15), ranks(dense_rows, 15)
    fused = {}
    for d in set(lr) | set(dr):
        c = 0
        if d in lr:
            c += 1_000_000 // (60 + lr[d])
        if d in dr:
            c += 1_000_000 // (60 + dr[d])
        fused[d] = c
    want = [
        (d, lr.get(d), dr.get(d), fused[d])
        for d in sorted(fused, key=lambda d: (-fused[d], d))[:10]
    ]
    assert sorted(got) == sorted(want)
    assert any(r[1] is None or r[2] is None for r in got)


def test_cms_one_sided_and_mergeable(spark):
    """Every point estimate must be >= the exact count (CM guarantee), and
    the sketch built on the whole corpus must equal the cell-wise sum of
    the sketches of two disjoint halves (mergeability)."""
    import random

    from adventureworkslakehousepoc_spark.operators.sketches import (
        cms_cells,
        cms_heavy_hitters,
    )

    rng = random.Random(17)
    vocab = [f"tok{i}" for i in range(300)]
    rows = [
        (i, " ".join(rng.choices(vocab, weights=range(1, 301), k=30)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    hits = cms_heavy_hitters(df, d=4, w=64, k=300).collect()
    exact = {}
    for _, text in rows:
        for t in text.split(" "):
            exact[t] = exact.get(t, 0) + 1
    assert len(hits) == len(exact) and all(r["overestimate"] >= 0 for r in hits)
    for r in hits:
        assert r["exact_count"] == exact[r["token"]]
        assert r["cms_estimate"] >= r["exact_count"]

    toks = df.select(F.explode(F.split("text", " ")).alias("token"))
    half_a = df.filter(F.col("doc_id") % 2 == 0).select(
        F.explode(F.split("text", " ")).alias("token")
    )
    half_b = df.filter(F.col("doc_id") % 2 == 1).select(
        F.explode(F.split("text", " ")).alias("token")
    )
    whole = {
        (r["j"], r["bucket"]): r["c"] for r in cms_cells(toks, w=64).collect()
    }
    merged: dict = {}
    for half in (half_a, half_b):
        for r in cms_cells(half, w=64).collect():
            key = (r["j"], r["bucket"])
            merged[key] = merged.get(key, 0) + r["c"]
    assert merged == whole


def test_logistic_probe_matches_replay_and_learns(spark):
    """The probe's weight trajectory must equal an integer-exact Python
    replay of the batch-GD recurrence, and final accuracy must beat the
    majority class (the probe actually distills the Gopher gate)."""
    import random

    from adventureworkslakehousepoc_spark.operators.probe import (
        PROBE_STOPWORDS,
        logistic_probe_fit,
    )

    rng = random.Random(5)
    vocab = ["data", "spark", "query", "merge", "row", "scan"]
    rows = []
    for i in range(80):
        n = rng.choice((20, 30, 40, 60, 80, 90))
        words = rng.choices(vocab, k=n)
        for _ in range(rng.choice((2, 3))):
            words[rng.randrange(n)] = rng.choice(PROBE_STOPWORDS)
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    T = 4
    got = {
        (r["iteration"], r["feature"]): (r["weight_micros"], r["train_acc_micros"])
        for r in logistic_probe_fit(df, iterations=T).collect()
    }

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    feats, ys = [], []
    for _, text in rows:
        ws = text.split(" ")
        nw = len(ws)
        sum_chars = sum(len(w) for w in ws)
        mwl = sum_chars / nw
        stop = sum(1 for w in ws if w in PROBE_STOPWORDS)
        alpha = sum(1 for w in ws if any("a" <= c <= "z" for c in w))
        keep = (
            50 <= nw <= 100000
            and 3.0 <= (len(text.replace(" ", "")) / nw) <= 10.0
            and alpha / nw >= 0.8
            and stop >= 2
        )
        ys.append(1_000_000 if keep else 0)
        feats.append(
            [
                1_000_000,
                min(nw, 200) * 5000,
                tdiv(min(tdiv(sum_chars * 1_000_000, max(nw, 1)), 10_000_000), 10),
                tdiv(stop * 1_000_000, max(nw, 1)),
                min(stop, 20) * 50_000,
            ]
        )
        assert mwl is not None
    n = len(rows)
    means = [tdiv(sum(f[j] for f in feats), n) for j in range(1, 5)]
    X = [[f[0]] + [(f[j] - means[j - 1]) * 4 for j in range(1, 5)] for f in feats]
    w = [0] * 5
    names = ("bias", "len_words", "mean_word_len", "stopword_ratio", "stop_hits")
    for t in range(1, T + 1):
        sigs = [
            max(0, min(1_000_000, 500_000 + tdiv(tdiv(sum(wf * xf for wf, xf in zip(w, x)), 1_000_000), 4)))
            for x in X
        ]
        g = [
            tdiv(sum(tdiv((s - y) * x[j], 1_000_000) for s, y, x in zip(sigs, ys, X)), n)
            for j in range(5)
        ]
        w = [wf - tdiv(gf, 2) for wf, gf in zip(w, g)]
        sigs2 = [
            max(0, min(1_000_000, 500_000 + tdiv(tdiv(sum(wf * xf for wf, xf in zip(w, x)), 1_000_000), 4)))
            for x in X
        ]
        acc = tdiv(
            sum(1 for s, y in zip(sigs2, ys) if (s >= 500_000) == (y == 1_000_000))
            * 1_000_000,
            n,
        )
        for j, name in enumerate(names):
            assert got[(t, name)] == (w[j], acc), (t, name)
    majority = max(sum(1 for y in ys if y), n - sum(1 for y in ys if y)) * 1_000_000 // n
    assert got[(T, "bias")][1] > majority


def test_ann_recall_calibration_full_probe_is_exact(spark):
    """IVF with nprobe = n_centroids scans every cell, so the 'ivf' rows
    must report perfect recall and zero displacement — the estimator
    degenerates to the ground truth it is calibrated against. PQ rows are
    lossy by construction but must stay within [0, k] hits and report
    recall micros consistent with the hit count."""
    import random

    from adventureworkslakehousepoc_spark.operators.similarity import (
        ann_recall_calibration,
    )

    rng = random.Random(99)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)], i % 3) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = ann_recall_calibration(
        df, n_queries=4, k=5, n_centroids=8, nprobe=8, m=4
    ).collect()
    assert len(out) == 8  # 2 methods x 4 queries
    for r in out:
        d = r.asDict()
        assert 0 <= d["n_hits"] <= 5
        assert d["recall_at_k_micros"] == d["n_hits"] * 1000000 // 5
        assert d["rank_displacement"] >= 0
        if d["method"] == "ivf":
            assert d["n_hits"] == 5, f"full-probe IVF must be exact: {d}"
            assert d["rank_displacement"] == 0, f"full-probe IVF must be exact: {d}"


def test_ppm_p6_roundtrip_matches_bytelevel_parse(spark):
    """The P6 encoder must emit genuinely valid netpbm files and the
    relational decoder must agree with an independent byte-level Python
    parse of those exact payloads — no stub anywhere on this path."""
    from adventureworkslakehousepoc_spark.operators.multimodal import (
        ppm_p6_decode,
        ppm_p6_encode,
    )

    df = spark.createDataFrame(
        [(0, "hello world"), (7, "the quick brown fox"), (123, "xyz"), (42, "émoji ünïcode")],
        "doc_id long, text string",
    )
    enc = ppm_p6_encode(df)
    expected = {}
    for r in enc.collect():
        p = bytes(r["payload"])
        assert p[:3] == b"P6\n"
        rest = p[3:]
        nl1 = rest.index(b"\n")
        w, h = map(int, rest[:nl1].split(b" "))
        rest2 = rest[nl1 + 1:]
        nl2 = rest2.index(b"\n")
        assert int(rest2[:nl2]) == 255
        pix = rest2[nl2 + 1:]
        assert len(pix) == w * h * 3
        expected[r["doc_id"]] = (
            w, h, w * h, sum(pix[0::3]), sum(pix[1::3]), sum(pix[2::3])
        )
    for r in ppm_p6_decode(enc).collect():
        got = (r["width"], r["height"], r["n_pixels"], r["r_sum"], r["g_sum"], r["b_sum"])
        assert got == expected[r["doc_id"]], (r["doc_id"], got, expected[r["doc_id"]])
        assert r["maxval"] == 255
        assert r["r_mean_micros"] == r["r_sum"] * 1000000 // r["n_pixels"]


def test_probe_calibration_partitions_corpus(spark):
    """Calibration bins must partition the corpus exactly (Σ n_docs = n),
    bins must be consistent (gap = |pred − obs|, contrib = n_b·gap div n),
    and predicted means must lie inside their bins."""
    from adventureworkslakehousepoc_spark.operators.probe import probe_calibration

    rows = [
        (i, ("the be to of and that have with word%d " % i) * (5 + i % 7))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = probe_calibration(df, iterations=3, buckets=10).collect()
    n = sum(r["n_docs"] for r in out)
    assert n == 30
    for r in out:
        d = r.asDict()
        assert d["abs_gap_micros"] == abs(d["mean_pred_micros"] - d["obs_rate_micros"])
        assert d["ece_contrib_micros"] == d["n_docs"] * d["abs_gap_micros"] // 30
        lo, hi = d["bucket"] * 100000, (d["bucket"] + 1) * 100000
        assert lo <= d["mean_pred_micros"] <= (1000000 if d["bucket"] == 9 else hi)


def test_pca_power_recovers_planted_direction(spark):
    """On data with a strong planted axis, 6 power iterations must align
    with numpy's exact top eigenvector of the SAME quantized, centered
    matrix (cosine > 0.999) and the Rayleigh quotient must approximate
    the top eigenvalue. On near-isotropic data the iterate is still
    exactly oracle-replayable — convergence speed is the eigengap's
    business, not the operator's."""
    import random

    import numpy as np

    from adventureworkslakehousepoc_spark.operators.decomposition import (
        embedding_pca_power,
    )

    rng = random.Random(7)
    d = 16
    axis = np.array([rng.uniform(-1, 1) for _ in range(d)])
    axis /= np.linalg.norm(axis)
    rows = []
    for i in range(120):
        strength = rng.uniform(-3.0, 3.0)
        noise = np.array([rng.uniform(-0.2, 0.2) for _ in range(d)])
        rows.append((i, [float(x) for x in (strength * axis + noise)], 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = sorted(
        embedding_pca_power(df, iterations=6, dim=d).collect(), key=lambda r: r["dim"]
    )
    assert len(out) == d

    X = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    Xm = np.floor(X * 1e6 + 0.5)
    Xc = Xm - np.floor(Xm.sum(axis=0) / len(rows))  # div truncation ~ floor for sums
    G = Xc.T @ Xc
    evals, evecs = np.linalg.eigh(G)
    v = np.array([r["eigvec_micros"] for r in out], dtype=np.float64)
    cos = abs(v @ evecs[:, -1]) / (np.linalg.norm(v) * np.linalg.norm(evecs[:, -1]))
    assert cos > 0.999, cos
    lam = out[0]["eigenvalue_micros"] * 1e6  # micros -> G-matrix units
    assert abs(lam - evals[-1]) / evals[-1] < 0.01, (lam, evals[-1])


def test_pca_power_dimension_scalable_at_d512(spark):
    """The per-iteration G·v sums aggregate by a posexploded dim KEY, so
    the plan must not grow with d: at d=512 the physical plan still
    carries the generate/keyed-aggregate shape and stays O(1)-sized (the
    former d-unrolled form emitted one aggregate expression per dimension
    — a multi-MB codegen unit at this width). Correctness at width: the
    iterate recovers a planted 512-dim axis against numpy's exact top
    eigenvector of the same quantized, centered matrix."""
    import random

    import numpy as np

    from adventureworkslakehousepoc_spark.operators.decomposition import (
        embedding_pca_power,
    )

    rng = random.Random(11)
    d = 512
    axis = np.array([rng.uniform(-1, 1) for _ in range(d)])
    axis /= np.linalg.norm(axis)
    rows = []
    for i in range(40):
        strength = rng.uniform(-3.0, 3.0)
        noise = np.array([rng.uniform(-0.05, 0.05) for _ in range(d)])
        rows.append((i, [float(x) for x in (strength * axis + noise)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from adventureworkslakehousepoc_spark.plans.audit import StatusWindow, extended_plans

    with extended_plans(spark):
        window = StatusWindow(spark)
        res = embedding_pca_power(df, iterations=4, dim=d)
    # the last execution is the eager checkpoint of the result
    plan = window.executions()[-1].physical
    assert "Generate" in plan  # posexplode by dim, not unrolled aggregates
    assert len(plan) < 400_000, len(plan)  # plan size O(1) in d

    out = sorted(res.collect(), key=lambda r: r["dim"])
    assert len(out) == d
    X = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    Xm = np.floor(X * 1e6 + 0.5)
    Xc = Xm - np.floor(Xm.sum(axis=0) / len(rows))
    G = Xc.T @ Xc
    evals, evecs = np.linalg.eigh(G)
    v = np.array([r["eigvec_micros"] for r in out], dtype=np.float64)
    cos = abs(v @ evecs[:, -1]) / (np.linalg.norm(v) * np.linalg.norm(evecs[:, -1]))
    assert cos > 0.999, cos


def test_dawid_skene_matches_python_em_replay(spark):
    """The distributed EM must equal a pure-Python integer replay of the
    same micro arithmetic, starting from the operator's own weak votes
    (all quantities non-negative, so python // == Spark div)."""
    from adventureworkslakehousepoc_spark.operators.quality import (
        dawid_skene_binary,
        weak_label_votes,
    )

    texts = [
        ("the and of is a to in " * (3 + i % 5)) + ("Zq9 " * (i % 4)) for i in range(24)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    votes = [
        tuple(int(r[lab]) for lab in ("l_length", "l_stopword", "l_repetition", "l_alpha"))
        for r in weak_label_votes(df).collect()
    ]
    n = len(votes)

    def m_step(q):
        sq = sum(q)
        pi = sq // n
        a, b = [], []
        for k in range(4):
            sqv = sum(qd for qd, v in zip(q, votes) if v[k])
            s0v = sum(1000000 - qd for qd, v in zip(q, votes) if not v[k])
            a.append(sqv * 1000000 // max(sq, 1))
            b.append(s0v * 1000000 // max(n * 1000000 - sq, 1))
        return pi, a, b

    def e_step(pi, a, b):
        out = []
        for v in votes:
            t = pi
            u = 1000000 - pi
            for k in range(4):
                t *= a[k] if v[k] else 1000000 - a[k]
                u *= 1000000 - b[k] if v[k] else b[k]
            out.append(t * 1000000 // max(t + u, 1))
        return out

    q = [sum(v) * 250000 for v in votes]
    pi, a, b = m_step(q)
    for _ in range(2):
        pi, a, b = m_step(e_step(pi, a, b))
    npos = sum(1 for qd in e_step(pi, a, b) if qd >= 500000)

    got = {r["labeler"]: r for r in dawid_skene_binary(df, iterations=3).collect()}
    labs = ["l_length", "l_stopword", "l_repetition", "l_alpha"]
    for k, lab in enumerate(labs):
        assert got[lab]["alpha_micros"] == a[k], (lab, got[lab]["alpha_micros"], a[k])
        assert got[lab]["beta_micros"] == b[k], (lab, got[lab]["beta_micros"], b[k])
        assert got[lab]["pi_micros"] == pi
        assert got[lab]["n_pos_posterior"] == npos


def test_doremi_weights_match_mw_replay(spark):
    """Harder domains must be upweighted, and the full MW recursion must
    equal a pure-Python integer replay seeded from the operator's own
    reported domain NLLs (all quantities non-negative)."""
    from adventureworkslakehousepoc_spark.operators.sampling import (
        doremi_domain_weights,
    )

    easy = "the cat sat on the mat and the dog sat on the rug "
    rows = []
    for i in range(20):
        rows.append((i, easy * 3, "easy"))
    for i in range(20, 40):
        rows.append((i, " ".join(f"zx{i}w{j}" for j in range(40)), "hard"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r.asDict() for r in doremi_domain_weights(df, rounds=5).collect()}
    assert out["hard"]["weight_micros"] > out["easy"]["weight_micros"]

    nll = {s: d["dom_nll_micros"] for s, d in out.items()}
    mn = min(nll.values())
    ex = {s: v - mn for s, v in nll.items()}
    mx = max(max(ex.values()), 1)
    exn = {s: v * 1000000 // mx for s, v in ex.items()}
    k = len(nll)
    w = {s: 1000000 // k for s in nll}
    for _ in range(5):
        w = {s: (w[s] * (1000000 + (500000 * exn[s]) // 1000000)) // 1000000 for s in w}
        tot = max(sum(w.values()), 1)
        w = {s: (w[s] * 1000000) // tot for s in w}
    for s in nll:
        expect = ((1000000 - 100000) * w[s] + 100000 * (1000000 // k)) // 1000000
        assert out[s]["weight_micros"] == expect, (s, out[s]["weight_micros"], expect)
        assert out[s]["excess_micros"] == ex[s]


def test_conformal_gate_invariants(spark):
    """Structural contract: k = ceil((n_cal+1)(1-alpha)), the +inf
    degeneracy fires exactly when k > n_cal, threshold = 1e6 - tau, and
    the coverage/keep-rate ratios are the exact integer divisions of
    their own counts."""
    from adventureworkslakehousepoc_spark.operators.probe import probe_conformal_gate

    rows = [
        (i, "the be to of and that have with good words here " * (6 + i % 9))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = probe_conformal_gate(df, iterations=3, alphas_micros=(200000, 1000)).collect()
    assert len(out) == 2
    for r in out:
        d = r.asDict()
        a = d["alpha_micros"]
        assert d["k_order"] == ((d["n_cal"] + 1) * (1000000 - a) + 999999) // 1000000
        if d["k_order"] > d["n_cal"]:
            assert d["tau_micros"] == 1000001 and d["n_test_kept"] == d["n_test"]
        else:
            assert 0 <= d["tau_micros"] <= 1000000
        assert d["threshold_sig_micros"] == 1000000 - d["tau_micros"]
        assert d["coverage_micros"] == d["n_test_pos_kept"] * 1000000 // max(d["n_test_pos"], 1)
        assert d["keep_rate_micros"] == d["n_test_kept"] * 1000000 // max(d["n_test"], 1)
        assert d["n_test_pos_kept"] <= d["n_test_pos"] <= d["n_test"]


def test_hll_registers_merge_and_estimate(spark):
    """Register mergeability: cell-wise MAX of two halves' registers must
    equal the whole corpus's registers (the shard/stream merge contract),
    and the corrected estimate must land within ~2x typical HLL error
    (1.04/sqrt(64) ~ 13%) of the exact count at a few hundred distincts."""
    from pyspark.sql import functions as F

    from adventureworkslakehousepoc_spark.operators.sketches import (
        hll_distinct_tokens,
        hll_registers,
    )

    rows = [(i, " ".join(f"tok{j}" for j in range(i, i + 40))) for i in range(0, 400, 7)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = df.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    whole = {r["bucket"]: r["reg"] for r in hll_registers(toks).collect()}
    h1 = {r["bucket"]: r["reg"] for r in hll_registers(
        df.filter("doc_id < 200").select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
        ).filter(F.col("token") != "")).collect()}
    h2 = {r["bucket"]: r["reg"] for r in hll_registers(
        df.filter("doc_id >= 200").select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
        ).filter(F.col("token") != "")).collect()}
    merged = {b: max(h1.get(b, 0), h2.get(b, 0)) for b in set(h1) | set(h2)}
    assert merged == whole

    out = hll_distinct_tokens(df).collect()[0].asDict()
    assert out["exact_distinct"] > 160  # raw branch, not linear counting
    rel = abs(out["corrected_estimate"] - out["exact_distinct"]) / out["exact_distinct"]
    assert rel < 0.26, (out, rel)


def test_rho_loss_prefers_learnable_over_gibberish(spark):
    """Docs made of corpus-typical words that the holdout model also saw
    must score LOWER rho than docs whose bigrams the holdout model never
    saw but the full model did (learnable tail); rho must equal the
    reported NLL difference exactly and ranks must be dense from 1."""
    from adventureworkslakehousepoc_spark.operators.importance import (
        rho_loss_selection,
    )

    common = "alpha beta gamma delta epsilon zeta eta theta " * 4
    rows = [(i, common) for i in range(60)]
    rows += [(100 + i, f"rare{i} token{i} rare{i} token{i} spike{i} word{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = rho_loss_selection(df, top_k=10).collect()
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    for r in out:
        assert r["rho_micros"] == r["nll_full_micros"] - r["nll_holdout_micros"]
    # the rare-bigram docs (ids >= 100) dominate the learnable top ranks
    top3 = [r["doc_id"] for r in out[:3]]
    assert all(d >= 100 for d in top3), top3


def test_kmv_overlap_exact_when_sketch_holds_universe(spark):
    """With k larger than the shingle universe the KMV sketch IS the set,
    so the Jaccard estimate must equal the exact Jaccard and
    union_card_est must equal the true union size; estimates live in
    [0, 1e6] and err is the exact difference."""
    from adventureworkslakehousepoc_spark.operators.sketches import kmv_source_overlap

    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    b = "w1 w2 w3 w4 w5 x6 x7 x8 x9 x10"  # shares a trigram prefix run
    rows = [(1, a, "srcA"), (2, b, "srcB")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = kmv_source_overlap(df, k=1000).collect()
    assert len(out) == 1
    d = out[0].asDict()
    assert d["abs_err_micros"] == 0
    assert d["jaccard_est_micros"] == d["jaccard_exact_micros"]
    # 8 trigrams each, 3 shared ("w1 w2 w3".."w3 w4 w5") -> J = 3/13
    assert d["jaccard_exact_micros"] == 3 * 1000000 // 13
    assert d["union_card_est"] == 13
    assert d["n_common_sketch"] == 3


def test_histogram_quantile_sketch_merge_and_bounds(spark):
    """Histogram cells must merge by cell-wise SUM across shards (sketch
    of whole == merged sketches of halves drives identical quantiles),
    and every estimate must sit within one bin width of the exact order
    statistic."""
    from adventureworkslakehousepoc_spark.operators.aggregates import (
        histogram_quantile_sketch,
    )

    rows = [(i, "w " * (10 + (i * 7) % 300)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    whole = {
        (r["pct_num"], r["pct_den"]): r.asDict()
        for r in histogram_quantile_sketch(df, bin_width=16, n_bins=64).collect()
    }
    for key, d in whole.items():
        assert abs(d["est_micros"] - d["exact_value"] * 1000000) <= 16 * 1000000, d
        assert d["abs_err_micros"] == abs(d["est_micros"] - d["exact_value"] * 1000000)
        assert d["n_docs"] == 200
    # shard merge: quantiles over the union equal quantiles computed from
    # the summed histograms -- equivalently, the operator over the union
    # (cells are pure counts keyed by bin, so SUM-merge == recompute)
    half = df.filter("doc_id < 100").unionByName(df.filter("doc_id >= 100"))
    again = {
        (r["pct_num"], r["pct_den"]): r.asDict()
        for r in histogram_quantile_sketch(half, bin_width=16, n_bins=64).collect()
    }
    assert again == whole
