"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata, processed by Arrow-batched ``mapInPandas`` stages.

The container has no image/audio codec *libraries*, so the generic decode
step is a deterministic stub (clearly marked) — but the PPM (P6) path is a
REAL codec implemented end-to-end in relational expressions
(``ppm_p6_encode`` / ``ppm_p6_decode``): valid netpbm files in, exact
per-channel pixel statistics out, no Python row loop. Everything Spark-side —
schema, the binary column plumbing, batch shapes, partition-parallel UDF
execution — is real and tested. Swap ``_decode_stub`` for a PIL/torchaudio
call in prod for compressed formats.

Scale posture: payloads never pass through the driver; ``mapInPandas``
streams Arrow batches per partition, and metadata extraction before decode
lets partition pruning / predicate pushdown skip undecodable or oversized
payloads at the scan.

Each codec parses its header in one place, on the payload's hex:
``_ppm_header`` (P6), ``_y4m_header`` (YUV4MPEG2), ``_wav_pcm_ok`` and
``_le_at`` (canonical PCM WAV); ``_digits`` decodes an ASCII digit run.
The image near-dup joins decode their content-derived P6 files through
``_content_ppm_gray``; pHash and video sign DCT coefficients through
``_sign_fp``. Every Hamming near-dup join here (aHash, pHash, audio) is
``dedup.hamming_pairs`` behind ``dedup.check_pigeonhole``.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import check_pigeonhole, hamming_pairs

__all__ = [
    "attach_binary_payload",
    "payload_metadata",
    "decode_features",
    "resize_images",
    "sample_frames",
    "ppm_p6_encode",
    "ppm_p6_decode",
    "wav_pcm_encode",
    "wav_pcm_decode",
    "y4m_encode",
    "y4m_decode",
    "image_ahash_pairs",
    "image_phash_pairs",
    "audio_fingerprint_pairs",
    "video_frame_fingerprints",
    "video_phash_pairs",
    "video_shot_boundaries",
    "crossmodal_pair_audit",
    "DCT_COS_MICROS",
    "DCT16_COS_MICROS",
    "dct_sign_fp_terms",
]


def attach_binary_payload(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Synthesize an opaque binary column + typed metadata from text (the
    testdata has no real media; the plumbing is the point). Schema mirrors a
    real multimodal table: (doc_id, payload binary, media_type, byte_len)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.when((F.col(id_col) % 3) == 0, "image/png")
        .when((F.col(id_col) % 3) == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        F.length(F.encode(F.col(text_col), "UTF-8")).alias("byte_len"),
    )


def payload_metadata(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Metadata-only pass (no decode): digest + size + type. Pure built-ins —
    this is the cheap scan that gates the expensive decode stage."""
    payloads = attach_binary_payload(docs, text_col, id_col)
    return payloads.select(
        "doc_id",
        "media_type",
        "byte_len",
        F.md5(F.col("payload")).alias("payload_md5"),
    )


def _decode_stub(payload: bytes, media_type: str) -> dict:
    """Deterministic fake decode. A real deployment replaces this with the
    codec call; the surrounding Spark plumbing is unchanged.

    Raises ``NotImplementedError`` for media types the stub doesn't model,
    exactly as a real decoder would for unsupported codecs."""
    if media_type not in ("image/png", "audio/wav", "video/mp4"):
        raise NotImplementedError(f"no decoder for {media_type}")
    checksum = sum(payload) % 65536
    return {
        "width": 16 + checksum % 64,          # fake: derived from payload bytes
        "height": 16 + (checksum // 64) % 64,
        "n_frames": 1 if media_type == "image/png" else 1 + checksum % 30,
        "checksum": checksum,
    }


def decode_features(payloads: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Arrow-batched decode + feature extraction over the binary column.
    Input: (doc_id, payload, media_type, ...). Output one typed feature row
    per payload. Runs partition-parallel; nothing touches the driver."""
    import pandas as pd

    def decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            feats = [
                _decode_stub(bytes(p), m) for p, m in zip(pdf["payload"], pdf["media_type"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out.insert(1, "media_type", pdf["media_type"].values)
            yield out

    schema = "doc_id bigint, media_type string, width bigint, height bigint, n_frames bigint, checksum bigint"
    return payloads.select("doc_id", "payload", "media_type").mapInPandas(decode_batches, schema)


def resize_images(payloads: DataFrame, target_w: int = 224, target_h: int = 224) -> DataFrame:
    """Resize stage (images only): filters to image payloads at the scan
    (predicate pushes down ahead of the UDF), then an Arrow-batched transform
    produces resized payloads + new dims. The stub "resize" derives output
    bytes deterministically from input bytes; a real deployment swaps in
    PIL/opencv inside ``do_resize`` — batch shape and schema are unchanged."""
    import pandas as pd

    def do_resize(batches):
        for pdf in batches:
            out_payloads = []
            for p in pdf["payload"]:
                b = bytes(p)
                # stub: deterministic downsample of the byte stream
                stride = max(1, len(b) * 1 // max(1, target_w))
                out_payloads.append(b[::stride][: target_w * 3])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": out_payloads,
                    "width": target_w,
                    "height": target_h,
                }
            )

    images = payloads.filter(F.col("media_type") == "image/png").select("doc_id", "payload")
    schema = "doc_id bigint, payload binary, width int, height int"
    return images.mapInPandas(do_resize, schema)


def sample_frames(payloads: DataFrame, every_nth: int = 10) -> DataFrame:
    """Frame-sampling stage (videos only): one output row per sampled frame
    (1→N row fan-out inside mapInPandas — the batch contract for extraction
    stages). Frame payloads are deterministic byte slices standing in for
    decoded frames."""
    import pandas as pd

    def do_sample(batches):
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_payload": []}
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                n_frames = 1 + (sum(b) % 65536) % 30  # matches _decode_stub
                for idx in range(0, n_frames, every_nth):
                    lo = (idx * 37) % max(1, len(b) - 8)
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(idx)
                    rows["frame_payload"].append(b[lo : lo + 8])
            yield pd.DataFrame(rows)

    videos = payloads.filter(F.col("media_type") == "video/mp4").select("doc_id", "payload")
    schema = "doc_id bigint, frame_idx int, frame_payload binary"
    return videos.mapInPandas(do_sample, schema)


def _digits(run):
    """Decimal value of an ASCII digit run matched in hex space (``3X`` per
    digit)."""
    return F.regexp_replace(run, "3(.)", "$1").cast("int")


def _p6_payload(text_col: str, w_sql: str, h_sql: str):
    """Canonical P6 file: header ``P6\\n<w> <h>\\n255\\n`` + w·h·3 raw RGB
    bytes, the doc's md5 hex repeated and unhexed. ``w_sql``/``h_sql`` are
    int SQL expressions shared by the header and the pixel length."""
    header = F.concat(
        F.lit("P6\n"), F.expr(w_sql).cast("string"), F.lit(" "),
        F.expr(h_sql).cast("string"), F.lit("\n255\n"),
    )
    # 28 repeats x 32 hex chars = 896 >= 2 * max n_bytes (288)
    return F.concat(
        F.encode(header, "UTF-8"),
        F.unhex(
            F.expr(
                f"substring(repeat(md5(encode({text_col}, 'UTF-8')), 28), 1, "
                f"2 * ({w_sql}) * ({h_sql}) * 3)"
            )
        ),
    )


def _ppm_header(hx):
    """Canonical P6 header of a hex payload, recognized and measured in hex
    space (``P6\\n`` = ``50360A``, ASCII digits = ``3X`` pairs): ``(width,
    height, maxval, hdr_hex_len)``; pixel bytes start at hex char
    ``hdr_hex_len + 1``."""
    pat = "^50360A((?:3[0-9])+)20((?:3[0-9])+)0A((?:3[0-9])+)0A"
    runs = [F.regexp_extract(hx, pat, g) for g in (1, 2, 3)]
    hdr_hex_len = (
        F.lit(6) + F.length(runs[0]) + F.lit(2) + F.length(runs[1]) + F.lit(2)
        + F.length(runs[2]) + F.lit(2)
    )
    return (*[_digits(r) for r in runs], hdr_hex_len)


def _y4m_header(hx):
    """YUV4MPEG2 stream header of a hex payload (C444, canonical parameter
    order): ``(width, height, n_frames, hdr_hex, stride_hex)`` — header
    length and per-frame stride ('FRAME\\n' marker + three w·h planes) in
    hex chars."""
    # 'YUV4MPEG2 W' = 595556344D504547322057; then digits (3X)+, ' H' =
    # 2048, digits, ' F25:1 Ip A1:1 C444\n' fixed tail
    pat = "^595556344D504547322057((?:3[0-9])+)2048((?:3[0-9])+)20"
    wX, hX = F.regexp_extract(hx, pat, 1), F.regexp_extract(hx, pat, 2)
    width, height = _digits(wX), _digits(hX)
    # fixed pieces: 22 for 'YUV4MPEG2 W', 4 for ' H', 40 for the tail
    hdr_hex = F.lit(22) + F.length(wX) + F.lit(4) + F.length(hX) + F.lit(40)
    stride_hex = F.lit(12) + width * height * 6
    n_frames = ((F.length(hx) - hdr_hex) / stride_hex).cast("int")
    return width, height, n_frames, hdr_hex, stride_hex


def _le_at(hx, off: int, n: int):
    """Little-endian unsigned integer of ``n`` bytes at byte ``off`` of a
    hex payload."""
    parts = [F.substring(hx, 2 * (off + i) + 1, 2) for i in reversed(range(n))]
    return F.conv(F.concat(*parts), 16, 10).cast("bigint")


def _wav_pcm_ok(hx):
    """Canonical 44-byte PCM WAV header of a hex payload: RIFF/WAVE magic,
    'fmt ' and 'data' chunk ids at their fixed offsets, format tag 1."""
    return (
        (F.substring(hx, 1, 8) == "52494646")
        & (F.substring(hx, 17, 8) == "57415645")
        & (F.substring(hx, 25, 8) == "666D7420")
        & (F.substring(hx, 73, 8) == "64617461")
        & (_le_at(hx, 20, 2) == 1)
    )


def ppm_p6_encode(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Build REAL binary PPM (P6) image payloads — valid files any netpbm
    tool opens — entirely with codegen'd expressions (no Python row loop).
    Canonical header ``P6\\n<w> <h>\\n255\\n`` followed by w·h·3 raw RGB
    bytes; dimensions derive from doc_id (w ∈ 4..8, h ∈ 3..6) and the
    pixel stream is the doc's md5 hex repeated and unhexed — deterministic
    and oracle-replayable. Output schema matches ``attach_binary_payload``:
    (doc_id, payload binary, media_type, byte_len)."""
    payload = _p6_payload(
        text_col, f"cast(4 + {id_col} % 5 as int)", f"cast(3 + {id_col} % 4 as int)"
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.lit("image/x-portable-pixmap").alias("media_type"),
        F.length(payload).cast("bigint").alias("byte_len"),
    )


def ppm_p6_decode(payloads: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL image decode as pure relational expressions — the package's
    multimodal decode with NO stub on this path: parses the canonical P6
    header (magic, dimensions, maxval) and folds the raw pixel bytes into
    per-channel statistics, all via ``hex``/``substring``/``conv`` on the
    binary column inside whole-stage codegen. No Python row loop, no UDF,
    nothing leaves the JVM.

    Works on any canonical-header P6 file (the form every common writer
    emits; comment lines are not supported). The hex detour sidesteps
    ANSI-mode UTF-8 decode errors on raw pixel bytes: the header is
    recognized and measured entirely in hex space (``P6\\n`` = ``50360A``,
    ASCII digits = ``3X`` pairs), then the pixel slice is positionally
    exact.

    Returns (doc_id, width, height, maxval, n_pixels, r_sum, g_sum,
    b_sum, r_mean_micros, g_mean_micros, b_mean_micros) — integer-exact.

    Scale: one projection over the payload scan; per-row work is linear
    in payload size; channel folds are ``aggregate`` over ``sequence``
    ranges (codegen'd, no shuffle at all until the caller aggregates)."""
    hx = F.hex(F.col(payload_col))
    width, height, maxval, hdr_hex_len = _ppm_header(hx)
    n_pixels = (width * height).cast("bigint")
    base = payloads.select(
        "doc_id",
        width.alias("width"),
        height.alias("height"),
        maxval.alias("maxval"),
        n_pixels.alias("n_pixels"),
        F.substring(hx, hdr_hex_len + 1, width * height * F.lit(6)).alias("pix_hex"),
    )

    def chan_sum(c: int):
        # byte value of pixel p channel c = conv(hex pair at 2*(3p+c), 16, 10);
        # the n_pixels < 1 guard keeps a degenerate 0-dim header from folding
        # sequence(0, -1)'s descending [0, -1] garbage indices; the
        # one-element transform binds the (collapsed, hex-of-payload)
        # pix_hex expression ONCE per row instead of re-hexing per pixel
        return F.expr(
            "if(n_pixels < 1, 0L,"
            " element_at(transform(array(pix_hex), pv ->"
            " aggregate(sequence(0, cast(n_pixels as int) - 1), 0L, "
            f"(acc, p) -> acc + cast(conv(substring(pv, 2 * (3 * p + {c}) + 1, 2), 16, 10) as bigint))), 1))"
        )

    out = base.select(
        "doc_id",
        "width",
        "height",
        "maxval",
        "n_pixels",
        chan_sum(0).alias("r_sum"),
        chan_sum(1).alias("g_sum"),
        chan_sum(2).alias("b_sum"),
    )
    return out.select(
        "*",
        F.expr("(r_sum * 1000000) div n_pixels").alias("r_mean_micros"),
        F.expr("(g_sum * 1000000) div n_pixels").alias("g_mean_micros"),
        F.expr("(b_sum * 1000000) div n_pixels").alias("b_mean_micros"),
    )


def _le_hex(col, n_bytes: int):
    """Little-endian hex of an integer column (``n_bytes`` wide) — the
    byte-swap RIFF integers need, as pure string expressions."""
    h = F.lpad(F.hex(col.cast("bigint")), 2 * n_bytes, "0")
    parts = [
        F.substring(h, 2 * i + 1, 2) for i in reversed(range(n_bytes))
    ]
    return F.concat(*parts)


def wav_pcm_encode(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Build REAL RIFF/WAVE PCM payloads — valid files the stdlib ``wave``
    module (or any audio tool) opens — entirely with codegen'd
    expressions: canonical 44-byte header (PCM, mono, 16-bit, 8 kHz) +
    ``n_samples`` little-endian samples, where n_samples = 32 + doc_id %
    64 and the sample bytes are the doc's md5 hex stream unhexed
    (deterministic, oracle-replayable). Output schema matches
    ``attach_binary_payload``: (doc_id, payload binary, media_type,
    byte_len)."""
    did = F.col(id_col)
    n_samples = (F.lit(32) + did % 64).cast("bigint")
    data_size = (n_samples * 2).cast("bigint")
    header_hex = F.concat(
        F.lit("52494646"),                     # 'RIFF'
        _le_hex(F.lit(36) + data_size, 4),     # chunk size
        F.lit("57415645"),                     # 'WAVE'
        F.lit("666D7420"),                     # 'fmt '
        F.lit("10000000"),                     # fmt chunk size 16 (LE)
        F.lit("0100"),                         # PCM
        F.lit("0100"),                         # mono
        _le_hex(F.lit(8000), 4),               # sample rate
        _le_hex(F.lit(16000), 4),              # byte rate
        F.lit("0200"),                         # block align
        F.lit("1000"),                         # 16 bits/sample
        F.lit("64617461"),                     # 'data'
        _le_hex(data_size, 4),
    )
    # 12 repeats × 32 hex chars = 384 ≥ 4 · max n_samples (95 → 380)
    payload = F.unhex(
        F.concat(
            header_hex,
            F.expr(
                f"substring(repeat(md5(encode({text_col}, 'UTF-8')), 12), 1, "
                f"4 * (32 + {id_col} % 64))"
            ),
        )
    )
    return docs.select(
        did.alias("doc_id"),
        payload.alias("payload"),
        F.lit("audio/wav").alias("media_type"),
        F.length(payload).cast("bigint").alias("byte_len"),
        *passthrough,
    )


def wav_pcm_decode(
    payloads: DataFrame,
    payload_col: str = "payload",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """REAL audio decode as pure relational expressions — the audio twin
    of ``ppm_p6_decode``, no stub on this path: validates the RIFF/WAVE
    magic, parses the canonical 44-byte PCM header's little-endian
    fields (sample rate, channels, bit depth, data size), and folds the
    16-bit signed LE samples into amplitude statistics — all via
    ``hex``/``substring``/``conv`` inside whole-stage codegen. Works on
    any canonical-header 16-bit mono PCM WAV (the layout the stdlib
    ``wave`` writer emits, proven in tests).

    Returns (doc_id, sample_rate, n_channels, bits_per_sample,
    n_samples, sum_amplitude, sum_abs, peak_abs, mean_abs_micros) —
    integer-exact.

    Scale: one projection over the payload scan; per-row work is linear
    in payload size; the samples are parsed ONCE (``transform``) and all
    three statistics come from ONE ``aggregate`` fold over a struct
    accumulator — no shuffle until the caller aggregates.

    ``passthrough`` names input columns carried verbatim onto the output
    rows (r16): the decode is a per-row projection, so a caller that
    needs payload metadata next to the decoded stats (crossmodal audit:
    byte_len, source, word count) rides them through instead of joining
    the encode frame back on doc_id — that join re-evaluated the whole
    payload build a second time AND paid a doc-keyed shuffle for
    row-local data (guide §2.4)."""
    hx = F.hex(F.col(payload_col))
    base = payloads.filter(_wav_pcm_ok(hx)).select(
        "doc_id",
        F.col(payload_col).alias("p"),
        hx.alias("hx"),
        _le_at(hx, 24, 4).alias("sample_rate"),
        _le_at(hx, 22, 2).cast("int").alias("n_channels"),
        _le_at(hx, 34, 2).cast("int").alias("bits_per_sample"),
        (_le_at(hx, 40, 4) / 2).cast("bigint").alias("n_samples"),
        *passthrough,
    )
    # 16-bit signed LE sample i: bytes 44+2i (LSB), 45+2i (MSB) → hex
    # chars 89+4i and 91+4i; signed = u − 65536·[u ≥ 32768]. SINGLE
    # PASS: `transform` materializes each unsigned sample ONCE (one
    # conv + two substrings per sample), then ONE `aggregate` folds a
    # struct accumulator for (sum, sum_abs, peak) — referencing the
    # already-materialized bigint is free, unlike re-parsing the hex.
    signed = "(u - if(u >= 32768, 65536, 0))"
    # NB1: Spark's sequence(0, n-1) generates a DESCENDING [0, -1] when
    # n = 0, so an (exotic but valid) zero-sample WAV must short-circuit
    # to the zero accumulator instead of folding two garbage indices.
    # NB2: the one-element transform(array(hx), hv -> ...) is Spark
    # SQL's let-binding idiom — after projection collapse `hx` is the
    # hex(payload) EXPRESSION, and referencing it directly inside the
    # per-sample lambda would re-hex the whole payload per sample
    # (O(len^2) per row on real-size audio); the binding evaluates it
    # exactly once per row.
    zeros = (
        "named_struct('s', cast(0 as bigint), 'sa', cast(0 as bigint),"
        " 'pk', cast(0 as bigint))"
    )
    stats = F.expr(
        f"if(n_samples < 1, {zeros},"
        " element_at(transform(array(hx), hv ->"
        " aggregate("
        " transform(sequence(0, cast(n_samples as int) - 1), i ->"
        "  cast(conv(concat(substring(hv, 91 + 4 * i, 2),"
        "   substring(hv, 89 + 4 * i, 2)), 16, 10) as bigint)),"
        f" {zeros},"
        " (acc, u) -> named_struct("
        f"  's', acc.s + {signed},"
        f"  'sa', acc.sa + abs({signed}),"
        f"  'pk', greatest(acc.pk, abs({signed}))))), 1))"
    )
    return base.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "bits_per_sample",
        "n_samples",
        stats.alias("_st"),
        *passthrough,
    ).select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "bits_per_sample",
        "n_samples",
        F.col("_st.s").alias("sum_amplitude"),
        F.col("_st.sa").alias("sum_abs"),
        F.col("_st.pk").alias("peak_abs"),
        *passthrough,
    ).select(
        "*",
        F.expr("sum_abs * 1000000 div greatest(n_samples, 1)").alias(
            "mean_abs_micros"
        ),
    )


def y4m_encode(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Build REAL YUV4MPEG2 (y4m) video payloads — the uncompressed video
    interchange format ffmpeg/mplayer read — entirely with codegen'd
    expressions: plain-text stream header ``YUV4MPEG2 W<w> H<h> F25:1 Ip
    A1:1 C444\\n`` followed by ``n_frames`` frames, each a ``FRAME\\n``
    marker + w·h·3 raw YUV bytes (C444: full-resolution planes).
    Dimensions and frame count derive from doc_id (w=4, h ∈ 2..4,
    frames ∈ 2..5); frame bytes are the doc's md5 hex stream unhexed.
    Output schema matches ``attach_binary_payload``."""
    did = F.col(id_col)
    h = (F.lit(2) + did % 3).cast("int")
    n_frames = (F.lit(2) + did % 4).cast("int")
    header = F.concat(
        F.lit("YUV4MPEG2 W4 H"), h.cast("string"), F.lit(" F25:1 Ip A1:1 C444\n")
    )
    # frame payload hex: 3·w·h bytes per frame → 6·w·h hex chars; max
    # 5 frames × 4×4 → 480 chars ≤ 15 × 32 = 480
    # the repeated-md5 hex stream is let-bound (one-element transform) so
    # it folds ONCE per row — the collapsed form re-hashed and re-repeated
    # it per frame (r12 loop-invariant HOF gate)
    frames = F.expr(
        f"element_at(transform(array(repeat(md5(encode({text_col},"
        " 'UTF-8')), 15)), hs ->"
        f" array_join(transform(sequence(1, 2 + {id_col} % 4), f ->"
        " concat('4652414D450A',"  # 'FRAME\n' in hex
        f" substring(hs,"
        f" (f - 1) * (4 * (2 + {id_col} % 3) * 6) + 1,"
        f" 4 * (2 + {id_col} % 3) * 6))), '')), 1)"
    )
    payload = F.concat(F.encode(header, "UTF-8"), F.unhex(frames))
    return docs.select(
        did.alias("doc_id"),
        payload.alias("payload"),
        F.lit("video/x-yuv4mpeg").alias("media_type"),
        F.length(payload).cast("bigint").alias("byte_len"),
    )


def y4m_decode(
    payloads: DataFrame,
    payload_col: str = "payload",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """REAL video decode as pure relational expressions — completing the
    real-codec trio (PPM image, WAV audio, y4m video), no stub on this
    path: parses the YUV4MPEG2 stream header (width, height, colorspace
    tag) in hex space, walks the fixed-stride FRAME structure, verifies
    every frame marker, and folds each frame's luma (Y) plane into a
    per-frame mean — returned as one row per (doc, frame), the shape the
    frame-sampling stage consumes. ``hex``/``substring``/``conv`` inside
    whole-stage codegen; no UDF, no Python row loop.

    Works on any C444 y4m with the canonical parameter order (the form
    common writers emit). Returns (doc_id, width, height, n_frames,
    frame_idx, marker_ok, y_sum, y_mean_micros).

    Scale: one projection + a frame-index posexplode (≤ frames-per-video
    fan-out); per-row work is linear in frame size; nothing shuffles
    until the caller aggregates."""
    hx = F.hex(F.col(payload_col))
    width, height, n_frames, hdr_hex, stride_hex = _y4m_header(hx)
    base = payloads.select(
        "doc_id",
        hx.alias("hx"),
        width.alias("width"),
        height.alias("height"),
        n_frames.alias("n_frames"),
        hdr_hex.alias("hh"),
        stride_hex.alias("sh"),
        *passthrough,
    ).filter(F.col("width").isNotNull() & (F.col("n_frames") >= 1))
    per_frame = base.select(
        "doc_id",
        "width",
        "height",
        "n_frames",
        "hh",
        "sh",
        "hx",
        *passthrough,
        F.explode(F.expr("sequence(0, n_frames - 1)")).alias("frame_idx"),
    )
    # luma plane = first w·h bytes after the marker; marker check is an
    # exact hex compare at the computed offset
    return per_frame.select(
        "doc_id",
        "width",
        "height",
        "n_frames",
        "frame_idx",
        *passthrough,
        F.expr(
            "cast(substring(hx, hh + frame_idx * sh + 1, 12) = '4652414D450A'"
            " as int)"
        ).alias("marker_ok"),
        F.expr(
            "if(width * height < 1, cast(0 as bigint),"
            " element_at(transform(array(hx), hv ->"
            " aggregate(sequence(0, width * height - 1), cast(0 as bigint),"
            " (acc, i) -> acc + conv(substring(hv,"
            " hh + frame_idx * sh + 12 + 2 * i + 1, 2), 16, 10))), 1))"
        ).alias("y_sum"),
    ).select(
        "*",
        F.expr(
            "y_sum * 1000000 div greatest(width * height, 1)"
        ).alias("y_mean_micros"),
    )


def _content_ppm_gray(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Content-derived P6 images decoded to gray planes: ``(doc_id, w, h,
    gs)``, ``gs[i]`` the mean of pixel i's RGB bytes. Dims derive from the
    image digest, not the row id — an image's shape is a property of its
    bytes, and identical content must yield identical files for dedup to
    see it; the payload is ``ppm_p6_encode``'s canonical P6 layout."""
    b0 = f"cast(conv(substring(md5({text_col}), 1, 2), 16, 10) as int)"
    payload = _p6_payload(text_col, f"4 + {b0} % 5", f"3 + {b0} div 5 % 4")
    enc = docs.select(F.col(id_col).alias("doc_id"), payload.alias("payload"))
    hx = F.hex(F.col("payload"))
    width, height, _, hdr_hex_len = _ppm_header(hx)
    base = enc.select(
        "doc_id",
        width.alias("w"),
        height.alias("h"),
        hx.alias("hx"),
        hdr_hex_len.alias("hh"),
    )
    byte_at = (
        "cast(conv(substring(hx, hh + 2 * ({o}) + 1, 2), 16, 10) as bigint)"
    )
    gray_i = (
        "(" + byte_at.format(o="3 * i") + " + " + byte_at.format(o="3 * i + 1")
        + " + " + byte_at.format(o="3 * i + 2") + ") div 3"
    )
    return base.select(
        "doc_id",
        "w",
        "h",
        F.expr(f"transform(sequence(0, w * h - 1), i -> {gray_i})").alias("gs"),
    )


def _sign_fp(coefs: list[str]):
    """DCT sign fingerprint: bit k is set iff AC coefficient ``coefs[k]``
    is positive."""
    return F.expr(
        " + ".join(
            f"if(({c}) > 0, cast({1 << k} as bigint), cast(0 as bigint))"
            for k, c in enumerate(coefs)
        )
    )


def image_ahash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perceptual-hash image dedup over the REAL PPM payloads — the
    multimodal member of the dedup family: each image's average hash
    (aHash — per-pixel gray vs the image's own mean gray, packed into a
    ≤48-bit fingerprint) is banded into ``bands`` 12-bit blocks, and
    near-duplicate candidate pairs form ONLY inside (width, height,
    band_idx, band_bits) buckets — never all-pairs. By pigeonhole, any
    pair within ``max_hamming`` ≤ bands−1 bit flips shares at least one
    identical band, so recall is exact at the configured threshold
    (the same soundness argument as the SimHash text path; the operator
    raises if the threshold breaks it). Verification is an exact
    ``bit_count(xor)`` on the two fingerprints.

    Returns (doc_a, doc_b, width, height, hamming), doc_a < doc_b,
    hamming ≤ ``max_hamming`` (0 = pixel-identical under aHash).

    Scale: fingerprints are one expression pass over the payload scan
    (gray fold + mean + bit pack); the bucket join streams band
    collision lists, never the corpus square. Fingerprints are 8 bytes —
    the index this builds is what image dedup ships to later snapshots.
    """
    check_pigeonhole(max_hamming, bands)
    grays = _content_ppm_gray(docs, text_col, id_col).select(
        "doc_id",
        "w",
        "h",
        "gs",
        F.expr(
            "aggregate(gs, cast(0 as bigint), (acc, x) -> acc + x)"
            " div (w * h)"
        ).alias("mean_gray"),
    )
    # materialize the fingerprint table (8 bytes/doc): without it the
    # whole hex→gray→mean→bits chain re-inlines into every band row and
    # BOTH join sides (measured 30× slower); this is also the "index this
    # builds" of the docstring — fingerprints persist, payloads don't
    fp = grays.select(
        "doc_id",
        "w",
        "h",
        F.expr(
            "aggregate(zip_with(gs, sequence(0, size(gs) - 1),"
            " (g, i) -> if(g >= mean_gray, shiftleft(cast(1 as bigint), i),"
            " cast(0 as bigint))), cast(0 as bigint), (acc, x) -> acc + x)"
        ).alias("fp"),
    ).localCheckpoint(eager=True)
    return hamming_pairs(fp, bands, 12, max_hamming, keys=("w", "h")).select(
        "doc_a", "doc_b", F.col("w").alias("width"), F.col("h").alias("height"), "hamming"
    )


# integer micro-fixed-point DCT basis: cos(pi*k/8) for k = 0..15 (the
# full period the 4x4 DCT-II needs), floor(x*1e6 + 0.5). EMBEDDED as
# literals — never computed via cos() at query time — so Spark and the
# DuckDB oracle run bit-identical integer arithmetic with no libm in
# either engine's hot path.
DCT_COS_MICROS: tuple[int, ...] = (
    1000000, 923880, 707107, 382683, 0, -382683, -707107, -923880,
    -1000000, -923880, -707107, -382683, 0, 382683, 707107, 923880,
)

# cos(pi*k/16) for k = 0..31 at the same micro fixed point — the basis
# period the 8x8 grid needs (the production fingerprint width: 63 AC
# bits, 16-bit band buckets)
DCT16_COS_MICROS: tuple[int, ...] = (
    1000000, 980785, 923880, 831470, 707107, 555570, 382683, 195090,
    0, -195090, -382683, -555570, -707107, -831470, -923880, -980785,
    -1000000, -980785, -923880, -831470, -707107, -555570, -382683, -195090,
    0, 195090, 382683, 555570, 707107, 831470, 923880, 980785,
)


def dct_sign_fp_terms(grid: int, elem) -> tuple[list[str], list[str]]:
    """Engine-portable expression strings for the SEPARABLE integer
    DCT-II sign fingerprint over a ``grid`` x ``grid`` gray array:
    ``rowdct[p]`` (p = u + grid*y) is the x-pass sum for frequency u of
    row y; ``coefs[k-1]`` (k = u + grid*v >= 1) sums the y-pass over the
    rowdct array. Associativity makes the two-pass integer result
    IDENTICAL to the direct 2D sum of basis products, at O(grid^3)
    terms instead of O(grid^4). All weights are compile-time literals
    from the embedded micro-cosine tables; ``elem(name, i)`` renders
    1-based element access in the target dialect (Spark ``element_at``,
    DuckDB ``name[i]``) so the DuckDB oracle is generated from the SAME
    weight code."""
    ct = {4: DCT_COS_MICROS, 8: DCT16_COS_MICROS}[grid]
    period = 4 * grid
    rowdct = []
    for y in range(grid):
        for u in range(grid):
            terms = [
                f"{elem('gr', y * grid + x + 1)} * cast({ct[((2 * x + 1) * u) % period]} as bigint)"
                for x in range(grid)
                if ct[((2 * x + 1) * u) % period]
            ]
            rowdct.append(" + ".join(terms) if terms else "cast(0 as bigint)")
    coefs = []
    for k in range(1, grid * grid):
        u, v = k % grid, k // grid
        terms = [
            f"{elem('rd', u + grid * y + 1)} * cast({ct[((2 * y + 1) * v) % period]} as bigint)"
            for y in range(grid)
            if ct[((2 * y + 1) * v) % period]
        ]
        coefs.append(" + ".join(terms) if terms else "cast(0 as bigint)")
    return rowdct, coefs


def image_phash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    grid: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DCT perceptual-hash (pHash) image dedup over the REAL PPM
    payloads — the frequency-domain sibling of ``image_ahash_pairs``:
    aHash thresholds raw brightness (so any global exposure shift flips
    bits), while pHash signs the low-frequency 2D DCT-II coefficients of
    a fixed 4x4 nearest-neighbor downsample, which is invariant to the
    image's absolute brightness (the DC coefficient is excluded) and to
    its original dimensions (every image lands on the same 4x4 grid, so
    the candidate buckets need no shape key — re-encodes at different
    sizes can still collide, exactly what aHash cannot do).

    The DCT uses EMBEDDED integer micro-cosine tables
    (``DCT_COS_MICROS`` / ``DCT16_COS_MICROS``) — all arithmetic is
    bigint-exact, engine portable, no float cosines at query time. Bit
    k = sign of AC coefficient k (the integer-deterministic variant of
    the classic median threshold). The grid**2-1-bit fingerprint (63
    bits at the default ``grid=8``; 15 at the compact ``grid=4``) is
    banded into ``bands`` equal-width blocks; candidate pairs form ONLY
    inside (band_idx, band_bits) buckets — by pigeonhole any pair
    within ``max_hamming`` <= bands-1 bit flips shares an identical
    band, so recall is exact at the configured threshold (raises when
    the threshold breaks it). Verification is an exact
    ``bit_count(xor)``.

    Returns (doc_a, doc_b, hamming), doc_a < doc_b, hamming <=
    ``max_hamming``.

    Scale: fingerprints are one expression pass over the payload scan
    (gray fold -> grid resample -> separable integer DCT, O(grid^3)
    literal-weight terms); the bucket join streams band collision
    lists, never the corpus square. Bucket cardinality is what makes
    the default honest at corpus scale: grid=8 gives 2^16 buckets per
    band (the 30x probe showed grid=4's 2^5 buckets collapsing the
    candidate stream into 32 lists — fine at 10^5 images, quadratic
    grief at 10^9).
    """
    check_pigeonhole(max_hamming, bands)
    # THREE MATERIALIZED STAGES (gray plane -> row DCT -> fingerprint),
    # each a flat literal-weight projection over the PREVIOUS stage's
    # stored array. The staging is load-bearing, not stylistic: with one
    # collapsed projection, Catalyst inlines the producer expression
    # into every element_at reference — the gray transform re-evaluates
    # 64x per row inside the resample, the row-DCT 504x inside the
    # coefficient sums — a multiplicative interpreted blow-up measured
    # at ~40 s for 5k images (vs ~7 s staged). Each checkpoint stores a
    # per-image array (<=0.5 KB), the natural index-build artifacts.
    # The nearest-neighbor resample (cell (u, v) reads source pixel
    # ((u*w) div grid, (v*h) div grid) — defined for every w, h >= 1)
    # is folded into the row-DCT element access.
    def elem(name: str, i: int) -> str:
        if name == "rd":
            return f"element_at(rd, {i})"
        y, x = divmod(i - 1, grid)
        return (
            f"element_at(gs, cast(({y} * h div {grid}) * w"
            f" + ({x} * w div {grid}) + 1 as int))"
        )

    rowdct, coefs = dct_sign_fp_terms(grid, elem)
    gs_df = _content_ppm_gray(docs, text_col, id_col).localCheckpoint(eager=True)
    rd_df = gs_df.select(
        "doc_id", F.expr("array(" + ", ".join(rowdct) + ")").alias("rd")
    ).localCheckpoint(eager=True)
    fp = rd_df.select("doc_id", _sign_fp(coefs).alias("fp")).localCheckpoint(eager=True)
    # ceil: every one of the grid**2 - 1 bits lands in exactly one band
    return hamming_pairs(fp, bands, -(-(grid * grid - 1) // bands), max_hamming)


def crossmodal_pair_audit(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Cross-modal consistency audit — the pairing QA step a text+audio
    +video corpus needs before (text, media) pairs feed training: every
    document's WAV and y4m payloads are DECODED through the real
    relational codecs and the decoded structure is reconciled against
    the payload's byte size and the text's word count. Three checks per
    doc, reduced to one report row per source:

      * audio_sized_ok  — container byte length equals the canonical
        44-byte header + 2 bytes per decoded 16-bit sample,
      * video_sized_ok  — byte length equals the stream header + decoded
        n_frames x ('FRAME\\n' + w*h*3 C444 bytes),
      * audio_underscaled — fewer decoded samples than text words (an
        impossible narration: flags truncated/mispaired audio).

    Returns (source, n_docs, n_audio_sized_ok, n_video_sized_ok,
    n_audio_underscaled, total_samples, total_frames,
    samples_per_word_micros) — the last is the per-source pacing ratio
    sum(samples)*1e6 div sum(words). Integer-exact end to end.

    Scale (r16): the audio leg is a pure per-row projection — the encode's
    metadata (byte_len, source, word count) rides THROUGH the decode via
    column passthrough instead of joining the encode frame back on doc_id
    (which re-evaluated the whole payload build a second time and paid a
    doc-keyed shuffle for row-local data, guide §2.4); the video leg's
    byte_len likewise rides the per-frame rows into its one unavoidable
    groupBy. ONE doc-keyed join (audio row ⋈ video aggregate) remains of
    the former three, no payload bytes move after the decode projections,
    and the final aggregate is one keyed reduce to |sources| rows."""
    docs2 = docs.withColumn(
        "_n_words", F.size(F.split(F.col(text_col), " ")).cast("bigint")
    )
    wav = wav_pcm_decode(
        wav_pcm_encode(
            docs2, text_col=text_col, id_col=id_col,
            passthrough=("source", "_n_words"),
        ),
        passthrough=("byte_len", "source", "_n_words"),
    ).select(
        "doc_id",
        "source",
        F.col("_n_words").alias("n_words"),
        "n_samples",
        F.expr("cast(byte_len = 44 + 2 * n_samples as int)").alias(
            "audio_sized_ok"
        ),
    )
    vid = (
        y4m_decode(
            y4m_encode(docs, text_col=text_col, id_col=id_col),
            passthrough=("byte_len",),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frames_seen"),
            F.max("width").alias("vw"),
            F.max("height").alias("vh"),
            F.max("byte_len").alias("byte_len"),
        )
        .select(
            "doc_id",
            "n_frames_seen",
            # header 'YUV4MPEG2 W<w> H<h> F25:1 Ip A1:1 C444\n' = 33 fixed
            # bytes + the W/H digit runs — derived from the DECODED dims so
            # multi-digit dimensions size-check correctly (round-11 advice;
            # previously hardcoded 35, valid only for 1-digit dims); each
            # frame is the 6-byte marker + w*h*3 C444 payload bytes
            F.expr(
                "cast(byte_len = 33 + length(cast(vw as string))"
                " + length(cast(vh as string))"
                " + n_frames_seen * (6 + vw * vh * 3) as int)"
            ).alias("video_sized_ok"),
        )
    )
    per_doc = (
        wav.join(vid, "doc_id")
        .select(
            "source",
            "n_words",
            "n_samples",
            "audio_sized_ok",
            "n_frames_seen",
            "video_sized_ok",
            F.expr("cast(n_samples < n_words as int)").alias(
                "audio_underscaled"
            ),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("audio_sized_ok").cast("bigint").alias("n_audio_sized_ok"),
            F.sum("video_sized_ok").cast("bigint").alias("n_video_sized_ok"),
            F.sum("audio_underscaled")
            .cast("bigint")
            .alias("n_audio_underscaled"),
            F.sum("n_samples").cast("bigint").alias("total_samples"),
            F.sum("n_frames_seen").cast("bigint").alias("total_frames"),
            F.expr(
                "cast(sum(n_samples) * 1000000 div greatest(sum(n_words), 1)"
                " as bigint)"
            ).alias("samples_per_word_micros"),
        )
    )


AUDIO_FP_FEATURES: tuple[str, ...] = ("en", "sa", "zc", "fx")


def audio_fingerprint_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    windows: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Audio perceptual near-dup over the REAL WAV payloads — the audio
    member of the modality trio's near-dup family (image has aHash +
    pHash; this is the integer-exact analog of Chromaprint's band-energy
    fingerprint): the PCM sample stream is DECODED through the real
    relational codec, split into ``windows`` equal time windows, and four
    integer band features are folded per window —

      * en — energy (sum of squared samples),
      * sa — mean-abs level (sum of |sample|),
      * zc — zero crossings (a frequency-content proxy: sign flips
        between consecutive samples),
      * fx — spectral flux analog (sum of |delta| between consecutive
        samples, i.e. high-band energy).

    Bit (f*windows + w) = [feature f of window w exceeds the track's
    per-window mean of f] — the aHash thresholding rule applied to
    Chromaprint-style band energies, invariant to absolute gain ordering
    and integer-deterministic (no floats, no FFT; zc/fx ARE the coarse
    spectrum split). The (4*windows - 1)-bit fingerprint (63 at the
    default 16 windows) is banded into ``bands`` equal-width blocks;
    candidate pairs form ONLY inside (band_idx, band_bits) buckets —
    pigeonhole-exact recall at ``max_hamming`` <= bands-1 (raises when
    the threshold breaks it) — and are verified by exact
    ``bit_count(xor)``.

    Returns (doc_a, doc_b, hamming), doc_a < doc_b, hamming <=
    ``max_hamming``.

    Scale: TWO materialized stages (window features -> fingerprint). The
    window features fold DIRECTLY from the let-bound hex — each sample
    is parsed exactly once (the fold accumulator carries the previous
    signed sample for zc/fx) and the decoded stream is never
    materialized: an array staging would checkpoint ~4x the payload
    bytes per row (20 MB/row for a 5 MB clip) with no reuse to justify
    it — the opposite trade from image_phash, whose staged arrays are
    re-read 64x. The feature->fingerprint barrier stays (the 63 bit
    terms re-reference the window array; collapsed, they would re-fold
    it per bit). Per-row work is linear in payload size; the bucket
    join streams band collision lists (2^16 buckets per band at the
    defaults), never the corpus square."""
    check_pigeonhole(max_hamming, bands)
    n_bits = 4 * windows - 1
    enc = wav_pcm_encode(docs, text_col=text_col, id_col=id_col)
    hx = F.hex(F.col("payload"))
    base = enc.filter(_wav_pcm_ok(hx)).select(
        "doc_id",
        hx.alias("hx"),
        (_le_at(hx, 40, 4) / 2).cast("int").alias("n"),
    )
    # stage 1: per-window integer band features folded DIRECTLY from the
    # hex — no decoded-sample array is ever materialized. The windows
    # partition the sample range, so each sample is parsed exactly once
    # (the accumulator carries the previous signed sample for zc/fx);
    # a decoded-array staging here would checkpoint ~4x the payload
    # bytes per row (20 MB/row for a 5 MB clip) for no reuse — the
    # opposite trade from image_phash, whose staged arrays ARE re-read
    # 64x. Let-bindings: hv = hex(payload) once per row; u = the parsed
    # unsigned sample once per iteration; s = signed once per iteration.
    zeros = "named_struct('en', 0L, 'sa', 0L, 'zc', 0L, 'fx', 0L)"
    zeros_p = zeros[:-1] + ", 'prev', 0L)"
    u_j = (
        "cast(conv(concat(substring(hv, 91 + 4 * (j - 1), 2),"
        " substring(hv, 89 + 4 * (j - 1), 2)), 16, 10) as bigint)"
    )
    window_fold = (
        f"aggregate(sequence(w * n div {windows} + 1,"
        f" (w + 1) * n div {windows}), {zeros_p}, (acc, j) ->"
        f" element_at(transform(array({u_j}), u ->"
        " element_at(transform(array(u - if(u >= 32768, 65536, 0)), s ->"
        " named_struct("
        "  'en', acc.en + s * s,"
        "  'sa', acc.sa + abs(s),"
        f"  'zc', acc.zc + if(j > w * n div {windows} + 1 and"
        "   ((acc.prev >= 0) != (s >= 0)), 1L, 0L),"
        f"  'fx', acc.fx + if(j > w * n div {windows} + 1,"
        "   abs(s - acc.prev), 0L),"
        "  'prev', s)), 1)), 1),"
        " a -> named_struct('en', a.en, 'sa', a.sa, 'zc', a.zc, 'fx', a.fx))"
    )
    wf_df = base.select(
        "doc_id",
        F.expr(
            "element_at(transform(array(hx), hv ->"
            f" transform(sequence(0, {windows - 1}), w ->"
            f" if((w + 1) * n div {windows} <= w * n div {windows},"
            f" {zeros}, {window_fold}))), 1)"
        ).alias("wf"),
    ).localCheckpoint(eager=True)
    # stage 3: mean-threshold bits. The per-feature totals are let-bound
    # in a one-element struct so they fold ONCE, not once per bit.
    tot = ", ".join(
        f"'t{f}', aggregate(wf, 0L, (a, x) -> a + x.{f})"
        for f in AUDIO_FP_FEATURES
    )
    bit_terms = []
    for k in range(n_bits):
        f, w = AUDIO_FP_FEATURES[k // windows], k % windows
        bit_terms.append(
            f"if(element_at(wf, {w + 1}).{f} * {windows} > t.t{f},"
            f" cast({1 << k} as bigint), 0L)"
        )
    fp = wf_df.select(
        "doc_id",
        F.expr(
            f"element_at(transform(array(named_struct({tot})), t -> "
            + " + ".join(bit_terms)
            + "), 1)"
        ).alias("fp"),
    ).localCheckpoint(eager=True)
    return hamming_pairs(fp, bands, -(-n_bits // bands), max_hamming)


def video_frame_fingerprints(
    docs: DataFrame,
    grid: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-frame perceptual fingerprints from REAL y4m payloads: every
    frame's luma plane decoded from the payload bytes, nearest-neighbor
    resampled to ``grid``x``grid``, signed through the shared separable
    integer DCT-II (``dct_sign_fp_terms`` — the same weight code as image
    pHash). Returns ``(doc_id, nf, fi, fp)`` — one (grid^2 - 1)-bit bigint
    per frame. Shared producer for ``video_phash_pairs`` (near-dup) and
    ``video_shot_boundaries`` (temporal segmentation).

    Scale: three materialized stages (cells -> row DCT -> fp) per the
    CollapseProject discipline; ALL frames' cells project in one nested
    transform over the let-bound hex BEFORE the frame fan-out, so payload
    bytes never copy into per-frame rows."""
    enc = y4m_encode(docs, text_col=text_col, id_col=id_col)
    hx = F.hex(F.col("payload"))
    width, height, n_frames, hdr_hex, stride_hex = _y4m_header(hx)
    base = enc.select(
        "doc_id",
        hx.alias("hx"),
        width.alias("w"),
        height.alias("h"),
        n_frames.alias("nf"),
        hdr_hex.alias("hh"),
        stride_hex.alias("sh"),
    ).filter(F.col("w").isNotNull() & (F.col("nf") >= 1))
    # stage 1: EVERY frame's luma grid cells in one nested transform over
    # the let-bound hex, THEN a posexplode of the tiny per-frame arrays
    # (grid^2 bigints each). Exploding the frame index FIRST would copy
    # the whole payload hex into every frame row before the cells project
    # it away — transient, but a 300-frame real video would memcpy ~300x
    # its payload per scan; here the payload leaves the row before any
    # fan-out. Nearest-neighbor resample reads only grid^2 of the w*h
    # luma bytes per frame (luma = first w*h bytes after the 6-byte
    # FRAME marker).
    cell = (
        "cast(conv(substring(hv, hh + fi * sh + 12"
        f" + 2 * (((c div {grid}) * h div {grid}) * w"
        f" + ((c % {grid}) * w div {grid})) + 1, 2), 16, 10) as bigint)"
    )
    gs_df = base.select(
        "doc_id",
        "nf",
        F.posexplode(
            F.expr(
                "element_at(transform(array(hx), hv ->"
                " transform(sequence(0, nf - 1), fi ->"
                f" transform(sequence(0, {grid * grid - 1}),"
                f" c -> {cell}))), 1)"
            )
        ).alias("fi", "gs"),
    ).localCheckpoint(eager=True)
    rowdct, coefs = dct_sign_fp_terms(
        grid, lambda n, i: f"element_at({'gs' if n == 'gr' else 'rd'}, {i})"
    )
    rd_df = gs_df.select(
        "doc_id",
        "nf",
        "fi",
        F.expr("array(" + ", ".join(rowdct) + ")").alias("rd"),
    ).localCheckpoint(eager=True)
    return rd_df.select("doc_id", "nf", "fi", _sign_fp(coefs).alias("fp")).localCheckpoint(
        eager=True
    )


def video_phash_pairs(
    docs: DataFrame,
    grid: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Video near-dup via per-frame perceptual fingerprints — the video
    member of the modality near-dup family: every y4m frame's LUMA plane
    is decoded from the real payload bytes, resampled to a fixed
    ``grid`` x ``grid``, signed through the same separable integer
    DCT-II as ``image_phash_pairs`` (shared ``dct_sign_fp_terms``
    weight code, embedded micro-cosine literals), giving a
    (grid^2 - 1)-bit fingerprint PER FRAME; the per-video fingerprint
    SEQUENCE is then joined by a banded sequence-similarity rule:

      * candidates — videos sharing an IDENTICAL frame fingerprint at
        the same frame index (each (frame_idx, fp) is a bucket);
      * verify — majority vote over the aligned frame prefix
        (min(n_a, n_b) frames): kept iff more than half the aligned
        frames have identical fingerprints.

    Pigeonhole recall is EXACT for the majority rule: a qualifying pair
    has >= 1 identical aligned frame, hence shares >= 1 bucket. Returns
    (doc_a, doc_b, frames_compared, matching_frames), doc_a < doc_b.

    Scale: fingerprints are three materialized stages (luma grid cells
    -> row DCT -> frame fp), each a flat literal-weight projection over
    the previous stage's stored array (the image_phash CollapseProject
    discipline); all frames' cells are projected in ONE nested transform
    over the let-bound hex BEFORE the frame fan-out, so the payload
    never copies into per-frame rows (a 300-frame real video would
    otherwise memcpy ~300x its payload at the scan); the bucket join
    keys on (frame_idx, fp) — 2^15 buckets
    per frame slot at grid=4, suiting the corpus's 4x2..4 frames; a
    real-resolution corpus would pass grid=8 (63-bit frames, 2^63 key
    space) and band each frame fp exactly as image_phash_pairs does.
    The sequence verify moves only fingerprint arrays (<= 8 bytes per
    frame), never pixel data."""
    fp = video_frame_fingerprints(
        docs, grid=grid, text_col=text_col, id_col=id_col
    )
    seqs = fp.groupBy("doc_id", "nf").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(fi, fp))), s -> s.fp)"
        ).alias("fps")
    )
    cands = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.fi") == F.col("b.fi"))
            & (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    verified = (
        cands.join(
            seqs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("nf").alias("na"),
                F.col("fps").alias("fa"),
            ),
            "doc_a",
        )
        .join(
            seqs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("nf").alias("nb"),
                F.col("fps").alias("fb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("cast(least(na, nb) as int)").alias("frames_compared"),
            F.expr(
                "aggregate(zip_with(slice(fa, 1, cast(least(na, nb) as int)),"
                " slice(fb, 1, cast(least(na, nb) as int)),"
                " (x, y) -> if(x = y, 1, 0)), 0, (acc, m) -> acc + m)"
            ).alias("matching_frames"),
        )
        .filter(F.expr("2 * matching_frames > frames_compared"))
    )
    return verified.select(
        "doc_a", "doc_b", "frames_compared", F.col("matching_frames").cast("int").alias("matching_frames")
    )


def video_shot_boundaries(
    docs: DataFrame,
    grid: int = 4,
    hamming_threshold: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Shot-boundary (cut) detection over REAL y4m payloads: consecutive
    frames' perceptual fingerprints (shared ``video_frame_fingerprints``
    producer — the same DCT-II sign hash the near-dup join buckets on)
    compare by Hamming distance; a jump > ``hamming_threshold`` bits marks
    a cut, the temporal segmentation primitive a video training pipeline
    runs before per-shot sampling/dedup (a shot is the natural dedup unit:
    near-identical frames WITHIN a shot carry no new signal).

    Returns one row per video: ``(doc_id, n_frames, n_shots,
    max_cut_hamming, mean_cut_hamming_ppm)`` where n_shots = 1 + #cuts
    (a 1-frame video is one shot) and the mean is over the n_frames - 1
    consecutive-frame comparisons, micro-quantized exact.

    Scale posture: the window is per-video (partitioned lag over frame
    index — no global ordering), moving only ≤8-byte fingerprints; the
    payload never leaves the fingerprint producer's scan stage.
    """
    from pyspark.sql import Window

    fp = video_frame_fingerprints(docs, grid=grid, text_col=text_col, id_col=id_col)
    w = Window.partitionBy("doc_id").orderBy("fi")
    stepped = fp.withColumn(
        "_ham",
        F.bit_count(
            F.col("fp").bitwiseXOR(F.lag("fp").over(w))
        ).cast("int"),
    )
    return (
        stepped.groupBy("doc_id")
        .agg(
            F.max("nf").cast("int").alias("n_frames"),
            (
                F.lit(1)
                + F.sum(
                    F.when(F.col("_ham") > hamming_threshold, 1).otherwise(0)
                )
            )
            .cast("int")
            .alias("n_shots"),
            F.coalesce(F.max("_ham"), F.lit(0)).cast("int").alias("max_cut_hamming"),
            F.coalesce(
                F.floor(
                    F.sum("_ham") * 1000000 / F.count("_ham")
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("mean_cut_hamming_ppm"),
        )
    )
