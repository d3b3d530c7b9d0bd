"""Lakehouse table maintenance: small-file compaction and stats-friendly
layout rewrites.

Streaming sinks and frequent micro-batches leave many small files; at 100 TB
read amplification from file-open costs dominates unless tables are
periodically compacted. ``compact_parquet`` rewrites a parquet directory to
size-targeted files, optionally sorting within partitions so parquet
row-group min/max statistics enable file/row-group skipping on the sort key
(the vanilla-Spark stand-in for clustering/Z-ordering).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "compact_parquet",
    "with_z_value",
    "cluster_zorder",
    "file_skipping_audit",
    "compaction_bin_plan",
    "dataset_fingerprints",
    "snapshot_reconcile",
    "vacuum_plan",
    "vacuum_apply",
]


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> int:
    """Rewrite the parquet table at ``path`` into ``ceil(bytes/target)`` files
    (atomic via temp-dir swap). Returns the new file count."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    n_files = max(1, -(-total // target_file_bytes))
    df: DataFrame = spark.read.parquet(path)
    out = df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*[F.asc(c) for c in sort_within_by])
    tmp = path.rstrip("/") + ".compact.tmp"
    out.write.mode("overwrite").parquet(tmp)
    back = spark.read.parquet(tmp)
    assert back.count() == df.count()
    _swap_dirs(tmp, path)
    return n_files


def _swap_dirs(tmp: str, path: str) -> None:
    """Crash-safe table swap: move the live dir aside, rename the rewrite
    into place, then delete the old copy. At every instant a complete
    directory exists at ``path`` or ``path.old`` — a crash mid-swap is
    recoverable by renaming ``.old`` back, unlike rmtree-then-rename which
    strands the table in ``.tmp`` with nothing at ``path``."""
    old = path.rstrip("/") + ".old"
    if os.path.isdir(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def with_z_value(df: DataFrame, cols: list[str], bits: int = 16) -> DataFrame:
    """Append a ``_z`` Morton (Z-order) key interleaving the bit patterns of
    ``cols`` after min-max normalizing each to ``bits`` bits. Rows close in
    _z are close in EVERY clustered dimension, so range-partitioning on _z
    gives files whose parquet min/max stats are narrow on all of them —
    multi-dimensional file skipping with vanilla parquet, no table format
    needed. Stats come from one aggregate broadcast as a single row (no
    collect — the same job works at 100 TB)."""
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"_mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_mx_{c}") for c in cols],
    )
    scaled = []
    for c in cols:
        rng = F.col(f"_mx_{c}") - F.col(f"_mn_{c}")
        frac = F.when(
            rng > 0, (F.col(c).cast("double") - F.col(f"_mn_{c}")) / rng
        ).otherwise(F.lit(0.0))
        scaled.append(F.floor(frac * F.lit((1 << bits) - 1)).cast("bigint"))
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, s in enumerate(scaled):
            z = z + F.shiftright(s, b).bitwiseAND(F.lit(1)) * F.lit(
                1 << (b * len(cols) + i)
            ).cast("bigint")
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("_z", z)
        .drop(*[f"_mn_{c}" for c in cols], *[f"_mx_{c}" for c in cols])
    )


def cluster_zorder(
    spark: SparkSession, path: str, cols: list[str], n_files: int, bits: int = 16
) -> None:
    """Rewrite the parquet table at ``path`` Z-clustered on ``cols``:
    range-partition by the Morton key (disjoint _z ranges per file) and sort
    within files, then drop the key. Point/box predicates on any clustered
    column now skip most files on footer stats alone — the compaction-time
    layout optimization Delta/Iceberg call OPTIMIZE ZORDER, expressed as two
    stock DataFrame ops."""
    df = spark.read.parquet(path)
    clustered = (
        with_z_value(df, cols, bits)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    tmp = path.rstrip("/") + ".zorder.tmp"
    clustered.write.mode("overwrite").parquet(tmp)
    back = spark.read.parquet(tmp)
    assert back.count() == df.count()
    _swap_dirs(tmp, path)


def file_skipping_audit(
    df: DataFrame,
    date_col: str,
    key_col: str,
    n_files: int = 32,
    lo_pct: int = 45,
    hi_pct: int = 55,
) -> DataFrame:
    """Quantify how much a date-clustered file layout lets footer min/max
    stats skip, versus the same rows hash-scattered — the audit a 100 TB
    table owner runs before paying for a clustering rewrite.

    Two simulated layouts over the same scan:

    * ``clustered``  — file = range bucket of the epoch day (what
      ``cluster_zorder``/date-partitioned ingestion produces). Pure
      scan-side arithmetic (no global sort / ntile — a real range
      partitioner is how this ships at scale).
    * ``scattered``  — file = md5 bucket of the key (what an unclustered
      upsert-heavy table degrades to).

    The probe predicate is the central ``[lo_pct, hi_pct]`` percent slice
    of the date span (integer day arithmetic — exact in any engine). A
    file is skippable when its [min, max] day range misses the predicate
    interval entirely, which is precisely the parquet footer test.

    Returns one row per layout: ``(layout, n_files, n_files_skipped,
    rows_in_skipped_files, rows_total, rows_matching)``. Invariant (tested):
    skipped files contain zero matching rows, whatever the layout.

    Scale posture: ONE scan (each row explodes into its two (layout, file)
    assignments) into one ≤2·``n_files``-key groupBy, plus a 1-row
    broadcast of the global date bounds; output is 2 rows.
    """
    day = F.datediff(F.col(date_col), F.lit("1970-01-01").cast("date"))
    bounds = df.agg(
        F.min(day).alias("_dmin"), F.max(day).alias("_dmax")
    )
    base = (
        df.select(
            day.alias("_d"),
            F.col(key_col).cast("string").alias("_k"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            "_d",
            (
                F.col("_dmin")
                + F.floor(
                    (F.col("_dmax") - F.col("_dmin")) * F.lit(lo_pct) / 100
                )
            ).alias("_lo"),
            (
                F.col("_dmin")
                + F.floor(
                    (F.col("_dmax") - F.col("_dmin")) * F.lit(hi_pct) / 100
                )
            ).alias("_hi"),
            F.least(
                F.lit(n_files - 1),
                F.floor(
                    (F.col("_d") - F.col("_dmin"))
                    * n_files
                    / (F.col("_dmax") - F.col("_dmin") + 1)
                ),
            )
            .cast("int")
            .alias("_f_clustered"),
            (
                F.conv(F.substring(F.md5(F.concat(F.lit("file:"), F.col("_k"))), 1, 2), 16, 10)
                .cast("int")
                % n_files
            ).alias("_f_scattered"),
        )
    )

    # one scan: each row contributes a (layout, file) pair per layout, so
    # both layouts aggregate from a single pass + a single ≤2·n_files-key
    # shuffle instead of scanning the table once per layout
    tagged = base.select(
        "_d",
        "_lo",
        "_hi",
        F.explode(
            F.array(
                F.struct(
                    F.lit("clustered").alias("layout"),
                    F.col("_f_clustered").alias("file_id"),
                ),
                F.struct(
                    F.lit("scattered").alias("layout"),
                    F.col("_f_scattered").alias("file_id"),
                ),
            )
        ).alias("_lf"),
    ).select("_d", "_lo", "_hi", "_lf.layout", "_lf.file_id")
    files = tagged.groupBy("layout", "file_id").agg(
        F.min("_d").alias("_fmin"),
        F.max("_d").alias("_fmax"),
        F.count(F.lit(1)).cast("bigint").alias("_rows"),
        F.sum(
            F.when(
                (F.col("_d") >= F.col("_lo")) & (F.col("_d") <= F.col("_hi")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("_match"),
        F.max("_lo").alias("_lo"),
        F.max("_hi").alias("_hi"),
    )
    skipped = (F.col("_fmax") < F.col("_lo")) | (F.col("_fmin") > F.col("_hi"))
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(skipped.cast("bigint")).cast("bigint").alias("n_files_skipped"),
        F.sum(F.when(skipped, F.col("_rows")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("rows_in_skipped_files"),
        F.sum("_rows").cast("bigint").alias("rows_total"),
        F.sum("_match").cast("bigint").alias("rows_matching"),
    )


def compaction_bin_plan(
    files: DataFrame,
    partition_col: str,
    order_col: str,
    size_col: str,
    target_bytes: int,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Plan small-file compaction: assign each file to an output bin of
    ~``target_bytes`` using LINEAR packing — bin = floor(cumulative-start /
    target) in the partition's stable file order. First-fit-decreasing packs
    marginally tighter but is inherently sequential; linear packing is a
    window cumsum, shuffles once on the table partition key, and at 100 TB
    that is the difference between a plan job measured in seconds and one
    driver-bound loop over millions of file entries. Delta's OPTIMIZE file
    binning works the same way per partition.

    Returns one row per (partition, bin): ``(part_key, bin_id, n_files,
    bin_bytes, fill_ppm)`` where ``fill_ppm`` = bin_bytes·10⁶/target as an
    exact integer. Every bin except a partition's last holds ≥ target/2
    by construction when no single file exceeds the target.

    DETERMINISM CONTRACT: the cumsum window's order must be a TOTAL order
    within each partition, or bin assignment varies across runs/engines
    when ``order_col`` ties (Spark window output over a tied sort is
    partition-layout-dependent). Either ``order_col`` is unique per
    partition (a file name or monotonically assigned file index — true of
    every caller in this suite), or pass ``tiebreak_col`` (e.g. the file
    path) to break ties deterministically.
    """
    from pyspark.sql.window import Window

    order = ["_ord", "_tie"] if tiebreak_col is not None else ["_ord"]
    w = (
        Window.partitionBy("part_key")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cols = [
        F.col(partition_col).alias("part_key"),
        F.col(order_col).alias("_ord"),
        F.col(size_col).cast("bigint").alias("_bytes"),
    ]
    if tiebreak_col is not None:
        cols.append(F.col(tiebreak_col).alias("_tie"))
    planned = files.select(*cols).withColumn(
        "bin_id",
        F.floor(F.coalesce(F.sum("_bytes").over(w), F.lit(0)) / target_bytes).cast(
            "int"
        ),
    )
    return planned.groupBy("part_key", "bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("_bytes").cast("bigint").alias("bin_bytes"),
        F.floor(F.sum("_bytes") * 1000000 / target_bytes)
        .cast("bigint")
        .alias("fill_ppm"),
    )


def dataset_fingerprints(
    df: DataFrame, group_col: str, key_col: str, payload_col: str
) -> DataFrame:
    """Orderless content fingerprint per group: XOR of a 60-bit digest of
    every (key, payload-digest) row. XOR is associative and commutative, so
    the fingerprint is one partial-aggregated groupBy, independent of row
    order, partitioning, and file layout — two copies of a 100 TB table
    (pre/post migration, primary/replica) compare by exchanging |groups|
    rows, and a mismatch localizes to the group. The same shape at weaker
    guarantees is what Iceberg manifests store per data file.

    Returns ``(group, n_rows, total_payload_chars, content_fingerprint)``.
    """
    row_digest = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(key_col).cast("string"),
                    F.lit(":"),
                    F.md5(F.col(payload_col).cast("string")),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return df.groupBy(F.col(group_col).alias("group_key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.length(F.col(payload_col))).cast("bigint").alias("total_payload_chars"),
        F.bit_xor(row_digest).alias("content_fingerprint"),
    )


def snapshot_reconcile(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    compare_cols: list[str],
) -> DataFrame:
    """Classify every key across two table snapshots via ONE full-outer
    join: ``added`` (new only), ``removed`` (old only), ``changed`` (both,
    any compare column differs, null-safe), ``unchanged``. The standard
    migration / backfill acceptance gate: at 100 TB it is one co-partitioned
    shuffle on the key — never a driver-side diff — and its output is four
    counter rows, so the expensive part is exactly one join.

    Returns ``(change_class, n_rows)`` with all four classes present
    (zero-filled) for a stable schema.
    """
    o = old.select(
        F.col(key_col).alias("_k"),
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
        F.lit(1).alias("_in_old"),
    )
    n = new.select(
        F.col(key_col).alias("_k"),
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
        F.lit(1).alias("_in_new"),
    )
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    classified = o.join(n, "_k", "full_outer").select(
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change_class")
    )
    counted = classified.groupBy("change_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    spark = old.sparkSession
    all_classes = spark.createDataFrame(
        [("added",), ("removed",), ("changed",), ("unchanged",)],
        "change_class string",
    )
    return (
        all_classes.join(counted, "change_class", "left")
        .select(
            "change_class",
            F.coalesce(F.col("n_rows"), F.lit(0)).cast("bigint").alias("n_rows"),
        )
    )


def vacuum_plan(
    log_df: DataFrame,
    key_cols: list[str],
    horizon_version: int,
    file_cols: list,
    row_bytes: "F.Column | None" = None,
) -> DataFrame:
    """Retention/VACUUM planner over the change-feed emulation
    (streaming/cdf.py): given the append log and a retention HORIZON
    version ("we never time-travel before version H"), compute per
    simulated file what a vacuum pass reclaims and what it must rewrite —
    the planning half of Delta VACUUM, over the suite's parquet log.

    A log row is RECLAIMABLE exactly when no snapshot at or after the
    horizon can need it:

    - any row with ``_commit_version > H`` is live (inside retention);
    - an ``update_preimage`` at version ≤ H is reclaimable (preimages
      only serve diffs, and diffs inside retention only read versions
      > H);
    - a state row (insert/update_postimage/delete) at version ≤ H is
      live iff it is its key's LATEST state row ≤ H **and** is a live
      type — that row IS the key's horizon-snapshot state; superseded
      state rows, and a delete marker that is the latest (the key is
      simply absent at the horizon), are reclaimable.

    Returns one row per file (``file_cols`` defines file identity — the
    emulation groups by (commit version, key bucket); a real table maps
    rows to physical files): ``(file cols…, n_rows, n_reclaimable,
    bytes_total, bytes_reclaimable, action)`` with ``action`` ∈
    ``delete`` (every row reclaimable — drop the file), ``rewrite``
    (mixed — rewrite the live remainder to reclaim), ``keep``.

    Scale posture: one key-keyed aggregate for the per-key horizon owner
    (|keys| rows), one key-keyed join back, one file-keyed aggregate —
    the same shuffle budget as CDC compaction; no windows over the full
    log, nothing driver-side.
    """
    if row_bytes is None:
        row_bytes = F.lit(1)
    classified = _classify_reclaimable(log_df, key_cols, horizon_version).withColumn(
        "_bytes", row_bytes.cast("bigint")
    )
    agg = classified.groupBy(*file_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("_reclaimable").cast("bigint")).cast("bigint").alias(
            "n_reclaimable"
        ),
        F.sum("_bytes").cast("bigint").alias("bytes_total"),
        F.sum(F.when(F.col("_reclaimable"), F.col("_bytes")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("bytes_reclaimable"),
    )
    return agg.withColumn(
        "action",
        F.when(F.col("n_reclaimable") == F.col("n_rows"), F.lit("delete"))
        .when(F.col("n_reclaimable") == 0, F.lit("keep"))
        .otherwise(F.lit("rewrite")),
    )


def _classify_reclaimable(
    log_df: DataFrame, key_cols: list[str], horizon_version: int
) -> DataFrame:
    """Row-level VACUUM classification shared by the planner and the apply
    step: the input log plus ``_reclaimable`` (and the per-key ``_keep_ver``
    horizon owner). Semantics documented on ``vacuum_plan``; one key-keyed
    aggregate + one key-keyed join."""
    ver = F.col("_commit_version")
    ct = F.col("_change_type")
    owner = (
        log_df.filter((ver <= horizon_version) & (ct != "update_preimage"))
        .groupBy(*[F.col(k) for k in key_cols])
        .agg(F.max(ver).alias("_keep_ver"))
    )
    return log_df.join(owner, key_cols, "left").withColumn(
        "_reclaimable",
        F.when(ver > horizon_version, F.lit(False))
        .when(ct == "update_preimage", F.lit(True))
        .otherwise((ver != F.col("_keep_ver")) | (ct == "delete")),
    )


def _hidden_from_spark(name: str) -> bool:
    """Spark's file-index rule (InMemoryFileIndex.shouldFilterOutPathName):
    '.'-prefixed names, and '_'-prefixed ones that are not 'key=value'
    partition directories."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def vacuum_apply(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    horizon_version: int,
) -> dict:
    """Execute a VACUUM at ``horizon_version`` against the parquet CDF log
    at ``path`` — the apply half pairing ``vacuum_plan`` (the r13 planner):
    every snapshot/time-travel read at or after the horizon is IDENTICAL
    before and after, while reclaimable history (superseded state rows and
    in-horizon preimages) physically leaves the log.

    Per-file actions, exactly as the planner classifies them:

    - ``keep``   — no reclaimable rows: the file is HARDLINKED into the
      rewrite, byte-identical, zero data movement (the manifest-pointer
      move a real table format does);
    - ``delete`` — every row reclaimable: the file is simply not carried
      over;
    - ``rewrite``— mixed: ONE Spark job rewrites only these files' live
      remainders (never the keep files — at 100 TB rewriting untouched
      files is the cost that kills a naive vacuum).

    The per-file action manifest is computed by one Spark aggregate and
    written as parquet; the driver reads that tiny manifest (|files| rows —
    the transaction-log read every lakehouse format does driver-side) with
    pyarrow, never collecting row data. The swap is the same crash-safe
    tmp-dir rename proven by ``compact_parquet``: at every instant a
    complete log exists at ``path`` or ``path + '.old'``.

    Returns ``{"kept_files": n, "rewritten_files": n, "deleted_files": n,
    "rows_removed": n}`` (driver-side manifest arithmetic only).
    """
    import urllib.parse

    import pyarrow.parquet as pq

    # schema-evolution guard: the rewrite below reads the log with ONE
    # frozen schema, so on an evolved log it would silently drop later
    # generations' added columns (or hard-fail mid-maintenance on widened
    # ints) and the tmp-swap would then delete the originals — permanent
    # data loss. Footer metadata only (same driver-side read as
    # evolved_schema); refuse before any file is touched.
    # ADVICE r15: compare the order-insensitive (name, type) SET — files
    # whose footers list identical columns in a different physical order
    # read back identically, so refusing on order alone was a spurious
    # (if fail-safe) block — and WALK the directory so partitioned logs
    # (parquet files in subdirectories, which spark.read.parquet reads)
    # get the same protection instead of an empty/partial footer set.
    # Only what Spark's file index reads is walked: '_'/'.'-prefixed names
    # (a sink's _spark_metadata, _temporary, .staging) are invisible to it.
    footer_schemas = set()
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden_from_spark(d)]
        footer_schemas.update(
            frozenset(
                (fld.name, str(fld.type))
                for fld in pq.read_schema(os.path.join(root, f))
            )
            for f in files
            if f.endswith(".parquet") and not _hidden_from_spark(f)
        )
    if len(footer_schemas) > 1:
        raise ValueError(
            f"vacuum_apply({path!r}): the log carries {len(footer_schemas)} "
            "distinct physical schemas (schema evolution); a single-schema "
            "rewrite would lose later-generation columns. Vacuum per schema "
            "generation (group files as read_batch_evolved does) or compact "
            "the log through read_batch_evolved first."
        )

    log = spark.read.parquet(path)
    # bind _file directly above the scan: input_file_name() is per-source,
    # and the classification joins the log to its own owner aggregate
    # (two scan branches) — computed here it is an ordinary column by the
    # time the join sees it
    with_file = log.withColumn("_file", F.input_file_name())
    cls = _classify_reclaimable(with_file, key_cols, horizon_version)
    manifest_dir = path.rstrip("/") + ".vacuum.manifest.tmp"
    (
        cls.groupBy("_file")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("_reclaimable").cast("bigint"))
            .cast("bigint")
            .alias("n_reclaimable"),
        )
        .write.mode("overwrite")
        .parquet(manifest_dir)
    )
    manifest = pq.read_table(manifest_dir).to_pylist()

    keep, rewrite, delete = [], [], []
    rows_removed = 0
    for entry in manifest:
        rows_removed += int(entry["n_reclaimable"])
        if entry["n_reclaimable"] == 0:
            keep.append(entry["_file"])
        elif entry["n_reclaimable"] == entry["n_rows"]:
            delete.append(entry["_file"])
        else:
            rewrite.append(entry["_file"])

    tmp = path.rstrip("/") + ".vacuum.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for uri in keep:
        src = urllib.parse.unquote(urllib.parse.urlparse(uri).path)
        dst = os.path.join(tmp, os.path.basename(src))
        try:
            os.link(src, dst)
        except OSError:  # cross-device: fall back to a byte copy
            shutil.copy2(src, dst)

    rewrite_tmp = path.rstrip("/") + ".vacuum.rewrite.tmp"
    if rewrite:
        (
            cls.filter(F.col("_file").isin(rewrite) & ~F.col("_reclaimable"))
            .select(*log.columns)
            .write.mode("overwrite")
            .parquet(rewrite_tmp)
        )
        for name in os.listdir(rewrite_tmp):
            if name.endswith(".parquet"):
                os.rename(
                    os.path.join(rewrite_tmp, name),
                    os.path.join(tmp, "vacuumed-" + name),
                )
        shutil.rmtree(rewrite_tmp, ignore_errors=True)

    _swap_dirs(tmp, path)
    shutil.rmtree(manifest_dir, ignore_errors=True)
    return {
        "kept_files": len(keep),
        "rewritten_files": len(rewrite),
        "deleted_files": len(delete),
        "rows_removed": rows_removed,
    }
