"""The one AvailableNow driver (``streaming/runner.py``): overlapping runs
leave the session conf as they found it, stateful runs get the constant
state-store count, and no other engine module starts or awaits a stream."""

from __future__ import annotations

import os
import threading
from pathlib import Path

import adventureworkslakehousepoc_spark as pkg
from adventureworkslakehousepoc_spark.streaming.runner import (
    STATE_PARTITIONS,
    run_available_now,
    run_foreach_batch,
    scratch_dir,
    stream_table,
)

SHUFFLE = "spark.sql.shuffle.partitions"
# a session value distinct from the state-store constant and the suite's own
SESSION_VALUE = "5"


def test_overlapping_runs_restore_session_shuffle_conf(spark, sf_dir):
    """Run A starts; run B starts inside A's on_start hook; B's hook waits
    until A has returned, so A finishes first. Each run must hold the
    session conf at the constant only around its own start(), so the
    session ends where it began — not at the constant B saved while A
    held it."""
    orig = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, SESSION_VALUE)
    b_started, a_returned = threading.Event(), threading.Event()
    errors: list[BaseException] = []

    def hook_b(_q):
        b_started.set()
        if not a_returned.wait(300):
            raise TimeoutError("run A never returned")

    def run_b():
        try:
            run_available_now(
                stream_table(spark, sf_dir, "nation"), "overlap-b", on_start=hook_b
            )
        except BaseException as e:  # surfaced by the main thread below
            errors.append(e)

    b = threading.Thread(target=run_b)

    def hook_a(_q):
        b.start()
        assert b_started.wait(300), "run B never started"

    try:
        got_a = run_available_now(
            stream_table(spark, sf_dir, "region"), "overlap-a", on_start=hook_a
        )
        a_returned.set()
        b.join(600)
        assert not b.is_alive() and not errors, errors
        assert got_a.count() == spark.read.parquet(
            os.path.join(sf_dir, "region.parquet")
        ).count()
        assert spark.conf.get(SHUFFLE) == SESSION_VALUE
    finally:
        a_returned.set()
        if b.is_alive():
            b.join(600)
        spark.conf.set(SHUFFLE, orig)


def test_stateful_foreach_batch_checkpoint_has_constant_state_partitions(
    spark, sf_dir
):
    """A stateful stream's state store is sized by the runner constant, not
    the session conf, even though the conf is restored right after start()
    — the stream clones the session there."""
    orig = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, SESSION_VALUE)
    try:
        ckpt = scratch_dir("state-parts-ckpt")
        counts = stream_table(spark, sf_dir, "events").groupBy("user_id").count()
        run_foreach_batch(counts, lambda batch_df, _id: batch_df.count(), "state-parts", ckpt)
        assert spark.conf.get(SHUFFLE) == SESSION_VALUE
    finally:
        spark.conf.set(SHUFFLE, orig)
    parts = [d for d in os.listdir(os.path.join(ckpt, "state", "0")) if d.isdigit()]
    assert STATE_PARTITIONS == 8
    assert len(parts) == STATE_PARTITIONS, sorted(parts)


def test_streams_start_only_in_the_runner():
    """Every engine stream is started and awaited by streaming/runner.py —
    a second copy of the run loop would miss the state-store sizing, the
    conf lock and the on_start hook."""
    root = Path(pkg.__file__).parent
    runner = root / "streaming" / "runner.py"
    hits = [
        (str(p.relative_to(root)), tok)
        for p in sorted(root.rglob("*.py"))
        if p != runner
        for tok in ("writeStream", "awaitTermination(")
        if tok in p.read_text()
    ]
    assert hits == []
