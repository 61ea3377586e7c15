"""Stateful streaming operators: applyInPandasWithState LWW dedup
(cross-batch suppression, checkpointed state, restart survival) and
watermarked windowed aggregation with late-data drop."""

from __future__ import annotations

import os

from cdc_redshift_spark.normalize import pg_changeset
from cdc_redshift_spark.sources.streams import file_stream
from cdc_redshift_spark.streaming.stateful import (
    first_seen_dedup,
    stateful_lww_dedup,
    streaming_sessionize,
    windowed_op_counts,
)

from tests.test_streaming import pg_line, write_batch_file


def run_updates(spark, indir, ckpt, build):
    """Drain an update-mode stateful stream via foreachBatch, returning
    every emitted row across micro-batches."""
    emitted = []
    q = (
        build(pg_changeset(file_stream(spark, indir), offset_col="offset"))
        .writeStream.foreachBatch(lambda df, bid: emitted.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert not q.isActive
    return emitted


def test_stateful_lww_dedup_suppresses_cross_batch_stale(spark, tmp_path):
    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)
    # batch 0: two fresh keys (drained before batch 1 is written — the
    # file source does not guarantee tie-broken ordering of preexisting
    # files, and cross-batch suppression is exactly what's under test)
    write_batch_file(
        indir,
        "b0.json",
        [pg_line("c", 1, 100, {"v": "a"}, 0), pg_line("c", 2, 100, {"v": "b"}, 1)],
    )
    emitted = run_updates(spark, indir, ckpt, stateful_lww_dedup)
    assert {(r["key"], r["ts_ms"]) for r in emitted} == {("1", 100), ("2", 100)}

    # batch 1: k1 stale (ts 50 < 100) must be SUPPRESSED by state,
    # k2 newer emitted, k3 new emitted
    write_batch_file(
        indir,
        "b1.json",
        [
            pg_line("u", 1, 50, {"v": "stale"}, 2),
            pg_line("u", 2, 200, {"v": "b2"}, 3),
            pg_line("c", 3, 150, {"v": "c"}, 4),
        ],
    )
    emitted = run_updates(spark, indir, ckpt, stateful_lww_dedup)
    got = {(r["key"], r["ts_ms"]) for r in emitted}
    assert got == {("2", 200), ("3", 150)}

    # restart from the same checkpoint: state survives, so an even
    # older replay of k1 still loses without any sink read-back
    write_batch_file(indir, "b2.json", [pg_line("u", 1, 75, {"v": "older"}, 5)])
    emitted2 = run_updates(spark, indir, ckpt, stateful_lww_dedup)
    assert emitted2 == []


def test_first_seen_dedup_watermark_expiry(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics end-to-end: a duplicate
    key is dropped while its state lives, and RE-EMITS once the
    watermark (delay = 1 h here) has passed its event time + delay —
    the state bound that makes the operator viable at scale."""
    import functools

    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)
    h = 3_600_000  # 1 h in ms
    t0 = 1_700_000_000_000
    build = functools.partial(first_seen_dedup, watermark_delay="1 hour")

    def run_append(batch_file, lines):
        write_batch_file(indir, batch_file, lines)
        emitted = []
        q = (
            build(pg_changeset(file_stream(spark, indir), offset_col="offset"))
            .writeStream.foreachBatch(lambda df, bid: emitted.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        # a hung drain would leave emitted empty and make the
        # "duplicate dropped" assertion pass vacuously
        assert not q.isActive
        return {(r["key"], r["ts_ms"]) for r in emitted}

    # batch 0: first sightings pass
    got = run_append("b0.json", [pg_line("c", 1, t0, {"v": "a"}, 0),
                                 pg_line("c", 2, t0, {"v": "b"}, 1)])
    assert got == {("1", t0), ("2", t0)}
    # batch 1: watermark is still t0 - 1h, key 1's state lives -> drop
    got = run_append("b1.json", [pg_line("u", 1, t0 + 3 * h, {"v": "x"}, 2)])
    assert got == set()
    # batch 2: watermark advanced to t0 + 2h > t0 + delay, key 1's
    # state expired -> the key re-emits as a fresh first sighting
    got = run_append("b2.json", [pg_line("u", 1, t0 + 4 * h, {"v": "y"}, 3)])
    assert got == {("1", t0 + 4 * h)}


def test_stateful_lww_dedup_rocksdb_state_store(spark, tmp_path):
    """Same cross-batch suppression contract under the RocksDB state
    store provider — the backend a 100 TB deployment uses so keyed
    state spills to local disk instead of living on the executor heap.
    The provider is a per-query conf captured at stream start, so
    setting it here does not disturb other tests' checkpoints."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
        os.makedirs(indir, exist_ok=True)
        write_batch_file(
            indir,
            "b0.json",
            [pg_line("c", 1, 100, {"v": "a"}, 0), pg_line("c", 2, 100, {"v": "b"}, 1)],
        )
        emitted = run_updates(spark, indir, ckpt, stateful_lww_dedup)
        assert {(r["key"], r["ts_ms"]) for r in emitted} == {("1", 100), ("2", 100)}
        write_batch_file(
            indir,
            "b1.json",
            [
                pg_line("u", 1, 50, {"v": "stale"}, 2),
                pg_line("u", 2, 200, {"v": "b2"}, 3),
            ],
        )
        emitted = run_updates(spark, indir, ckpt, stateful_lww_dedup)
        # stale k1 suppressed by RocksDB-held state; newer k2 emitted
        assert {(r["key"], r["ts_ms"]) for r in emitted} == {("2", 200)}
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)


def test_stateful_lww_dedup_batch_internal_winner(spark, tmp_path):
    """Within one batch only the (ts, offset)-max event per key emits."""
    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)
    write_batch_file(
        indir,
        "b0.json",
        [
            pg_line("c", 1, 100, {"v": "first"}, 0),
            pg_line("u", 1, 100, {"v": "second"}, 1),  # same ts, higher offset
            pg_line("u", 1, 90, {"v": "older"}, 2),
        ],
    )
    emitted = run_updates(spark, indir, ckpt, stateful_lww_dedup)
    assert len(emitted) == 1
    assert emitted[0]["offset"] == 1 and emitted[0]["op"] == "update"


def test_windowed_op_counts_watermark(spark, tmp_path):
    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)
    t0 = 1_700_000_000_000  # window [t0, t0+60s)
    build = lambda ch: windowed_op_counts(  # noqa: E731
        ch, window="1 minute", watermark_delay="2 minutes"
    )
    emitted = []
    # batch 0: three events in one window
    write_batch_file(
        indir,
        "b0.json",
        [
            pg_line("c", 1, t0 + 1_000, {"v": "a"}, 0),
            pg_line("c", 2, t0 + 2_000, {"v": "b"}, 1),
            pg_line("d", 3, t0 + 3_000, None, 2),
        ],
    )
    emitted += run_updates(spark, indir, ckpt, build)
    # batch 1: push the watermark far past the first window...
    write_batch_file(indir, "b1.json", [pg_line("c", 4, t0 + 600_000, {"v": "d"}, 3)])
    emitted += run_updates(spark, indir, ckpt, build)
    # batch 2: ...then a very late event for the closed window → dropped
    write_batch_file(indir, "b2.json", [pg_line("c", 5, t0 + 4_000, {"v": "e"}, 4)])
    emitted += run_updates(spark, indir, ckpt, build)
    # final counts per (window_start, op): the first window saw 2
    # inserts + 1 delete from batch 0 and NOTHING from the late batch 2
    final: dict = {}
    for r in emitted:
        final[(r["window_start"], r["op"])] = r["n"]
    w0 = [k for k in final if k[1] == "insert" and final[k] == 2]
    assert w0, final  # first window's insert count stayed 2 (late row dropped)
    assert any(k[1] == "delete" and final[k] == 1 for k in final)


def run_append(spark, indir, ckpt, build):
    """Drain an append-mode stream via foreachBatch, returning emitted rows."""
    emitted = []
    q = (
        build(pg_changeset(file_stream(spark, indir), offset_col="offset"))
        .writeStream.foreachBatch(lambda df, bid: emitted.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert not q.isActive
    return emitted


def test_streaming_sessionize_gap_merge_and_close(spark, tmp_path):
    """session_window merges events within the gap into one session and
    emits it exactly once, after the watermark passes the session end."""
    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)
    t0 = 1_700_000_000_000
    build = lambda ch: streaming_sessionize(  # noqa: E731
        ch, gap="30 minutes", watermark_delay="10 minutes"
    )
    # batch 0: key 1 has two events 5 min apart (one session), key 2 one
    # event — all sessions still open, nothing emitted yet
    write_batch_file(
        indir,
        "b0.json",
        [
            pg_line("c", 1, t0, {"v": "a"}, 0),
            pg_line("u", 1, t0 + 300_000, {"v": "b"}, 1),
            pg_line("c", 2, t0 + 60_000, {"v": "c"}, 2),
        ],
    )
    emitted = run_append(spark, indir, ckpt, build)
    assert emitted == []
    # batch 1: an event 2 h later advances the watermark past both open
    # sessions' ends; the trailing no-data micro-batch (or the next run)
    # then closes and emits them exactly once
    write_batch_file(
        indir, "b1.json", [pg_line("c", 3, t0 + 7_200_000, {"v": "d"}, 3)]
    )
    emitted = run_append(spark, indir, ckpt, build)
    write_batch_file(
        indir, "b2.json", [pg_line("c", 4, t0 + 14_400_000, {"v": "e"}, 4)]
    )
    emitted += run_append(spark, indir, ckpt, build)
    got = {(r["key"], r["n_events"]) for r in emitted}
    assert ("1", 2) in got, emitted  # 2 events within gap merged into 1 session
    assert ("2", 1) in got, emitted
    s1 = next(r for r in emitted if r["key"] == "1")
    assert s1["first_ts_ms"] == t0 and s1["last_ts_ms"] == t0 + 300_000
    # session end = last event + gap (30 min)
    assert (s1["session_end"] - s1["session_start"]).total_seconds() == 35 * 60
