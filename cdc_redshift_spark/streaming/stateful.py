"""Custom stateful streaming operators over the ChangeSet stream.

The reference's only streaming construct is a foreachBatch loop whose
per-batch dedup re-reads the warehouse for conflict resolution
(SURVEY §2.11).  These operators keep the resolution state IN the
stream instead, using Spark's keyed state store:

- :func:`stateful_lww_dedup` — continuous last-write-wins dedup via
  ``applyInPandasWithState``: per (db, table, key) the state holds the
  winning (ts_ms, offset); a micro-batch emits a key's row only when
  it beats everything seen in ANY earlier batch, so stale cross-batch
  replays are suppressed before they ever reach a sink, with no
  read-back of sink state.  State is checkpointed with the query and
  survives restarts; an optional processing-time TTL bounds state size
  once a source's max-lateness horizon has passed (the same contract
  as ParquetSink's tombstone expiry).
- :func:`windowed_op_counts` — event-time tumbling-window op counts
  with a watermark for late data: pure built-in window aggregation
  (watermark drops events later than the allowed delay and lets the
  store evict closed windows).
- :func:`streaming_sessionize` — gap-based sessionization via
  ``F.session_window`` (the streaming analogue of the batch
  ``events_sessionize`` query's lag+cumsum plan): sessions merge as
  events arrive and emit once the watermark passes a session's end.

Scale: both operators shuffle once on their grouping key and keep
per-key state O(1) (two longs for LWW; one count row per open window).
At 100 TB the state store partitions across executors like any keyed
stream; TTL/watermark bound its growth.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: ChangeSet stream columns (the normalize_* output shape).
CHANGESET_SCHEMA = (
    "db string, table string, key string, ts_ms long, offset long, "
    "op string, payload string, ts_date date"
)

_STATE_SCHEMA = "ts_ms long, offset long"


def stateful_lww_dedup(
    changes: DataFrame,
    keys: Sequence[str] = ("db", "table", "key"),
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Continuous LWW dedup of a streaming ChangeSet (update mode).

    Emits, per micro-batch and key, the single winning event — and only
    if it beats the winner remembered from all previous batches.  The
    (ts_ms, offset) total order matches plans/merge.py, so downstream
    ``apply_changeset`` receives an already-monotonic delta stream and
    late cross-batch replays never surface (the in-stream equivalent of
    the sink's tombstone guard).

    ``state_ttl_ms`` sets a processing-time TTL after which an idle
    key's state is dropped — bound state once no event older than the
    source's lateness horizon can still arrive.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )

    def dedup(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        # Vectorized winner pick: per Arrow chunk, lexsort on the
        # (ts_ms, offset) total order (offset is the minor key) and take
        # the argmax — no per-row Python.
        best = None  # one-row DataFrame holding the batch winner so far
        best_key = None
        for pdf in pdfs:
            m = len(pdf)
            if not m:
                continue
            ts = pdf["ts_ms"].to_numpy()
            off = pdf["offset"].to_numpy()
            # single-event groups dominate real CDC batches — skip the
            # sort AND the slice-copy for them (per-group overhead is
            # the whole cost at 100k+ keys/batch)
            i = 0 if m == 1 else int(np.lexsort((off, ts))[-1])
            cand_key = (int(ts[i]), int(off[i]))
            if best is None or cand_key > best_key:
                best = pdf if m == 1 else pdf.iloc[[i]]
                best_key = cand_key
        if best is None:
            return
        if state.exists:
            ts, off = state.get
            if best_key <= (ts, off):
                if state_ttl_ms is not None:
                    state.setTimeoutDuration(state_ttl_ms)
                return  # nothing in this batch beats the remembered winner
        state.update((best_key[0], best_key[1]))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield best

    return changes.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
        dedup,
        outputStructType=CHANGESET_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


def stateful_lww_dedup_agg(
    changes: DataFrame, keys: Sequence[str] = ("db", "table", "key")
) -> DataFrame:
    """JVM-side continuous LWW dedup: streaming ``max_by`` aggregation
    in update mode — the throughput-scale form of
    :func:`stateful_lww_dedup`.

    State is one (ts_ms, offset, row) struct per key in the JVM state
    store; each micro-batch emits, for every key it touches, the
    winner of state ∪ batch.  No Python executes anywhere — the whole
    operator is a hash aggregate, so per-batch cost is independent of
    key count in a way the ``applyInPandasWithState`` form is not
    (that API invokes the Python function once per key-group:
    ~0.2 ms/key, i.e. a 30 s floor per 150k-key batch, measured).

    Semantics vs :func:`stateful_lww_dedup`: identical whenever a
    touched key's winner changes.  The one divergence: a batch whose
    events for a key ALL lose to the remembered winner RE-EMITS that
    winner (the key was touched, so update mode outputs its group)
    instead of suppressing the row.  Downstream ``apply_changeset`` is
    an idempotent LWW merge, so a re-emitted winner is a no-op there —
    use the pandas form when exact suppression or per-key TTL
    matters, this form for throughput.
    """
    cols = list(changes.columns)
    winner = F.max_by(
        F.struct(*[F.col(c) for c in cols]),
        F.struct(F.col("ts_ms"), F.col("offset")),
    ).alias("w")
    return (
        changes.groupBy(*[F.col(k) for k in keys]).agg(winner).select("w.*")
    )


def first_seen_dedup(
    changes: DataFrame,
    keys: Sequence[str] = ("db", "table", "key"),
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """First-writer-wins streaming dedup via the built-in
    ``dropDuplicatesWithinWatermark``: a key's FIRST event passes, every
    later event for that key is dropped while its state lives (state
    expires once the watermark passes event-time + delay, bounding it
    at any scale).

    The complement of :func:`stateful_lww_dedup` (last-writer-wins):
    use first-seen for at-least-once sources that replay identical
    records (exactly-once ingest dedup), LWW for conflict resolution.
    Pure built-in operator — no Python, state in the JVM store.
    """
    with_ts = changes.withColumn(
        "__ts", F.timestamp_millis(F.col("ts_ms"))
    ).withWatermark("__ts", watermark_delay)
    return with_ts.dropDuplicatesWithinWatermark(list(keys)).drop("__ts")


def windowed_op_counts(
    changes: DataFrame,
    window: str = "1 minute",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Event-time tumbling-window op counts with late-data handling.

    (window, db, table, op, n) — the streaming analogue of the batch
    ``cdc_op_counts`` query.  The watermark lets the state store close
    windows older than ``watermark_delay`` and drops events arriving
    later than that, which bounds state at any scale.
    """
    return (
        changes.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        .withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window).alias("win"), "db", "table", "op")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "db",
            "table",
            "op",
            "n",
        )
    )


def streaming_sessionize(
    changes: DataFrame,
    key: str = "key",
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Gap-based streaming sessionization over the ChangeSet stream.

    The streaming counterpart of ``queries/analytics.py``'s
    ``q_events_sessionize`` (lag + cumulative-sum over a batch window):
    here ``F.session_window(ts, gap)`` keeps per-key open sessions in
    the state store, merges them as events arrive, and — in append mode
    with a watermark — emits a session exactly once, when the watermark
    passes its end.  Spark requires append (not update) output for
    session windows and at least one extra grouping column (``key``).

    Scale: one shuffle on (session_window, key); state is one row per
    OPEN session and the watermark closes/evicts sessions, so state is
    bounded by key-activity within the lateness horizon, not by stream
    length.
    """
    return (
        changes.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        .withWatermark("ts", watermark_delay)
        .groupBy(F.session_window("ts", gap).alias("sess"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_ms").alias("first_ts_ms"),
            F.max("ts_ms").alias("last_ts_ms"),
        )
        .select(
            F.col(key),
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "first_ts_ms",
            "last_ts_ms",
        )
    )
