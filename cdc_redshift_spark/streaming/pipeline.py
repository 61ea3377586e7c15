"""Micro-batch CDC pipeline: foreachBatch + trigger + checkpoint (T1-T3).

The reference's per-batch procedure (glue_pg_redshift_cdc.py:117-210)
does: empty guard → normalize → LWW dedup → enumerate tables on the
driver → ThreadPoolExecutor fan-out of per-table filter+write.  Same
shape here, with the scale fixes SURVEY §4/§7.3 calls out:

- ``persist()`` the batch once — the reference recomputes the whole
  Kafka lineage for the count, the table enumeration, and every
  per-table write (N+2 passes).
- table enumeration via ``distinct()`` not window-rank-1 (W2 → A2).
- deterministic LWW tiebreak (ts_ms, offset).
- idempotent merge with a ts guard in the sink (exactly-once =
  at-least-once delivery + idempotent apply; SURVEY §2.11).
- ``isEmpty()`` guard, not ``df.rdd.count()`` (F7).

The per-table ThreadPool survives (max_workers parity, 10 for docdb/pg
and 3 for dms — glue_pg_redshift_cdc.py:207, glue_dms_redshift_cdc.py:197)
because sinks commit per table; each thread submits independent Spark
jobs, and the shared persisted batch keeps them from re-reading the
source.  At 1000-executor scale the N-filters pattern is still sound
*because* the batch is memory-resident and table count is small.

On a transaction-capable sink (``ParquetSink.transaction``) every
batch's fan-out runs inside one sink transaction, so all of its tables
publish together or none does; sinks without one (Redshift/JDBC)
commit per table.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cdc_redshift_spark.dedup import latest_per_key
from cdc_redshift_spark.session import CACHED_PLAN_COALESCE
from cdc_redshift_spark.sinks.base import Sink

log = logging.getLogger(__name__)

#: ChangeSet routing/key columns (cdc_redshift_spark.normalize).
ROUTING_COLS = ("db", "table")


@dataclass
class PipelineStats:
    """Per-run counters, exposed for tests and ops visibility."""

    batches: int = 0
    empty_batches: int = 0
    events: int = 0
    tables: int = 0
    unroutable: int = 0


class CdcPipeline:
    """Envelope stream → normalized ChangeSet → per-table sink merge.

    ``changeset_fn`` is one of ``normalize.{pg,mongo,dms}_changeset``
    (raw frame → canonical ChangeSet); ``sink`` owns table state.

    The pipeline schedules tombstone expiry (``expire_after_ms``) and
    ANALYZE (``analyze_every``) but never ``ParquetSink.compact()``:
    on a ``merge_mode="dv"`` sink the operator must schedule it (e.g.
    when ``dv_masked_fraction()`` crosses a read-cost budget), or the
    deletion-vector sidecar every read anti-joins keeps growing.
    """

    def __init__(
        self,
        changeset_fn: Callable[[DataFrame], DataFrame],
        sink: Sink,
        keys: tuple[str, ...] = ("db", "table", "key"),
        max_workers: int = 10,
        apply_delete: bool = True,
        on_batch: Callable[[int, DataFrame], None] | None = None,
        on_raw_batch: Callable[[int, DataFrame], None] | None = None,
        expire_after_ms: int | None = None,
        expire_every: int = 10,
        analyze_every: int | None = None,
        dead_letter_root: str | None = None,
    ):
        """``analyze_every=N`` re-ANALYZEs each table every N batches
        that TOUCH it (sinks without ``analyze`` ignore it; tables the
        sink has not materialized are skipped), keeping the merge
        planner's statistics fresh forever — without it, the carried
        stats expire after ``parquet_sink.ANALYZE_CARRY_LIMIT``
        commits and the broadcast flip silently reverts to shuffle.

        ``expire_after_ms`` enables periodic tombstone compaction:
        every ``expire_every`` batches, tombstones older than
        (max event-time seen) - expire_after_ms are expired from every
        sink table.  The horizon is EVENT time, so a tombstone survives
        exactly as long as an event old enough to lose to it can still
        arrive — the same lateness contract as a watermark."""
        self.changeset_fn = changeset_fn
        self.sink = sink
        self.keys = keys
        self.max_workers = max_workers
        self.apply_delete = apply_delete
        self.on_batch = on_batch
        self.on_raw_batch = on_raw_batch
        self.expire_after_ms = expire_after_ms
        self.expire_every = expire_every
        self.analyze_every = analyze_every
        self.dead_letter_root = dead_letter_root
        # every periodic schedule divides a counter — a zero would
        # ZeroDivisionError on the first batch, deep inside foreachBatch
        for knob in ("expire_every", "analyze_every"):
            v = getattr(self, knob)
            if v is not None and v < 1:
                raise ValueError(
                    f"{knob} must be >= 1 (or None to disable), got {v}"
                )
        #: per-table touch counts driving the analyze_every schedule
        self._analyze_touches: dict[tuple[str, str], int] = {}
        if getattr(sink, "occ", False):
            # the two commit regimes are mutually exclusive BY DESIGN
            # (parquet_sink.py OCC contract): exactly-once streaming
            # recovery replays a crashed foreachBatch and must be free
            # to overwrite the same version directory, which OCC's
            # exclusive version claims reject (CommitConflictError) --
            # a pipeline that "worked" until its first crash-recovery
            # is a silent-corruption trap, so refuse at construction.
            raise ValueError(
                "CdcPipeline requires a single-writer sink (occ=False): "
                "streaming replay re-commits the same version after a "
                "foreachBatch retry, which OCC's exclusive claims would "
                "reject mid-recovery. Reserve occ=True for independent "
                "batch writers."
            )
        self.stats = PipelineStats()
        self._max_ts_ms: int | None = None

    # -- per-batch body (the foreachBatch target) ---------------------------
    def process_batch(self, raw: DataFrame, batch_id: int) -> None:
        """Apply one micro-batch.  The persisted LWW batch takes its
        partition count from ``raw``'s session: a direct call keeps
        the caller's width, while :meth:`start` lets AQE coalesce it
        (session.CACHED_PLAN_COALESCE)."""
        self.stats.batches += 1
        if raw.isEmpty():  # F7, without the rdd.count() job
            self.stats.empty_batches += 1
            return

        if self.on_raw_batch is not None:
            # pre-normalization hook: consumers that need the FULL
            # envelope (e.g. RollupMaintainer's retraction expand needs
            # before-images that the LWW'd ChangeSet discards).  Runs
            # first so its replay-idempotence marker covers the batch.
            self.on_raw_batch(batch_id, raw)

        changes = latest_per_key(self.changeset_fn(raw), keys=self.keys).persist()
        try:
            if not self.apply_delete:
                changes_f = changes.where(~F.col("op").eqNullSafe(F.lit("delete")))
            else:
                changes_f = changes
            # A2: plain distinct beats the reference's window-rank-1
            # trick — and aggregating per-table event counts in the
            # same job folds the old separate count() job away (one
            # Spark job per micro-batch instead of two).
            routing = (
                changes_f.groupBy(*ROUTING_COLS)
                .agg(F.count(F.lit(1)).alias("n"), F.max("ts_ms").alias("mx"))
                .collect()
            )
            # UNROUTABLE rows (NULL db/table — a malformed envelope
            # whose source/ns/metadata struct failed to parse) must
            # not reach the fan-out: apply_one(None, ...) would die
            # inside the sink's path join and ONE bad event would
            # kill the whole stream.  They are dead-lettered (kept,
            # observable) instead of crashing or silently vanishing.
            bad = [
                r
                for r in routing
                if r["db"] is None or r["table"] is None
            ]
            if bad:
                n_bad = sum(r["n"] for r in bad)
                self.stats.unroutable += n_bad
                if self.dead_letter_root is not None:
                    changes_f.where(
                        F.col("db").isNull() | F.col("table").isNull()
                    ).write.mode("append").parquet(self.dead_letter_root)
                log.warning(
                    "batch %d: %d unroutable event(s) with NULL "
                    "db/table %s",
                    batch_id,
                    n_bad,
                    (
                        f"dead-lettered to {self.dead_letter_root}"
                        if self.dead_letter_root is not None
                        else "DROPPED (set dead_letter_root to keep them)"
                    ),
                )
                changes_f = changes_f.where(
                    F.col("db").isNotNull() & F.col("table").isNotNull()
                )
            tables = [
                (r["db"], r["table"])
                for r in routing
                if r["db"] is not None and r["table"] is not None
            ]
            self.stats.tables += len(tables)
            self.stats.events += sum(r["n"] for r in routing)
            batch_max = max((r["mx"] for r in routing if r["mx"] is not None), default=None)
            if batch_max is not None:
                self._max_ts_ms = max(self._max_ts_ms or batch_max, batch_max)

            def apply_one(db: str, table: str) -> None:
                slice_df = changes_f.where(
                    (F.col("db") == db) & (F.col("table") == table)
                )
                self.sink.apply_changeset(db, table, slice_df)

            def fan_out() -> None:
                if len(tables) <= 1 or self.max_workers <= 1:
                    for db, table in tables:
                        apply_one(db, table)
                else:
                    with ThreadPoolExecutor(max_workers=self.max_workers) as ex:
                        # surface worker exceptions in the driver (the
                        # reference's executor.submit without .result()
                        # would swallow them)
                        list(ex.map(lambda t: apply_one(*t), tables))

            if hasattr(self.sink, "transaction"):
                # the batch's tables publish together or not at all
                with self.sink.transaction():
                    fan_out()
            else:  # Redshift/JDBC: per-table commits
                fan_out()
            if self.on_batch is not None:
                self.on_batch(batch_id, changes_f)
            self._maybe_expire()
            self._maybe_analyze(tables)
            log.info("batch %d: %d tables applied", batch_id, len(tables))
        finally:
            changes.unpersist()

    def _maybe_analyze(self, tables: list[tuple[str, str]]) -> None:
        """Periodic stats refresh (see __init__ ``analyze_every``):
        every N batches that TOUCH a table, re-ANALYZE it, so the
        stats that drive the merge planner's broadcast flip never
        expire out from under a long-running pipeline (carried
        sidecars age out after ``parquet_sink.ANALYZE_CARRY_LIMIT``
        commits — a stream that merges forever on one manual ANALYZE
        would silently lose its CBO at that horizon).

        The schedule is PER TABLE (touch count), not the global batch
        counter: a table whose batches never aligned with a global
        ``batches % N`` phase would otherwise never refresh and expire
        anyway.  Tables the sink has not materialized yet are skipped
        until they exist.  Cost: one aggregation pass per touched table
        every N touches — the same bounded-maintenance contract as
        ``expire_every``."""
        if self.analyze_every is None or not hasattr(self.sink, "analyze"):
            return
        for db, table in tables:
            n = self._analyze_touches.get((db, table), 0) + 1
            self._analyze_touches[(db, table)] = n
            if n % self.analyze_every != 0:
                continue
            if not self.sink.table_exists(db, table):
                continue
            try:
                # approximate NDV (HLL++, no expand): maintenance-path
                # stats feed planning only, never correctness
                self.sink.analyze(db, table, approx=True)
            except Exception:  # noqa: BLE001 — stats are planning-only
                # input: a transient refresh failure (IO, ENOSPC, Spark
                # error) must never fail the micro-batch — the same
                # never-fail discipline as the sink's _carry_analyze
                log.warning(
                    "stats refresh failed for %s.%s; skipping "
                    "(planner falls back to carried/default stats)",
                    db,
                    table,
                    exc_info=True,
                )

    def _maybe_expire(self) -> None:
        """Periodic tombstone compaction (see __init__).  Expiring
        BEFORE the horizon would let a late stale event resurrect its
        deleted key; expiring after it is pure state reclaim — the
        sink's no-op fast path makes idle cycles free."""
        if (
            self.expire_after_ms is None
            or self._max_ts_ms is None
            or self.stats.batches % self.expire_every != 0
            or not hasattr(self.sink, "expire_tombstones")
        ):
            return
        horizon = self._max_ts_ms - self.expire_after_ms
        for db, table in self.sink.list_tables():
            self.sink.expire_tombstones(db, table, horizon)

    # -- stream driver (T1-T3) ----------------------------------------------
    def start(
        self,
        raw_stream: DataFrame,
        checkpoint: str,
        trigger: str | None = "30 seconds",
        available_now: bool = False,
        query_name: str = "cdc-pipeline",
    ) -> StreamingQuery:
        """writeStream.foreachBatch with trigger + checkpoint.

        Defaults mirror the reference (windowSize='30 seconds',
        checkpointLocation — readme.md:32-35).  ``available_now=True``
        drains all pending input then stops (test/backfill mode).

        Each batch runs on the stream's own session clone with
        session.CACHED_PLAN_COALESCE set, so the cached batch is sized
        by its data whatever session started the stream; the caller's
        session conf is left as it was.
        """

        def run_batch(raw: DataFrame, batch_id: int) -> None:
            raw.sparkSession.conf.set(CACHED_PLAN_COALESCE, "true")
            self.process_batch(raw, batch_id)

        writer = (
            raw_stream.writeStream.foreachBatch(run_batch)
            .queryName(query_name)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger is not None:
            writer = writer.trigger(processingTime=trigger)
        return writer.start()

