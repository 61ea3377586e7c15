"""Driver-checkable queries for the streaming operators.

Every query here runs a REAL multi-phase Structured Streaming job
through one shared harness (:func:`_drive_phases`): phase inputs are
written as JSON files, each phase drains as ONE ``availableNow``
micro-batch (no file cap — the phase = batch contract the oracles
assume), emissions land in a parquet directory executor-side (a
foreachBatch ``collect()`` would bound the check at driver memory and
is the anti-pattern a reader must not copy), and a drain that exceeds
its timeout raises instead of landing partial emissions.

`cdc_stateful_lww_stream` is the canonical example — a two-phase
stream (batch 0: all inserts; batch 1: all updates + deletes) through
``applyInPandasWithState``.  Because the split is fixed, the delta
stream is exactly SQL-expressible and the oracle reconstructs the
emission set from ``orders`` directly:

  - batch 0 emits every key's insert (no prior state);
  - batch 1 emits each key's in-batch (ts, offset)-winner — the delete
    where both an update and a delete exist (k % 21 == 0), suppressed
    events never surface — and every winner beats the older insert.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_redshift_spark.normalize import pg_changeset
from cdc_redshift_spark.queries.cdc import (
    ORACLE_CDC_DMS_SCHEMA_DRIFT,
    synth_pg_changelog,
)
from cdc_redshift_spark.sources.streams import file_stream
from cdc_redshift_spark.streaming.stateful import (
    first_seen_dedup,
    stateful_lww_dedup,
    stateful_lww_dedup_agg,
    streaming_sessionize,
    windowed_op_counts,
)

_DAY = 86_400_000

def _write_phase(df: DataFrame, n_files: int, indir: str) -> None:
    """One phase's rows -> ``n_files`` parquet files (coalesce > 1 keeps
    the encode parallel).  Parquet, not JSON: no per-row encode at write
    and no schema-directed parse on every stream read; the envelope
    ``value`` strings ride through byte-identically."""
    df.coalesce(n_files).write.mode("append").parquet(indir)


def _raw_shape(df: DataFrame) -> DataFrame:
    """Project to the RAW_STREAM_SCHEMA shape the file source expects."""
    return df.select(
        "value",
        "offset",
        F.lit(0).alias("partition"),
        F.lit(None).cast("timestamp").alias("timestamp"),
    )


def _changeset_stream(spark: SparkSession, indir: str) -> DataFrame:
    """File-source ChangeSet stream with NO per-trigger file cap: under
    ``availableNow`` every file dropped since the last drain folds into
    ONE micro-batch — the phase = batch contract.  (The default cap of
    1 file/trigger would split a phase into one batch per file; the
    pandas LWW form suppresses losers so it still matches, but the agg
    form re-emits a remembered winner whenever a later losing batch
    touches its key, inflating the emission count.)"""
    return pg_changeset(
        file_stream(spark, indir, max_files_per_trigger=None, fmt="parquet"),
        offset_col="offset",
    )


def _drive_phases(
    spark: SparkSession,
    phases: Sequence[tuple[DataFrame, int]],
    build: Callable[[SparkSession, str], DataFrame],
    prefix: str,
    output_mode: str = "append",
    with_batch_id: bool = False,
) -> DataFrame:
    """Shared streaming-query harness.

    For each ``(df, n_files)`` phase: write the rows as ``n_files``
    parquet files (coalesce > 1 keeps the encode parallel), then drain
    ``build(spark, indir)`` with ``availableNow`` so the whole phase is
    one micro-batch whose emissions append to a parquet landing dir
    (``with_batch_id`` stamps each emission with its micro-batch id for
    last-emission-per-group reconstruction in update mode).  Shuffle
    partitions are pinned to 16 for the run — the state-store partition
    count is fixed at first checkpoint creation, and a plain driver
    session's default of 200 would turn a 20k-row check into 400
    state-store tasks.  Returns the landed DataFrame, MATERIALIZED
    (eager localCheckpoint) so the whole mkdtemp root — landing dir
    included — is removed before returning instead of leaking in /tmp
    run after run.
    """
    root = tempfile.mkdtemp(prefix=prefix)
    indir, ckpt = os.path.join(root, "in"), os.path.join(root, "ckpt")
    land = os.path.join(root, "land")
    os.makedirs(indir, exist_ok=True)

    if with_batch_id:
        def writer(df: DataFrame, bid: int) -> None:
            df.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(land)
    else:
        def writer(df: DataFrame, bid: int) -> None:
            df.write.mode("append").parquet(land)

    def drain() -> None:
        q = (
            build(spark, indir)
            .writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                "streaming drain exceeded 600 s — partial emissions "
                "would silently corrupt the oracle comparison"
            )

    # kept under every session: a stateful query's state store keeps
    # the shuffle.partitions of its first checkpoint, and no AQE conf
    # resizes it
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        for df, n_files in phases:
            _write_phase(df, n_files, indir)
            drain()
        out = spark.read.parquet(land).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(root, ignore_errors=True)

    return out


def _changelog_phases(raw: DataFrame) -> list[tuple[DataFrame, int]]:
    """The canonical two-phase split: inserts, then updates + deletes."""
    op = F.get_json_object("value", "$.op")
    return [
        (_raw_shape(raw.where(op == "c")), 8),
        (_raw_shape(raw.where(op != "c")), 8),
    ]


def q_cdc_stateful_lww_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _two_phase_lww(spark, sf_dir, stateful_lww_dedup)


def q_cdc_stateful_lww_agg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM-aggregation LWW variant over the SAME two-phase stream.

    On this fixture its emissions are provably identical to the
    ``applyInPandasWithState`` form (phase 1 keys are all new, every
    phase-2 event beats its key's phase-1 insert, so every touched
    key's winner changes and the re-emit-vs-suppress divergence never
    triggers) — both queries share ORACLE_STATEFUL_LWW.  This is the
    variant bench.py times: per-batch cost is a hash aggregate,
    independent of the ~0.2 ms/key Python floor of the pandas form."""
    return _two_phase_lww(spark, sf_dir, stateful_lww_dedup_agg)


def _two_phase_lww(spark: SparkSession, sf_dir: str, op_fn) -> DataFrame:
    # persist: the changelog synthesis (orders scan + to_json) feeds
    # BOTH phase writes — without it each phase re-synthesizes
    raw = synth_pg_changelog(spark, sf_dir).persist()
    try:
        out = _drive_phases(
            spark,
            _changelog_phases(raw),
            lambda sp, indir: op_fn(_changeset_stream(sp, indir)),
            prefix="stateful_lww_",
            output_mode="update",
        )
    finally:
        raw.unpersist()
    return out.select(
        F.col("key").cast("bigint").alias("okey"),
        F.get_json_object("payload", "$.status").alias("status"),
        F.get_json_object("payload", "$.total").cast("double").alias("total"),
        "op",
        "ts_ms",
        F.col("offset").alias("off"),
    )


ORACLE_STATEFUL_LWW = f"""
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tot,
         epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS ts0
  FROM orders
)
SELECT k AS okey, st AS status, tot AS total, 'insert' AS op,
       ts0 AS ts_ms, k * 10 AS off
FROM base
UNION ALL
SELECT k, 'U', tot, 'update', ts0 + {_DAY}, k * 10 + 1
FROM base WHERE k % 3 = 0 AND k % 21 <> 0
UNION ALL
-- the delete's before-image reflects the CURRENT row (Debezium image
-- semantics): post-update status for keys the update wave touched
SELECT k, CASE WHEN k % 3 = 0 THEN 'U' ELSE st END, tot, 'delete',
       ts0 + 2 * {_DAY}, k * 10 + 2
FROM base WHERE k % 7 = 0
"""


def q_cdc_windowed_ops_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time windowed op counts over the two-phase
    changelog stream (the gated query for :func:`windowed_op_counts`).

    Update mode emits a (window, db, table, op) group's CUMULATIVE
    count whenever a batch touches it; the final emission per group is
    therefore the total — the harness lands every emission with its
    batch id and keeps each group's last.  The watermark delay is set
    beyond the changelog's 2-day event-time spread so nothing is
    dropped and the oracle is exact."""
    from pyspark.sql import Window

    raw = synth_pg_changelog(spark, sf_dir).persist()
    try:
        out = _drive_phases(
            spark,
            _changelog_phases(raw),
            lambda sp, indir: windowed_op_counts(
                _changeset_stream(sp, indir),
                window="1 day",
                watermark_delay="36500 days",
            ),
            prefix="windowed_ops_",
            output_mode="update",
            with_batch_id=True,
        )
    finally:
        raw.unpersist()
    w = Window.partitionBy("window_start", "db", "table", "op").orderBy(
        F.desc("batch_id")
    )
    return (
        out.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.unix_millis("window_start").alias("win_ms"),
            "db",
            "table",
            "op",
            "n",
        )
    )


ORACLE_WINDOWED_OPS = f"""
WITH base AS (
  SELECT o_orderkey AS k,
         epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS ts0
  FROM orders
), ev AS (
  SELECT ts0 AS ts_ms, 'insert' AS op FROM base
  UNION ALL
  SELECT ts0 + {_DAY}, 'update' FROM base WHERE k % 3 = 0
  UNION ALL
  SELECT ts0 + 2 * {_DAY}, 'delete' FROM base WHERE k % 7 = 0
)
SELECT ts_ms - ts_ms % {_DAY} AS win_ms,
       'tpch' AS db, 'orders_cdc' AS "table", op, count(*) AS n
FROM ev GROUP BY 1, op
"""


def q_cdc_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-sessionization over the changelog (the gated query
    for :func:`streaming_sessionize`, ``F.session_window`` + watermark,
    append mode).

    A key's insert/update/delete events sit ≥ 1 day apart, far beyond
    the 30-minute gap, so every event closes as its own session.
    Append mode emits a session only once the watermark passes its
    end; a phase-2 sentinel event (year 2100, key 'wm') advances the
    global watermark past every real session so all of them flush.
    The sentinel's own session stays open and is excluded."""
    raw = synth_pg_changelog(spark, sf_dir).persist()
    sentinel = spark.range(1).select(
        F.to_json(
            F.struct(
                F.lit(None).cast("string").alias("before"),
                F.to_json(F.struct(F.lit(-1).alias("id"))).alias("after"),
                F.struct(
                    F.lit("tpch").alias("db"),
                    F.lit("orders_cdc").alias("table"),
                    F.lit(4102444800000).alias("ts_ms"),
                ).alias("source"),
                F.lit("c").alias("op"),
                F.lit(4102444800000).alias("ts_ms"),
            )
        ).alias("value"),
        F.lit(999_999_999_999).alias("offset"),
        F.lit(0).alias("partition"),
        F.lit(None).cast("timestamp").alias("timestamp"),
    )
    try:
        out = _drive_phases(
            spark,
            [(_raw_shape(raw), 8), (sentinel, 1)],
            lambda sp, indir: streaming_sessionize(
                _changeset_stream(sp, indir),
                key="key",
                gap="30 minutes",
                watermark_delay="1 day",
            ),
            prefix="sess_stream_",
            output_mode="append",
        )
    finally:
        raw.unpersist()
    return out.where(F.col("key") != "-1").select(
        F.col("key").cast("bigint").alias("okey"),
        F.unix_millis("session_start").alias("sess_start_ms"),
        "n_events",
        "first_ts_ms",
        "last_ts_ms",
    )


ORACLE_SESSIONIZE_STREAM = f"""
WITH base AS (
  SELECT o_orderkey AS k,
         epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS ts0
  FROM orders
), ev AS (
  SELECT k, ts0 AS ts_ms FROM base
  UNION ALL
  SELECT k, ts0 + {_DAY} FROM base WHERE k % 3 = 0
  UNION ALL
  SELECT k, ts0 + 2 * {_DAY} FROM base WHERE k % 7 = 0
)
SELECT k AS okey, ts_ms AS sess_start_ms, 1 AS n_events,
       ts_ms AS first_ts_ms, ts_ms AS last_ts_ms
FROM ev
"""


def q_events_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (streaming/joins.py): purchases ⋈
    clicks of the same user within the preceding 24 h, both sides live
    streams of the SAME event feed, split into two micro-batches by
    event_id parity so matching pairs routinely SPAN phases — the
    buffered-state path is what's exercised.  Append semantics emit
    each qualifying pair exactly once regardless of batch boundaries,
    so the oracle is the plain batch join."""
    from cdc_redshift_spark.sources.tables import load_table
    from cdc_redshift_spark.streaming.joins import stream_interval_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("ts_ns div 1000").alias("ts_us"),
    )

    def build(sp: SparkSession, indir: str) -> DataFrame:
        reader = sp.readStream.schema(
            "event_id long, user_id long, event_type string, ts_us long"
        )
        src = reader.parquet(indir).withColumn(
            "ts", F.timestamp_micros(F.col("ts_us"))
        )
        purchases = src.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        clicks = src.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("c_id"),
            "user_id",
            F.col("ts").alias("c_ts"),
        )
        return stream_interval_join(
            purchases,
            clicks,
            key="user_id",
            left_ts="p_ts",
            right_ts="c_ts",
            lower_us=-86_400_000_000,
            upper_us=0,
            watermark_delay="3650 days",
        ).select(
            "p_id",
            "user_id",
            "c_id",
            F.unix_micros("p_ts").alias("p_us"),
            F.unix_micros("c_ts").alias("c_us"),
        )

    out = _drive_phases(
        spark,
        [
            # pmod, not %: a negative odd event_id under Spark's
            # sign-keeping % would match neither phase and vanish
            (ev.where(F.pmod(F.col("event_id"), F.lit(2)) == 0), 4),
            (ev.where(F.pmod(F.col("event_id"), F.lit(2)) == 1), 4),
        ],
        build,
        prefix="stream_join_",
        output_mode="append",
    )
    return out.select(
        "p_id", "user_id", "c_id", "p_us", "c_us",
        (F.col("p_us") - F.col("c_us")).alias("gap_us"),
    )


ORACLE_STREAM_JOIN = """
WITH p AS (
  SELECT event_id AS p_id, user_id, epoch_ns(ts) // 1000 AS p_us
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id AS c_id, user_id, epoch_ns(ts) // 1000 AS c_us
  FROM events WHERE event_type = 'click'
)
SELECT p_id, p.user_id, c_id, p_us, c_us, p_us - c_us AS gap_us
FROM p JOIN c ON p.user_id = c.user_id
             AND c.c_us >= p.p_us - 86400000000
             AND c.c_us <= p.p_us
"""


def q_cdc_first_seen_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-writer-wins streaming dedup (dropDuplicatesWithinWatermark)
    over the two-phase changelog: phase 1 carries each key's insert
    (all pass — first sighting); phase 2 carries updates/deletes for
    already-seen keys (all dropped while state lives, which the huge
    watermark delay guarantees here).  Emissions = exactly the insert
    set, which is the oracle."""
    raw = synth_pg_changelog(spark, sf_dir).persist()
    try:
        out = _drive_phases(
            spark,
            _changelog_phases(raw),
            lambda sp, indir: first_seen_dedup(
                _changeset_stream(sp, indir), watermark_delay="36500 days"
            ),
            prefix="first_seen_",
            output_mode="append",
        )
    finally:
        raw.unpersist()
    return out.select(
        F.col("key").cast("bigint").alias("okey"),
        F.get_json_object("payload", "$.status").alias("status"),
        "op",
        "ts_ms",
    )


ORACLE_FIRST_SEEN = """
SELECT o_orderkey AS okey, o_orderstatus AS status, 'insert' AS op,
       epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS ts_ms
FROM orders
"""


def q_cdc_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the third join mode next to
    batch-batch (plans/merge.py) and stream-stream (streaming/joins.py):
    every change event is joined per micro-batch against the STATIC
    orders dim (broadcast by Catalyst, no state store involved), so
    each event emits exactly once with its dim attributes and the
    oracle is the plain batch join of the full changelog."""
    from cdc_redshift_spark.sources.tables import load_table

    raw = synth_pg_changelog(spark, sf_dir).persist()
    dim = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("key"),
        "o_orderpriority",
        "o_totalprice",
    )
    try:
        out = _drive_phases(
            spark,
            _changelog_phases(raw),
            lambda sp, indir: _changeset_stream(sp, indir)
            .join(F.broadcast(dim), "key", "left")
            .select("key", "op", "ts_ms", "o_orderpriority", "o_totalprice"),
            prefix="enrich_stream_",
            output_mode="append",
        )
    finally:
        raw.unpersist()
    return out.select(
        F.col("key").cast("bigint").alias("okey"),
        "op",
        "ts_ms",
        "o_orderpriority",
        "o_totalprice",
    )


ORACLE_ENRICH = f"""
WITH base AS (
  SELECT o_orderkey AS k, o_orderpriority AS pri, o_totalprice AS tot,
         epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS ts0
  FROM orders
), ev AS (
  SELECT k, 'insert' AS op, ts0 AS ts_ms FROM base
  UNION ALL
  SELECT k, 'update', ts0 + {_DAY} FROM base WHERE k % 3 = 0
  UNION ALL
  SELECT k, 'delete', ts0 + 2 * {_DAY} FROM base WHERE k % 7 = 0
)
SELECT ev.k AS okey, ev.op, ev.ts_ms, b.pri AS o_orderpriority,
       b.tot AS o_totalprice
FROM ev JOIN base b ON ev.k = b.k
"""


# ---- streaming ingest dedup (persisted fingerprint index) -----------------

# the one shared normalization mirror (avoid drifting copies)
from cdc_redshift_spark.queries.dedup_q import DUCK_NORM

DUCK_NORM_TEXT = DUCK_NORM.format(c="text")


def q_cdc_ingest_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three ingest waves through :class:`IngestDeduper` — each wave is
    one micro-batch classifying its docs against the fingerprint index
    persisted by the earlier waves, then growing it.

    Waves partition doc_id ascending (terciles of the id range), so
    cross-wave first-wins equals global min-id-per-fingerprint and the
    accepted set is exactly SQL-expressible.
    """
    from cdc_redshift_spark.sources.tables import load_table
    from cdc_redshift_spark.streaming.ingest import IngestDeduper

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = docs.agg(F.max("doc_id")).collect()[0][0]
    cuts = [0, hi // 3 + 1, 2 * (hi // 3) + 1, hi + 1]

    root = tempfile.mkdtemp(prefix="ingest_dedup_")
    indir = os.path.join(root, "in")
    ckpt = os.path.join(root, "ckpt")
    idx = os.path.join(root, "index")
    acc = os.path.join(root, "accepted")
    os.makedirs(indir, exist_ok=True)
    dedup = IngestDeduper(idx, acc)

    try:
        for lo, up in zip(cuts, cuts[1:]):
            _write_phase(
                docs.where(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < up)
                ),
                4,
                indir,
            )
            reader = spark.readStream.schema("doc_id bigint, text string")
            q = (
                # no file cap: the wave = one micro-batch
                reader.parquet(indir)
                .writeStream.foreachBatch(dedup)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(600):
                q.stop()
                raise TimeoutError("ingest dedup drain exceeded 600 s")
        # materialize NOW so the whole mkdtemp root (index + accepted
        # parquet included) can be removed — a lazy read of acc would
        # otherwise pin the dirs and leak them in /tmp on every run
        out = (
            spark.read.parquet(acc)
            .select(F.col("id").alias("doc_id"), "fp")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)

    return out


def q_cdc_ingest_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingest ACROSS A COMPACTION BOUNDARY
    (streaming/ingest.compact_batches): four ingest waves; after wave
    2 commits, the accumulated ``batch=<id>`` partitions of both the
    fingerprint index and the accepted corpus fold into the single
    ``batch=-1`` partition (the marker-committed, crash-safe swap
    that bounds partition counts at 100 TB — without it the layout
    grows one directory per micro-batch forever); wave 3 then lands
    and is REPLAYED under the same batch id (crash simulation).  The
    accepted corpus must equal straight-through ingest — the oracle
    is the same global min-id-per-fingerprint SQL as
    ``cdc_ingest_dedup_stream`` — proving compaction changes layout,
    never semantics; the in-query directory assertions pin the layout
    claim itself."""
    from cdc_redshift_spark.sources.tables import load_table
    from cdc_redshift_spark.streaming.ingest import (
        IngestDeduper,
        compact_batches,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    cuts = [0, hi // 4, hi // 2, 3 * hi // 4, hi]

    root = tempfile.mkdtemp(prefix="ingest_compact_")
    idx = os.path.join(root, "index")
    acc = os.path.join(root, "accepted")

    def part_dirs(d):
        return sorted(
            e
            for e in os.listdir(d)
            if e.startswith("batch=") and os.path.isdir(os.path.join(d, e))
        )

    try:
        dd = IngestDeduper(idx, acc)
        waves = list(zip(cuts, cuts[1:]))
        for i, (lo, up) in enumerate(waves[:3]):
            dd(
                docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < up)),
                i,
            )
        for d in (idx, acc):
            compact_batches(spark, d, upto_batch=3)
            if part_dirs(d) != ["batch=-1"]:
                raise RuntimeError(
                    f"compaction left partitions {part_dirs(d)} in {d}"
                )
        lo, up = waves[3]
        b3 = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < up))
        dd(b3, 3)
        dd(b3, 3)  # replay across the compaction boundary
        if part_dirs(idx) != ["batch=-1", "batch=3"]:
            raise RuntimeError(
                f"replay disturbed the folded layout: {part_dirs(idx)}"
            )
        out = (
            spark.read.parquet(acc)
            .select(F.col("id").alias("doc_id"), "fp")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


ORACLE_INGEST_DEDUP = f"""
WITH fp AS (
  SELECT doc_id, md5({DUCK_NORM_TEXT}) AS fp FROM documents
), r AS (
  SELECT doc_id, fp,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM fp
)
SELECT doc_id, fp FROM r WHERE rn = 1
"""


# ---- schema drift under a LIVE stream -------------------------------------


class _DmsDriftApplier:
    """foreachBatch target: DMS envelope batch → changeset → LWW →
    :func:`parse_with_evolution` under ONE SchemaCache shared across
    micro-batches → merge into accumulated state.  The live-stream
    face of ``q_cdc_dms_schema_drift``'s per-batch loop."""

    def __init__(self) -> None:
        from cdc_redshift_spark.infer import SchemaCache

        self.cache = SchemaCache()
        self.state: DataFrame | None = None

    def __call__(self, raw: DataFrame, batch_id: int) -> None:
        from cdc_redshift_spark.dedup import latest_per_key
        from cdc_redshift_spark.infer import parse_with_evolution
        from cdc_redshift_spark.normalize import dms_changeset
        from cdc_redshift_spark.plans.merge import apply_changeset

        if raw.isEmpty():
            return
        ch = latest_per_key(
            dms_changeset(raw, offset_col="offset"),
            keys=("db", "table", "key"),
        )
        rel = parse_with_evolution(self.cache, "tpch", "customer_cdc", ch)
        # eager checkpoint: the state feeds the NEXT batch's merge and
        # the final read — without it each batch re-replays the lineage
        self.state = apply_changeset(
            self.state, rel, keys=("key",)
        ).localCheckpoint(eager=True)


def q_cdc_stream_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution under a LIVE stream (infer.py cache path,
    reference gap SURVEY §1.3): phase 1 streams v1-payload inserts,
    phase 2 streams updates whose payload carries a new ``tier``
    field.  Both phases drain through a real file-source stream +
    checkpoint into :class:`_DmsDriftApplier`; the shared SchemaCache
    must infer exactly twice (phase-1 bootstrap + phase-2 drift
    widening) — a third inference means the cache failed, a single one
    means the drift probe missed the new column.  Shares
    ORACLE_CDC_DMS_SCHEMA_DRIFT with the batch replay."""
    from cdc_redshift_spark.queries.cdc import synth_dms_drift_batches

    b1, b2 = synth_dms_drift_batches(spark, sf_dir)
    applier = _DmsDriftApplier()

    root = tempfile.mkdtemp(prefix="drift_stream_")
    indir, ckpt = os.path.join(root, "in"), os.path.join(root, "ckpt")
    os.makedirs(indir, exist_ok=True)
    # kept for sessions not built by get_spark, where shuffle.partitions
    # defaults to 200: pinned to 16 this entry ran 3.18 s instead of
    # 3.71 s (median of 8 alternating reps, sf0.01, plain local[8]
    # session on 4 cores).  Setting the cached-plan conf on the
    # applier's stream clone instead, as CdcPipeline.start does, did not
    # move the unpinned wall (3.76 s), so the width this depends on is
    # not a cached batch's.
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        for phase in (b1, b2):
            _write_phase(_raw_shape(phase), 8, indir)
            q = (
                file_stream(
                    spark, indir, max_files_per_trigger=None, fmt="parquet"
                )
                .writeStream.foreachBatch(applier)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(600):
                q.stop()
                raise TimeoutError("drift stream drain exceeded 600 s")
        if applier.cache.inferences != 2:
            raise RuntimeError(
                f"SchemaCache ran {applier.cache.inferences} inferences; "
                "expected exactly 2 (bootstrap + drift widening)"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(root, ignore_errors=True)

    return applier.state.select(
        "id", "name", "segment", "balance", "tier"
    )


# ---- near-dup ingest probe (decomposed oracle) ----------------------------

PROBE_MOD = 4  # doc_id % 4 == 0 is the arriving batch; rest is the index
PROBE_K, PROBE_BANDS, PROBE_THRESHOLD = 32, 4, 0.9


def q_cdc_ingest_neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-probe stage of :class:`NearDupIngestDeduper`
    (streaming/ingest.py `neardup_probe`, the decision rule the live
    foreachBatch path runs): classify each arriving doc against the
    persisted signature index — `dup_of_index` when a MinHash band
    collision verifies at Jaccard >= 0.9, else `pass_probe`.  The
    greedy in-batch wave collapse that follows is order-dependent and
    stays pytest-pinned (tests/test_ingest_dedup.py); this gates the
    SQL-expressible half with a value oracle."""
    from cdc_redshift_spark.operators.dedup import minhash_frames
    from cdc_redshift_spark.sources.tables import load_table
    from cdc_redshift_spark.streaming.ingest import neardup_probe

    docs = load_table(spark, sf_dir, "documents")
    ex = docs.where(F.col("doc_id") % PROBE_MOD != 0)
    ba = docs.where(F.col("doc_id") % PROBE_MOD == 0)
    return neardup_probe(
        minhash_frames(ex, k=PROBE_K),
        minhash_frames(ba, k=PROBE_K),
        k=PROBE_K,
        bands=PROBE_BANDS,
        jaccard_threshold=PROBE_THRESHOLD,
    ).select(F.col("id").alias("doc_id"), "status")


def _oracle_ingest_probe() -> str:
    from cdc_redshift_spark.queries.dedup_q import (
        duck_minhash_sig,
        duck_shingle_hashes,
    )

    r = PROBE_K // PROBE_BANDS
    return f"""
WITH sh AS (
  SELECT doc_id AS id, {duck_shingle_hashes('text')} AS h FROM documents
), sig AS (
  SELECT id, h, {duck_minhash_sig('h', PROBE_K)} AS sig FROM sh
), bb AS (
  SELECT id, b, list_slice(sig, b*{r} + 1, b*{r} + {r}) AS key,
         (id % {PROBE_MOD} = 0) AS is_batch
  FROM sig, range({PROBE_BANDS}) t(b)
), hit AS (
  SELECT DISTINCT a.id
  FROM bb a JOIN bb m ON a.b = m.b AND a.key = m.key
  JOIN sig x ON x.id = a.id JOIN sig y ON y.id = m.id
  WHERE a.is_batch AND NOT m.is_batch
    AND len(list_intersect(x.h, y.h))::DOUBLE
        / (len(x.h) + len(y.h) - len(list_intersect(x.h, y.h)))
        >= {PROBE_THRESHOLD}
)
SELECT b.id AS doc_id,
       CASE WHEN hit.id IS NOT NULL THEN 'dup_of_index'
            ELSE 'pass_probe' END AS status
FROM (SELECT id FROM sig WHERE id % {PROBE_MOD} = 0) b
LEFT JOIN hit USING (id)
"""


CM_STREAM_PROBES = ["1", "2", "3", "424242"]  # three live users + absent
CM_STREAM_D = 4
CM_STREAM_W = 1024


def q_cdc_stream_cm_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch maintained from a STREAM
    (streaming/sketch.CmSketchMaintainer): the events table split into
    three micro-batches by event_id residue, folded into the stored
    sketch under the versioned swap-commit, with batch 0 REPLAYED to
    exercise the exactly-once no-op guard.  Probing the final sketch
    must equal probing a single whole-table sketch — the mergeability
    contract — so the oracle is the plain batch CM mirror over all of
    events, plus exact counts; the never-underestimate check raises
    in-query exactly like ``sketch_cm_tokens``."""
    from cdc_redshift_spark.operators.sketches import cm_estimate
    from cdc_redshift_spark.sources.tables import load_table
    from cdc_redshift_spark.streaming.sketch import CmSketchMaintainer

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="cdc_stream_cm_")
    try:
        m = CmSketchMaintainer(
            spark,
            tmp,
            prepare=lambda b: b.select(
                F.col("user_id").cast("string").alias("key")
            ),
            d=CM_STREAM_D,
            w=CM_STREAM_W,
        )
        seq = [
            m.update(ev.where(F.col("event_id") % 3 == 0), 0),
            m.update(ev.where(F.col("event_id") % 3 == 0), 0),  # replay
            m.update(ev.where(F.col("event_id") % 3 == 1), 1),
            m.update(ev.where(F.col("event_id") % 3 == 2), 2),
        ]
        if seq != [True, False, True, True]:
            raise RuntimeError(f"CM maintainer sequence broken: {seq}")
        sketch = m.current()
        probes = spark.createDataFrame(
            [(p,) for p in CM_STREAM_PROBES], "key string"
        )
        est = cm_estimate(
            sketch, probes, "key", d=CM_STREAM_D, w=CM_STREAM_W
        )
        exact = (
            ev.select(F.col("user_id").cast("string").alias("key"))
            .join(F.broadcast(probes), "key", "left_semi")
            .groupBy("key")
            .count()
        )
        out = (
            probes.join(est, "key", "left")
            .join(exact, "key", "left")
            .select(
                "key",
                F.coalesce(F.col("count"), F.lit(0)).alias("n_exact"),
                F.coalesce(F.col("est"), F.lit(0)).alias("n_est"),
                (
                    F.coalesce(F.col("est"), F.lit(0))
                    - F.coalesce(F.col("count"), F.lit(0))
                ).alias("overcount"),
            )
            .orderBy("key")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for r in rows:
        if r.overcount < 0:
            raise RuntimeError(
                f"streamed CM sketch UNDERESTIMATED key {r.key}: "
                f"{r.n_est} < {r.n_exact}"
            )
    return spark.createDataFrame(
        rows, "key string, n_exact long, n_est long, overcount long"
    )


def _oracle_stream_cm() -> str:
    from cdc_redshift_spark.operators.sketches import (
        duck_cm_cells,
        duck_cm_probe_cells,
    )

    probes = ", ".join(f"'{p}'" for p in CM_STREAM_PROBES)
    cells = duck_cm_cells(
        "SELECT CAST(user_id AS VARCHAR) AS k FROM events",
        "k",
        CM_STREAM_D,
        CM_STREAM_W,
    )
    pcells = duck_cm_probe_cells(
        "SELECT k FROM probes", "k", CM_STREAM_D, CM_STREAM_W
    )
    return f"""
WITH cells AS ({cells}),
probes AS (SELECT unnest([{probes}]) AS k),
pcells AS ({pcells}),
est AS (
  SELECT k, min(coalesce(c.cnt, 0)) AS n_est
  FROM pcells LEFT JOIN cells c USING (j, bucket)
  GROUP BY k
),
exact AS (
  SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS n_exact
  FROM events WHERE CAST(user_id AS VARCHAR) IN ({probes})
  GROUP BY 1
)
SELECT p.k AS key,
       CAST(coalesce(e.n_exact, 0) AS BIGINT) AS n_exact,
       CAST(s.n_est AS BIGINT) AS n_est,
       CAST(s.n_est - coalesce(e.n_exact, 0) AS BIGINT) AS overcount
FROM probes p
JOIN est s USING (k)
LEFT JOIN exact e USING (k)
ORDER BY key
"""


KMV_STREAM_K = 64  # estimator path engages at sf0.01 (150 users), exact path below k


def q_cdc_stream_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group distinct-count sketch maintained from a STREAM
    (streaming/sketch.KmvSketchMaintainer): per-event_type KMV of
    user_id folded across three micro-batches + a replayed duplicate.
    KMV merge is LOSSLESS (the global k minima are contained in the
    union of per-batch minima), so the streamed state is
    bit-identical to sketching the whole table — the oracle computes
    the batch sketch estimate directly in SQL, making this the
    value-oracle-checkable streamed distinct rollup (HLL's streamed
    form can only be tolerance-gated)."""
    from cdc_redshift_spark.operators.sketches import kmv_estimate
    from cdc_redshift_spark.sources.tables import load_table
    from cdc_redshift_spark.streaming.sketch import KmvSketchMaintainer

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="cdc_stream_kmv_")
    try:
        m = KmvSketchMaintainer(
            spark,
            tmp,
            prepare=lambda b: b.select("event_type", "user_id"),
            dims=["event_type"],
            col="user_id",
            k=KMV_STREAM_K,
        )
        seq = [
            m.update(ev.where(F.col("event_id") % 3 == 0), 0),
            m.update(ev.where(F.col("event_id") % 3 == 0), 0),  # replay
            m.update(ev.where(F.col("event_id") % 3 == 1), 1),
            m.update(ev.where(F.col("event_id") % 3 == 2), 2),
        ]
        if seq != [True, False, True, True]:
            raise RuntimeError(f"KMV maintainer sequence broken: {seq}")
        sk = m.current()
        exact = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("n_exact")
        )
        out = (
            sk.select(
                "event_type",
                F.round(
                    kmv_estimate(F.col("kmv"), k=KMV_STREAM_K), 2
                ).alias("n_est"),
            )
            .join(exact, "event_type")
            .select("event_type", "n_exact", "n_est")
            .orderBy("event_type")
        )
        return spark.createDataFrame(
            out.collect(),
            "event_type string, n_exact long, n_est double",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _oracle_stream_kmv() -> str:
    from cdc_redshift_spark.operators.sketches import duck_kmv_estimate

    k = KMV_STREAM_K
    return f"""
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS nd,
         max(CASE WHEN rn = {k} THEN h END) AS hk
  FROM ranked GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
)
SELECT e.event_type, e.n_exact,
       round({duck_kmv_estimate(k, "a.hk", "a.nd")}, 2) AS n_est
FROM exact e JOIN agg a USING (event_type)
ORDER BY e.event_type
"""


def q_cdc_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: the per-event-type PSI histogram state
    maintained INCREMENTALLY across micro-batches (streaming/rollup.
    RollupMaintainer on the (key, bin, half) grain — O(batch) deltas
    merged into the bucketed snapshot store, never a rescan), then
    scored with the IDENTICAL shared expressions the batch monitor
    uses (operators/quality.psi_bin_expr / psi_grid / psi_score).

    The monitoring config — epoch midpoint and per-key reference bin
    edges — is fixed up front (in production it ships from the
    promoted reference window); keys ABSENT from the config still
    route (degenerate bin-0 grid via a left config join) and score as
    forced-drift n_ref = 0 rows, so a brand-new key appearing
    mid-stream surfaces instead of vanishing.  The early half streams as batch 0;
    the late half splits by event-id parity into batches 1 and 2;
    batch 2 replays once (the foreachBatch retry contract must no-op
    it).  The oracle is ORACLE_DRIFT_PSI itself — the batch monitor's
    full recompute — so a green row proves maintained-state drift
    scoring ≡ batch recompute across batch splits AND replay."""
    from cdc_redshift_spark.operators.quality import (
        psi_bin_expr,
        psi_grid,
        psi_score,
    )
    from cdc_redshift_spark.sources.tables import load_table
    from cdc_redshift_spark.streaming.rollup import RollupMaintainer

    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & ~F.isnan(F.col("value"))
    )
    bounds = ev.agg(
        F.min("ts_ns").alias("__mn"), F.max("ts_ns").alias("__mx")
    )
    halves = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            F.col("event_type").alias("__k"),
            F.col("value").alias("__v"),
            "event_id",
            F.expr("ts_ns <= (__mn + __mx) div 2").alias("__is_ref"),
        )
        # pin the split once: each maintainer update is its own action,
        # and without this every batch re-runs the events scan + the
        # bounds aggregate + the crossJoin just to rebuild its input
        .localCheckpoint(eager=True)
    )
    ref = (
        halves.where("__is_ref")
        .groupBy("__k")
        .agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
        .localCheckpoint(eager=True)  # pin the config: one scan, reused by every batch
    )

    def shape(batch: DataFrame, half: str) -> DataFrame:
        # LEFT join: a key absent from the reference config (first
        # seen mid-stream) must still route — it takes the degenerate
        # lo = hi = 0 grid (bin 0) and later scores as a forced-drift
        # n_ref = 0 row, exactly like the batch monitor
        return batch.join(F.broadcast(ref), "__k", "left").select(
            F.lit(1).alias("sign"),
            "__k",
            psi_bin_expr(
                F.col("__v"),
                F.coalesce(F.col("__lo"), F.lit(0.0)),
                F.coalesce(F.col("__hi"), F.lit(0.0)),
                10,
            ).alias("__b"),
            F.lit(half).alias("__half"),
        )

    early = halves.where("__is_ref")
    late = halves.where(~F.col("__is_ref"))
    tmp = tempfile.mkdtemp(prefix="cdc_stream_psi_")
    try:
        m = RollupMaintainer(
            spark,
            tmp,
            prepare=lambda r: r,
            time_col=None,
            bucket=None,
            dims=["__k", "__b", "__half"],
            measures={},
            # byte-budget bucket sizing (round 16): the histogram state
            # is KB-scale, so a pinned 64-bucket grid made every
            # trigger a 64-task write of ~100 rows + 64 dirs of
            # per-file parquet overhead — a constant tuned for neither
            # local mode nor the cluster (guide §2).  AUTO sizes the
            # grid from measured state bytes and grows it
            # geometrically when the state outgrows it.
            n_buckets="auto",
        )
        # pmod, not %: Spark's % keeps the dividend's sign, so a
        # negative odd event_id would match neither parity predicate
        # and silently vanish from the maintained state
        par = F.pmod(F.col("event_id"), F.lit(2))
        seq = [
            m.update(shape(early, "ref"), 0),
            m.update(shape(late.where(par == 0), "cur"), 1),
            m.update(shape(late.where(par == 1), "cur"), 2),
            m.update(shape(late.where(par == 1), "cur"), 2),
        ]
        if seq != [True, True, True, False]:
            raise RuntimeError(f"PSI maintainer sequence broken: {seq}")
        state = m.current()
        cells = state.groupBy("__k", "__b").agg(
            F.sum(F.when(F.col("__half") == "ref", F.col("n"))).alias(
                "__cr"
            ),
            F.sum(F.when(F.col("__half") == "cur", F.col("n"))).alias(
                "__cc"
            ),
        )
        # grid over the STATE's keys, not just the reference config's:
        # ref keys are a subset (batch 0 streams the reference half),
        # and mid-stream new keys must enter the scored grid to
        # surface as forced-drift n_ref = 0 rows
        full = psi_grid(state.select("__k").distinct(), 10).join(
            cells, ["__k", "__b"], "left"
        ).select(
            "__k",
            "__b",
            F.coalesce("__cr", F.lit(0)).alias("__c_ref"),
            F.coalesce("__cc", F.lit(0)).alias("__c_cur"),
        )
        out = (
            psi_score(full, "event_type")
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_cdc_rollup_rebucket_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-stream bucket-geometry migration under maintenance: a
    (event_type, user_id) rollup maintained incrementally across three
    micro-batches with an explicit ``rebucket()`` (8 -> 32 buckets)
    BETWEEN batches — the store migration a 100 TB deployment performs
    when its state outgrows the grid it was first sized for
    (streaming/snapshots round 12; auto-sizing + geometric growth are
    pytest-pinned in tests/test_snapshot_rebucket.py, this entry
    driver-gates the migration's SEMANTICS).

    In-query pins: the migration commits as a sub-versioned token
    (``1_r1``) so ``committed_batch`` is unchanged and a replayed
    batch id still no-ops AFTER the migration; batch 2 commits pruned
    against the migrated 32-bucket layout.  The oracle is the full
    recompute — a green row proves maintained state survives a live
    re-bucket bit-for-bit."""
    from cdc_redshift_spark.sources.tables import load_table
    from cdc_redshift_spark.streaming.rollup import RollupMaintainer

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "event_type",
            "user_id",
            F.col("value").cast("decimal(18,4)").alias("v"),
        )
        # pin once: each maintainer update is its own action, and the
        # three batch plans would otherwise re-run the events scan
        .localCheckpoint(eager=True)
    )

    def batch(i: int) -> DataFrame:
        # pmod: a negative event_id must land in exactly one batch
        return ev.where(F.pmod(F.col("event_id"), F.lit(3)) == i).select(
            F.lit(1).alias("sign"), "event_type", "user_id", "v"
        )

    tmp = tempfile.mkdtemp(prefix="cdc_rebucket_")
    try:
        m = RollupMaintainer(
            spark,
            tmp,
            prepare=lambda r: r,
            time_col=None,
            bucket=None,
            dims=["event_type", "user_id"],
            measures={"sum_v": "v"},
            n_buckets=8,
        )
        seq = [m.update(batch(0), 0), m.update(batch(1), 1)]
        n_new = m.rebucket(32)
        migrated = (
            n_new == 32
            and m._committed_token() == "1_r1"
            and m.committed_batch() == 1
            and m._bucketed_on_disk()
        )
        seq += [m.update(batch(2), 2), m.update(batch(2), 2)]
        if seq != [True, True, True, False] or not migrated:
            raise RuntimeError(
                f"rebucket sequence broken: seq={seq} migrated={migrated}"
            )
        out = (
            m.current()
            .select(
                "event_type",
                "user_id",
                F.col("n").cast("long").alias("n_events"),
                F.col("sum_v").cast("double").alias("sum_v"),
            )
            .orderBy("event_type", "user_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_cdc_rollup_autogrow_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-sizing bucket geometry under live streaming (VERDICT r12
    #8): an AUTO-mode maintainer whose state OUTGROWS its grid
    mid-stream, so the geometric ``maybe_rebucket()`` growth wired
    into every commit fires on its own — no explicit ``rebucket()``
    call anywhere in this query (the sibling
    ``cdc_rollup_rebucket_stream`` gates the EXPLICIT migration; this
    entry gates the trigger).

    The state grain is event-level — (event_type, user_id, event_id,
    fp) with an md5 fingerprint dim so state bytes grow
    incompressibly with rows seen (the running-ledger shape whose
    state really does scale with data; a low-cardinality rollup never
    outgrows its first sizing).  Three micro-batches by event_id
    residue each add ~a third of the corpus to the state; with
    ``target_bucket_bytes`` at the 16 KiB floor the byte-budget ideal
    crosses 2x the committed count mid-stream and growth fires at
    every SF.  In-query pins: the final count is >= 2x the count the
    FIRST commit auto-sized (growth happened while streaming, not at
    bootstrap), the final layout is bucketed on disk, and a replayed
    batch id still no-ops after the self-migration.  The oracle is
    the full recompute — maintained state across auto-migrations must
    stay bit-identical to batch."""
    from cdc_redshift_spark.sources.tables import load_table
    from cdc_redshift_spark.streaming.rollup import RollupMaintainer

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "event_type",
            "user_id",
            F.md5(F.col("event_id").cast("string")).alias("fp"),
            F.col("value").cast("decimal(18,4)").alias("v"),
        )
        .localCheckpoint(eager=True)  # pin once (see rebucket entry)
    )

    def batch(i: int) -> DataFrame:
        return ev.where(F.pmod(F.col("event_id"), F.lit(3)) == i).select(
            F.lit(1).alias("sign"),
            "event_type",
            "user_id",
            "event_id",
            "fp",
            "v",
        )

    tmp = tempfile.mkdtemp(prefix="cdc_autogrow_")
    try:
        m = RollupMaintainer(
            spark,
            tmp,
            prepare=lambda r: r,
            time_col=None,
            bucket=None,
            dims=["event_type", "user_id", "event_id", "fp"],
            measures={"sum_v": "v"},
            n_buckets="auto",
            target_bucket_bytes=16 << 10,
        )
        seq = [m.update(batch(0), 0)]
        n0 = m._bucket_count()  # what the first commit auto-sized
        seq += [
            m.update(batch(1), 1),
            m.update(batch(2), 2),
            m.update(batch(2), 2),
        ]
        n_final = m._bucket_count()
        ok = (
            seq == [True, True, True, False]
            and n0 >= 1
            and n_final >= 2 * n0
            and m.committed_batch() == 2
            and m._bucketed_on_disk()
        )
        if not ok:
            raise RuntimeError(
                f"auto-grow sequence broken: seq={seq} n0={n0} "
                f"n_final={n_final}"
            )
        out = (
            m.current()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.sum("sum_v").alias("__sv"),
            )
            .select(
                "event_type",
                "n_keys",
                F.col("__sv").cast("double").alias("sum_v"),
            )
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE_ROLLUP_AUTOGROW = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
FROM events
GROUP BY 1
ORDER BY event_type
"""


def q_cdc_stream_emb_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of the embedding-space drift monitor (VERDICT
    r11 #4): the per-(label, dim, half) component-sum + vector-count
    state maintained INCREMENTALLY across micro-batches
    (streaming/rollup.RollupMaintainer — O(batch) deltas merged into
    the bucketed snapshot store, never a rescan of history), then
    scored with the IDENTICAL shared expressions the batch monitor
    uses (operators/quality.emb_drift_score — same factoring as
    psi_bin_expr/psi_score for the value monitor).

    The epoch split (exact integer vec_id midpoint) is fixed up front
    as monitoring config.  The reference half streams as batch 0; the
    current half splits by vec_id parity into batches 1 and 2; batch
    2 replays once (the foreachBatch retry contract must no-op it).
    Per-dimension means come out of the maintained state as
    sum_x / n — a mean is exactly the maintainable form of an
    average, which is why the state grain is (label, pos, half) sums,
    bounded at |labels|·(dim+1)·2 rows regardless of corpus size.

    Degenerate-input contract matches the batch face exactly (round-
    13 review): vector counts ride a per-ROW marker cell (pos = -1),
    so a NULL/empty embedding still counts toward n_ref/n_cur; NULL
    elements are dropped before the maintainer, so each (label, pos)
    state n is the NON-NULL element count — the same denominator the
    batch face's ``avg`` uses.  The oracle is the batch monitor's own
    full-recompute SQL, so a green row proves maintained-state
    scoring ≡ batch recompute across batch splits AND replay — the
    economics a 100 TB drift monitor needs (a monitor that rescans
    history every trigger dies there)."""
    from cdc_redshift_spark.operators.quality import emb_drift_score
    from cdc_redshift_spark.sources.tables import load_table
    from cdc_redshift_spark.streaming.rollup import RollupMaintainer

    emb = load_table(spark, sf_dir, "embeddings")
    bounds = emb.agg(
        F.min("vec_id").alias("__mn"), F.max("vec_id").alias("__mx")
    )
    split = (
        emb.crossJoin(F.broadcast(bounds))
        .select(
            "label",
            "embedding",
            "vec_id",
            F.expr("vec_id <= (__mn + __mx) div 2").alias("__is_ref"),
        )
        # pin the split once: each maintainer update is its own
        # action, and without this every batch re-runs the embeddings
        # scan + the bounds aggregate + the crossJoin
        .localCheckpoint(eager=True)
    )

    def shape(batch: DataFrame, half: str) -> DataFrame:
        # element cells: NULL elements dropped so state n = non-null
        # count per (label, pos) — the batch avg's denominator
        exploded = batch.select(
            F.lit(1).alias("sign"),
            "label",
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("pos", "x"),
        ).where(F.col("x").isNotNull())
        # one marker cell per input ROW (pos = -1): vector counts
        # must include NULL/empty embeddings, which emit no element
        # rows — exactly the batch face's unconditional row count
        marker = batch.select(
            F.lit(1).alias("sign"),
            "label",
            F.lit(-1).alias("pos"),
            F.lit(None).cast("double").alias("x"),
        )
        return exploded.unionByName(marker).withColumn(
            "__half", F.lit(half)
        )

    ref = split.where("__is_ref")
    cur = split.where(~F.col("__is_ref"))
    tmp = tempfile.mkdtemp(prefix="cdc_stream_emb_")
    try:
        m = RollupMaintainer(
            spark,
            tmp,
            prepare=lambda r: r,
            time_col=None,
            bucket=None,
            dims=["label", "pos", "__half"],
            measures={"sum_x": "x"},
            # byte-budget grid, not a pinned 64 (see the PSI face)
            n_buckets="auto",
        )
        # pmod, not %: a negative vec_id must land in exactly one
        # parity batch (same hazard as the PSI face's event_id split)
        par = F.pmod(F.col("vec_id"), F.lit(2))
        seq = [
            m.update(shape(ref, "ref"), 0),
            m.update(shape(cur.where(par == 0), "cur"), 1),
            m.update(shape(cur.where(par == 1), "cur"), 2),
            m.update(shape(cur.where(par == 1), "cur"), 2),
        ]
        if seq != [True, True, True, False]:
            raise RuntimeError(f"emb maintainer sequence broken: {seq}")
        state = m.current()  # (label, pos, __half, n, sum_x)
        per_dim = state.where(F.col("pos") >= 0).groupBy("label", "pos").agg(
            F.max(
                F.when(
                    F.col("__half") == "ref",
                    F.col("sum_x") / F.col("n"),
                )
            ).alias("m_ref"),
            F.max(
                F.when(
                    F.col("__half") == "cur",
                    F.col("sum_x") / F.col("n"),
                )
            ).alias("m_cur"),
        )
        # vector counts from the marker cells: every input row — NULL
        # and empty embeddings included — contributes exactly one
        # pos = -1 row; a label absent from a half has no state row
        # -> 0, matching the batch face's conditional-sum zeros
        counts = (
            state.where(F.col("pos") == -1)
            .groupBy("label")
            .agg(
                F.coalesce(
                    F.max(
                        F.when(F.col("__half") == "ref", F.col("n"))
                    ),
                    F.lit(0),
                ).alias("n_ref"),
                F.coalesce(
                    F.max(
                        F.when(F.col("__half") == "cur", F.col("n"))
                    ),
                    F.lit(0),
                ).alias("n_cur"),
            )
        )
        out = (
            emb_drift_score(per_dim, counts)
            .orderBy("label")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_cdc_stream_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of the token-distribution drift monitor
    (VERDICT r11 #4): the per-(source, vocab-cell, half) token-count
    state maintained INCREMENTALLY with RollupMaintainer — each
    micro-batch explodes only ITS documents' tokens, maps them
    through the broadcast reference vocabulary (top-V per source,
    fixed up front from the reference half, the config that ships
    from a promoted window in production — same stance as the PSI
    face's bin edges), and folds (source, cell, half) count deltas
    into the bucketed snapshot store.  State is bounded at
    |sources|·(V+1)·2 rows regardless of corpus size.

    Scoring reuses the IDENTICAL shared expressions as the batch
    monitor (operators/quality.psi_score over the vocab∪OOV grid,
    Laplace pad (V+1)·0.5) — a source first seen in the current half
    still surfaces as an all-OOV n_ref=0 forced-drift row, because
    the grid's OOV leg enumerates the STATE's sources, not the
    config's.  Batches: reference half as batch 0, current half by
    doc_id parity as batches 1 and 2, batch 2 replayed once (must
    no-op).  The oracle is the batch monitor's full-recompute SQL
    (ORACLE_TOKEN_DRIFT), so a green row proves maintained-state
    scoring ≡ batch recompute across splits AND replay."""
    from cdc_redshift_spark.queries.corpus_q import (
        TOKEN_DRIFT_OOV,
        token_drift_grid_score,
        token_drift_vocab,
    )
    from cdc_redshift_spark.sources.tables import load_table
    from cdc_redshift_spark.streaming.rollup import RollupMaintainer

    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.min("doc_id").alias("__mn"), F.max("doc_id").alias("__mx")
    )
    # ONE tokenize pass, pinned: every batch and the vocab derive from
    # the token-level checkpoint, so the regex split + explode run
    # once instead of once per batch (in production each micro-batch
    # tokenizes only its own arriving documents — this is the fixture
    # replaying a static corpus as a stream, same stance as the PSI
    # face's split checkpoint)
    toks = (
        docs.crossJoin(F.broadcast(bounds))
        .select(
            "source",
            "doc_id",
            F.expr("doc_id <= (__mn + __mx) div 2").alias("__is_ref"),
            F.explode(
                F.split(F.trim(F.col("text")), r"\s+")
            ).alias("tok"),
        )
        .localCheckpoint(eager=True)
    )
    # monitoring config: per-source top-V reference vocabulary via
    # the SHARED ranking helper (corpus_q.token_drift_vocab — the
    # batch monitor runs the identical expression), pinned so every
    # batch reuses one computed table
    vocab = token_drift_vocab(
        toks.where("__is_ref")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("__c"))
    ).localCheckpoint(eager=True)

    def shape(batch: DataFrame, half: str) -> DataFrame:
        # LEFT join against the broadcast config: out-of-vocabulary
        # tokens (and every token of a source unseen in the reference
        # half) collapse to the one OOV cell BEFORE the maintainer,
        # so the delta the store absorbs is already cell-bounded
        return batch.join(
            F.broadcast(vocab.withColumn("__in_v", F.lit(True))),
            ["source", "tok"],
            "left",
        ).select(
            F.lit(1).alias("sign"),
            "source",
            F.when(F.col("__in_v"), F.col("tok"))
            .otherwise(F.lit(TOKEN_DRIFT_OOV))
            .alias("cell"),
            F.lit(half).alias("__half"),
        )

    early = toks.where("__is_ref")
    late = toks.where(~F.col("__is_ref"))
    tmp = tempfile.mkdtemp(prefix="cdc_stream_tok_")
    try:
        m = RollupMaintainer(
            spark,
            tmp,
            prepare=lambda r: r,
            time_col=None,
            bucket=None,
            dims=["source", "cell", "__half"],
            measures={},
            # byte-budget grid, not a pinned 64 (see the PSI face)
            n_buckets="auto",
        )
        par = F.pmod(F.col("doc_id"), F.lit(2))
        seq = [
            m.update(shape(early, "ref"), 0),
            m.update(shape(late.where(par == 0), "cur"), 1),
            m.update(shape(late.where(par == 1), "cur"), 2),
            m.update(shape(late.where(par == 1), "cur"), 2),
        ]
        if seq != [True, True, True, False]:
            raise RuntimeError(
                f"token maintainer sequence broken: {seq}"
            )
        state = m.current()  # (source, cell, __half, n)
        cells = state.groupBy("source", "cell").agg(
            F.sum(
                F.when(F.col("__half") == "ref", F.col("n"))
            ).alias("__cr"),
            F.sum(
                F.when(F.col("__half") == "cur", F.col("n"))
            ).alias("__cc"),
        )
        # SHARED grid + scoring (corpus_q.token_drift_grid_score):
        # sources come from the STATE, so a brand-new source
        # (strongest drift there is) enters the grid as an all-OOV
        # forced-drift row instead of vanishing with the config
        out = (
            token_drift_grid_score(cells, vocab, state)
            .orderBy("source")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE_ROLLUP_REBUCKET = """
SELECT event_type, user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
FROM events
GROUP BY 1, 2
ORDER BY event_type, user_id
"""


def q_cdc_stream_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous l-diversity audit on a CDC stream — the homogeneity
    gap k-anonymity leaves open, as a MAINTAINED aggregate: (QI...,
    sensitive-value) cell counts kept by a RollupMaintainer and scored
    through the IDENTICAL shared expressions the batch audit uses
    (operators/quality.l_diversity_score).  State is one row per
    OCCUPIED (nation, bal_band, segment) cell — bounded by the QI ×
    value grid, not the table.

    The stream exercises a correction wave on the SENSITIVE attribute
    itself: batch 0 inserts the even-custkey half correctly; batch 1
    inserts the odd half with segment mis-keyed to the literal
    'MISKEYED' (a bad upstream mapping); batch 2 retracts every
    mis-keyed cell and inserts the corrected image, then REPLAYS once
    (no-op asserted).  In-query pins: the mis-keyed mass is exactly
    n_odd mid-stream and exactly 0 after the correction (its cells
    must VANISH from state, not linger at zero — the identically-zero
    cleanup rule), so the retraction provably both happened and
    converged.  Oracle: ORACLE_L_DIVERSITY, the batch audit's full
    recompute over the final table."""
    from cdc_redshift_spark.operators.quality import l_diversity_score
    from cdc_redshift_spark.sources.tables import load_table
    from cdc_redshift_spark.streaming.rollup import RollupMaintainer

    cust = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("ck"),
            F.col("c_nationkey").cast("long").alias("nation"),
            F.floor(F.col("c_acctbal") / F.lit(1000.0)).alias("bal_band"),
            F.col("c_mktsegment").alias("segment"),
        )
        .localCheckpoint(eager=True)
    )
    grain = ["nation", "bal_band", "segment"]

    def ins(df: DataFrame) -> DataFrame:
        return df.select(F.lit(1).alias("sign"), *grain)

    par = F.pmod(F.col("ck"), F.lit(2))
    even, odd = cust.where(par == 0), cust.where(par == 1)
    wrong = odd.select(
        F.lit(1).alias("sign"),
        "nation",
        "bal_band",
        F.lit("MISKEYED").alias("segment"),
    )
    correction = wrong.withColumn("sign", F.lit(-1)).unionByName(ins(odd))
    tmp = tempfile.mkdtemp(prefix="cdc_stream_ldiv_")
    try:
        m = RollupMaintainer(
            spark,
            tmp,
            prepare=lambda r: r,
            time_col=None,
            bucket=None,
            dims=grain,
            measures={},
            # byte-budget grid, not a pinned 64 (see the PSI face)
            n_buckets="auto",
        )
        seq = [m.update(ins(even), 0), m.update(wrong, 1)]

        mid, mid_cells = _marker_cell_stats(m.current(), "MISKEYED")
        seq += [m.update(correction, 2), m.update(correction, 2)]
        if seq != [True, True, True, False]:
            raise RuntimeError(f"l-diversity maintainer replay broken: {seq}")
        state = m.current()
        n_odd = odd.count()
        fin, fin_cells = _marker_cell_stats(state, "MISKEYED")
        if mid != n_odd or fin != 0 or (n_odd > 0 and mid_cells == 0):
            raise RuntimeError(
                f"sensitive-attribute correction did not converge: "
                f"mis-keyed mass mid={mid} (want {n_odd}), final={fin}"
            )
        if fin_cells != 0:
            raise RuntimeError(
                f"{fin_cells} mis-keyed cells linger at zero instead of "
                f"vanishing from state"
            )
        out = (
            l_diversity_score(state, ["nation", "bal_band"], l=3,
                              count_col="n")
            .orderBy("nation", "bal_band")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _marker_cell_stats(state: DataFrame, segment_value: str) -> tuple:
    """(mass, cell count) of a marker segment in a maintained privacy
    state — shared by the l-diversity and t-closeness faces' in-query
    pins.  The CELL count is what pins the "cells must VANISH from
    state, not linger at zero" claim: a lingering n=0 residue has
    mass 0 but rows > 0."""
    r = state.where(F.col("segment") == segment_value).agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("__m"),
        F.count(F.lit(1)).alias("__cells"),
    ).collect()[0]
    return r["__m"], r["__cells"]


def q_cdc_stream_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous t-closeness audit on a CDC stream — the skewness-
    attack monitor as a MAINTAINED aggregate, completing the privacy
    triad's streaming story (k-anonymity and l-diversity faces above;
    same RollupMaintainer state pattern, same batch-SQL oracle
    stance).  State: one row per occupied (nation, bal_band, segment)
    cell; scoring reads ONLY state cells through the IDENTICAL
    absent-value EMD algebra the batch audit uses
    (operators/quality.t_closeness_score) — both the per-class and
    the GLOBAL segment distribution come out of the same maintained
    cells, so no second pass over the table exists anywhere.

    Where the k-face exercises an UPDATE wave and the l-face a
    sensitive-value correction, this stream exercises a pure DELETE
    wave (the third CDC op): batch 0 inserts the even half PLUS a
    phantom cohort (every even customer duplicated with segment
    'PHANTOM' — a test-data leak into prod, the shape a privacy gate
    must catch and purge); batch 1 inserts the odd half; batch 2
    DELETES the phantom cohort (sign -1 only, no re-insert) and then
    REPLAYS once (no-op asserted).  Pins: phantom mass == n_even
    mid-stream and 0 after the purge (its cells must VANISH from
    state, not linger at zero), so the delete provably happened and
    converged.  Oracle: ORACLE_T_CLOSENESS, the batch audit's full
    recompute over the final table."""
    from cdc_redshift_spark.operators.quality import t_closeness_score
    from cdc_redshift_spark.sources.tables import load_table
    from cdc_redshift_spark.streaming.rollup import RollupMaintainer

    cust = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("ck"),
            F.col("c_nationkey").cast("long").alias("nation"),
            F.floor(F.col("c_acctbal") / F.lit(1000.0)).alias("bal_band"),
            F.col("c_mktsegment").alias("segment"),
        )
        .localCheckpoint(eager=True)
    )
    grain = ["nation", "bal_band", "segment"]

    def ins(df: DataFrame) -> DataFrame:
        return df.select(F.lit(1).alias("sign"), *grain)

    par = F.pmod(F.col("ck"), F.lit(2))
    even, odd = cust.where(par == 0), cust.where(par == 1)
    phantom = even.select(
        F.lit(1).alias("sign"),
        "nation",
        "bal_band",
        F.lit("PHANTOM").alias("segment"),
    )
    purge = phantom.withColumn("sign", F.lit(-1))
    tmp = tempfile.mkdtemp(prefix="cdc_stream_tclose_")
    try:
        m = RollupMaintainer(
            spark,
            tmp,
            prepare=lambda r: r,
            time_col=None,
            bucket=None,
            dims=grain,
            measures={},
            # byte-budget grid, not a pinned 64 (see the PSI face)
            n_buckets="auto",
        )
        seq = [
            m.update(ins(even).unionByName(phantom), 0),
            m.update(ins(odd), 1),
        ]

        mid, mid_cells = _marker_cell_stats(m.current(), "PHANTOM")
        seq += [m.update(purge, 2), m.update(purge, 2)]
        if seq != [True, True, True, False]:
            raise RuntimeError(f"t-closeness maintainer replay broken: {seq}")
        state = m.current()
        n_even = even.count()
        fin, fin_cells = _marker_cell_stats(state, "PHANTOM")
        if mid != n_even or fin != 0 or (n_even > 0 and mid_cells == 0):
            raise RuntimeError(
                f"phantom-cohort purge did not converge: mass mid={mid} "
                f"(want {n_even}), final={fin}"
            )
        if fin_cells != 0:
            raise RuntimeError(
                f"{fin_cells} phantom cells linger at zero instead of "
                f"vanishing from state"
            )
        out = (
            t_closeness_score(
                state, ["nation", "bal_band"], t=0.3, count_col="n",
                value_col="segment",
            )
            .orderBy("nation", "bal_band")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_cdc_stream_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous k-anonymity audit on a CDC stream (VERDICT r13 #4):
    the privacy gate as a MAINTAINED aggregate — QI-class counts kept
    incrementally by a RollupMaintainer over signed retraction
    batches, scored with the IDENTICAL shared threshold expression
    the batch audit uses (operators/quality.k_anonymity_score, the
    pattern proven by all three drift faces).  A 100 TB CDC pipeline
    runs its re-identification audit per micro-batch, not as a
    nightly rescan: state is ONE row per occupied (nation, segment,
    bal_band) class — grid-bounded, not data-bounded — and a trigger
    folds only its batch's class deltas.

    Unlike the insert-only drift faces, this stream exercises GENUINE
    UPDATE retractions: batch 0 inserts the even-custkey half with
    correct QI values; batch 1 inserts the odd half with a WRONG
    balance band (band + 1, a mis-binned first write); batch 2 is the
    correcting UPDATE — a signed retraction of every wrong row plus
    the insert of its corrected image — and then REPLAYS once (the
    foreachBatch retry contract must no-op it, asserted in-query).
    An arithmetic pin proves the retraction really moved state: the
    band-weighted state mass drops by exactly one band per corrected
    customer across batch 2.  The oracle is ORACLE_K_ANONYMITY itself
    — the batch audit's full recompute over the final table — so a
    green row proves maintained-count scoring ≡ batch recompute
    across batch splits, a real correction wave, AND replay.

    Reference point: the continuous analogue of the batch privacy
    gate a warehouse runs before exposing a table (reference
    readme.md:27,33 micro-batch economics)."""
    from cdc_redshift_spark.operators.quality import k_anonymity_score
    from cdc_redshift_spark.sources.tables import load_table
    from cdc_redshift_spark.streaming.rollup import RollupMaintainer

    cust = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("ck"),
            F.col("c_nationkey").cast("long").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.floor(F.col("c_acctbal") / F.lit(1000.0)).alias("bal_band"),
        )
        # pin the QI projection once: each maintainer update is its
        # own action, and every batch slices this same frame
        .localCheckpoint(eager=True)
    )
    qi = ["nation", "segment", "bal_band"]

    def ins(df: DataFrame) -> DataFrame:
        return df.select(F.lit(1).alias("sign"), *qi)

    par = F.pmod(F.col("ck"), F.lit(2))
    even, odd = cust.where(par == 0), cust.where(par == 1)
    wrong = odd.select(
        F.lit(1).alias("sign"),
        "nation",
        "segment",
        (F.col("bal_band") + 1).alias("bal_band"),
    )
    correction = wrong.withColumn("sign", F.lit(-1)).unionByName(ins(odd))
    tmp = tempfile.mkdtemp(prefix="cdc_stream_kanon_")
    try:
        m = RollupMaintainer(
            spark,
            tmp,
            prepare=lambda r: r,
            time_col=None,
            bucket=None,
            dims=qi,
            measures={},
            # byte-budget grid, not a pinned 64 (see the PSI face)
            n_buckets="auto",
        )
        seq = [m.update(ins(even), 0), m.update(wrong, 1)]

        def mass(df, n_expr):
            r = df.agg(
                F.sum(n_expr).alias("__n"),
                F.sum(n_expr * F.col("bal_band")).alias("__w"),
            ).collect()[0]
            return r["__n"], r["__w"]

        mid = mass(m.current(), F.col("n"))
        seq += [m.update(correction, 2), m.update(correction, 2)]
        if seq != [True, True, True, False]:
            raise RuntimeError(f"k-anonymity maintainer replay broken: {seq}")
        state = m.current()
        # the correction wave really engaged: total count is conserved
        # across batch 2 while the band-weighted state mass drops by
        # EXACTLY one band per corrected (odd) customer — pinned
        # against the mid-stream (mis-binned) state, so the wrong
        # batch was provably wrong and the retraction provably moved
        # it.  NULL bands stay NULL under +1 and carry no weight in
        # either sum, so only non-NULL-band odd customers move mass.
        n_odd = odd.where(F.col("bal_band").isNotNull()).count()
        fin = mass(state, F.col("n"))
        exp = mass(cust, F.lit(1))
        if fin != exp or mid != (exp[0], exp[1] + n_odd):
            raise RuntimeError(
                f"retraction did not converge: mid {mid}, final {fin}, "
                f"table {exp}, n_odd={n_odd}"
            )
        out = (
            k_anonymity_score(state, k=5)
            .select(
                "nation",
                "segment",
                "bal_band",
                F.col("n").cast("long").alias("n"),
            )
            .orderBy("nation", "segment", "bal_band")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_cdc_dead_letter_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL CdcPipeline replay (foreachBatch + per-table fan-out +
    ParquetSink merge) with MALFORMED envelopes in the stream — the
    first driver-gated end-to-end run of the pipeline class itself,
    and the certification of the r15 dead-letter path.

    Every order emits one insert envelope; orders with
    ``o_orderkey % 11 == 0`` emit a BROKEN envelope with NO source
    struct, which normalizes to NULL db/table.  Pre-r15 the per-table
    fan-out crashed on those rows (``apply_one(None, ...)`` died in
    the sink's path join — one bad event killed the stream); now they
    are counted, appended to ``dead_letter_root``, and the good rows
    still land.  In-query proofs (raise on mismatch):

    - ``stats.unroutable`` == the malformed-envelope count;
    - the dead-letter parquet holds exactly those rows (NULL db);
    - the sink holds exactly the well-formed rows.

    The oracle reconstructs the surviving state per status from
    ``orders`` directly."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink
    from cdc_redshift_spark.streaming.pipeline import CdcPipeline

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    okey = F.col("o_orderkey")
    ts = F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    payload = F.to_json(
        F.struct(
            okey.alias("id"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("total"),
        )
    )
    src = F.struct(
        F.lit("tpch").alias("db"),
        F.lit("orders_cdc").alias("table"),
        ts.cast("long").alias("ts_ms"),
    )
    good_env = F.to_json(
        F.struct(
            F.lit(None).cast("string").alias("before"),
            payload.alias("after"),
            src.alias("source"),
            F.lit("c").alias("op"),
            ts.cast("long").alias("ts_ms"),
        )
    )
    bad_env = F.to_json(  # no source struct -> NULL db/table
        F.struct(
            F.lit(None).cast("string").alias("before"),
            payload.alias("after"),
            F.lit("c").alias("op"),
            ts.cast("long").alias("ts_ms"),
        )
    )
    raw = orders.select(
        F.when(okey % 11 == 0, bad_env).otherwise(good_env).alias("value"),
        okey.cast("long").alias("offset"),
    )
    n_bad = orders.where(okey % 11 == 0).count()

    root = _tempfile.mkdtemp(prefix="cdc_dlq_")
    indir = _os.path.join(root, "in")
    ckpt = _os.path.join(root, "ckpt")
    dlq = _os.path.join(root, "dlq")
    _os.makedirs(indir, exist_ok=True)
    try:
        _write_phase(_raw_shape(raw), 8, indir)
        sink = ParquetSink(
            spark, _os.path.join(root, "sink"), keys=("db", "table", "key")
        )
        pipe = CdcPipeline(
            lambda r: pg_changeset(r, offset_col="offset"),
            sink,
            keys=("db", "table", "key"),
            dead_letter_root=dlq,
        )
        q = pipe.start(
            file_stream(
                spark, indir, max_files_per_trigger=None, fmt="parquet"
            ),
            checkpoint=ckpt,
            available_now=True,
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("dead-letter replay drain exceeded 600 s")
        if pipe.stats.unroutable != n_bad:
            raise RuntimeError(
                f"unroutable count {pipe.stats.unroutable} != "
                f"malformed envelopes {n_bad}"
            )
        dl = spark.read.parquet(dlq)
        got_bad = dl.count()
        if got_bad != n_bad or dl.where(F.col("db").isNotNull()).count():
            raise RuntimeError(
                f"dead-letter parquet holds {got_bad} rows, expected "
                f"{n_bad} all-NULL-db"
            )
        state = sink.read_table(spark, "tpch", "orders_cdc")
        out = (
            state.select(
                F.get_json_object("payload", "$.status").alias("status"),
                F.get_json_object("payload", "$.total")
                .cast("double")
                .alias("total"),
                F.col("key").cast("bigint").alias("okey"),
            )
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("total") * 100).cast("long")).alias(
                    "total_cents"
                ),
                F.min("okey").alias("min_okey"),
                F.max("okey").alias("max_okey"),
            )
            .orderBy("status")
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        _shutil.rmtree(root, ignore_errors=True)


ORACLE_DEAD_LETTER_REPLAY = """
SELECT o_orderstatus AS status,
       count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       min(o_orderkey) AS min_okey,
       max(o_orderkey) AS max_okey
FROM orders
WHERE o_orderkey % 11 <> 0
GROUP BY status
ORDER BY status
"""


QUERIES = {
    "cdc_dead_letter_replay": q_cdc_dead_letter_replay,
    "cdc_stateful_lww_stream": q_cdc_stateful_lww_stream,
    "cdc_rollup_rebucket_stream": q_cdc_rollup_rebucket_stream,
    "cdc_rollup_autogrow_stream": q_cdc_rollup_autogrow_stream,
    "cdc_stream_psi_drift": q_cdc_stream_psi_drift,
    "cdc_stream_emb_drift": q_cdc_stream_emb_drift,
    "cdc_stream_token_drift": q_cdc_stream_token_drift,
    "cdc_stream_cm_sketch": q_cdc_stream_cm_sketch,
    "cdc_stream_kmv_rollup": q_cdc_stream_kmv_rollup,
    "cdc_stream_k_anonymity": q_cdc_stream_k_anonymity,
    "cdc_stream_l_diversity": q_cdc_stream_l_diversity,
    "cdc_stream_t_closeness": q_cdc_stream_t_closeness,
    "cdc_stateful_lww_agg_stream": q_cdc_stateful_lww_agg_stream,
    "cdc_windowed_ops_stream": q_cdc_windowed_ops_stream,
    "cdc_sessionize_stream": q_cdc_sessionize_stream,
    "events_stream_join": q_events_stream_join,
    "cdc_first_seen_stream": q_cdc_first_seen_stream,
    "cdc_enrich_stream": q_cdc_enrich_stream,
    "cdc_ingest_dedup_stream": q_cdc_ingest_dedup_stream,
    "cdc_ingest_compaction": q_cdc_ingest_compaction,
    "cdc_ingest_neardup_probe": q_cdc_ingest_neardup_probe,
    "cdc_stream_schema_drift": q_cdc_stream_schema_drift,
}
def _oracle_stream_psi() -> str:
    # the batch monitor's oracle IS the streaming oracle: maintained
    # histogram state must score identically to full recompute
    from cdc_redshift_spark.queries.dq_q import ORACLE_DRIFT_PSI

    return ORACLE_DRIFT_PSI


def _oracle_stream_emb() -> str:
    # the batch monitor's oracle IS the streaming oracle: maintained
    # (label, dim, half) sum/count state scored through the shared
    # emb_drift_score must equal full recompute
    from cdc_redshift_spark.queries.analytics import _oracle_emb_drift

    return _oracle_emb_drift()


def _oracle_stream_tclose() -> str:
    # same stance for the skewness-attack audit
    from cdc_redshift_spark.queries.text_q import ORACLE_T_CLOSENESS

    return ORACLE_T_CLOSENESS


def _oracle_stream_ldiv() -> str:
    # same stance for the homogeneity audit
    from cdc_redshift_spark.queries.text_q import ORACLE_L_DIVERSITY

    return ORACLE_L_DIVERSITY


def _oracle_stream_kanon() -> str:
    # the batch audit's oracle IS the streaming oracle: maintained
    # QI-class counts scored through the shared k_anonymity_score
    # must equal the full-table recompute
    from cdc_redshift_spark.queries.text_q import ORACLE_K_ANONYMITY

    return ORACLE_K_ANONYMITY


def _oracle_stream_token() -> str:
    # same stance: maintained (source, cell, half) counts scored
    # through the shared psi_score must equal the batch monitor
    from cdc_redshift_spark.queries.corpus_q import ORACLE_TOKEN_DRIFT

    return ORACLE_TOKEN_DRIFT


ORACLES = {
    "cdc_dead_letter_replay": ORACLE_DEAD_LETTER_REPLAY,
    "cdc_stateful_lww_stream": ORACLE_STATEFUL_LWW,
    "cdc_rollup_rebucket_stream": ORACLE_ROLLUP_REBUCKET,
    "cdc_rollup_autogrow_stream": ORACLE_ROLLUP_AUTOGROW,
    "cdc_stream_psi_drift": _oracle_stream_psi(),
    "cdc_stream_emb_drift": _oracle_stream_emb(),
    "cdc_stream_token_drift": _oracle_stream_token(),
    "cdc_stream_cm_sketch": _oracle_stream_cm(),
    "cdc_stream_kmv_rollup": _oracle_stream_kmv(),
    "cdc_stream_k_anonymity": _oracle_stream_kanon(),
    "cdc_stream_l_diversity": _oracle_stream_ldiv(),
    "cdc_stream_t_closeness": _oracle_stream_tclose(),
    "cdc_stateful_lww_agg_stream": ORACLE_STATEFUL_LWW,
    "cdc_windowed_ops_stream": ORACLE_WINDOWED_OPS,
    "cdc_sessionize_stream": ORACLE_SESSIONIZE_STREAM,
    "events_stream_join": ORACLE_STREAM_JOIN,
    "cdc_first_seen_stream": ORACLE_FIRST_SEEN,
    "cdc_enrich_stream": ORACLE_ENRICH,
    "cdc_ingest_dedup_stream": ORACLE_INGEST_DEDUP,
    "cdc_ingest_compaction": ORACLE_INGEST_DEDUP,
    "cdc_ingest_neardup_probe": _oracle_ingest_probe(),
    "cdc_stream_schema_drift": ORACLE_CDC_DMS_SCHEMA_DRIFT,
}
