"""Streaming ingest dedup: a foreachBatch stage that admits only
never-seen documents, maintaining a persisted fingerprint index.

The streaming face of ``operators/dedup.incremental_exact_dedup`` —
the shape a 100 TB training-data ingest service actually runs: the
corpus index lives as a parquet table keyed on the fingerprint; each
micro-batch classifies its documents against the index with
batch-proportional work (one fingerprint scan of the batch + one
equi-join probe), appends the accepted documents to the corpus and
their fingerprints to the index.  The corpus itself is never re-read.

Crash consistency (exactly-once): every batch writes into its OWN
deterministic subdirectory (``batch=<batch_id>``) of both the index
and the accepted dir, with ``mode("overwrite")``, and classification
reads only index rows with ``batch < batch_id``.  Structured
Streaming replays a failed micro-batch under the SAME batch_id, so:

* a crash between the two writes cannot lose a document — the replay
  excludes its own half-written ``batch=<id>`` index rows from the
  probe, re-derives the identical accepted set (classification is a
  deterministic function of the batch data and the prior-batch index),
  and overwrites both subdirectories;
* a replay of a fully-committed batch overwrites both subdirectories
  with identical content — no duplicates in the corpus;
* readers of either table never see a batch twice, because each batch
  owns exactly one partition directory.

This is the classic idempotent-foreachBatch pattern (a poor man's
``txnVersion``/``txnAppId``) built on plain parquet — the same
contract a Delta/Iceberg sink would give via its transaction log.

At scale, additionally bucket both parquet tables by ``fp`` so the
per-batch probe join is co-located (bucketBy + saveAsTable — the
zero-Exchange contract is pinned in tests/test_bucketing.py; range
clustering, operators/layout.py, is the complementary file-skipping
axis); the ``batch`` partition column keeps per-batch
overwrite idempotence and lets compaction fold old batches without
touching live ones.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_redshift_spark import commit

_INDEX_SCHEMA = "fp string, batch int"


def _read_parquet_or_empty(spark, path: str, schema):
    """Read an index dir; ONLY first-batch absence (PATH_NOT_FOUND)
    may fall back to an empty frame — any other read failure (corrupt
    footer, permissions) must raise, because an empty index would
    silently admit every duplicate in the batch.

    Absence is detected via the error CLASS (stable across Spark
    releases), with a message-substring fallback for versions that
    predate error classes ("Path does not exist" wording).
    """
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        # getCondition (Spark 4) with getErrorClass fallback (3.x)
        get_cls = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", None
        )
        err_cls = get_cls() if callable(get_cls) else None
        if err_cls == "PATH_NOT_FOUND" or (
            err_cls is None
            and (
                "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e)
            )
        ):
            return spark.createDataFrame([], schema)
        raise


def _batch_dir(root: str, batch_id: int) -> str:
    return f"{root}/batch={int(batch_id)}"


def _probe_flags(index: DataFrame, frames: DataFrame, pairs: DataFrame):
    """Per batch doc: ``dup_of_index`` when it MinHash-matches the
    persisted index (or reuses an already-indexed id), else
    ``pass_probe``.  Shared by the live ``foreachBatch`` path and the
    gated ``cdc_ingest_neardup_probe`` query — the oracle certifying
    the latter certifies the decision rule the stream runs."""
    hit_index = (
        pairs.where(F.col("match_side") == "existing")
        .select(F.col("batch_id").alias("id"))
        .distinct()
    )
    # a doc redelivered in a LATER batch under the same id (the pair
    # probe deliberately excludes match_id == batch_id) is rejected
    # even if its text changed; same-batch replays are instead handled
    # by the batch-partition overwrite scheme
    seen_ids = index.select("id").distinct()
    flagged = hit_index.unionByName(seen_ids).distinct().withColumn(
        "__hit", F.lit(1)
    )
    return frames.select("id").join(flagged, "id", "left").select(
        "id",
        F.when(F.col("__hit").isNotNull(), F.lit("dup_of_index"))
        .otherwise(F.lit("pass_probe"))
        .alias("status"),
    )


def neardup_probe(
    index_frames: DataFrame,
    batch_frames: DataFrame,
    k: int = 32,
    bands: int = 4,
    jaccard_threshold: float = 0.9,
) -> DataFrame:
    """The index-probe stage of :class:`NearDupIngestDeduper`, exposed
    as a pure DataFrame transform: both inputs are (id, sh, sig)
    signature frames (``operators/dedup.minhash_frames``); output is
    one row per batch doc — ``id, status`` with status
    ``dup_of_index`` / ``pass_probe``.

    This is the SQL-expressible half of the ingest filter (the greedy
    in-batch wave collapse that follows is order-dependent and stays
    pytest-pinned); gating it gives the near-dup ingest path a value
    oracle without pretending the wave semantics are one SQL expr.
    """
    from cdc_redshift_spark.operators.dedup import incremental_minhash_pairs

    pairs = incremental_minhash_pairs(
        index_frames,
        batch_frames,
        k=k,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        eager=False,
    )
    return _probe_flags(index_frames, batch_frames, pairs)


class IngestDeduper:
    """``foreachBatch`` callable: admit new docs, grow the fp index.

    ``index_dir``: parquet dir of accepted fingerprints, partitioned
    by ``batch`` (created on first batch).  ``accepted_dir``: parquet
    dir the admitted ``(id, fp, text)`` rows land in, same layout.
    Writes are idempotent per ``batch_id`` (see module docstring).
    """

    def __init__(
        self,
        index_dir: str,
        accepted_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        self.index_dir = index_dir
        self.accepted_dir = accepted_dir
        self.id_col = id_col
        self.text_col = text_col

    def _read_index(self, spark, batch_id: int) -> DataFrame:
        """Index rows from batches strictly BEFORE ``batch_id`` — a
        crashed earlier attempt of this very batch contributes nothing
        to the probe, so its docs are re-admitted (not lost)."""
        idx = _read_parquet_or_empty(spark, self.index_dir, _INDEX_SCHEMA)
        return idx.where(F.col("batch") < F.lit(int(batch_id))).drop("batch")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from cdc_redshift_spark.operators.dedup import incremental_exact_dedup

        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # at-least-once sources can deliver the same row twice WITHIN a
        # micro-batch; without this the id joins below fan out and the
        # dedup stage itself would emit duplicates
        batch_df = batch_df.dropDuplicates([self.id_col])
        index = self._read_index(spark, batch_id)
        cls = incremental_exact_dedup(
            index, batch_df, id_col=self.id_col, text_col=self.text_col
        )
        accepted = (
            cls.where(F.col("status") == "new")
            .select("id", "fp")
            .join(
                batch_df.select(
                    F.col(self.id_col).alias("id"),
                    F.col(self.text_col).alias("text"),
                ),
                "id",
            )
        )
        # pin the result once: it is written twice below, and an eager
        # checkpoint keeps the second write from re-running the probe
        accepted = accepted.localCheckpoint(eager=True)
        if accepted.isEmpty():
            # nothing admitted → no subdirectory (classification is
            # deterministic, so a crashed attempt of this batch wrote
            # nothing either); also keeps an all-empty index readable
            return
        accepted.select("fp").write.mode("overwrite").parquet(
            _batch_dir(self.index_dir, batch_id)
        )
        accepted.write.mode("overwrite").parquet(
            _batch_dir(self.accepted_dir, batch_id)
        )


class NearDupIngestDeduper:
    """``foreachBatch`` near-duplicate ingest filter: admit only docs
    that are not MinHash-near-dups of the accepted corpus, maintaining
    a persisted SIGNATURE index (the streaming face of
    ``operators/dedup.incremental_minhash_pairs``).

    Per batch:

    1. sign the batch (one Arrow pass — the corpus is never
       re-shingled; its signatures live in ``index_dir``);
    2. probe batch signatures against the index + the batch itself
       (:func:`incremental_minhash_pairs`);
    3. REJECT batch docs with an index match; cluster the remaining
       batch-batch pairs (connected components) and keep the min-id
       representative per cluster;
    4. overwrite survivors' signatures into the index's
       ``batch=<id>`` partition and their rows into ``accepted_dir``'s.

    Semantics are greedy by arrival order (wave N's acceptances reject
    wave N+1's near-dups) — the standard ingest-dedup contract; the
    invariants "no two accepted docs are near-dups" and "every
    rejection has an accepted witness" are pytest-pinned
    (tests/test_ingest_dedup.py).  Crash/replay safety uses the same
    per-batch-partition overwrite scheme as :class:`IngestDeduper`
    (module docstring): the probe reads only ``batch < batch_id``, so
    a half-committed attempt of the current batch can neither reject
    its own docs (no loss) nor survive a replay (no duplication).

    At 100 TB: bucket the index by a band-key hash so the probe join
    is co-located; per-batch cost is the batch's band rows plus the
    buckets they hit (SCALE.md: flat probe wall as the index grows 4x).
    """

    def __init__(
        self,
        index_dir: str,
        accepted_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 32,
        bands: int = 4,
        jaccard_threshold: float = 0.9,
    ) -> None:
        self.index_dir = index_dir
        self.accepted_dir = accepted_dir
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self.bands = bands
        self.jaccard_threshold = jaccard_threshold

    def _read_index(self, spark, batch_df: DataFrame, batch_id: int):
        # the id type comes from the BATCH column — hardcoding long
        # would crash the first batch for string/int ids (later
        # batches read the real type from the persisted parquet)
        idt = batch_df.schema[self.id_col].dataType.simpleString()
        idx = _read_parquet_or_empty(
            spark,
            self.index_dir,
            f"id {idt}, sh array<long>, sig array<long>, batch int",
        )
        return idx.where(F.col("batch") < F.lit(int(batch_id))).drop("batch")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from cdc_redshift_spark.operators.dedup import (
            connected_components,
            incremental_minhash_pairs,
            minhash_frames,
        )

        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_df = batch_df.dropDuplicates([self.id_col]).localCheckpoint(
            eager=True
        )
        frames = minhash_frames(
            batch_df, self.id_col, self.text_col, k=self.k
        ).localCheckpoint(eager=True)
        index = self._read_index(spark, batch_df, batch_id)
        pairs = incremental_minhash_pairs(
            index,
            frames,
            k=self.k,
            bands=self.bands,
            jaccard_threshold=self.jaccard_threshold,
        )
        # survivors of the index probe (shared decision rule with the
        # gated neardup_probe query); then one representative per
        # in-batch near-dup cluster (min id)
        alive = (
            _probe_flags(index, frames, pairs)
            .where(F.col("status") == "pass_probe")
            .select("id")
        )
        bb = (
            pairs.where(F.col("match_side") == "batch")
            .select(
                F.col("batch_id").alias("id_a"),
                F.col("match_id").alias("id_b"),
            )
            # edges between index-rejected docs must not elect them
            .join(alive.select(F.col("id").alias("id_a")), "id_a")
            .join(alive.select(F.col("id").alias("id_b")), "id_b")
        )
        comp = connected_components(alive, bb)
        keep = (
            comp.groupBy("cluster_id")
            .agg(F.min("id").alias("id"))
            .select("id")
        )
        accepted_frames = frames.join(keep, "id").localCheckpoint(eager=True)
        if accepted_frames.isEmpty():
            return
        accepted_frames.write.mode("overwrite").parquet(
            _batch_dir(self.index_dir, batch_id)
        )
        accepted_frames.select("id").join(
            batch_df.select(
                F.col(self.id_col).alias("id"),
                F.col(self.text_col).alias("text"),
            ),
            "id",
        ).write.mode("overwrite").parquet(
            _batch_dir(self.accepted_dir, batch_id)
        )


# ---------------------------------------------------------------------------
# Batch-partition compaction (bounds the partition count at 100 TB)
# ---------------------------------------------------------------------------

_COMPACTED = "batch=-1"
_COMPACT_TMP = "_compacting"
_COMPACT_MARKER = "_COMPACT"


def _finish_pending_compaction(root: str) -> bool:
    """Complete a compaction interrupted after its commit point.  The
    marker file is the commit: once it exists, the consolidated data
    is fully written in ``_compacting`` and recovery deterministically
    (a) removes the folded source dirs, (b) renames ``_compacting`` →
    ``batch=-1``, (c) drops the marker.  Re-entrant at every crash
    point: the removals are idempotent, and once the rename happened
    ``batch=-1`` is never in the removal set again (it only is while
    ``_compacting`` still exists)."""
    import json
    import shutil

    marker = os.path.join(root, _COMPACT_MARKER)
    if not os.path.exists(marker):
        return False
    with open(marker) as f:
        remove = json.load(f)["remove"]
    tmp = os.path.join(root, _COMPACT_TMP)
    if os.path.isdir(tmp):
        for d in remove:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        os.rename(tmp, os.path.join(root, _COMPACTED))
    else:  # rename already done; only non-consolidated leftovers remain
        for d in remove:
            if d != _COMPACTED:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    os.remove(marker)
    return True


def compact_batches(
    spark,
    root: str,
    upto_batch: int,
    partition_cols: list[str] | None = None,
) -> dict:
    """Fold every ``batch=<id>`` partition with ``0 <= id <
    upto_batch`` (plus any previous consolidation) into the single
    ``batch=-1`` partition, preserving replay idempotence for
    in-flight ids.

    Why: the exactly-once ingest layout writes one partition directory
    per micro-batch FOREVER — at 100 TB that is millions of tiny
    partitions and a file-listing bottleneck on every probe.  Old
    batches never change again (replays only rewrite their OWN
    ``batch=<id>`` dir), so they can be folded into one well-sized
    partition; ``-1`` sorts below every live batch id, which keeps the
    probe predicate ``batch < current_batch_id`` including the
    consolidated rows and keeps replays of ids ``>= upto_batch``
    untouched — they overwrite their own directory only.

    Caller contract: ``upto_batch`` must be at or below the newest
    batch id whose COMMIT the stream's checkpoint has recorded (ids
    the engine can still replay must stay in their own partitions),
    and compaction must not run concurrently with the ingest stream's
    ``foreachBatch`` (run it between triggers or in a maintenance
    window — same discipline as Delta's OPTIMIZE).

    Crash-safe via write-ahead marker: consolidated data lands in an
    underscore-prefixed staging dir readers ignore, a marker commits
    the swap, and :func:`_finish_pending_compaction` (run first on
    every call) completes an interrupted swap — at no point is the
    only copy of a row deleted before its replacement is in place.

    Returns ``{"folded_dirs": n, "rows": m}`` (zeros when nothing to
    fold).
    """
    import json
    import shutil

    _finish_pending_compaction(root)
    olds = []
    for name in sorted(os.listdir(root)):
        if not name.startswith("batch=") or not os.path.isdir(
            os.path.join(root, name)
        ):
            continue
        try:
            bid = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if 0 <= bid < int(upto_batch):
            olds.append(name)
    if not olds:
        return {"folded_dirs": 0, "rows": 0}
    prior = os.path.join(root, _COMPACTED)
    sources = ([_COMPACTED] if os.path.isdir(prior) else []) + olds
    tmp = os.path.join(root, _COMPACT_TMP)
    shutil.rmtree(tmp, ignore_errors=True)  # stale pre-marker attempt
    from functools import reduce

    # read each source dir on its own: a multi-path read over
    # batch=<id> dirs that carry a sub-partition layout (e.g. the IVF
    # index's cell= dirs) trips CONFLICTING_DIRECTORY_STRUCTURES,
    # while per-dir reads infer the sub-partition columns cleanly
    union = reduce(
        lambda a, b: a.unionByName(b),
        [spark.read.parquet(os.path.join(root, d)) for d in sources],
    )
    # one consolidated partition: target file count from row volume,
    # not batch count (AQE coalesces the tiny shuffle anyway).
    # partition_cols preserves a sub-layout (e.g. the IVF index's
    # cell= dirs) so directory pruning survives consolidation — the
    # batch dirs and the consolidated dir must keep the SAME structure
    # or partition discovery over the root conflicts.
    writer = union.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(tmp)
    rows = spark.read.parquet(tmp).count()
    commit.atomic_write(  # the commit point
        os.path.join(root, _COMPACT_MARKER),
        json.dumps({"upto": int(upto_batch), "remove": sources}),
    )
    _finish_pending_compaction(root)
    return {"folded_dirs": len(sources), "rows": rows}
