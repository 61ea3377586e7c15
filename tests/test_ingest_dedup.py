"""Streaming ingest-dedup invariants: replay safety and
split-independence of the admitted corpus."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cdc_redshift_spark.sources.tables import load_table
from cdc_redshift_spark.streaming.ingest import IngestDeduper

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .cache()
    )
    yield d
    d.unpersist()


def expected_accepted(spark, docs):
    from cdc_redshift_spark.functions.text import fingerprint

    w = F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    return {
        r.doc_id
        for r in docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .withColumn("rn", w)
        .where(F.col("rn") == 1)
        .collect()
    }


def run_waves(spark, docs, splits, tmp, replay_wave=None):
    dd = IngestDeduper(os.path.join(tmp, "idx"), os.path.join(tmp, "acc"))
    for i, (lo, up) in enumerate(splits):
        batch = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < up))
        dd(batch, i)
        if replay_wave == i:  # at-least-once: same batch delivered twice
            dd(batch, i)
    return {r.id for r in spark.read.parquet(os.path.join(tmp, "acc")).collect()}


def test_splits_and_replay_agree(spark, docs):
    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    want = expected_accepted(spark, docs)
    thirds = [(0, hi // 3), (hi // 3, 2 * hi // 3), (2 * hi // 3, hi)]
    with tempfile.TemporaryDirectory() as t1:
        assert run_waves(spark, docs, [(0, hi)], t1) == want  # one wave
    with tempfile.TemporaryDirectory() as t2:
        assert run_waves(spark, docs, thirds, t2) == want  # three waves
    with tempfile.TemporaryDirectory() as t3:
        # replaying a whole wave must not grow the corpus
        assert run_waves(spark, docs, thirds, t3, replay_wave=1) == want


def test_dup_of_index_never_lands(spark, docs):
    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    with tempfile.TemporaryDirectory() as tmp:
        got = run_waves(
            spark, docs, [(0, hi // 2), (hi // 2, hi), (0, hi)], tmp
        )
        # third wave re-offers the whole corpus; nothing new admitted
        assert got == expected_accepted(spark, docs)
        # index holds exactly one fp per accepted doc
        n_idx = spark.read.parquet(os.path.join(tmp, "idx")).count()
        assert n_idx == len(got)


def test_duplicate_rows_within_one_batch(spark, docs):
    # at-least-once delivery INSIDE a micro-batch: same rows twice
    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    doubled = docs.unionByName(docs)
    with tempfile.TemporaryDirectory() as tmp:
        dd = IngestDeduper(os.path.join(tmp, "idx"), os.path.join(tmp, "acc"))
        dd(doubled, 0)
        acc = spark.read.parquet(os.path.join(tmp, "acc"))
        # no doc admitted more than once, and the accepted set equals
        # the clean single-delivery result
        assert acc.count() == acc.select("id").distinct().count()
        assert {r.id for r in acc.collect()} == expected_accepted(spark, docs)


def test_crash_between_writes_loses_nothing(spark, docs):
    """ADVICE r5 (medium): a crash AFTER the index write but BEFORE the
    accepted write must not lose the document.  The per-batch-partition
    overwrite scheme recovers it: the replay excludes its own batch's
    index rows from the probe, re-admits the doc, and overwrites both
    subdirectories."""
    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    w0 = docs.where(F.col("doc_id") < hi // 2)
    w1 = docs.where(F.col("doc_id") >= hi // 2)
    with tempfile.TemporaryDirectory() as tmp:
        idx, acc = os.path.join(tmp, "idx"), os.path.join(tmp, "acc")
        dd = IngestDeduper(idx, acc)
        dd(w0, 0)

        # simulate the crashed attempt of batch 1: index partition
        # written, accepted partition NOT
        from cdc_redshift_spark.functions.text import fingerprint

        w1.select(
            fingerprint(F.col("text")).alias("fp")
        ).write.mode("overwrite").parquet(os.path.join(idx, "batch=1"))
        crashed = {r.id for r in spark.read.parquet(acc).collect()}

        dd(w1, 1)  # Structured Streaming replays under the SAME id
        got = {r.id for r in spark.read.parquet(acc).collect()}
        want = expected_accepted(spark, docs)
        assert got == want  # wave-1 docs recovered, none lost
        assert got > crashed
        # index partition was overwritten, not doubled
        n_idx = spark.read.parquet(idx).count()
        assert n_idx == len(want)


def test_replay_of_committed_batch_is_idempotent(spark, docs):
    """Replaying a fully-committed batch (crash after both writes but
    before the checkpoint commit) must change nothing."""
    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    w0 = docs.where(F.col("doc_id") < hi // 2)
    with tempfile.TemporaryDirectory() as tmp:
        idx, acc = os.path.join(tmp, "idx"), os.path.join(tmp, "acc")
        dd = IngestDeduper(idx, acc)
        dd(w0, 0)
        before = sorted(
            (r.id, r.fp) for r in spark.read.parquet(acc).collect()
        )
        dd(w0, 0)  # replay
        after = sorted(
            (r.id, r.fp) for r in spark.read.parquet(acc).collect()
        )
        assert before == after


# ---- near-dup (MinHash) ingest --------------------------------------------


def test_neardup_ingest_invariants(spark, docs):
    from cdc_redshift_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_frames,
    )
    from cdc_redshift_spark.streaming.ingest import NearDupIngestDeduper

    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    with tempfile.TemporaryDirectory() as tmp:
        idx, acc = os.path.join(tmp, "idx"), os.path.join(tmp, "acc")
        dd = NearDupIngestDeduper(idx, acc)
        # wave 1: first half; wave 2: second half; wave 3: replay of 1
        w1 = docs.where(F.col("doc_id") < hi // 2)
        w2 = docs.where(F.col("doc_id") >= hi // 2)
        dd(w1, 0)
        n1 = spark.read.parquet(acc).count()
        dd(w2, 1)
        n2 = spark.read.parquet(acc).count()
        dd(w1, 2)  # replay: must admit nothing
        assert spark.read.parquet(acc).count() == n2
        assert n1 > 0 and n2 > n1

        # independence: no two ACCEPTED docs form an LSH near-dup pair
        accepted = spark.read.parquet(acc)
        fr = minhash_frames(accepted, "id", "text", k=dd.k)
        empty = fr.limit(0)
        bb = incremental_minhash_pairs(
            empty, fr, k=dd.k, bands=dd.bands,
            jaccard_threshold=dd.jaccard_threshold,
        )
        assert bb.count() == 0

        # greedy witness: every rejected wave-2 doc has an index match
        # or an in-batch path; spot-check the strongest form — exact
        # duplicates of accepted docs are always rejected
        dup = accepted.select(
            (F.col("id") + 1_000_000).alias("doc_id"), "text"
        )
        dd(dup, 3)
        assert spark.read.parquet(acc).count() == n2


def test_neardup_ingest_collapses_exact_dups(spark, docs):
    from cdc_redshift_spark.streaming.ingest import NearDupIngestDeduper

    some = docs.limit(40)
    doubled = some.unionByName(
        some.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    with tempfile.TemporaryDirectory() as tmp:
        dd = NearDupIngestDeduper(
            os.path.join(tmp, "idx"), os.path.join(tmp, "acc")
        )
        dd(doubled, 0)
        acc = spark.read.parquet(os.path.join(tmp, "acc"))
        # identical signatures collide in every band: one survivor per
        # text (plus any natural near-dup collapse within `some`)
        n_texts = some.select("text").distinct().count()
        assert acc.count() <= n_texts
        # min-id representative rule: no survivor from the +1M clones
        # unless its original text group lived only there
        assert acc.where(F.col("id") >= 1_000_000).count() == 0


# ---------------------------------------------------------------------------
# batch-partition compaction
# ---------------------------------------------------------------------------


def _dirs(root):
    return sorted(
        d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))
    )


def test_compaction_folds_dirs_and_preserves_replay(spark, docs):
    """Crash/replay across a compaction boundary: folding committed
    batches into batch=-1 must not change the admitted corpus, must
    bound the partition count, and an in-flight batch replayed AFTER
    compaction must still no-op (its own partition untouched, probe
    still sees all folded fingerprints)."""
    from cdc_redshift_spark.streaming.ingest import compact_batches

    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    want = expected_accepted(spark, docs)
    cuts = [0, hi // 4, hi // 2, 3 * hi // 4, hi]
    with tempfile.TemporaryDirectory() as tmp:
        idx, acc = os.path.join(tmp, "idx"), os.path.join(tmp, "acc")
        dd = IngestDeduper(idx, acc)
        waves = list(zip(cuts, cuts[1:]))
        for i, (lo, up) in enumerate(waves[:3]):
            dd(docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < up)), i)
        # batches 0..2 committed; 3 still in flight -> fold 0..2
        n_before = len(_dirs(idx))
        stats = compact_batches(spark, idx, upto_batch=3)
        assert stats["folded_dirs"] == 3 and stats["rows"] > 0
        assert _dirs(idx) == ["batch=-1"]
        assert len(_dirs(idx)) < n_before
        compact_batches(spark, acc, upto_batch=3)
        assert _dirs(acc) == ["batch=-1"]

        # in-flight batch 3 lands, crashes, replays — exactly-once holds
        lo, up = waves[3]
        b3 = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < up))
        dd(b3, 3)
        dd(b3, 3)  # replay overwrites only batch=3
        got = {r.id for r in spark.read.parquet(acc).collect()}
        assert got == want
        assert sorted(_dirs(idx)) == ["batch=-1", "batch=3"]

        # second compaction folds the new batch in; corpus unchanged
        compact_batches(spark, acc, upto_batch=4)
        compact_batches(spark, idx, upto_batch=4)
        assert _dirs(idx) == ["batch=-1"]
        got2 = {r.id for r in spark.read.parquet(acc).collect()}
        assert got2 == want


def test_compaction_works_for_neardup_signature_index(spark, docs):
    """compact_batches is layout-generic: the near-dup deduper's
    signature index (id, sh, sig arrays) folds the same way, and the
    post-compaction probe still rejects near-dups of folded batches."""
    from cdc_redshift_spark.streaming.ingest import (
        NearDupIngestDeduper,
        compact_batches,
    )

    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    with tempfile.TemporaryDirectory() as tmp:
        idx, acc = os.path.join(tmp, "idx"), os.path.join(tmp, "acc")
        dd = NearDupIngestDeduper(idx, acc)
        half = hi // 2
        dd(docs.where(F.col("doc_id") < half), 0)
        dd(docs.where(F.col("doc_id") >= half), 1)
        accepted_before = {
            r.id for r in spark.read.parquet(acc).select("id").collect()
        }
        compact_batches(spark, idx, upto_batch=2)
        compact_batches(spark, acc, upto_batch=2)
        assert _dirs(idx) == ["batch=-1"]
        # replaying the whole corpus as a NEW batch: every doc must be
        # rejected against the folded index (ids already indexed)
        dd(docs, 2)
        accepted_after = {
            r.id for r in spark.read.parquet(acc).select("id").collect()
        }
        assert accepted_after == accepted_before
