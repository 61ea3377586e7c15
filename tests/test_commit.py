"""The one commit primitive and the crash safety of every commit kind.

``commit.atomic_write`` is unit-tested for its fsync / replace / fsync
order, and a guard keeps ``os.replace`` and ``os.fsync`` out of every
other package module, so how a file is published is decided in one
place.

The crash tests enumerate crash points in the manner of ALICE (Pillai
et al., OSDI 2014): run a commit once and record its filesystem
mutations (``commit.atomic_write``, ``os.remove``, ``os.rename``,
``shutil.rmtree`` under the store's root); then, for every k, start
again from the pre-commit state, let the process "die" at the k-th
mutation (no mutation from that point on happens), restart, and check
that

* reads see exactly the pre-commit state up to the commit's publishing
  mutation and exactly the post-commit state after it, never a mix;
* replaying the same operation reaches the post-commit state.
"""

from __future__ import annotations

import os
import shutil
import stat
from contextlib import contextmanager

import pytest

from cdc_redshift_spark import commit
from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

PKG = os.path.join(os.path.dirname(__file__), "..", "cdc_redshift_spark")


# -- the primitive -----------------------------------------------------------


def test_atomic_write_fsyncs_file_then_replaces_then_fsyncs_dir(
    tmp_path, monkeypatch
):
    target = tmp_path / "_LATEST"
    target.write_text("1")
    calls, replaced = [], []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        isdir = stat.S_ISDIR(os.fstat(fd).st_mode)
        calls.append("fsync:dir" if isdir else "fsync:file")
        real_fsync(fd)

    def replace(src, dst):
        calls.append("replace")
        replaced.append((src, dst))
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    commit.atomic_write(str(target), "2")
    assert calls == ["fsync:file", "replace", "fsync:dir"]
    [(tmp, dst)] = replaced
    assert dst == str(target)
    assert os.path.dirname(tmp) == str(tmp_path)
    assert os.path.basename(tmp).startswith(".")
    assert target.read_text() == "2"
    assert commit.read_pointer(str(target)) == "2"
    assert commit.read_pointer(str(tmp_path / "missing")) is None


def test_atomic_write_failure_before_replace_keeps_old_content(
    tmp_path, monkeypatch
):
    target = tmp_path / "_LATEST"
    target.write_text("old")

    def fail(src, dst):
        raise OSError("disk gone")

    monkeypatch.setattr(os, "replace", fail)
    with pytest.raises(OSError, match="disk gone"):
        commit.atomic_write(str(target), "new")
    assert target.read_text() == "old"
    # the leftover tmp file is dot-prefixed: Spark listings skip it
    assert all(
        n.startswith(".") for n in os.listdir(tmp_path) if n != "_LATEST"
    )


def test_only_commit_module_replaces_or_fsyncs():
    """How a file is published is decided in commit.py alone."""
    offenders = []
    for base, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(base, fn)
            if os.path.samefile(path, commit.__file__):
                continue
            with open(path) as f:
                src = f.read()
            for needle in ("os.replace", "os.fsync"):
                if needle in src:
                    offenders.append(f"{os.path.relpath(path, PKG)}: {needle}")
    assert not offenders, offenders


# -- crash-point enumeration -------------------------------------------------


class Crash(BaseException):
    """A simulated process death.  A BaseException, so no ``except
    Exception`` on a commit path can swallow it and carry on."""


@contextmanager
def mutations(monkeypatch, root: str, crash_at: int | None = None):
    """Record the filesystem mutations under ``root``; with
    ``crash_at=k``, raise :class:`Crash` instead of performing the k-th
    one and every later one (threads still running after the crash
    must not mutate either)."""
    seen: list[tuple[str, str]] = []

    def wrap(fn, name):
        def mutate(path, *a, **kw):
            if str(path).startswith(root + os.sep):
                seen.append((name, str(path)))
                if crash_at is not None and len(seen) >= crash_at:
                    raise Crash(f"crash at mutation {crash_at}")
            return fn(path, *a, **kw)

        return mutate

    with monkeypatch.context() as m:
        m.setattr(commit, "atomic_write", wrap(commit.atomic_write, "write"))
        m.setattr(os, "remove", wrap(os.remove, "remove"))
        m.setattr(os, "rename", wrap(os.rename, "rename"))
        m.setattr(shutil, "rmtree", wrap(shutil.rmtree, "rmtree"))
        yield seen


def crash_every_step(
    monkeypatch, root, restart, op, read, publishes, settled=None
):
    """Crash ``op`` at each of its mutations in turn (see module
    docstring).  ``restart()`` returns a fresh handle on the store as a
    restarted process sees it; ``read(handle)`` what its readers see;
    ``publishes(name, path)`` picks the mutation that makes the commit
    visible; ``settled(handle)`` (default ``read``) the full state a
    replay must reach.  The pre-state must already be built at
    ``root``.  Returns the recorded mutations."""
    settled = settled or read
    pre_copy = root + ".pre"
    shutil.copytree(root, pre_copy)
    pre = read(restart())
    with mutations(monkeypatch, root) as seen:
        op(restart())
    post, post_settled = read(restart()), settled(restart())
    assert pre != post
    # 1-based index of the publishing mutation: a crash AT it is a
    # crash before it
    cut = 1 + next(i for i, m in enumerate(seen) if publishes(*m))
    for k in range(1, len(seen) + 1):
        # same path: DV sidecars name data files by absolute path
        shutil.rmtree(root)
        shutil.copytree(pre_copy, root)
        with mutations(monkeypatch, root, crash_at=k):
            with pytest.raises(Crash):
                op(restart())
        handle = restart()
        want = pre if k <= cut else post
        assert read(handle) == want, (
            f"crash at mutation {k}/{len(seen)} {seen[k - 1]}: reads "
            f"neither {'pre' if k <= cut else 'post'}-commit state"
        )
        op(handle)
        assert settled(restart()) == post_settled, (
            f"replay after crash at mutation {k} {seen[k - 1]}"
        )
    return seen


def _kinds(seen):
    return [(n, os.path.basename(p)) for n, p in seen]


def _chdf(spark, rows):
    return spark.createDataFrame(
        rows, "key string, ts_ms long, offset long, op string, payload string"
    )


def _rows(sink, spark, t):
    df = sink.read_table(spark, "d", t)
    return sorted(tuple(r) for r in df.collect()) if df is not None else None


def _latest(name, path):
    return name == "write" and os.path.basename(path) == "_LATEST"


def test_crash_points_cow_apply_on_analyzed_table(
    spark, tmp_path, monkeypatch
):
    """A copy-on-write apply on an analyzed table: the _LATEST flip
    publishes, after the schema, file manifest and carried stats; a
    replay also carries the stats (age 1)."""
    root = str(tmp_path / "sink")
    sink = ParquetSink(spark, root)
    sink.apply_changeset(
        "d", "t",
        _chdf(spark, [(str(i), 100, i, "insert", f"p{i}") for i in range(6)]),
    )
    sink.analyze("d", "t")
    batch = [("1", 200, 10, "update", "q1"), ("2", 200, 11, "delete", None),
             ("9", 200, 12, "insert", "q9")]

    def read(s):
        return (s._latest_version("d", "t"), _rows(s, spark, "t"),
                s.column_stats("d", "t") is not None)

    def settled(s):
        v = s._latest_version("d", "t")
        vdir = os.path.join(root, "d", "t", f"v{v}")
        return read(s), commit.read_pointer(os.path.join(vdir, "_ANALYZE_AGE"))

    seen = crash_every_step(
        monkeypatch, root,
        restart=lambda: ParquetSink(spark, root),
        op=lambda s: s.apply_changeset("d", "t", _chdf(spark, batch)),
        read=read, publishes=_latest, settled=settled,
    )
    assert _kinds(seen) == [
        ("write", "_SCHEMA"), ("write", "_FILEVERS"), ("write", "_ANALYZE"),
        ("write", "_ANALYZE_AGE"), ("write", "_LATEST"),
    ]
    # one schema copy per commit: the per-version one
    assert not os.path.exists(os.path.join(root, "d", "t", "_SCHEMA"))


def test_crash_points_pipeline_batch_transaction(spark, tmp_path, monkeypatch):
    """A 2-table CdcPipeline batch under sink.transaction(): before the
    _TXN_PENDING intent manifest nothing publishes; from it on, the
    restarted sink's recover() rolls BOTH tables forward and removes
    the manifest — including a crash between the two pointer flips."""
    from cdc_redshift_spark.streaming.pipeline import CdcPipeline

    root = str(tmp_path / "sink")
    schema = ("db string, table string, key string, ts_ms long, "
              "offset long, op string, payload string")

    def batch(ts, a, b):
        return spark.createDataFrame(
            [("d", "t1", "1", ts, ts, "insert", a),
             ("d", "t2", "1", ts, ts + 1, "insert", b),
             ("d", "t2", "2", ts, ts + 2, "insert", b)],
            schema,
        )

    CdcPipeline(lambda df: df, ParquetSink(spark, root)).process_batch(
        batch(100, "a", "b"), 0
    )

    def rows(s):
        return ({t: _rows(s, spark, t) for t in ("t1", "t2")},
                os.path.exists(os.path.join(root, "_TXN_PENDING")))

    def read(s):
        return rows(s), [s._latest_version("d", t) for t in ("t1", "t2")]

    seen = crash_every_step(
        monkeypatch, root,
        restart=lambda: ParquetSink(spark, root),
        op=lambda s: CdcPipeline(lambda df: df, s).process_batch(
            batch(200, "a2", "b2"), 1
        ),
        read=read,
        publishes=lambda n, p: n == "write" and p.endswith("_TXN_PENDING"),
        # replaying a batch that already published commits the same
        # rows again as a new version (the sink's replay contract is
        # idempotent content, not a batch-id check)
        settled=rows,
    )
    kinds = _kinds(seen)
    assert sorted(kinds[:4]) == sorted(
        [("write", "_SCHEMA"), ("write", "_FILEVERS")] * 2
    )
    assert kinds[4:] == [
        ("write", "_TXN_PENDING"), ("write", "_LATEST"), ("write", "_LATEST"),
        ("remove", "_TXN_PENDING"),
    ]


def test_crash_points_dv_apply(spark, tmp_path, monkeypatch):
    """A merge_mode="dv" apply: a replay after a crash finds the partial
    v2 dir and rebuilds it (the rmtree on the retry path)."""
    root = str(tmp_path / "sink")
    sink = ParquetSink(spark, root, merge_mode="dv")
    sink.apply_changeset(
        "d", "t",
        _chdf(spark, [(str(i), 100, i, "insert", f"p{i}") for i in range(6)]),
    )
    batch = [("1", 200, 10, "update", "q1"), ("2", 200, 11, "delete", None)]

    def read(s):
        return s._latest_version("d", "t"), _rows(s, spark, "t")

    seen = crash_every_step(
        monkeypatch, root,
        restart=lambda: ParquetSink(spark, root, merge_mode="dv"),
        op=lambda s: s.apply_changeset("d", "t", _chdf(spark, batch)),
        read=read, publishes=_latest,
    )
    assert _kinds(seen) == [
        ("write", "_SCHEMA"), ("write", "_FILEVERS"), ("write", "_LATEST"),
    ]
    assert os.path.isdir(os.path.join(root, "d", "t", "v2", "_DV"))


def test_crash_points_pruned_expire_on_dv_bloom_table(
    spark, tmp_path, monkeypatch
):
    """expire_tombstones on a partitioned DV sink with a Bloom index: a
    pruned commit that rewrites partition 'z' and links 'x y' forward
    with its DV rows and index rows.  Reads (tombstones included, and
    a point lookup through the index) see pre or post only."""
    root = str(tmp_path / "sink")

    def sink_at():
        return ParquetSink(
            spark, root, partition_cols=("p",), bloom_index_cols=("key",),
            merge_mode="dv",
        )

    def batch(*rows):
        return spark.createDataFrame(
            list(rows),
            "key string, ts_ms long, offset long, op string, payload string,"
            " p string",
        )

    sink = sink_at()
    sink.apply_changeset("d", "t", batch(
        ("1", 100, 0, "insert", "a", "x y"), ("2", 100, 1, "insert", "b", "z"),
        ("3", 100, 2, "insert", "c", "z"),
    ))
    sink.apply_changeset("d", "t", batch(("1", 200, 3, "update", "a2", "x y")))
    sink.apply_changeset("d", "t", batch(("2", 300, 4, "delete", None, "z")))

    def read(s):
        df = s.read_table(spark, "d", "t", include_tombstones=True)
        hits = s.read_files("d", "t", s.lookup_files("d", "t", "key", "1"))
        return (
            s._latest_version("d", "t"),
            sorted(tuple(r) for r in df.collect()),
            sorted(tuple(r) for r in hits.where("key = '1'").collect()),
        )

    seen = crash_every_step(
        monkeypatch, root, restart=sink_at,
        op=lambda s: s.expire_tombstones("d", "t", before_ts_ms=1000),
        read=read, publishes=_latest,
    )
    assert _kinds(seen) == [
        ("write", "_SCHEMA"), ("write", "_FILEVERS"), ("write", "_LATEST"),
    ]
    v = os.path.join(root, "d", "t", "v4")
    assert os.path.isdir(os.path.join(v, "_DV"))
    assert os.path.isdir(os.path.join(v, "_BLOOM_key"))


def test_crash_points_rename_column_on_dv_table(spark, tmp_path, monkeypatch):
    """rename_column on a DV table: a metadata-only commit that links
    every file and carries the DV under a new schema."""
    root = str(tmp_path / "sink")
    sink = ParquetSink(spark, root, merge_mode="dv")
    sink.apply_changeset(
        "d", "t",
        _chdf(spark, [(str(i), 100, i, "insert", f"p{i}") for i in range(4)]),
    )
    sink.apply_changeset(
        "d", "t", _chdf(spark, [("1", 200, 10, "update", "q1")])
    )

    def read(s):
        df = s.read_table(spark, "d", "t")
        return (s._latest_version("d", "t"), df.columns,
                sorted(tuple(r) for r in df.collect()))

    seen = crash_every_step(
        monkeypatch, root,
        restart=lambda: ParquetSink(spark, root, merge_mode="dv"),
        op=lambda s: s.rename_column("d", "t", "payload", "body"),
        read=read, publishes=_latest,
    )
    assert _kinds(seen) == [
        ("write", "_SCHEMA"), ("write", "_FILEVERS"), ("write", "_LATEST"),
    ]


def test_crash_points_bucketed_rollup_update_then_rebucket(
    spark, tmp_path, monkeypatch
):
    """A bucketed RollupMaintainer.update followed by rebucket(8): the
    update's pointer flip publishes the new rows; the migration after
    it never changes what readers see, and a replay (the update
    no-ops, the rebucket completes) reaches the 8-bucket layout."""
    from cdc_redshift_spark.streaming.rollup import RollupMaintainer

    root = str(tmp_path / "ru")

    def maintainer():
        return RollupMaintainer(
            spark, root, lambda r: r, time_col=None, bucket=None,
            dims=["k"], measures={"sum_v": "v"}, n_buckets=4,
        )

    def delta(rows):
        return spark.createDataFrame(rows, "sign int, k string, v double")

    maintainer().update(
        delta([(1, f"k{i}", float(i)) for i in range(12)]), 0
    )
    step = [(1, "k1", 5.0), (-1, "k2", 2.0), (1, "new", 1.0)]

    def op(m):
        m.update(delta(step), 1)
        m.rebucket(8)

    def read(m):
        cur = m.current()
        return m.committed_batch(), sorted(tuple(r) for r in cur.collect())

    seen = crash_every_step(
        monkeypatch, root, restart=maintainer, op=op, read=read,
        publishes=_latest,
        settled=lambda m: (read(m), m._committed_token(), m._bucket_count()),
    )
    assert _kinds(seen)[:6] == [
        ("write", "_NBUCKETS"), ("write", "_COMMITTED"), ("write", "_LATEST"),
        ("write", "_NBUCKETS"), ("write", "_COMMITTED"), ("write", "_LATEST"),
    ]
    m = maintainer()
    assert (m._committed_token(), m._bucket_count()) == ("1_r1", 8)


def _view(m):
    cur = m.current()
    rows = [tuple(r) for r in cur.collect()] if cur is not None else []
    return m.committed_batch(), sorted(rows, key=repr)


def test_crash_points_bucketed_scd2_update(spark, tmp_path, monkeypatch):
    """A bucketed Scd2Maintainer.update that closes one key's open
    interval and opens a new key: the pointer flip publishes the
    touched-bucket rewrite, and a replay after any crash folds the
    batch exactly once."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.streaming.scd2 import Scd2Maintainer

    root = str(tmp_path / "scd2")

    def maintainer():
        return Scd2Maintainer(
            spark, root, keys=["k"], ts_col="ts", attrs=["attr"],
            tiebreak=["seq"], n_buckets=4,
        )

    def changes(rows):
        return spark.createDataFrame(
            rows, "k string, ts long, seq long, op string, attr string"
        ).select(
            "k", F.timestamp_seconds("ts").alias("ts"), "seq", "op", "attr"
        )

    maintainer().update(
        changes([(f"k{i}", 10, i, "insert", f"a{i}") for i in range(6)]), 0
    )
    step = [("k1", 20, 10, "update", "b1"), ("new", 20, 11, "insert", "n")]
    seen = crash_every_step(
        monkeypatch, root, restart=maintainer,
        op=lambda m: m.update(changes(step), 1),
        read=_view, publishes=_latest,
    )
    assert _kinds(seen) == [
        ("write", "_NBUCKETS"), ("write", "_COMMITTED"), ("write", "_LATEST"),
    ]


def test_crash_points_bucketed_join_view_update(spark, tmp_path, monkeypatch):
    """A bucketed JoinViewMaintainer.update that replaces one left row:
    the pointer flip publishes the touched-bucket rewrite; a replay
    after any crash reaches the same bag of view rows."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.streaming.joinview import JoinViewMaintainer

    root = str(tmp_path / "jv")
    L = spark.createDataFrame([(k, f"l{k}") for k in range(8)], "k int, lv string")
    R = spark.createDataFrame([(k, f"r{k}") for k in range(8)], "k int, rv string")

    def maintainer():
        return JoinViewMaintainer(
            spark, root, on=["k"], cols=["k", "lv", "rv"], n_buckets=4
        )

    one = F.lit(1).alias("sign")
    maintainer().update(
        L.select("k", "lv", one), L, R.select("k", "rv", one), R.limit(0), 0
    )
    dL = spark.createDataFrame(
        [(3, "l3", -1), (3, "L3", 1)], "k int, lv string, sign int"
    )
    L1 = L.where(F.col("k") != 3).unionByName(
        spark.createDataFrame([(3, "L3")], "k int, lv string")
    )
    dR = spark.createDataFrame([], "k int, rv string, sign int")
    seen = crash_every_step(
        monkeypatch, root, restart=maintainer,
        op=lambda m: m.update(dL, L1, dR, R, 1),
        read=_view, publishes=_latest,
    )
    assert _kinds(seen) == [
        ("write", "_NBUCKETS"), ("write", "_COMMITTED"), ("write", "_LATEST"),
    ]


def test_crash_points_compact_batches(spark, tmp_path, monkeypatch):
    """compact_batches over a prior consolidation: before the _COMPACT
    marker nothing changes; from it on, _finish_pending_compaction
    completes the swap — including the post-rename window, where the
    marker still lists batch=-1 but recovery must not delete it — and
    no row is ever lost or duplicated."""
    from cdc_redshift_spark.streaming.ingest import (
        _finish_pending_compaction,
        compact_batches,
    )

    root = str(tmp_path / "idx")
    for bid, ids in ((-1, range(0, 4)), (1, range(4, 7)), (2, range(7, 9))):
        spark.createDataFrame(
            [(i, f"fp{i}") for i in ids], "id int, fp string"
        ).write.parquet(os.path.join(root, f"batch={bid}"))

    def restart():
        _finish_pending_compaction(root)
        return root

    def read(_):
        dirs = sorted(d for d in os.listdir(root) if d.startswith("batch="))
        rows = sorted(
            tuple(r) for r in spark.read.parquet(root).drop("batch").collect()
        )
        return dirs, rows

    seen = crash_every_step(
        monkeypatch, root, restart=restart,
        op=lambda _: compact_batches(spark, root, upto_batch=3),
        read=read,
        publishes=lambda n, p: n == "write" and p.endswith("_COMPACT"),
    )
    assert _kinds(seen) == [
        ("rmtree", "_compacting"), ("write", "_COMPACT"),
        ("rmtree", "batch=-1"), ("rmtree", "batch=1"), ("rmtree", "batch=2"),
        ("rename", "_compacting"), ("remove", "_COMPACT"),
    ]
    assert read(root)[0] == ["batch=-1"]
    assert compact_batches(spark, root, upto_batch=99) == {
        "folded_dirs": 0, "rows": 0,
    }
