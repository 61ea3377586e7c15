"""Adversarial regressions for the round-15 parquet_sink edge fixes.

Each test constructs the exact unfixtured edge state the round-14
review hunt recorded (data loss / row resurrection paths) and fails
against the pre-fix code:

1. layout-vs-spec drift under a pruned commit (row loss / key dup),
2. transaction abort leaking the table-level _SCHEMA/_DROPPED,
3. URI-encoded partition names dropping carried index/DV rows,
4. repartition_table mutating the spec with no rollback,
5. boolean partition dirs (str(True) vs 'true') duplicating rows,
6. time travel serving orphaned never-flipped version dirs,
7. vacuum counting orphans toward keep_last,
8. index lookups serving DV-masked rows (read_files helper),
9. NULL-ts tombstones dropped by three-valued logic in
   expire_tombstones' full-rewrite path,
10. URI-encoded db/table names dropping carried index/DV rows.
"""

import json
import os

import pytest

from cdc_redshift_spark.sinks.parquet_sink import ParquetSink


def chdf(spark, rows):
    return spark.createDataFrame(
        rows, "key string, ts_ms long, offset long, op string, payload string"
    )


def pchdf(spark, rows):
    return spark.createDataFrame(
        rows,
        "key string, ts_ms long, offset long, op string, payload string,"
        " ts_date string",
    )


# -- 1: layout drift ---------------------------------------------------------


def test_pruned_merge_against_unpartitioned_snapshot_keeps_rows(
    spark, tmp_path
):
    """v1 written UNPARTITIONED (pre-config snapshot); a sink later
    configured with partition_cols must not prune against it — the
    pre-fix code saw zero partition dirs, linked nothing forward and
    LOST every v1 row outside the batch's own partitions."""
    plain = ParquetSink(spark, str(tmp_path))
    plain.apply_changeset(
        "d",
        "t",
        pchdf(
            spark,
            [
                ("1", 100, 0, "insert", '{"v":1}', "2021-01-01"),
                ("2", 100, 1, "insert", '{"v":2}', "2021-01-02"),
            ],
        ),
    )
    parted = ParquetSink(spark, str(tmp_path), partition_cols=("ts_date",))
    parted.apply_changeset(
        "d",
        "t",
        pchdf(spark, [("3", 200, 2, "insert", '{"v":3}', "2021-01-03")]),
    )
    rows = {r.key for r in parted.read_table(spark, "d", "t").collect()}
    assert rows == {"1", "2", "3"}  # pre-fix: {"3"} (v1 rows lost)


def test_pruned_merge_against_other_column_layout_full_rewrites(
    spark, tmp_path
):
    """v1 partitioned by ts_date; a sink configured to partition by a
    DIFFERENT data column must fall back to the full rewrite instead
    of comparing the wrong column's value-strings (pre-fix: old-layout
    dirs hard-linked forward next to the rewrite → duplicate keys)."""
    by_date = ParquetSink(spark, str(tmp_path), partition_cols=("ts_date",))
    by_date.apply_changeset(
        "d",
        "t",
        pchdf(
            spark,
            [
                ("1", 100, 0, "insert", '{"v":1}', "2021-01-01"),
                ("2", 100, 1, "insert", '{"v":2}', "2021-01-02"),
            ],
        ),
    )
    # key is a string data column every row carries — a legal spec
    by_key = ParquetSink(spark, str(tmp_path), partition_cols=("key",))
    by_key.apply_changeset(
        "d",
        "t",
        pchdf(spark, [("1", 200, 2, "update", '{"v":9}', "2021-01-01")]),
    )
    out = by_key.read_table(spark, "d", "t").collect()
    assert len(out) == 2  # no duplicated key 1
    got = {r.key: json.loads(r.payload)["v"] for r in out}
    assert got == {"1": 9, "2": 2}
    # and the new snapshot is laid out under the sink's own spec
    v2 = tmp_path / "d" / "t" / "v2"
    assert (v2 / "key=1").is_dir() and not (v2 / "ts_date=2021-01-01").exists()


# -- 5: boolean partition dirs ----------------------------------------------


def test_pruned_merge_boolean_partition_no_duplicates(spark, tmp_path):
    """Spark writes flag=true; Python str(True) is 'True'.  Pre-fix
    the touched partition failed the touched-set compare, was linked
    forward AND rewritten, and every row in it came back twice."""
    bdf = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "key string, ts_ms long, offset long, op string, payload string,"
        " flag boolean",
    )
    sink = ParquetSink(spark, str(tmp_path), partition_cols=("flag",))
    sink.apply_changeset(
        "d",
        "t",
        bdf(
            [
                ("1", 100, 0, "insert", '{"v":1}', True),
                ("2", 100, 1, "insert", '{"v":2}', False),
            ]
        ),
    )
    sink.apply_changeset(
        "d", "t", bdf([("1", 200, 2, "update", '{"v":9}', True)])
    )
    out = sink.read_table(spark, "d", "t").collect()
    assert len(out) == 2  # pre-fix: 3 (key 1 duplicated)
    got = {r.key: json.loads(r.payload)["v"] for r in out}
    assert got == {"1": 9, "2": 2}
    # the untouched flag=false dir is still a hard-link carry
    v1 = tmp_path / "d" / "t" / "v1" / "flag=false"
    v2 = tmp_path / "d" / "t" / "v2" / "flag=false"
    for f in v1.iterdir():
        if f.name.startswith(("_", ".")):
            continue
        assert (v2 / f.name).stat().st_ino == f.stat().st_ino


# -- 4: repartition rollback --------------------------------------------------


def test_repartition_rolls_back_spec_on_commit_failure(
    spark, tmp_path, monkeypatch
):
    sink = ParquetSink(spark, str(tmp_path), partition_cols=("ts_date",))
    sink.apply_changeset(
        "d",
        "t",
        pchdf(spark, [("1", 100, 0, "insert", '{"v":1}', "2021-01-01")]),
    )

    def boom(*a, **k):
        raise RuntimeError("simulated write failure")

    monkeypatch.setattr(sink, "_commit", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        sink.repartition_table("d", "t", ["key"])
    assert sink.partition_cols == ["ts_date"] or tuple(
        sink.partition_cols
    ) == ("ts_date",)
    # and the sink still merges correctly under the (old) real spec
    monkeypatch.undo()
    sink.apply_changeset(
        "d",
        "t",
        pchdf(spark, [("2", 200, 1, "insert", '{"v":2}', "2021-01-02")]),
    )
    assert sink.read_table(spark, "d", "t").count() == 2


# -- 2: transaction abort metadata leak ---------------------------------------


def test_transaction_abort_does_not_leak_schema_or_dropped(spark, tmp_path):
    """An aborted drop_column must leave the published snapshot's
    schema intact: pre-fix the table-level _SCHEMA was rewritten at
    operation time, so the column vanished from reads of the OLD
    (still-published) snapshot and later changesets carrying it were
    rejected by the _DROPPED guard."""
    sink = ParquetSink(spark, str(tmp_path))
    sink.apply_changeset(
        "d", "t", chdf(spark, [("1", 100, 0, "insert", '{"v":1}')])
    )
    with pytest.raises(RuntimeError, match="abort"):
        with sink.transaction():
            sink.drop_column("d", "t", "payload")
            raise RuntimeError("abort")
    cur = sink.read_table(spark, "d", "t")
    assert "payload" in cur.columns  # pre-fix: column vanished
    assert json.loads(cur.collect()[0].payload)["v"] == 1
    # the guard entry left by the aborted drop is inert: a changeset
    # carrying the still-live column is accepted
    sink.apply_changeset(
        "d", "t", chdf(spark, [("2", 200, 1, "insert", '{"v":2}')])
    )
    assert sink.read_table(spark, "d", "t").count() == 2
    # a REAL drop afterwards still works end-to-end
    sink.drop_column("d", "t", "payload")
    assert "payload" not in sink.read_table(spark, "d", "t").columns


# -- 3: URI-encoded partition names -------------------------------------------


def test_carried_bloom_rows_survive_uri_escaped_partitions(spark, tmp_path):
    """Partition value 'a b' is the dir 'p=a b' on disk but
    '.../p=a%20b/...' inside the index's file URIs; pre-fix the
    carried-rows filter matched the raw name, dropped the linked
    partition's Bloom rows, and lookups in it returned [] — a false
    negative from an index that promises none."""
    pdf = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "key string, ts_ms long, offset long, op string, payload string,"
        " p string",
    )
    sink = ParquetSink(
        spark, str(tmp_path), partition_cols=("p",), bloom_index_cols=("key",)
    )
    sink.apply_changeset(
        "d",
        "t",
        pdf(
            [
                ("k1", 100, 0, "insert", "{}", "a b"),
                ("k2", 100, 1, "insert", "{}", "c"),
            ]
        ),
    )
    # touch only partition 'c' → 'p=a b' is hard-linked forward and
    # its index rows must carry
    sink.apply_changeset(
        "d", "t", pdf([("k2", 200, 2, "update", "{}", "c")])
    )
    files = sink.lookup_files("d", "t", "key", "k1")
    assert files  # pre-fix: [] (carried rows silently dropped)
    got = sink.read_files("d", "t", files).where("key = 'k1'").collect()
    assert len(got) == 1 and got[0].p == "a b"


# -- 6 + 7: orphan version dirs ----------------------------------------------


def _make_versions(spark, tmp_path, n):
    sink = ParquetSink(spark, str(tmp_path))
    for i in range(n):
        sink.apply_changeset(
            "d",
            "t",
            chdf(spark, [("1", 100 + i, i, "insert", json.dumps({"v": i}))]),
        )
    return sink


def test_time_travel_rejects_orphan_versions(spark, tmp_path):
    sink = _make_versions(spark, tmp_path, 2)
    orphan = tmp_path / "d" / "t" / "v3"
    orphan.mkdir()  # crashed commit: dir exists, pointer never flipped
    with pytest.raises(ValueError, match="no retained snapshot v3"):
        sink.read_table(spark, "d", "t", version=3)
    with pytest.raises(ValueError, match="no retained snapshot v3"):
        sink.table_changes(spark, "d", "t", 1, 3)
    # committed history still time-travels
    assert sink.read_table(spark, "d", "t", version=1).count() == 1


def test_vacuum_ignores_orphans_and_keeps_committed_history(spark, tmp_path):
    sink = _make_versions(spark, tmp_path, 3)  # v1..v3 committed
    (tmp_path / "d" / "t" / "v4").mkdir()
    (tmp_path / "d" / "t" / "v5").mkdir()
    dropped = sink.vacuum("d", "t", keep_last=2)
    # pre-fix: orphans counted toward keep_last → committed v2 dropped
    assert dropped == [1]
    assert (tmp_path / "d" / "t" / "v2").is_dir()
    assert (tmp_path / "d" / "t" / "v3").is_dir()
    # orphans untouched (a live writer may own the highest one)
    assert (tmp_path / "d" / "t" / "v4").is_dir()
    assert (tmp_path / "d" / "t" / "v5").is_dir()
    assert sink.read_table(spark, "d", "t", version=2).count() == 1


# -- 8: masked reads through the index fast path ------------------------------


def test_read_files_masks_dv_rows_and_keeps_partition_column(spark, tmp_path):
    pdf = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "key string, ts_ms long, offset long, op string, payload string,"
        " p string",
    )
    sink = ParquetSink(
        spark,
        str(tmp_path),
        partition_cols=("p",),
        bloom_index_cols=("key",),
        merge_mode="dv",
    )
    sink.apply_changeset(
        "d",
        "t",
        pdf(
            [
                ("k1", 100, 0, "insert", '{"v":1}', "x"),
                ("k2", 100, 1, "insert", '{"v":2}', "x"),
            ]
        ),
    )
    sink.apply_changeset("d", "t", pdf([("k2", 200, 2, "delete", None, "x")]))
    files = sink.lookup_files("d", "t", "key", "k2")
    assert files  # the bytes are still there (dv masks, not rewrites)
    # ... and a raw per-file read would serve them; read_files must not
    got = sink.read_files("d", "t", files)
    keys = {r.key for r in got.collect()}
    assert "k2" not in keys
    # partition-directory column survives the file-level read
    assert all(r.p == "x" for r in got.collect())
    # tombstones visible on request, like read_table
    with_t = sink.read_files("d", "t", files, include_tombstones=True)
    assert {r.key for r in with_t.collect()} >= {"k1", "k2"}


# -- 9: NULL-ts tombstones in expire ------------------------------------------


def test_expire_tombstones_keeps_null_ts_tombstones(spark, tmp_path):
    """A NULL-ts tombstone's age is unknown — expiry must keep it on
    BOTH the pruned and the full-rewrite path.  Pre-fix the full
    rewrite's ~expired filter evaluated NULL and dropped it, so the
    deleted key could resurrect from a late event."""
    sink = ParquetSink(spark, str(tmp_path))  # unpartitioned: full rewrite
    sink.apply_changeset(
        "d",
        "t",
        chdf(
            spark,
            [
                ("1", 100, 0, "insert", "{}"),
                ("2", 50, 1, "delete", None),
                ("3", None, 2, "delete", None),  # NULL-ts tombstone
            ],
        ),
    )
    sink.expire_tombstones("d", "t", before_ts_ms=1000)
    kept = {
        r.key
        for r in sink.read_table(
            spark, "d", "t", include_tombstones=True
        ).collect()
    }
    assert kept == {"1", "3"}  # expirable 2 gone; NULL-ts 3 KEPT
    # late event for key 3 older than the tombstone cannot resurrect it
    # (NULL ts orders before any concrete ts in the LWW window)
    sink.apply_changeset("d", "t", chdf(spark, [("3", 10, 0, "insert", "{}")]))
    live = {r.key for r in sink.read_table(spark, "d", "t").collect()}
    assert live == {"1", "3"} or live == {"1"}  # never a silent resurrect of 2


# -- 10: URI-reserved characters in db/table names ---------------------------


def _spaced_ops(kind):
    """(sink options, operations on table ``t``) for one commit kind;
    every kind ends with key '1' live.  DV and index rows name files
    by percent-encoded URI, where table ``t x`` is ``t%20x``."""

    def batch(spark, *rows):
        return spark.createDataFrame(
            list(rows),
            "key string, ts_ms long, offset long, op string, payload string,"
            " p string",
        )

    def seed(sink, spark, t):
        sink.apply_changeset(
            "d", t, batch(spark, ("1", 100, 0, "insert", "a", "x y"),
                          ("2", 100, 1, "insert", "b", "z")),
        )
        sink.apply_changeset(
            "d", t, batch(spark, ("1", 200, 2, "update", "a2", "x y"))
        )

    def delete_2(sink, spark, t):
        sink.apply_changeset(
            "d", t, batch(spark, ("2", 300, 3, "delete", None, "z"))
        )

    def update_2(sink, spark, t):
        sink.apply_changeset(
            "d", t, batch(spark, ("2", 300, 3, "update", "b2", "z"))
        )

    dv = {"merge_mode": "dv", "bloom_index_cols": ("key",)}
    ops = {
        "dv_apply": (dv, [seed, delete_2]),
        # the update of key 2 rewrites p=z and links 'p=x y' forward
        "pruned_apply": (
            {"partition_cols": ("p",), "bloom_index_cols": ("key",)},
            [seed, update_2],
        ),
        "rename_column": (
            dv, [seed, lambda s, _, t: s.rename_column("d", t, "payload", "b")]
        ),
        "add_column": (
            dv, [seed, lambda s, _, t: s.add_column("d", t, "x", "string")]
        ),
        "restore": (dv, [seed, delete_2, lambda s, _, t: s.restore("d", t, 2)]),
        "clone_table": (
            dv, [seed, lambda s, _, t: s.clone_table("d", t, "d", t + " c")]
        ),
    }
    return ops[kind]


@pytest.mark.parametrize(
    "kind",
    ["dv_apply", "pruned_apply", "rename_column", "add_column", "restore",
     "clone_table"],
)
def test_table_name_with_space_reads_like_plain_name(spark, tmp_path, kind):
    """Every commit that links files forward carries DV and index rows
    to the new version dir.  Pre-fix each carry matched the raw
    ``/d/t x/v1/`` against URIs holding ``/d/t%20x/v1/``: a DV table
    ``t x`` brought back updated and deleted rows, and the Bloom index
    missed keys that exist."""
    opts, steps = _spaced_ops(kind)
    sink = ParquetSink(spark, str(tmp_path), **opts)
    got = {}
    for t in ("t x", "tx"):
        for step in steps:
            step(sink, spark, t)
        df = sink.read_table(spark, "d", _read_name(kind, t))
        got[t] = (df.columns, sorted(tuple(r) for r in df.collect()))
    assert got["t x"] == got["tx"]
    read = _read_name(kind, "t x")
    files = sink.lookup_files("d", read, "key", "1")
    hits = sink.read_files("d", read, files).where("key = '1'")
    assert [r.key for r in hits.collect()] == ["1"], files


def _read_name(kind, t):
    return t + " c" if kind == "clone_table" else t


def test_sink_has_one_path_rewrite():
    """Carried DV and index rows move between version dirs through one
    URI rewrite, in ``ParquetSink._link_version``.  Counts the Spark
    string-rewrite calls in the sink module (``F.replace`` and its
    kin): a second one is a second copy of the carry to keep right."""
    import ast

    from cdc_redshift_spark.sinks import parquet_sink

    rewrites = ("replace", "regexp_replace", "overlay", "translate")
    with open(parquet_sink.__file__) as f:
        tree = ast.parse(f.read())
    calls = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and (
            isinstance(node.func, ast.Name)
            and node.func.id in rewrites
            or isinstance(node.func, ast.Attribute)
            and node.func.attr in rewrites
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
        )
    ]
    assert len(calls) == 1, f"path rewrites at lines {calls}"
