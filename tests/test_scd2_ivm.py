"""SCD Type-2 history + incremental join-view maintenance + BM25 +
sink time travel: unit semantics the query gate can't isolate, the
batch-split invariance property, and the delta-join == recompute
property on randomized deltas."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cdc_redshift_spark.operators.incremental import (
    apply_view_delta,
    join_view_delta,
    scd2_apply,
    scd2_history,
)

KW = dict(keys=["k"], ts_col="ts", attrs=["attr"], tiebreak=["seq"])


def _ch(spark, rows):
    """rows: (k, ts_int, seq, op, attr)"""
    return spark.createDataFrame(
        rows, "k string, ts long, seq long, op string, attr string"
    ).select("k", F.timestamp_seconds("ts").alias("ts"), "seq", "op", "attr")


def _hist_rows(df):
    rows = [
        (
            r["k"],
            r["attr"],
            r["valid_from"].isoformat(),
            r["valid_to"].isoformat() if r["valid_to"] else None,
            r["is_current"],
        )
        for r in df.collect()
    ]
    # None-safe sort key (attr/valid_to may be NULL)
    return sorted(rows, key=lambda t: tuple((x is None, x) for x in t))


def test_scd2_semantics(spark):
    """Updates chain intervals, a delete closes without emitting, a
    re-insert after delete opens a fresh current row."""
    ch = _ch(
        spark,
        [
            ("a", 10, 0, "update", "v1"),
            ("a", 20, 1, "update", "v2"),
            ("a", 30, 2, "delete", None),
            ("a", 40, 3, "update", "v3"),
            ("b", 10, 0, "update", "w1"),
            ("b", 50, 1, "delete", None),
        ],
    )
    out = _hist_rows(scd2_history(ch, **KW))
    ts = lambda s: f"1970-01-01T00:00:{s}"
    assert out == sorted(
        [
            ("a", "v1", ts("10"), ts("20"), False),
            ("a", "v2", ts("20"), ts("30"), False),
            ("a", "v3", ts("40"), None, True),
            ("b", "w1", ts("10"), ts("50"), False),
        ]
    )
    # key 'b' ends deleted: no current row, matching the LWW view
    cur = [r for r in out if r[4]]
    assert all(r[0] != "b" for r in cur)


def test_scd2_tiebreak_orders_same_ts(spark):
    """Two changes at the same ts order by the tiebreak column."""
    ch = _ch(
        spark,
        [("a", 10, 1, "update", "late"), ("a", 10, 0, "update", "early")],
    )
    out = _hist_rows(scd2_history(ch, **KW))
    assert [r[1] for r in out] == ["early", "late"]
    assert out[0][3] == out[1][2]  # early closes exactly at late's open


ops_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),  # key
        st.integers(min_value=0, max_value=50),  # ts seconds
        st.sampled_from(["update", "delete"]),
        st.sampled_from(["x", "y", "z"]),
    ),
    min_size=0,
    max_size=24,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=ops_strategy, cut=st.integers(min_value=0, max_value=50))
def test_scd2_apply_equals_full_build(spark, ops, cut):
    """For ANY change stream and ANY event-time split,
    scd2_apply(scd2_history(part1), part2) == scd2_history(all)."""
    rows = [(k, t, i, op, a) for i, (k, t, op, a) in enumerate(ops)]
    ch = _ch(spark, rows)
    full = _hist_rows(scd2_history(ch, **KW))
    p1 = ch.where(F.col("ts") < F.timestamp_seconds(F.lit(cut)))
    p2 = ch.where(F.col("ts") >= F.timestamp_seconds(F.lit(cut)))
    inc = _hist_rows(scd2_apply(scd2_history(p1, **KW), p2, **KW))
    assert inc == full


# ---------------------------------------------------------------------------
# join-view IVM
# ---------------------------------------------------------------------------


def _view_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _recompute(l_new, r_new, cols):
    return (
        l_new.join(r_new, "j")
        .groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _mk_side(spark, rows, attr):
    return spark.createDataFrame(rows, f"j long, {attr} string")


keys_st = st.integers(min_value=0, max_value=4)
side_st = st.lists(
    st.tuples(keys_st, st.sampled_from(["p", "q"])), min_size=0, max_size=10
)
# subset masks picking which initial rows get deleted / which arrive new
mask_st = st.lists(st.booleans(), min_size=10, max_size=10)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(l0=side_st, li=side_st, r0=side_st, ri=side_st, lm=mask_st, rm=mask_st)
def test_join_view_delta_equals_recompute(spark, l0, li, r0, ri, lm, rm):
    """Randomized inserts+deletes on both sides: maintained view ==
    recompute from final states, including net-zero images vanishing."""
    cols = ["j", "la", "ra"]
    L0 = _mk_side(spark, l0 or [(99, "p")], "la")
    R0 = _mk_side(spark, r0 or [(99, "p")], "ra")
    l_del = [row for row, m in zip(l0 or [(99, "p")], lm) if m]
    r_del = [row for row, m in zip(r0 or [(99, "p")], rm) if m]

    def signed(rows, attr, sign):
        if not rows:
            return None
        return _mk_side(spark, rows, attr).withColumn("sign", F.lit(sign))

    def cat(a, b, attr):
        parts = [x for x in (a, b) if x is not None]
        if not parts:
            # empty delta with the right shape
            return _mk_side(spark, [], attr).withColumn(
                "sign", F.lit(1)
            ).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    dL = cat(signed(li, "la", 1), signed(l_del, "la", -1), "la")
    dR = cat(signed(ri, "ra", 1), signed(r_del, "ra", -1), "ra")

    # final states: multiset difference/addition by row image
    def apply_side(base, ins, dels, attr):
        out = base
        if dels:
            # remove one instance per delete row image: rebuild rows
            import collections

            c = collections.Counter(base)
            for d in dels:
                c[d] -= 1
            out = [r for r, n in c.items() for _ in range(n)]
        return out + list(ins)

    l_new_rows = apply_side(list(l0 or [(99, "p")]), li, l_del, "la")
    r_new_rows = apply_side(list(r0 or [(99, "p")]), ri, r_del, "ra")
    L_new = _mk_side(spark, l_new_rows or [], "la")
    R_new = _mk_side(spark, r_new_rows or [], "ra")

    view0 = _recompute(L0, R0, cols)
    delta = join_view_delta(dL, L_new, dR, R0, on=["j"], cols=cols)
    maintained = apply_view_delta(view0, delta, cols)
    expected = _recompute(L_new, R_new, cols)
    assert _view_rows(maintained) == _view_rows(expected)


def test_apply_view_delta_negative_count_raises(spark):
    view = _mk_side(spark, [(1, "p")], "la").withColumn("cnt", F.lit(1))
    bad = _mk_side(spark, [(1, "p"), (1, "p")], "la").withColumn(
        "sign", F.lit(-1)
    )
    out = apply_view_delta(view, bad, ["j", "la"])
    with pytest.raises(Exception, match="net multiplicity"):
        out.collect()


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def test_bm25_hand_computed(spark):
    """3-doc corpus, one query term: verify the exact Okapi value."""
    import math

    from cdc_redshift_spark.operators.corpus import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark engine"),  # tf=2, dl=3
            (2, "spark shuffle join plan"),  # tf=1, dl=4
            (3, "duck pond"),  # tf=0, dl=2
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(docs, ["spark"], k=10).collect()
    }
    n_docs, df_, avgdl = 3, 2, 3.0
    idf = math.log(1 + (n_docs - df_ + 0.5) / (df_ + 0.5))

    def s(tf, dl):
        return round(
            idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6
        )

    assert out == {1: s(2, 3), 2: s(1, 4)}  # doc 3 never scores
    assert out[1] > out[2]


def test_bm25_rare_term_outweighs_common(spark):
    from cdc_redshift_spark.operators.corpus import bm25_topk

    docs = spark.createDataFrame(
        [(i, "common filler words") for i in range(1, 9)]
        + [(9, "common rare"), (10, "common")],
        "doc_id long, text string",
    )
    top = bm25_topk(docs, ["common", "rare"], k=1).collect()[0]
    assert top["doc_id"] == 9  # the rare term dominates idf


# ---------------------------------------------------------------------------
# sink time travel + vacuum
# ---------------------------------------------------------------------------


def test_sink_time_travel_and_vacuum(spark, tmp_path):
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    sink = ParquetSink(spark, str(tmp_path / "tt"), keys=("k",))

    def ch(rows, ts):
        return spark.createDataFrame(
            rows, "k long, v string, op string"
        ).select(
            "k", "v", "op",
            F.lit(ts).cast("long").alias("ts_ms"),
            F.col("k").alias("offset"),
        )

    sink.apply_changeset("db", "t", ch([(1, "a", "insert"), (2, "b", "insert")], 1))
    sink.apply_changeset("db", "t", ch([(1, "a2", "insert"), (2, None, "delete")], 2))
    assert sink.versions("db", "t") == [1, 2]

    v1 = {r["k"]: r["v"] for r in sink.read_table(spark, "db", "t", version=1).collect()}
    v2 = {r["k"]: r["v"] for r in sink.read_table(spark, "db", "t").collect()}
    assert v1 == {1: "a", 2: "b"}  # v1 unaffected by the v2 commit
    assert v2 == {1: "a2"}

    with pytest.raises(ValueError, match="no retained snapshot"):
        sink.read_table(spark, "db", "t", version=7)

    assert sink.vacuum("db", "t", keep_last=1) == [1]
    assert sink.versions("db", "t") == [2]
    # latest still readable after vacuum (hard links keep live files)
    assert {r["k"] for r in sink.read_table(spark, "db", "t").collect()} == {1}
    with pytest.raises(ValueError, match="no retained snapshot"):
        sink.read_table(spark, "db", "t", version=1)


# ---------------------------------------------------------------------------
# streaming SCD2 maintainer
# ---------------------------------------------------------------------------


def _maintainer(spark, tmp_path, **kw):
    from cdc_redshift_spark.streaming.scd2 import Scd2Maintainer

    return Scd2Maintainer(
        spark, str(tmp_path / "scd2"), keys=["k"], ts_col="ts",
        attrs=["attr"], tiebreak=["seq"], **kw,
    )


def test_scd2_maintainer_batches_equal_full_build(spark, tmp_path):
    rows = [
        ("a", 10, 0, "update", "v1"),
        ("a", 20, 1, "update", "v2"),
        ("b", 15, 2, "update", "w1"),
        ("a", 30, 3, "delete", None),
        ("b", 40, 4, "update", "w2"),
    ]
    ch = _ch(spark, rows)
    m = _maintainer(spark, tmp_path)
    assert m.update(ch.where(F.col("seq") < 3), 0)
    assert not m.update(ch.where(F.col("seq") < 3), 0)  # replay no-op
    assert m.update(ch.where(F.col("seq") >= 3), 1)
    assert m.committed_batch() == 1
    assert _hist_rows(m.current()) == _hist_rows(scd2_history(ch, **KW))


def test_scd2_maintainer_late_batch_raises_and_does_not_commit(
    spark, tmp_path
):
    ch0 = _ch(spark, [("a", 10, 0, "update", "v1"), ("a", 30, 1, "update", "v2")])
    late = _ch(spark, [("a", 20, 2, "update", "mid")])
    m = _maintainer(spark, tmp_path)
    m.update(ch0, 0)
    before = _hist_rows(m.current())
    with pytest.raises(ValueError, match="frontier"):
        m.update(late, 1)
    assert m.committed_batch() == 0
    assert _hist_rows(m.current()) == before


def test_scd2_maintainer_ignore_policy_applies_anyway(spark, tmp_path):
    ch0 = _ch(spark, [("a", 10, 0, "update", "v1"), ("a", 30, 1, "update", "v2")])
    late = _ch(spark, [("a", 20, 2, "update", "mid")])
    m = _maintainer(spark, tmp_path, late_policy="ignore")
    m.update(ch0, 0)
    m.update(late, 1)  # accepted, divergence documented
    assert m.committed_batch() == 1


def test_scd2_maintainer_untouched_buckets_hard_linked(spark, tmp_path):
    """The bounded-IO certificate for the streaming SCD2 maintainer
    (round-11): a trigger touching ONE key must rewrite only that
    key's hash bucket — every other bucket's data files in the new
    version must be the SAME INODES as the previous version's
    (hard-linked forward, never re-read or re-written), exactly like
    ParquetSink._apply_pruned.  Also pins that the pruned commit's
    result still equals the full recompute."""
    import os

    from cdc_redshift_spark.streaming.snapshots import BUCKET_COL

    keys = [f"k{i}" for i in range(40)]
    rows0 = [(k, 10, i, "update", "v1") for i, k in enumerate(keys)]
    ch0 = _ch(spark, rows0)
    m = _maintainer(spark, tmp_path, n_buckets=8)
    assert m.update(ch0, 0)

    def inodes(v):
        vdir = tmp_path / "scd2" / f"v{v}"
        out = {}
        for d in os.listdir(vdir):
            if not d.startswith(f"{BUCKET_COL}="):
                continue
            out[d] = {
                fn: os.stat(vdir / d / fn).st_ino
                for fn in os.listdir(vdir / d)
                if not fn.startswith((".", "_"))
            }
        return out

    v0 = inodes(0)
    assert len(v0) > 1, "fixture must spread keys over several buckets"

    ch1 = _ch(spark, [("k0", 20, 100, "update", "v2")])
    assert m.update(ch1, 1)
    v1 = inodes(1)
    touched = m.touched_buckets(ch1)
    assert len(touched) == 1
    tdir = f"{BUCKET_COL}={touched[0]}"
    # every untouched bucket: identical file set, identical inodes
    for d, files in v0.items():
        if d == tdir:
            continue
        assert v1[d] == files, f"untouched bucket {d} was rewritten"
    # the touched bucket was rewritten: no inode carried over
    assert set(v1[tdir].values()).isdisjoint(set(v0[tdir].values()))
    # and the maintained history still equals the full recompute
    full = scd2_history(
        _ch(spark, rows0 + [("k0", 20, 100, "update", "v2")]), **KW
    )
    assert _hist_rows(m.current()) == _hist_rows(full)


def test_scd2_maintainer_bucket_count_pinned_on_disk(spark, tmp_path):
    """_BUCKETS pins the layout at first commit: a restarted
    maintainer constructed with a DIFFERENT n_buckets must keep
    routing reads/writes by the on-disk count, or pruned reads would
    silently miss rows."""
    ch0 = _ch(spark, [("a", 10, 0, "update", "v1"), ("b", 10, 1, "update", "w1")])
    m = _maintainer(spark, tmp_path, n_buckets=8)
    assert m.update(ch0, 0)
    assert (tmp_path / "scd2" / "_BUCKETS").read_text() == "8"

    m2 = _maintainer(spark, tmp_path, n_buckets=32)  # mis-configured restart
    assert m2._bucket_count() == 8
    ch1 = _ch(spark, [("a", 20, 2, "update", "v2")])
    assert m2.update(ch1, 1)
    want = scd2_history(
        _ch(
            spark,
            [
                ("a", 10, 0, "update", "v1"),
                ("b", 10, 1, "update", "w1"),
                ("a", 20, 2, "update", "v2"),
            ],
        ),
        **KW,
    )
    assert _hist_rows(m2.current()) == _hist_rows(want)


def test_scd2_maintainer_unbucketed_store_migrates(spark, tmp_path):
    """A store committed by an unbucketed maintainer (n_buckets=0)
    adopted by a bucketed one takes one FULL commit to migrate to the
    partitioned layout, then prunes from the next trigger on — no
    linking against a layout that has no buckets."""
    ch0 = _ch(spark, [("a", 10, 0, "update", "v1"), ("b", 10, 1, "update", "w1")])
    m0 = _maintainer(spark, tmp_path, n_buckets=0)
    assert m0.update(ch0, 0)
    assert not m0._bucketed_on_disk()

    m1 = _maintainer(spark, tmp_path, n_buckets=8)
    ch1 = _ch(spark, [("a", 20, 2, "update", "v2")])
    assert m1.update(ch1, 1)  # full commit, writes bucketed layout
    assert m1._bucketed_on_disk()
    ch2 = _ch(spark, [("b", 30, 3, "update", "w2")])
    assert m1.update(ch2, 2)  # pruned commit against the migrated v1
    want = scd2_history(
        _ch(
            spark,
            [
                ("a", 10, 0, "update", "v1"),
                ("b", 10, 1, "update", "w1"),
                ("a", 20, 2, "update", "v2"),
                ("b", 30, 3, "update", "w2"),
            ],
        ),
        **KW,
    )
    assert _hist_rows(m1.current()) == _hist_rows(want)


def test_scd2_late_rows_new_keys_are_not_late(spark):
    from cdc_redshift_spark.operators.incremental import (
        scd2_late_batch_rows,
    )

    hist = scd2_history(
        _ch(spark, [("a", 30, 0, "update", "v1")]), **KW
    )
    batch = _ch(
        spark,
        [("b", 5, 1, "update", "new-key"), ("a", 40, 2, "update", "ok")],
    )
    assert scd2_late_batch_rows(hist, batch, ["k"], "ts").count() == 0


def test_sink_table_changes_replicates(spark, tmp_path):
    """Applying the CDF between v1 and v2 to a replica of v1
    reproduces v2 exactly — the replication contract."""
    from cdc_redshift_spark.plans.merge import apply_changeset
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    sink = ParquetSink(spark, str(tmp_path / "cdf"), keys=("k",))

    def ch(rows, ts):
        return spark.createDataFrame(
            rows, "k long, v string, op string"
        ).select(
            "k", "v", "op",
            F.lit(ts).cast("long").alias("ts_ms"),
            F.col("k").alias("offset"),
        )

    sink.apply_changeset(
        "db", "t", ch([(1, "a", "insert"), (2, "b", "insert")], 1)
    )
    sink.apply_changeset(
        "db", "t",
        ch([(1, "a2", "insert"), (2, None, "delete"), (3, "c", "insert")], 2),
    )
    feed = sink.table_changes(spark, "db", "t", from_version=1)
    got = {
        (r["k"], r["op"], r["before"]["v"] if r["before"] else None,
         r["after"]["v"] if r["after"] else None)
        for r in feed.collect()
    }
    assert got == {
        (1, "update", "a", "a2"),
        (2, "delete", "b", None),
        (3, "insert", None, "c"),
    }
    # replicate: v1 replica + feed-as-changeset == v2
    v1 = sink.read_table(spark, "db", "t", version=1)
    replica = v1.select("k", "v", "ts_ms", "offset", F.lit("insert").alias("op"))
    changes = feed.select(
        "k",
        F.col("after.v").alias("v"),
        F.when(F.col("op") == "delete", "delete").otherwise("insert").alias("op"),
        F.lit(2).cast("long").alias("ts_ms"),
        F.col("k").alias("offset"),
    )
    final = apply_changeset(replica, changes, keys=("k",))
    want = {(r["k"], r["v"]) for r in sink.read_table(spark, "db", "t").collect()}
    assert {(r["k"], r["v"]) for r in final.collect()} == want


def test_scd2_late_rows_sees_trailing_delete(spark):
    """A trailing delete leaves no history row — only a valid_to.  A
    batch row between that close and the frontier must still be
    flagged (review finding: a valid_from-only frontier resurrected
    deleted keys as current)."""
    from cdc_redshift_spark.operators.incremental import (
        scd2_late_batch_rows,
    )

    hist = scd2_history(
        _ch(spark, [("a", 10, 0, "update", "v1"), ("a", 30, 1, "delete", None)]),
        **KW,
    )
    late = _ch(spark, [("a", 20, 2, "update", "mid")])
    assert scd2_late_batch_rows(hist, late, ["k"], "ts").count() == 1
    ok = _ch(spark, [("a", 40, 3, "update", "after")])
    assert scd2_late_batch_rows(hist, ok, ["k"], "ts").count() == 0


def test_scd2_late_rows_flags_equal_ts(spark):
    """ts == frontier is ambiguous without the stored tiebreak —
    conservatively flagged."""
    from cdc_redshift_spark.operators.incremental import (
        scd2_late_batch_rows,
    )

    hist = scd2_history(_ch(spark, [("a", 10, 5, "update", "v1")]), **KW)
    same_ts = _ch(spark, [("a", 10, 3, "update", "tie")])
    assert scd2_late_batch_rows(hist, same_ts, ["k"], "ts").count() == 1


def test_scd2_null_op_is_upsert(spark):
    """A NULL op is an upsert image (the changeset convention), not a
    silent drop (review finding)."""
    ch = _ch(spark, [("a", 10, 0, None, "v1"), ("a", 20, 1, "update", "v2")])
    out = _hist_rows(scd2_history(ch, **KW))
    assert [r[1] for r in out] == ["v1", "v2"]


def test_bm25_empty_terms_raises(spark):
    import pytest

    from cdc_redshift_spark.operators.corpus import bm25_topk

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        bm25_topk(docs, [])
    with pytest.raises(ValueError, match="non-empty"):
        bm25_topk(docs, ["", "  "])


def test_scd2_maintainer_via_cdc_pipeline(spark, tmp_path):
    """Live integration: CdcPipeline applies table state while
    on_raw_batch drives the SCD2 maintainer from the SAME Debezium
    micro-batches — history across two batches equals a one-shot
    build over the full change stream."""
    import json

    from cdc_redshift_spark.normalize import pg_changeset
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink
    from cdc_redshift_spark.streaming.pipeline import CdcPipeline
    from cdc_redshift_spark.streaming.scd2 import Scd2Maintainer

    def env(op, before, after, ts, off):
        return (
            json.dumps(
                {
                    "before": json.dumps(before) if before else None,
                    "after": json.dumps(after) if after else None,
                    "source": {"db": "d", "table": "t", "ts_ms": ts},
                    "op": op,
                    "ts_ms": ts,
                }
            ),
            off,
        )

    rows = [
        env("c", None, {"id": 1, "v": "a"}, 10, 0),
        env("c", None, {"id": 2, "v": "x"}, 10, 1),
        env("u", {"id": 1, "v": "a"}, {"id": 1, "v": "b"}, 20, 2),
        # batch 2 (ts strictly after batch 1 per key)
        env("u", {"id": 1, "v": "b"}, {"id": 1, "v": "c"}, 30, 3),
        env("d", {"id": 2, "v": "x"}, None, 40, 4),
    ]
    raw = spark.createDataFrame(rows, "value string, offset long")

    def to_changes(r):
        ch = pg_changeset(r, offset_col="offset")
        return ch.select(
            F.get_json_object("payload", "$.id").cast("long").alias("k"),
            F.col("ts_ms").alias("ts"),
            F.col("offset").alias("seq"),
            "op",
            F.get_json_object("payload", "$.v").alias("attr"),
        )

    m = Scd2Maintainer(
        spark, str(tmp_path / "h"), keys=["k"], ts_col="ts",
        attrs=["attr"], tiebreak=["seq"],
    )
    sink = ParquetSink(spark, str(tmp_path / "sink"), keys=("key",))
    pipe = CdcPipeline(
        lambda r: pg_changeset(r, offset_col="offset"),
        sink,
        on_raw_batch=lambda bid, r: m.update(to_changes(r), bid),
    )
    pipe.process_batch(raw.filter(F.col("offset") < 3), 0)
    pipe.process_batch(raw.filter(F.col("offset") >= 3), 1)

    one_shot = scd2_history(
        to_changes(raw), keys=["k"], ts_col="ts", attrs=["attr"],
        tiebreak=["seq"],
    )
    got = sorted(
        (r["k"], r["attr"], r["is_current"]) for r in m.current().collect()
    )
    want = sorted(
        (r["k"], r["attr"], r["is_current"]) for r in one_shot.collect()
    )
    assert got == want
    assert m.committed_batch() == 1
    # the LWW table state and the SCD2 current rows agree
    state = {
        int(json.loads(r["payload"])["id"]): json.loads(r["payload"])["v"]
        for r in sink.read_table(spark, "d", "t").collect()
    }
    current = {r["k"]: r["attr"] for r in m.current().collect() if r["is_current"]}
    assert state == current == {1: "c"}


# ---------------------------------------------------------------------------
# late-change repair (scd2_rebuild_keys)
# ---------------------------------------------------------------------------


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=ops_strategy,
    touched=st.sets(st.sampled_from(["a", "b", "c"]), max_size=3),
)
def test_scd2_rebuild_keys_splice_equals_full_rebuild(spark, ops, touched):
    """For ANY change stream and ANY touched-key set — with the stored
    history ARBITRARILY WRONG for the touched keys — rebuilding those
    keys from the changelog and splicing equals the full rebuild."""
    from cdc_redshift_spark.operators.incremental import scd2_rebuild_keys

    rows = [(k, t, i, op, a) for i, (k, t, op, a) in enumerate(ops)]
    ch = _ch(spark, rows)
    full = scd2_history(ch, **KW)
    # corrupt the stored history for the touched keys (stale version,
    # wrong interval, phantom current row)
    garbage = spark.createDataFrame(
        [(k, "GARBAGE", 0, None, True) for k in sorted(touched)],
        "k string, attr string, vf long, vt long, is_current boolean",
    ).select(
        "k",
        "attr",
        F.timestamp_seconds("vf").alias("valid_from"),
        F.timestamp_seconds("vt").alias("valid_to"),
        "is_current",
    )
    stored = full.where(
        ~F.col("k").isin(*sorted(touched)) if touched else F.lit(True)
    ).unionByName(garbage)
    rk = spark.createDataFrame(
        [(k,) for k in sorted(touched)], "k string"
    )
    repaired = scd2_rebuild_keys(
        stored, ch, ["k"], "ts", ["attr"], rk, tiebreak=["seq"]
    )
    assert _hist_rows(repaired) == _hist_rows(full)


def test_join_view_maintainer_bootstrap_fold_replay(spark, tmp_path):
    """JoinViewMaintainer: bootstrap from empty via the delta algebra,
    fold a mixed batch, replay no-ops, retention bounds versions."""
    import os

    from cdc_redshift_spark.streaming.joinview import JoinViewMaintainer

    L = spark.createDataFrame(
        [(1, "A"), (1, "B"), (2, "A")], "k int, lv string"
    )
    R = spark.createDataFrame([(1, "r1"), (2, "r2")], "k int, rv string")
    cols = ["k", "lv", "rv"]
    m = JoinViewMaintainer(spark, str(tmp_path / "jv"), on=["k"], cols=cols)
    one = F.lit(1).alias("sign")
    assert m.update(L.select("k", "lv", one), L, R.select("k", "rv", one), R.limit(0), 0)
    got0 = {(r.k, r.lv, r.rv, r.cnt) for r in m.current().collect()}
    assert got0 == {(1, "A", "r1", 1), (1, "B", "r1", 1), (2, "A", "r2", 1)}

    # batch 1: delete (1,'B'), insert (2,'C'); R unchanged
    dL = spark.createDataFrame(
        [(1, "B", -1), (2, "C", 1)], "k int, lv string, sign int"
    )
    L1 = spark.createDataFrame(
        [(1, "A"), (2, "A"), (2, "C")], "k int, lv string"
    )
    dR = spark.createDataFrame([], "k int, rv string, sign int")
    assert m.update(dL, L1, dR, R, 1)
    assert not m.update(dL, L1, dR, R, 1)  # replay no-op
    got1 = {(r.k, r.lv, r.rv, r.cnt) for r in m.current().collect()}
    assert got1 == {(1, "A", "r1", 1), (2, "A", "r2", 1), (2, "C", "r2", 1)}
    vdirs = [
        d
        for d in os.listdir(tmp_path / "jv")
        if d.startswith("v") and d[1:].isdigit()
    ]
    assert len(vdirs) <= m.keep_versions


def test_join_view_maintainer_via_cdc_pipeline(spark, tmp_path):
    """Live integration: CdcPipeline applies fact-table state while
    the join-view maintainer folds the SAME Debezium micro-batches'
    signed images into a persisted fact-join-dim view — on_raw_batch
    captures the full envelope (before-images), on_batch (post-apply)
    reads the NEW fact state the delta identity needs.  Final view
    equals a from-scratch join over the applied table."""
    import json

    from cdc_redshift_spark.normalize import pg_changeset, pg_retraction_stream
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink
    from cdc_redshift_spark.streaming.joinview import JoinViewMaintainer
    from cdc_redshift_spark.streaming.pipeline import CdcPipeline

    def env(op, before, after, ts, off):
        return (
            json.dumps(
                {
                    "before": json.dumps(before) if before else None,
                    "after": json.dumps(after) if after else None,
                    "source": {"db": "d", "table": "t", "ts_ms": ts},
                    "op": op,
                    "ts_ms": ts,
                }
            ),
            off,
        )

    rows = [
        env("c", None, {"id": 1, "grp": "g1"}, 10, 0),
        env("c", None, {"id": 2, "grp": "g1"}, 10, 1),
        env("c", None, {"id": 3, "grp": "g2"}, 10, 2),
        # batch 1: move id 2 to g2, delete id 3
        env("u", {"id": 2, "grp": "g1"}, {"id": 2, "grp": "g2"}, 20, 3),
        env("d", {"id": 3, "grp": "g2"}, None, 20, 4),
    ]
    raw = spark.createDataFrame(rows, "value string, offset long")
    dim = spark.createDataFrame(
        [("g1", "east"), ("g2", "west")], "grp string, region string"
    )
    cols = ["grp", "region"]
    sink = ParquetSink(spark, str(tmp_path / "sink"), keys=("key",))
    m = JoinViewMaintainer(
        spark, str(tmp_path / "jv"), on=["grp"], cols=cols
    )

    class Bridge:
        """on_raw_batch captures the envelope batch; on_batch (post-
        apply) derives the four IVM frames and updates the view."""

        def __init__(self):
            self.raw = None

        def pre(self, bid, r):
            self.raw = r

        def post(self, bid, _changes):
            d_left = pg_retraction_stream(self.raw).select(
                F.get_json_object("payload", "$.grp").alias("grp"),
                "sign",
            )
            left_new = (
                sink.read_table(spark, "d", "t")
                .select(F.get_json_object("payload", "$.grp").alias("grp"))
            )
            d_dim = dim.select(*cols).limit(0).withColumn("sign", F.lit(1))
            m.update(d_left, left_new, d_dim, dim, bid)

    b = Bridge()
    pipe = CdcPipeline(
        lambda r: pg_changeset(r, offset_col="offset"),
        sink,
        on_raw_batch=b.pre,
        on_batch=b.post,
    )
    pipe.process_batch(raw.filter(F.col("offset") < 3), 0)
    pipe.process_batch(raw.filter(F.col("offset") >= 3), 1)
    # replay of batch 1: sink apply is LWW-idempotent, maintainer no-ops
    pipe.process_batch(raw.filter(F.col("offset") >= 3), 1)
    assert m.committed_batch() == 1

    got = {(r.grp, r.region, r.cnt) for r in m.current().collect()}
    want_df = (
        sink.read_table(spark, "d", "t")
        .select(F.get_json_object("payload", "$.grp").alias("grp"))
        .join(dim, "grp")
        .groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    want = {(r.grp, r.region, r.cnt) for r in want_df.collect()}
    assert got == want == {("g1", "east", 1), ("g2", "west", 1)}


def test_join_view_maintainer_untouched_buckets_hard_linked(spark, tmp_path):
    """Round-11 bounded-IO certificate for the join-view maintainer,
    mirroring the SCD2 one: a delta touching ONE join key rewrites
    only that key's hash bucket; every other bucket's files carry the
    SAME INODES as the previous version (hard-linked, never re-read
    or rewritten), and the maintained view still equals the plain
    recomputed join."""
    import os

    from cdc_redshift_spark.streaming.joinview import JoinViewMaintainer
    from cdc_redshift_spark.streaming.snapshots import BUCKET_COL

    L = spark.createDataFrame(
        [(k, f"l{k}") for k in range(40)], "k int, lv string"
    )
    R = spark.createDataFrame(
        [(k, f"r{k}") for k in range(40)], "k int, rv string"
    )
    cols = ["k", "lv", "rv"]
    m = JoinViewMaintainer(
        spark, str(tmp_path / "jv"), on=["k"], cols=cols, n_buckets=8
    )
    one = F.lit(1).alias("sign")
    assert m.update(
        L.select("k", "lv", one), L, R.select("k", "rv", one), R.limit(0), 0
    )

    def inodes(v):
        vdir = tmp_path / "jv" / f"v{v}"
        return {
            d: {
                fn: os.stat(vdir / d / fn).st_ino
                for fn in os.listdir(vdir / d)
                if not fn.startswith((".", "_"))
            }
            for d in os.listdir(vdir)
            if d.startswith(f"{BUCKET_COL}=")
        }

    v0 = inodes(0)
    assert len(v0) > 1, "fixture must spread keys over several buckets"

    # batch 1: replace key 7's left row (delete image + insert image)
    dL = spark.createDataFrame(
        [(7, "l7", -1), (7, "L7", 1)], "k int, lv string, sign int"
    )
    L1 = L.where(F.col("k") != 7).unionByName(
        spark.createDataFrame([(7, "L7")], "k int, lv string")
    )
    dR = spark.createDataFrame([], "k int, rv string, sign int")
    assert m.update(dL, L1, dR, R, 1)
    v1 = inodes(1)
    touched = m.touched_buckets(dL)
    assert len(touched) == 1
    tdir = f"{BUCKET_COL}={touched[0]}"
    for d, files in v0.items():
        if d == tdir:
            continue
        assert v1[d] == files, f"untouched bucket {d} was rewritten"
    assert set(v1[tdir].values()).isdisjoint(set(v0[tdir].values()))
    # final view == plain recomputed join (bag counts all 1)
    want = {
        (r.k, r.lv, r.rv, 1) for r in L1.join(R, "k").collect()
    }
    got = {(r.k, r.lv, r.rv, r.cnt) for r in m.current().collect()}
    assert got == want


# -- join-view pruned-commit equivalence property ---------------------------

jv_eq_batches = st.lists(
    st.tuples(
        st.lists(  # inserts: (key, attr) left rows
            st.tuples(
                st.sampled_from([1, 2, 3]),
                st.sampled_from(["p", "q"]),
            ),
            min_size=0,
            max_size=4,
        ),
        st.integers(min_value=0, max_value=3),  # delete count (prefix)
    ),
    min_size=1,
    max_size=3,
)


@given(batches=jv_eq_batches)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_join_view_pruned_commits_equal_unbucketed(
    spark, tmp_path_factory, batches
):
    """The join-view store's pruned commit path is semantics-free: for
    ANY valid signed left-delta sequence (random inserts plus deletes
    of previously-live rows) against a fixed right side, the bucketed
    maintainer (n_buckets=8, pruned reads + hard-links) ends with the
    identical stored view to the full-rewrite one (n_buckets=0)."""
    from cdc_redshift_spark.streaming.joinview import JoinViewMaintainer

    right = spark.createDataFrame(
        [(1, "R1"), (2, "R2"), (3, "R3")], "k int, r string"
    )
    cols = ["k", "attr", "r"]
    d_right_empty = right.withColumn("sign", F.lit(1)).limit(0)

    states = []
    for n_buckets in (0, 8):
        tmp = tmp_path_factory.mktemp(f"jv_eq_{n_buckets}")
        m = JoinViewMaintainer(
            spark, str(tmp), on=["k"], cols=cols, n_buckets=n_buckets
        )
        live: list[tuple[int, str]] = []
        for i, (ins, n_del) in enumerate(batches):
            dels = live[: min(n_del, len(live))]
            live = live[len(dels):] + list(ins)
            rows = [(k, a, 1) for k, a in ins] + [
                (k, a, -1) for k, a in dels
            ]
            d_left = (
                spark.createDataFrame(rows, "k int, attr string, sign int")
                if rows
                else spark.createDataFrame([], "k int, attr string, sign int")
            )
            left_new = spark.createDataFrame(
                live or [], "k int, attr string"
            )
            m.update(d_left, left_new, d_right_empty, right, i)
        cur = m.current()
        states.append(
            sorted(
                (r["k"], r["attr"], r["r"], r["cnt"]) for r in cur.collect()
            )
            if cur is not None
            else None
        )
    assert states[0] == states[1]
