"""Core ChangeSet semantics: normalize, dedup, merge (FIXTURES.md §6 scenarios)."""

import json

import pytest
from pyspark.sql import functions as F

from cdc_redshift_spark.dedup import latest_per_key
from cdc_redshift_spark.normalize import (
    dms_changeset,
    mongo_changeset,
    pg_changeset,
)
from cdc_redshift_spark.plans.merge import apply_changeset

KEYS = ("db", "table", "key")


def pg_event(op, key, ts_ms, payload=None, offset=0, db="d1", table="t1"):
    after = json.dumps({"id": key, **(payload or {})}) if op != "d" else None
    before = json.dumps({"id": key}) if op in ("d", "u") else None
    return (
        json.dumps(
            {
                "before": before,
                "after": after,
                "source": {"db": db, "table": table, "ts_ms": ts_ms},
                "op": op,
                "ts_ms": ts_ms,
            }
        ),
        offset,
    )


def mk_raw(spark, events):
    return spark.createDataFrame(events, "value string, offset long")


def apply_pg(spark, events, target=None):
    ch = latest_per_key(pg_changeset(mk_raw(spark, events), offset_col="offset"))
    return apply_changeset(target, ch, keys=KEYS)


def test_insert_update_update_lww(spark):
    st = apply_pg(
        spark,
        [
            pg_event("c", 1, 100, {"v": "a"}, 0),
            pg_event("u", 1, 200, {"v": "b"}, 1),
            pg_event("u", 1, 300, {"v": "c"}, 2),
        ],
    )
    rows = st.collect()
    assert len(rows) == 1
    assert json.loads(rows[0].payload)["v"] == "c"
    assert rows[0].op == "update"


def test_delete_after_update_removes(spark):
    st = apply_pg(
        spark,
        [pg_event("c", 1, 100, {}, 0), pg_event("u", 1, 200, {}, 1), pg_event("d", 1, 300, None, 2)],
    )
    assert st.count() == 0


def test_update_after_delete_resurrects(spark):
    st = apply_pg(
        spark,
        [pg_event("d", 1, 100, None, 0), pg_event("u", 1, 200, {"v": "z"}, 1)],
    )
    rows = st.collect()
    assert len(rows) == 1 and json.loads(rows[0].payload)["v"] == "z"


def test_ts_tie_broken_by_offset(spark):
    st = apply_pg(
        spark,
        [pg_event("u", 1, 100, {"v": "first"}, 5), pg_event("u", 1, 100, {"v": "second"}, 6)],
    )
    assert json.loads(st.collect()[0].payload)["v"] == "second"


def test_cross_batch_delete(spark):
    b1 = apply_pg(spark, [pg_event("c", 1, 100, {}, 0), pg_event("c", 2, 100, {}, 1)])
    b2 = apply_pg(spark, [pg_event("d", 1, 200, None, 2)], target=b1)
    rows = b2.collect()
    assert len(rows) == 1 and rows[0].key == "2"


def test_late_event_does_not_regress(spark):
    """FIXTURES §6.4: older ts arriving in a later batch must lose.

    This is the last-timestamp-wins fix over the reference's
    last-batch-wins merge (SURVEY §2.11)."""
    b1 = apply_pg(spark, [pg_event("u", 1, 500, {"v": "new"}, 1)])
    b2 = apply_pg(spark, [pg_event("u", 1, 100, {"v": "stale"}, 2)], target=b1)
    assert json.loads(b2.collect()[0].payload)["v"] == "new"


def test_multi_table_routing(spark):
    st = apply_pg(
        spark,
        [
            pg_event("c", 1, 100, {}, 0, db="d1", table="a"),
            pg_event("c", 1, 100, {}, 1, db="d1", table="b"),
            pg_event("c", 1, 100, {}, 2, db="d2", table="a"),
        ],
    )
    assert {(r.db, r.table) for r in st.collect()} == {("d1", "a"), ("d1", "b"), ("d2", "a")}


def test_mongo_normalize(spark):
    ev = {
        "_id": "e1",
        "operationType": "replace",
        "fullDocument": json.dumps({"_id": "k1", "x": 1}),
        "ns": {"db": "m1", "coll": "c1"},
        "documentKey": json.dumps({"_id": "k1"}),
        "ts_ms": 42,
    }
    raw = mk_raw(spark, [(json.dumps(ev), 7)])
    rows = mongo_changeset(raw, offset_col="offset").collect()
    r = rows[0]
    assert (r.db, r.table, r.key, r.ts_ms, r.offset, r.op) == ("m1", "c1", "k1", 42, 7, "update")
    assert json.loads(r.payload)["x"] == 1


def test_dms_normalize_filters_control_records(spark):
    def dms(op, rid, ts, rectype="data"):
        return (
            json.dumps(
                {
                    "data": json.dumps({"id": rid, "v": 1}),
                    "metadata": {
                        "timestamp": ts,
                        "record-type": rectype,
                        "operation": op,
                        "schema-name": "s1",
                        "table-name": "t1",
                    },
                }
            ),
            rid,
        )

    raw = mk_raw(
        spark,
        [
            dms("load", 1, "2024-01-01T00:00:00.000000Z"),
            dms("update", 2, "2024-01-01T00:00:01.500000Z"),
            dms("create-table", 3, "2024-01-01T00:00:02.000000Z", rectype="control"),
        ],
    )
    rows = dms_changeset(raw, offset_col="offset").orderBy("key").collect()
    assert len(rows) == 2  # control record dropped
    assert rows[0].op == "load" and rows[0].ts_ms == 1704067200000
    assert rows[1].op == "update" and rows[1].ts_ms == 1704067201500


def test_empty_batch(spark):
    raw = spark.createDataFrame([], "value string, offset long")
    ch = pg_changeset(raw, offset_col="offset")
    assert ch.isEmpty()
    st = apply_changeset(None, latest_per_key(ch), keys=KEYS)
    assert st.isEmpty()


def test_merge_requires_op(spark):
    df = spark.createDataFrame([("a",)], "key string")
    with pytest.raises(ValueError):
        apply_changeset(None, df, keys=("key",))


def test_schema_union_symmetric(spark):
    """A column present in stored state but absent from a later batch's
    changeset must survive (as its stored value for untouched keys, and
    as null for rows the new batch overwrites) — not be dropped
    table-wide (DMS sample-bounded inference can miss a field in any
    one batch)."""
    t0 = spark.createDataFrame(
        [("d", "t", "1", 100, 0, "insert", "x", "extra1")],
        "db string, table string, key string, ts_ms long, offset long, "
        "op string, v string, only_in_target string",
    )
    ch = spark.createDataFrame(
        [("d", "t", "2", 200, 1, "insert", "y", 7)],
        "db string, table string, key string, ts_ms long, offset long, "
        "op string, v string, only_in_changes int",
    )
    st = apply_changeset(t0, ch, keys=KEYS)
    assert set(st.columns) >= {"only_in_target", "only_in_changes", "v"}
    rows = {r.key: r for r in st.collect()}
    assert rows["1"].only_in_target == "extra1"
    assert rows["1"].only_in_changes is None
    assert rows["2"].only_in_changes == 7
    assert rows["2"].only_in_target is None


def test_merge_batch_split_invariance(spark):
    """LWW merge is associative over batch splits: for a random event
    log, folding apply_changeset over ANY partition into micro-batches
    yields the same final state as one big batch.  This is the property
    that makes at-least-once replay + checkpoint restarts safe."""
    import random

    from cdc_redshift_spark.dedup import latest_per_key
    from cdc_redshift_spark.plans.merge import apply_changeset

    rng = random.Random(42)
    ops = ["insert", "update", "delete"]
    for trial in range(3):
        events = [
            (
                str(rng.randint(1, 6)),                # key
                rng.randint(1, 5) * 100,               # ts_ms (ties likely)
                i,                                     # offset (unique)
                rng.choice(ops),
                f'{{"v":{i}}}',
            )
            for i in range(30)
        ]
        mk = lambda rows: latest_per_key(  # noqa: E731
            spark.createDataFrame(
                rows, "key string, ts_ms long, offset long, op string, payload string"
            ),
            keys=("key",),
        )
        # single batch
        one = apply_changeset(None, mk(events), keys=("key",), keep_tombstones=True)
        want = {r["key"]: (r["ts_ms"], r["offset"], r["op"]) for r in one.collect()}

        # random split into 1-4 micro-batches, applied in order
        cuts = sorted(rng.sample(range(1, len(events)), rng.randint(0, 3)))
        state = None
        for lo, hi in zip([0] + cuts, cuts + [len(events)]):
            state = apply_changeset(
                state, mk(events[lo:hi]), keys=("key",), keep_tombstones=True
            )
        got = {r["key"]: (r["ts_ms"], r["offset"], r["op"]) for r in state.collect()}
        assert got == want, f"trial {trial}: {got} != {want}"


def test_payload_variant_option(spark):
    """payload_variant=True appends a VariantType ``payload_v`` beside
    the untouched string payload: typed path access via variant_get,
    malformed JSON -> NULL variant with the raw string preserved, and
    the variant survives the LWW window as a passenger column."""
    events = [
        pg_event("c", 1, 100, {"v": 5, "s": "a"}, offset=1),
        pg_event("u", 1, 200, {"v": 7, "s": "b"}, offset=2),
        pg_event("c", 2, 100, {"v": 9, "s": "c"}, offset=3),
    ]
    # a hand-broken payload: valid envelope, invalid inner JSON
    bad_after = '{"id": 3, "v": '  # truncated
    events.append(
        (
            json.dumps(
                {
                    "before": None,
                    "after": bad_after,
                    "source": {"db": "d1", "table": "t1", "ts_ms": 100},
                    "op": "c",
                    "ts_ms": 100,
                }
            ),
            4,
        )
    )
    ch = pg_changeset(
        mk_raw(spark, events), offset_col="offset", payload_variant=True
    )
    assert dict(ch.dtypes)["payload_v"] == "variant"
    assert dict(ch.dtypes)["payload"] == "string"  # string path untouched
    dd = latest_per_key(ch)
    rows = {
        r["key"]: r
        for r in dd.select(
            "key",
            "payload",
            F.variant_get("payload_v", "$.v", "bigint").alias("v"),
            F.variant_get("payload_v", "$.s", "string").alias("s"),
            F.col("payload_v").isNull().alias("v_null"),
        ).collect()
    }
    assert (rows["1"]["v"], rows["1"]["s"]) == (7, "b")  # LWW winner's variant
    assert (rows["2"]["v"], rows["2"]["s"]) == (9, "c")
    # malformed: NULL variant, raw string preserved for quarantine
    # (its key extraction also nulls, so it lands under key None)
    bad = rows[None]
    assert bad["v_null"] and bad["payload"] == bad_after
    # default stays variant-free (the certified string-only schema)
    assert "payload_v" not in pg_changeset(
        mk_raw(spark, events), offset_col="offset"
    ).columns


def test_payload_variant_on_mongo_and_dms(spark):
    """The knob exists on all three normalizers (same SUPER analogue)."""
    mongo_raw = mk_raw(
        spark,
        [
            (
                json.dumps(
                    {
                        "operationType": "insert",
                        "ns": {"db": "m", "coll": "c"},
                        "documentKey": json.dumps({"_id": "k1"}),
                        "fullDocument": json.dumps({"_id": "k1", "x": 3}),
                        "ts_ms": 5,
                    }
                ),
                1,
            )
        ],
    )
    mch = mongo_changeset(mongo_raw, payload_variant=True)
    assert mch.select(
        F.variant_get("payload_v", "$.x", "bigint")
    ).first()[0] == 3
    dms_raw = mk_raw(
        spark,
        [
            (
                json.dumps(
                    {
                        "data": json.dumps({"id": 1, "y": "z"}),
                        "metadata": {
                            "timestamp": "2024-01-01T00:00:00.000000Z",
                            "record-type": "data",
                            "operation": "insert",
                            "partition-key-type": "schema-table",
                            "schema-name": "s",
                            "table-name": "t",
                        },
                    }
                ),
                1,
            )
        ],
    )
    dch = dms_changeset(dms_raw, payload_variant=True)
    assert dch.select(
        F.variant_get("payload_v", "$.y", "string")
    ).first()[0] == "z"


def test_null_op_row_is_data_not_tombstone(spark):
    """r15 review hunt: a NULL op (malformed envelope passed through
    _map_op's otherwise) must behave as data everywhere — the
    three-valued `op != 'delete'` filters silently dropped the
    winning row from merged state."""
    cs = spark.createDataFrame(
        [
            ("1", 100, 0, None, "a"),   # NULL op: data
            ("2", 100, 1, "insert", "b"),
            ("3", 100, 2, "delete", None),
        ],
        "key string, ts_ms long, offset long, op string, payload string",
    )
    for strategy in ("shuffle", "broadcast"):
        target = spark.createDataFrame(
            [("3", 50, 0, "insert", "old")],
            "key string, ts_ms long, offset long, op string, payload string",
        )
        out = apply_changeset(
            target, cs, keys=("key",), keep_tombstones=False,
            strategy=strategy,
        )
        got = {r.key for r in out.collect()}
        assert got == {"1", "2"}, (
            f"{strategy}: NULL-op row dropped as a pseudo-tombstone"
        )


def test_null_op_row_survives_sink_round_trip(spark, tmp_path):
    """The stored NULL-op row stays reader-visible through the sink
    (read_table's tombstone filter is null-safe), and is not exempt
    from CHECK constraints the way true tombstones are."""
    from cdc_redshift_spark.sinks.parquet_sink import (
        ConstraintViolation,
        ParquetSink,
    )

    sink = ParquetSink(spark, str(tmp_path))
    sink.apply_changeset(
        "d",
        "t",
        spark.createDataFrame(
            [("1", 100, 0, None, "x"), ("2", 100, 1, "insert", "y")],
            "key string, ts_ms long, offset long, op string, payload string",
        ),
    )
    got = {r.key for r in sink.read_table(spark, "d", "t").collect()}
    assert got == {"1", "2"}, "NULL-op row hidden from readers"

    guarded = ParquetSink(
        spark, str(tmp_path / "g"), constraints={"pay": "payload is not null"}
    )
    with pytest.raises(ConstraintViolation):
        guarded.apply_changeset(
            "d",
            "t",
            spark.createDataFrame(
                [("1", 100, 0, None, None)],  # NULL op, violating row
                "key string, ts_ms long, offset long, op string,"
                " payload string",
            ),
        )
