"""Streaming shell (M2): foreachBatch micro-batches, checkpoint restart,
idempotent replay, cross-batch late arrivals (SURVEY §5.5, §2.11)."""

from __future__ import annotations

import json
import logging
import os

from cdc_redshift_spark import commit
from cdc_redshift_spark.config import JobConfig, load_config
from cdc_redshift_spark.normalize import pg_changeset
from cdc_redshift_spark.sinks.parquet_sink import ParquetSink
from cdc_redshift_spark.sources.streams import KafkaSourceConfig, file_stream
from cdc_redshift_spark.streaming.pipeline import CdcPipeline

KEYS = ("db", "table", "key")


def pg_line(op, key, ts_ms, payload=None, offset=0, db="d1", table="t1"):
    after = json.dumps({"id": key, **(payload or {})}) if op != "d" else None
    before = json.dumps({"id": key}) if op in ("d", "u") else None
    return json.dumps(
        {
            "value": json.dumps(
                {
                    "before": before,
                    "after": after,
                    "source": {"db": db, "table": table, "ts_ms": ts_ms},
                    "op": op,
                    "ts_ms": ts_ms,
                }
            ),
            "offset": offset,
            "partition": 0,
            "timestamp": "2026-01-01T00:00:00.000Z",
        }
    )


def write_batch_file(d: str, name: str, lines: list[str]) -> None:
    # a file-stream source must never list a partial batch file
    commit.atomic_write(os.path.join(d, name), "\n".join(lines) + "\n")


def mk_pipeline(spark, tmp_path, **kw) -> tuple[CdcPipeline, ParquetSink, str, str]:
    indir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)
    sink = ParquetSink(spark, str(tmp_path / "sink"), keys=KEYS)
    pipe = CdcPipeline(
        lambda raw: pg_changeset(raw, offset_col="offset"), sink, keys=KEYS, **kw
    )
    return pipe, sink, indir, ckpt


def drain(pipe, spark, indir, ckpt):
    q = pipe.start(file_stream(spark, indir), checkpoint=ckpt, available_now=True)
    q.awaitTermination(120)
    assert not q.isActive


def state(sink, spark, db="d1", table="t1"):
    df = sink.read_table(spark, db, table)
    if df is None:
        return {}
    return {
        r["key"]: json.loads(r["payload"]) for r in df.collect()
    }


def test_two_microbatches_upsert_delete(spark, tmp_path):
    pipe, sink, indir, ckpt = mk_pipeline(spark, tmp_path)
    write_batch_file(
        indir,
        "b0.json",
        [
            pg_line("c", 1, 100, {"v": "a"}, 0),
            pg_line("c", 2, 100, {"v": "b"}, 1),
        ],
    )
    write_batch_file(
        indir,
        "b1.json",
        [
            pg_line("u", 1, 200, {"v": "a2"}, 2),
            pg_line("d", 2, 200, None, 3),
            pg_line("c", 3, 200, {"v": "c"}, 4),
        ],
    )
    drain(pipe, spark, indir, ckpt)
    st = state(sink, spark)
    assert set(st) == {"1", "3"}
    assert st["1"]["v"] == "a2"
    assert pipe.stats.batches >= 2  # maxFilesPerTrigger=1 → one file per batch


def test_started_pipeline_coalesces_its_cached_batch(spark, tmp_path):
    """A plain session without the cached-plan conf: the started
    stream still lets AQE coalesce the persisted LWW batch, on the
    stream's own session clone, and leaves the caller's conf alone."""
    from cdc_redshift_spark.session import CACHED_PLAN_COALESCE

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.shuffle.partitions": "200",
        CACHED_PLAN_COALESCE: "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    widths = []
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        pipe, sink, indir, ckpt = mk_pipeline(
            spark,
            tmp_path,
            on_batch=lambda _bid, df: widths.append(df.rdd.getNumPartitions()),
        )
        write_batch_file(indir, "b0.json", [pg_line("c", 1, 100, {"v": "a"}, 0)])
        write_batch_file(indir, "b1.json", [pg_line("u", 1, 200, {"v": "b"}, 1)])
        drain(pipe, spark, indir, ckpt)
        assert state(sink, spark) == {"1": {"id": 1, "v": "b"}}
        assert len(widths) == 2 and max(widths) <= 16, widths
        assert spark.conf.get(CACHED_PLAN_COALESCE) == "false"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_checkpoint_restart_no_reprocess_and_continues(spark, tmp_path):
    pipe, sink, indir, ckpt = mk_pipeline(spark, tmp_path)
    write_batch_file(indir, "b0.json", [pg_line("c", 1, 100, {"v": "a"}, 0)])
    drain(pipe, spark, indir, ckpt)
    assert state(sink, spark) == {"1": {"id": 1, "v": "a"}}

    # restart: only the NEW file is processed (offsets from checkpoint)
    pipe2, sink2, _, _ = mk_pipeline(spark, tmp_path)
    pipe2.sink = sink  # same sink state
    write_batch_file(indir, "b1.json", [pg_line("u", 1, 200, {"v": "b"}, 1)])
    drain(pipe2, spark, indir, ckpt)
    assert state(sink, spark)["1"]["v"] == "b"
    assert pipe2.stats.events == 1  # b0 not re-read


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """At-least-once delivery + idempotent merge = exactly-once (T3)."""
    pipe, sink, indir, ckpt = mk_pipeline(spark, tmp_path)
    write_batch_file(
        indir,
        "b0.json",
        [pg_line("c", 1, 100, {"v": "a"}, 0), pg_line("d", 2, 100, None, 1)],
    )
    drain(pipe, spark, indir, ckpt)
    first = state(sink, spark)

    # simulate post-crash replay of the same batch: fresh checkpoint, same file
    ckpt2 = str(tmp_path / "ckpt2")
    drain(pipe, spark, indir, ckpt2)
    assert state(sink, spark) == first


def test_late_event_in_later_batch_loses(spark, tmp_path):
    """The reference is last-batch-wins; we are last-timestamp-wins
    (ts guard in the merge — SURVEY §2.11)."""
    pipe, sink, indir, ckpt = mk_pipeline(spark, tmp_path)
    write_batch_file(indir, "b0.json", [pg_line("u", 1, 500, {"v": "new"}, 10)])
    drain(pipe, spark, indir, ckpt)
    write_batch_file(indir, "b1.json", [pg_line("u", 1, 100, {"v": "stale"}, 11)])
    drain(pipe, spark, indir, ckpt)
    assert state(sink, spark)["1"]["v"] == "new"


def test_multi_table_routing(spark, tmp_path):
    pipe, sink, indir, ckpt = mk_pipeline(spark, tmp_path, max_workers=4)
    lines = [
        pg_line("c", 1, 100, {"v": "a"}, 0, db="d1", table="t1"),
        pg_line("c", 1, 100, {"v": "b"}, 1, db="d1", table="t2"),
        pg_line("c", 1, 100, {"v": "c"}, 2, db="d2", table="t1"),
    ]
    write_batch_file(indir, "b0.json", lines)
    drain(pipe, spark, indir, ckpt)
    assert sink.list_tables() == [("d1", "t1"), ("d1", "t2"), ("d2", "t1")]
    assert state(sink, spark, "d2", "t1")["1"]["v"] == "c"


def test_apply_delete_false_keeps_rows(spark, tmp_path):
    """apply_delete=false parity (glue_dms_redshift_cdc.py:38,184)."""
    pipe, sink, indir, ckpt = mk_pipeline(spark, tmp_path, apply_delete=False)
    write_batch_file(
        indir,
        "b0.json",
        [pg_line("c", 1, 100, {"v": "a"}, 0)],
    )
    write_batch_file(indir, "b1.json", [pg_line("d", 1, 200, None, 1)])
    drain(pipe, spark, indir, ckpt)
    assert set(state(sink, spark)) == {"1"}


def test_empty_batch_guard(spark, tmp_path):
    pipe, sink, indir, ckpt = mk_pipeline(spark, tmp_path)
    # a file of null values → all rows filtered before normalize
    write_batch_file(
        indir,
        "b0.json",
        [json.dumps({"value": None, "offset": 0, "partition": 0, "timestamp": None})],
    )
    drain(pipe, spark, indir, ckpt)
    assert sink.list_tables() == []


def test_job_config_parity(tmp_path):
    doc = {
        "msk_conf": {
            "kafka_bootstrap_servers": "b-1:9092",
            "topic": "cdc.topic",
            "startingOffsets": "earliest",
            "maxOffsetsPerTrigger": 200000,
            "kafkaConsumer.pollTimeoutMs": 240000,
            "kafka.consumer.commit.groupid": "g1",
        },
        "spark_batch_conf": {
            "windowSize": "30 seconds",
            "checkpointLocation": "/tmp/ckpt",
        },
        "spark_conf": {"executor.memory": "12g", "executor.cores": 4},
    }
    p = tmp_path / "conf.json"
    p.write_text(json.dumps(doc))
    cfg = load_config(str(p))
    assert isinstance(cfg, JobConfig)
    ks = cfg.kafka_source()
    assert isinstance(ks, KafkaSourceConfig)
    opts = ks.options()
    assert opts["kafka.bootstrap.servers"] == "b-1:9092"
    assert opts["subscribe"] == "cdc.topic"
    assert opts["startingOffsets"] == "earliest"
    assert opts["maxOffsetsPerTrigger"] == "200000"
    assert opts["kafkaConsumer.pollTimeoutMs"] == "240000"
    assert opts["kafka.consumer.commit.groupid"] == "g1"
    assert cfg.window_size == "30 seconds"
    sc = cfg.spark_builder_conf()
    assert sc["spark.executor.memory"] == "12g"
    assert sc["spark.sql.adaptive.enabled"] == "true"


def test_job_config_reference_document(tmp_path):
    """The literal config document from the reference readme.md:13-44
    (including its 'fasle' speculation typo) must load verbatim."""
    doc = {
        "redshift_conf": {
            "url": "jdbc:redshift://xxx:5439/db",
            "cluster": "cluster-xxx.region.redshift.amazonaws.com",
            "port": 5439,
            "database": "db",
            "schema": "schema",
            "user": "user",
            "password": "pwd",
            "tmpdir": "s3://bucket/redshift-tmp/",
            "aws_iam_role": "arn:aws:iam::123456789012:role/redshift-copy",
        },
        "msk_conf": {
            "brokers": "b-1:9092,b-2:9092",
            "topic": "cdc.topic",
            "maxOffsetsPerTrigger": 200000,
            "groupId": "cdc-group",
            "startingOffsets": "earliest",
            "pollTimeoutMs": 240000,
        },
        "spark_batch_conf": {
            "windowSize": "30 seconds",
            "checkpointLocation": "s3://bucket/ckpt",
        },
        "spark_conf": {
            "dynamicAllocationEnabled": "false",
            "executorMemory": "12g",
            "executorCores": 4,
            "shufflePartitions": 1,
            "defaultParallelism": 1,
            "speculation": "fasle",
        },
    }
    p = tmp_path / "glue-job.json"
    p.write_text(json.dumps(doc))
    cfg = load_config(str(p))

    ks = cfg.kafka_source()
    opts = ks.options()
    assert opts["kafka.bootstrap.servers"] == "b-1:9092,b-2:9092"
    assert opts["subscribe"] == "cdc.topic"
    assert opts["startingOffsets"] == "earliest"
    assert opts["maxOffsetsPerTrigger"] == "200000"
    assert opts["kafkaConsumer.pollTimeoutMs"] == "240000"
    assert opts["kafka.consumer.commit.groupid"] == "cdc-group"

    sc = cfg.spark_builder_conf()
    assert sc["spark.dynamicAllocation.enabled"] == "false"
    assert sc["spark.executor.memory"] == "12g"
    assert sc["spark.executor.cores"] == "4"
    assert sc["spark.sql.shuffle.partitions"] == "1"
    assert sc["spark.default.parallelism"] == "1"
    assert sc["spark.speculation"] == "false"

    rs = cfg.redshift_config()
    assert rs.url == "jdbc:redshift://xxx:5439/db"
    assert rs.tempdir == "s3://bucket/redshift-tmp/"
    assert rs.schema == "schema"
    assert rs.aws_iam_role.startswith("arn:aws:iam::")
    # DMS top-level defaults (glue_dms_redshift_cdc.py:36-38)
    assert cfg.record_id_key == "id"
    assert cfg.apply_delete is True
    assert cfg.cdc_timestamp_format == "yyyy-MM-dd'T'HH:mm:ss'Z'"


def test_pipeline_with_partition_pruned_sink(spark, tmp_path):
    """End-to-end: normalize derives ts_date (the reference's sortkey,
    glue_pg_redshift_cdc.py:137), and a ts_date-partitioned sink merges
    micro-batches partition-pruned — untouched partitions hard-linked
    across versions."""
    indir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)
    sink = ParquetSink(
        spark, str(tmp_path / "sink"), keys=KEYS, partition_cols=("ts_date",)
    )
    pipe = CdcPipeline(
        lambda raw: pg_changeset(raw, offset_col="offset"), sink, keys=KEYS
    )
    day0, day1 = 1_700_000_000_000, 1_700_000_000_000 + 86_400_000
    write_batch_file(
        indir,
        "b0.json",
        [pg_line("c", 1, day0, {"v": "a"}, 0), pg_line("c", 2, day1, {"v": "b"}, 1)],
    )
    drain(pipe, spark, indir, ckpt)
    tdir = tmp_path / "sink" / "d1" / "t1"
    v1_parts = {p.name for p in (tdir / "v1").iterdir() if p.is_dir()}
    assert len(v1_parts) == 2  # one dir per event day

    # second batch touches only day1's key
    write_batch_file(indir, "b1.json", [pg_line("u", 2, day1 + 1000, {"v": "b2"}, 2)])
    drain(pipe, spark, indir, ckpt)
    day0_dir = next(d for d in v1_parts if "ts_date=" in d and d.endswith("-14"))  # 2023-11-14
    f1 = sorted((tdir / "v1" / day0_dir).glob("*.parquet"))[0]
    f2 = tdir / "v2" / day0_dir / f1.name
    assert f2.exists() and f2.stat().st_ino == f1.stat().st_ino  # linked forward
    st = state(sink, spark)
    assert st["1"]["v"] == "a" and st["2"]["v"] == "b2"


def mongo_line(op, key, ts_ms, doc=None, offset=0, db="m1", coll="c1"):
    value = json.dumps(
        {
            "ns": {"db": db, "coll": coll},
            "documentKey": json.dumps({"_id": key}),
            "fullDocument": json.dumps(doc) if doc is not None else None,
            "operationType": op,
            "ts_ms": ts_ms,
        }
    )
    return json.dumps(
        {"value": value, "offset": offset, "partition": 0,
         "timestamp": "2026-01-01T00:00:00.000Z"}
    )


def dms_line(op, key, ts, data=None, offset=0, schema="s1", table="t1"):
    value = json.dumps(
        {
            "data": json.dumps({"id": key, **(data or {})}) if data is not None else json.dumps({"id": key}),
            "metadata": {
                "timestamp": ts,
                "record-type": "data",
                "operation": op,
                "partition-key-type": "schema-table",
                "schema-name": schema,
                "table-name": table,
            },
        }
    )
    return json.dumps(
        {"value": value, "offset": offset, "partition": 0,
         "timestamp": "2026-01-01T00:00:00.000Z"}
    )


def test_mongo_pipeline_end_to_end(spark, tmp_path):
    """Debezium-Mongo envelopes through the full streaming shell:
    replace normalizes to update, LWW across batches."""
    from cdc_redshift_spark.normalize import mongo_changeset

    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)
    sink = ParquetSink(spark, str(tmp_path / "sink"), keys=KEYS)
    pipe = CdcPipeline(
        lambda raw: mongo_changeset(raw, offset_col="offset"), sink, keys=KEYS
    )
    write_batch_file(
        indir,
        "b0.json",
        [
            mongo_line("insert", 1, 100, {"v": "a"}, 0),
            mongo_line("insert", 2, 100, {"v": "b"}, 1),
        ],
    )
    write_batch_file(
        indir,
        "b1.json",
        [
            mongo_line("replace", 1, 200, {"v": "a2"}, 2),  # replace → update
            mongo_line("delete", 2, 200, None, 3),
        ],
    )
    drain(pipe, spark, indir, ckpt)
    st = state(sink, spark, "m1", "c1")
    assert set(st) == {"1"}
    assert st["1"]["v"] == "a2"


def test_dms_pipeline_end_to_end(spark, tmp_path):
    """DMS envelopes through the streaming shell: microsecond timestamp
    format, record-type filter, LWW upsert+delete."""
    from cdc_redshift_spark.normalize import dms_changeset

    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)
    sink = ParquetSink(spark, str(tmp_path / "sink"), keys=KEYS)
    pipe = CdcPipeline(
        lambda raw: dms_changeset(raw, offset_col="offset"), sink, keys=KEYS
    )
    write_batch_file(
        indir,
        "b0.json",
        [
            dms_line("load", 1, "2026-01-01T00:00:01.000000Z", {"v": "a"}, 0),
            dms_line("insert", 2, "2026-01-01T00:00:01.000000Z", {"v": "b"}, 1),
        ],
    )
    write_batch_file(
        indir,
        "b1.json",
        [
            dms_line("update", 1, "2026-01-01T00:00:02.000000Z", {"v": "a2"}, 2),
            dms_line("delete", 2, "2026-01-01T00:00:02.000000Z", None, 3),
        ],
    )
    drain(pipe, spark, indir, ckpt)
    st = state(sink, spark, "s1", "t1")
    assert set(st) == {"1"}
    assert st["1"]["v"] == "a2"


def test_pipeline_tombstone_expiry_lifecycle(spark, tmp_path):
    """expire_after_ms wiring: within the lateness horizon the tombstone
    survives expiry cycles (so a late stale event can NOT resurrect the
    deleted key); once the event-time horizon passes, the tombstone is
    compacted away; idle expiry cycles are no-ops (no new snapshot)."""
    pipe, sink, indir, ckpt = mk_pipeline(
        spark, tmp_path, expire_after_ms=10_000, expire_every=1
    )
    write_batch_file(
        indir,
        "b0.json",
        [pg_line("c", 1, 1000, {"v": "a"}, 0), pg_line("c", 2, 1000, {"v": "b"}, 1)],
    )
    drain(pipe, spark, indir, ckpt)
    write_batch_file(indir, "b1.json", [pg_line("d", 1, 2000, None, 2)])
    drain(pipe, spark, indir, ckpt)
    # horizon = 2000 - 10000 < 0 → tombstone stays; expiry cycles were no-ops
    v_after_delete = sink._latest_version("d1", "t1")
    tombs = sink.read_table(spark, "d1", "t1", include_tombstones=True).where(
        "op = 'delete'"
    )
    assert tombs.count() == 1

    # late STALE event for the deleted key (ts 1500 < delete's 2000):
    # loses to the still-present tombstone — no resurrection
    write_batch_file(indir, "b2.json", [pg_line("u", 1, 1500, {"v": "zombie"}, 3)])
    drain(pipe, spark, indir, ckpt)
    assert state(sink, spark) == {"2": {"id": 2, "v": "b"}}

    # advance event time past the horizon: max_ts=50000 → horizon=40000
    # > 2000, so this batch's expiry cycle compacts the tombstone away
    write_batch_file(indir, "b3.json", [pg_line("u", 2, 50_000, {"v": "b2"}, 4)])
    drain(pipe, spark, indir, ckpt)
    tombs = sink.read_table(spark, "d1", "t1", include_tombstones=True).where(
        "op = 'delete'"
    )
    assert tombs.count() == 0
    v_final = sink._latest_version("d1", "t1")

    # one more batch with nothing expirable: apply bumps one version,
    # the expiry cycle must not (no-op fast path)
    write_batch_file(indir, "b4.json", [pg_line("u", 2, 50_001, {"v": "b3"}, 5)])
    drain(pipe, spark, indir, ckpt)
    # exactly ONE new version (the apply); the expiry cycle added none
    assert sink._latest_version("d1", "t1") == v_final + 1
    assert state(sink, spark)["2"]["v"] == "b3"
    assert v_after_delete is not None


def test_pipeline_with_dv_sink_end_to_end(spark, tmp_path):
    """The live streaming pipeline drives a deletion-vector sink:
    identical final state to the default rewrite sink, with the
    second batch committing ZERO rewrites of first-batch files."""
    indir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)
    sink = ParquetSink(
        spark, str(tmp_path / "sink"), keys=KEYS, merge_mode="dv"
    )
    pipe = CdcPipeline(
        lambda raw: pg_changeset(raw, offset_col="offset"), sink, keys=KEYS
    )
    write_batch_file(
        indir,
        "b0.json",
        [
            pg_line("c", 1, 100, {"v": "a"}, 0),
            pg_line("c", 2, 100, {"v": "b"}, 1),
        ],
    )
    write_batch_file(
        indir,
        "b1.json",
        [
            pg_line("u", 1, 200, {"v": "a2"}, 2),
            pg_line("d", 2, 200, None, 3),
            pg_line("c", 3, 200, {"v": "c"}, 4),
        ],
    )
    drain(pipe, spark, indir, ckpt)
    st = state(sink, spark)
    assert set(st) == {"1", "3"} and st["1"]["v"] == "a2"
    # second batch was a DV commit: v1 data files hard-link into v2
    tdir = os.path.join(str(tmp_path / "sink"), "d1", "t1")
    v1_files = [
        f for f in os.listdir(os.path.join(tdir, "v1"))
        if f.endswith(".parquet")
    ]
    assert v1_files
    for f in v1_files:
        assert os.path.samefile(
            os.path.join(tdir, "v1", f), os.path.join(tdir, "v2", f)
        )
    assert os.path.isdir(os.path.join(tdir, "v2", "_DV"))


def test_ivf_index_maintainer_from_live_stream(spark, tmp_path):
    """IvfIndexMaintainer driven by a real file-source stream through
    foreachBatch: after two drained phases the streamed index equals
    batch assignment over all arrived vectors, and restarting the
    stream from its checkpoint (replaying nothing new) changes
    nothing."""
    import json as _json

    import numpy as np
    from pyspark.sql import functions as F

    from cdc_redshift_spark.operators.similarity import _centroids
    from cdc_redshift_spark.streaming.annindex import IvfIndexMaintainer

    rng = np.random.RandomState(5)
    X = rng.randn(60, 8)
    all_df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    cents = _centroids(all_df, 4, "vec_id", "embedding")
    m = IvfIndexMaintainer(spark, str(tmp_path / "idx"), cents)

    indir = str(tmp_path / "vin")
    os.makedirs(indir, exist_ok=True)
    ckpt = str(tmp_path / "vckpt")

    def emit(name, ids):
        write_batch_file(
            indir,
            name,
            [
                _json.dumps(
                    {"vec_id": i, "embedding": [float(x) for x in X[i]]}
                )
                for i in ids
            ],
        )

    schema = "vec_id long, embedding array<float>"

    def run():
        stream = (
            spark.readStream.schema(schema).json(indir)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda b, bid: m.update(b, bid)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    emit("b0.json", range(0, 30))
    run()
    emit("b1.json", range(30, 60))
    run()
    assert m.index().count() == 60
    # streamed assignment == batch assignment
    got = {r.id: r.cell for r in m.index().collect()}
    from cdc_redshift_spark.operators.similarity import _cells_udf

    want = {
        r.vec_id: r.cell
        for r in all_df.select(
            "vec_id",
            F.element_at(
                _cells_udf(cents, 1)(F.col("embedding")), 1
            ).alias("cell"),
        ).collect()
    }
    assert got == want
    # restart with no new files: checkpoint replays nothing, index
    # unchanged
    run()
    assert m.index().count() == 60


def test_pipeline_micro_batches_plan_broadcast_from_carried_stats(
    spark, tmp_path, monkeypatch
):
    """End-to-end CBO in the streaming regime (the round-9 seam chain):
    an analyzed composite-key sink drives every subsequent micro-batch
    merge through the broadcast plan — composite struct-NDV stats
    (COMPOSITE_KEY), carried forward across the commits BETWEEN
    analyze() calls (_carry_analyze), consulted per batch by
    _merge_strategy — while batch results stay exactly LWW-correct."""
    import cdc_redshift_spark.operators.planner as planner
    import cdc_redshift_spark.sinks.parquet_sink as ps

    captured = []
    real = ps.merge_apply

    def spy(*a, **kw):
        captured.append(kw.get("strategy", "shuffle"))
        return real(*a, **kw)

    monkeypatch.setattr(ps, "merge_apply", spy)

    indir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)
    # floor=0: the fixture table is tiny; the seam is what's pinned
    monkeypatch.setattr(planner, "MERGE_BROADCAST_MIN_TARGET", 0)
    sink = ParquetSink(spark, str(tmp_path / "sink"), keys=KEYS)
    pipe = CdcPipeline(
        lambda raw: pg_changeset(raw, offset_col="offset"), sink, keys=KEYS
    )

    # batch 0: first materialization (strategy moot), then ANALYZE once
    write_batch_file(
        indir, "b0.json",
        [pg_line("c", k, 100, {"v": "a"}, offset=k) for k in range(200)],
    )
    drain(pipe, spark, indir, ckpt)
    sink.analyze("d1", "t1")

    # three more micro-batches, NO further analyze calls
    for i in (1, 2, 3):
        captured.clear()
        write_batch_file(
            indir, f"b{i}.json",
            [pg_line("u", k, 100 + i, {"v": f"u{i}"}, offset=1000 * i + k)
             for k in range(5)],
        )
        drain(pipe, spark, indir, ckpt)
        assert captured == ["broadcast"], (
            f"batch {i}: carried composite stats must drive the "
            f"broadcast plan, got {captured}"
        )
    got = state(sink, spark)
    assert sum(1 for v in got.values() if v.get("v") == "u3") == 5
    assert len(got) == 200


def test_pipeline_auto_analyze_keeps_stats_fresh(spark, tmp_path, monkeypatch):
    """analyze_every: the pipeline refreshes its own statistics — no
    manual ANALYZE anywhere — so the broadcast flip engages from the
    first merge batch and can never age out of the carry limit."""
    import cdc_redshift_spark.operators.planner as planner
    import cdc_redshift_spark.sinks.parquet_sink as ps

    captured = []
    real = ps.merge_apply

    def spy(*a, **kw):
        captured.append(kw.get("strategy", "shuffle"))
        return real(*a, **kw)

    monkeypatch.setattr(ps, "merge_apply", spy)

    indir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)
    monkeypatch.setattr(planner, "MERGE_BROADCAST_MIN_TARGET", 0)
    monkeypatch.setattr(ps, "ANALYZE_CARRY_LIMIT", 1)
    sink = ParquetSink(spark, str(tmp_path / "sink"), keys=KEYS)
    pipe = CdcPipeline(
        lambda raw: pg_changeset(raw, offset_col="offset"), sink, keys=KEYS,
        analyze_every=1,
    )
    write_batch_file(
        indir, "b0.json",
        [pg_line("c", k, 100, {"v": "a"}, offset=k) for k in range(100)],
    )
    drain(pipe, spark, indir, ckpt)  # first materialization + auto-analyze
    for i in (1, 2, 3):  # 3 > carry limit: only auto-refresh keeps stats
        captured.clear()
        write_batch_file(
            indir, f"b{i}.json",
            [pg_line("u", k, 100 + i, {"v": f"u{i}"}, offset=1000 * i + k)
             for k in range(5)],
        )
        drain(pipe, spark, indir, ckpt)
        assert captured == ["broadcast"], f"batch {i}: {captured}"


def test_maybe_analyze_per_table_schedule_and_unmaterialized_skip(
    spark, tmp_path
):
    """The refresh schedule is PER TABLE (touch count): a table whose
    batches never align with a global batch phase still refreshes on
    its own Nth touch; tables not materialized in the sink yet are
    skipped instead of crashing the batch."""
    sink = ParquetSink(spark, str(tmp_path / "s"), keys=KEYS)
    pipe = CdcPipeline(
        lambda raw: pg_changeset(raw, offset_col="offset"), sink, keys=KEYS,
        analyze_every=2,
    )
    calls = []
    sink.analyze = lambda db, t, approx=False: calls.append((db, t))
    sink.table_exists = lambda db, t: t != "never"
    pipe._maybe_analyze([("d", "a")])                  # a:1
    pipe._maybe_analyze([("d", "a"), ("d", "b")])      # a:2 -> refresh; b:1
    pipe._maybe_analyze([("d", "b"), ("d", "never")])  # b:2 -> refresh
    pipe._maybe_analyze([("d", "never")])              # never:2, not in sink
    assert calls == [("d", "a"), ("d", "b")]


def test_maybe_analyze_never_fails_the_batch(spark, tmp_path, caplog):
    """Stats are a planning-only input: a transient failure inside the
    periodic refresh (IO, Spark error) must be logged and skipped, not
    propagate and kill the micro-batch — the same never-fail discipline
    as the sink's _carry_analyze.  The refresh asks for approximate
    NDV."""
    sink = ParquetSink(spark, str(tmp_path / "s"), keys=KEYS)
    pipe = CdcPipeline(
        lambda raw: pg_changeset(raw, offset_col="offset"), sink, keys=KEYS,
        analyze_every=1,
    )
    sink.table_exists = lambda db, t: True

    def boom(db, table, approx=False):
        calls.append((db, table, approx))
        raise RuntimeError("transient IO")

    calls = []
    sink.analyze = boom
    with caplog.at_level(logging.WARNING):
        pipe._maybe_analyze([("d", "a")])  # must NOT raise
    assert calls == [("d", "a", True)]
    assert "stats refresh failed for d.a" in caplog.text


def test_pipeline_periodic_knobs_validated_at_construction(spark, tmp_path):
    """analyze_every / expire_every divide counters — a 0 would
    ZeroDivisionError on the first batch, deep inside foreachBatch.
    Refuse loudly at construction instead."""
    import pytest

    sink = ParquetSink(spark, str(tmp_path / "s"), keys=KEYS)
    for knob in ("analyze_every", "expire_every"):
        with pytest.raises(ValueError, match=knob):
            CdcPipeline(
                lambda raw: pg_changeset(raw, offset_col="offset"),
                sink,
                keys=KEYS,
                **{knob: 0},
            )


def test_occ_sink_refused_by_streaming_regime(spark, tmp_path):
    """OCC and exactly-once streaming replay are mutually exclusive
    (parquet_sink.py OCC contract): recovery overwrites the same
    version directory, which exclusive claims reject.  The pipeline
    must refuse an occ=True sink LOUDLY at construction, not corrupt
    (or deadlock) at first crash-recovery."""
    import pytest

    occ_sink = ParquetSink(spark, str(tmp_path / "s"), keys=KEYS, occ=True)
    with pytest.raises(ValueError, match="single-writer sink"):
        CdcPipeline(
            lambda raw: pg_changeset(raw, offset_col="offset"),
            occ_sink,
            keys=KEYS,
        )
    # the plain single-writer sink remains accepted
    mk_pipeline(spark, tmp_path)


def test_stream_emb_drift_matches_batch_face_on_degenerate_vectors(
    spark, tmp_path
):
    """Round-13 review: the streaming face's maintained-state scoring
    must equal the batch monitor on ADVERSARIAL embeddings — NULL
    vectors, empty vectors, NULL elements, ragged lengths — not just
    the clean fixture.  Counts ride per-row marker cells (a NULL
    embedding still counts toward n_ref/n_cur); means drop NULL
    elements pre-maintainer (the batch avg's denominator)."""
    import pytest

    from cdc_redshift_spark.queries.analytics import q_emb_drift_report
    from cdc_redshift_spark.queries.streaming_q import (
        q_cdc_stream_emb_drift,
    )

    rows = [
        (0, [1.0, 2.0], 1),
        (1, None, 1),              # NULL vector: counts, no elements
        (2, [], 1),                # empty vector: counts, no elements
        (3, [3.0, None], 1),       # NULL element at pos 1
        (4, [5.0], 2),             # ragged: shorter vector
        (5, [1.0, 1.0], 2),
        (6, [2.0, 4.0], 2),
        (7, None, 3),              # label 3: NULL on both halves
        (8, None, 3),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    sf = str(tmp_path)
    batch = {
        r["label"]: tuple(r) for r in q_emb_drift_report(spark, sf).collect()
    }
    stream = {
        r["label"]: tuple(r)
        for r in q_cdc_stream_emb_drift(spark, sf).collect()
    }
    assert stream == batch
    # and the degenerate rows really did exercise the contract
    assert batch[1][1] + batch[1][2] == 4  # all four label-1 vectors counted
    # ADVICE r13: label 3 (all-NULL embeddings in BOTH halves) must be
    # KEPT with NULL cosine — the oracle's generate_series grid keeps
    # it, so the faces' left-joined score must too, on both faces
    assert batch[3] == (3, 0, 2, None)
    # oracle-backed: the DuckDB mirror's full row set on this exact
    # degenerate fixture (not just face-vs-face parity)
    import duckdb

    from cdc_redshift_spark.queries.analytics import ORACLE_EMB_DRIFT_TMPL

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{tmp_path}/embeddings.parquet/*.parquet')"
    )
    oracle = {
        r[0]: r
        for r in con.execute(
            ORACLE_EMB_DRIFT_TMPL.format(dim=2)
        ).fetchall()
    }
    con.close()
    assert set(oracle) == set(batch)
    for lbl, row in oracle.items():
        assert batch[lbl][:3] == row[:3]
        if row[3] is None:
            assert batch[lbl][3] is None
        else:
            assert batch[lbl][3] == pytest.approx(row[3], abs=1e-6)


def test_stream_token_drift_matches_batch_face_on_adversarial_corpus(
    spark, tmp_path
):
    """Two-face parity on an adversarial documents fixture: a source
    that exists ONLY in the late half (all-OOV forced-drift row, the
    new-source case), whitespace-only and empty texts (the \\s+ split
    yields a single empty-string token — both faces must treat it as
    a vocabulary token like any other), and a vocabulary tie (count
    ties broken by token order — the shared ranking helper decides
    for both faces)."""
    from cdc_redshift_spark.queries.corpus_q import q_corpus_token_drift
    from cdc_redshift_spark.queries.streaming_q import (
        q_cdc_stream_token_drift,
    )

    rows = [
        (0, "alpha", "a b b c"),
        (1, "alpha", "a a c"),         # tie: a=3, b=2, c=2 in ref
        (2, "alpha", "   "),           # whitespace-only
        (3, "alpha", ""),              # empty
        (4, "alpha", "z z q"),         # late half: drift mass
        (5, "alpha", "q q q"),
        (6, "newsrc", "x y z"),        # source seen ONLY late: all-OOV
        (7, "newsrc", "x x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    batch = {r["source"]: tuple(r) for r in q_corpus_token_drift(spark, sf).collect()}
    stream = {
        r["source"]: tuple(r)
        for r in q_cdc_stream_token_drift(spark, sf).collect()
    }
    assert stream == batch
    assert batch["newsrc"][1] == 0          # n_ref = 0: brand-new source
    assert batch["newsrc"][4] is True       # forced drift


def test_malformed_envelope_dead_letters_instead_of_crashing(spark, tmp_path):
    """r15 review hunt: an envelope whose source struct fails to parse
    normalizes to NULL db/table; the fan-out used to call
    apply_one(None, ...) and die inside the sink's path join — one bad
    event killed the stream.  Unroutable rows are now counted, dead-
    lettered when a root is configured, and the good rows still land."""
    dlq = str(tmp_path / "dlq")
    pipe, sink, indir, ckpt = mk_pipeline(
        spark, tmp_path, dead_letter_root=dlq
    )
    bad = json.dumps(
        {
            # no source struct at all -> NULL db/table after normalize
            "value": json.dumps({"op": "c", "after": '{"id": 9}'}),
            "offset": 7,
            "partition": 0,
            "timestamp": "2026-01-01T00:00:00.000Z",
        }
    )
    write_batch_file(
        indir,
        "b0.json",
        [pg_line("c", 1, 100, {"v": "a"}, 0), bad],
    )
    drain(pipe, spark, indir, ckpt)
    assert state(sink, spark) == {"1": {"id": 1, "v": "a"}}
    assert pipe.stats.unroutable == 1
    dl = spark.read.parquet(dlq)
    assert dl.count() == 1 and dl.collect()[0]["db"] is None


def test_malformed_envelope_without_dlq_drops_loudly_not_fatally(
    spark, tmp_path
):
    pipe, sink, indir, ckpt = mk_pipeline(spark, tmp_path)
    bad = json.dumps(
        {
            "value": json.dumps({"op": "c", "after": '{"id": 9}'}),
            "offset": 7,
            "partition": 0,
            "timestamp": "2026-01-01T00:00:00.000Z",
        }
    )
    write_batch_file(indir, "b0.json", [bad, pg_line("c", 2, 100, None, 1)])
    drain(pipe, spark, indir, ckpt)
    assert pipe.stats.unroutable == 1
    assert set(state(sink, spark)) == {"2"}


def test_perfbench_layers_fit_the_engine(spark, tmp_path, monkeypatch):
    """The CDC benchmark (perfbench/) times the engine from outside,
    through subclasses in perfbench/layers.py: TimedPipeline must still
    construct against CdcPipeline's signature, ParquetSink.apply_changeset
    must still plan through the _merge_strategy that TimedSink overrides,
    and an apply on an analyzed table must leave last_merge_plan set.
    Otherwise a refactor silently zeroes the benchmark's planner.*
    metrics or breaks perfbench/run.py."""
    import cdc_redshift_spark.operators.planner as planner
    from cdc_redshift_spark.sources.streams import RAW_STREAM_SCHEMA

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.syspath_prepend(os.path.join(repo, "perfbench"))
    import layers

    def raw(name, lines):
        write_batch_file(str(tmp_path), name, lines)
        return spark.read.schema(RAW_STREAM_SCHEMA).json(str(tmp_path / name))

    rec = layers.Recorder(spark, traced=False, setup_batches=1, seconds=600)
    # a 1-byte broadcast floor, so the tiny table is priced, not skipped
    monkeypatch.setattr(planner, "MERGE_BROADCAST_MIN_TARGET", 1)
    sink = layers.TimedSink(spark, str(tmp_path / "sink"), keys=KEYS)
    sink.rec = rec
    pipe = layers.TimedPipeline(
        lambda r: pg_changeset(r, offset_col="offset"), sink, keys=KEYS, rec=rec
    )
    # the seed batch runs untimed; analyze it as pg_rewrite_merge does
    pipe.process_batch(
        raw("seed.json", [pg_line("c", k, 100, {"v": "a"}, k) for k in range(50)]), 0
    )
    sink.analyze("d1", "t1", approx=True)
    pipe.process_batch(
        raw("b1.json", [pg_line("u", k, 200, {"v": "b"}, 100 + k) for k in range(5)]), 1
    )

    assert sink.last_merge_plan is not None
    assert not sink.last_merge_plan.get("under_floor")
    (batch,) = rec.batches
    (apply,) = batch.applies
    assert apply["table"] == "d1.t1" and apply["priced"]
    assert state(sink, spark)["3"] == {"id": 3, "v": "b"}
