"""ParquetSink versioned-merge behavior + Redshift SQL codegen parity."""

import json
import os

from cdc_redshift_spark.sinks.parquet_sink import ParquetSink
from cdc_redshift_spark.sinks.redshift import (
    REDSHIFT_FORMAT,
    JdbcSink,
    RedshiftConfig,
    RedshiftSink,
    create_table_ddl,
    delete_insert_postactions,
    delete_using_postactions,
    jdbc_column_types,
    merge_postactions,
    stage_name,
    super_col,
    table_exists_sql,
    typed_col,
    write_options,
)


def chdf(spark, rows):
    return spark.createDataFrame(
        rows, "key string, ts_ms long, offset long, op string, payload string"
    )


def test_parquet_sink_merge_roundtrip(spark, tmp_path):
    sink = ParquetSink(spark, str(tmp_path))
    assert not sink.table_exists("d", "t")
    sink.apply_changeset(
        "d", "t", chdf(spark, [("1", 100, 0, "insert", "{}"), ("2", 100, 1, "insert", "{}")])
    )
    assert sink.table_exists("d", "t")
    assert sink.read_table(spark, "d", "t").count() == 2

    # second batch: update key 1, delete key 2
    sink.apply_changeset(
        "d", "t", chdf(spark, [("1", 200, 2, "update", json.dumps({"v": 9})), ("2", 200, 3, "delete", None)])
    )
    rows = {r.key: r for r in sink.read_table(spark, "d", "t").collect()}
    assert set(rows) == {"1"}
    assert json.loads(rows["1"].payload)["v"] == 9
    assert sink.list_tables() == [("d", "t")]


def pchdf(spark, rows):
    """Changeset rows carrying a ts_date partition column."""
    return spark.createDataFrame(
        rows,
        "key string, ts_ms long, offset long, op string, payload string, ts_date string",
    )


def test_parquet_sink_pruned_merge(spark, tmp_path):
    """Partition-pruned merge: only touched ts_date partitions are
    rewritten; untouched partition files are carried forward as hard
    links, byte-identical across versions."""
    sink = ParquetSink(spark, str(tmp_path), partition_cols=("ts_date",))
    sink.apply_changeset(
        "d",
        "t",
        pchdf(
            spark,
            [
                ("1", 100, 0, "insert", '{"v":1}', "2021-01-01"),
                ("2", 100, 1, "insert", '{"v":2}', "2021-01-02"),
                ("3", 100, 2, "insert", '{"v":3}', "2021-01-03"),
            ],
        ),
    )
    v1 = tmp_path / "d" / "t" / "v1"
    untouched = sorted((v1 / "ts_date=2021-01-02").iterdir())
    assert untouched

    # batch 2 touches only 2021-01-01 (update moves key 1 to -03? no —
    # same partition) and inserts a NEW partition 2021-01-04
    sink.apply_changeset(
        "d",
        "t",
        pchdf(
            spark,
            [
                ("1", 200, 3, "update", '{"v":9}', "2021-01-01"),
                ("4", 200, 4, "insert", '{"v":4}', "2021-01-04"),
            ],
        ),
    )
    v2 = tmp_path / "d" / "t" / "v2"
    assert v2.is_dir()
    # untouched partitions carried forward byte-identical (hard links)
    for f in untouched:
        g = v2 / "ts_date=2021-01-02" / f.name
        assert g.exists() and g.read_bytes() == f.read_bytes()
        assert g.stat().st_ino == f.stat().st_ino  # linked, not rewritten
    assert (v2 / "ts_date=2021-01-03").is_dir()  # also untouched
    assert (v2 / "ts_date=2021-01-04").is_dir()  # new partition written

    rows = {r.key: r for r in sink.read_table(spark, "d", "t").collect()}
    assert set(rows) == {"1", "2", "3", "4"}
    assert json.loads(rows["1"].payload)["v"] == 9
    assert rows["2"].ts_date == "2021-01-02"


def test_parquet_sink_pruned_merge_moves_key_across_partitions(spark, tmp_path):
    """An update landing in a different partition than the key's old row
    must rewrite BOTH partitions (old version removed, new one added)."""
    sink = ParquetSink(spark, str(tmp_path), partition_cols=("ts_date",))
    sink.apply_changeset(
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
    sink.apply_changeset(
        "d", "t", pchdf(spark, [("1", 200, 2, "update", '{"v":9}', "2021-02-28")])
    )
    rows = sink.read_table(spark, "d", "t").collect()
    by_key = {r.key: r for r in rows}
    assert len(rows) == 2  # key 1 not duplicated across partitions
    assert by_key["1"].ts_date == "2021-02-28"
    # delete: tombstone lands in its partition, old row goes away
    sink.apply_changeset(
        "d", "t", pchdf(spark, [("2", 300, 3, "delete", None, "2021-03-01")])
    )
    assert {r.key for r in sink.read_table(spark, "d", "t").collect()} == {"1"}


def test_parquet_sink_late_event_ignored(spark, tmp_path):
    sink = ParquetSink(spark, str(tmp_path))
    sink.apply_changeset("d", "t", chdf(spark, [("1", 500, 0, "insert", '{"v":1}')]))
    sink.apply_changeset("d", "t", chdf(spark, [("1", 100, 1, "update", '{"v":0}')]))
    rows = sink.read_table(spark, "d", "t").collect()
    assert json.loads(rows[0].payload)["v"] == 1  # stale update lost


def test_stage_name():
    assert stage_name("public.db1_t1") == "public.stage_db1_t1"
    assert stage_name("t") == "stage_t"


COLS = ["pk_id", "data", "ts_date", "cts_ms", "op_type"]


def test_delete_insert_postactions_existing_table():
    """Statement sequence per glue_pg_redshift_cdc.py:182-188: no DDL
    when the probe says the target exists; op column excluded from the
    insert list."""
    sql = delete_insert_postactions(
        "public.d_t", "public.stage_d_t", "pk_id", COLS, table_exists=True
    )
    assert "create table" not in sql
    assert "delete from public.d_t using public.stage_d_t" in sql
    assert "public.d_t.pk_id = public.stage_d_t.pk_id" in sql
    assert (
        "insert into public.d_t (pk_id, data, ts_date, cts_ms) "
        "select pk_id, data, ts_date, cts_ms from public.stage_d_t "
        "where op_type != 'delete' or op_type is null" in sql
    )  # null-safe: NULL op is data (r15 contract, matches merge.py)
    assert "drop table public.stage_d_t" in sql
    assert sql.index("begin") < sql.index("delete from") < sql.index("insert into") < sql.index("end")


def test_delete_insert_postactions_probe_then_ctas():
    """Absent target: a PLAIN CTAS (no 'if not exists' — invalid
    Redshift) is prepended inside the transaction, shape-only 0=1,
    op column excluded (glue_pg_redshift_cdc.py:182-191)."""
    sql = delete_insert_postactions(
        "public.d_t", "public.stage_d_t", "pk_id", COLS, table_exists=False
    )
    assert "create table if not exists" not in sql
    assert (
        "begin; create table public.d_t sortkey (ts_date) "
        "as select pk_id, data, ts_date, cts_ms from public.stage_d_t "
        "where 0=1; delete from" in sql
    )


def test_merge_postactions_shape():
    sql = merge_postactions("s.t", "s.stage_t", "id")
    # glue_dms_redshift_cdc.py:104-110 — LIKE-create carries the PK,
    # MERGE aliases the stage, txn closed with commit
    assert "create table if not exists s.t (primary key(id), like s.stage_t)" in sql
    assert "merge into s.t using s.stage_t s on (s.t.id = s.id) remove duplicates" in sql
    assert "truncate table s.stage_t" in sql
    assert sql.rstrip().endswith("commit;")


def test_delete_using_postactions_shape():
    sql = delete_using_postactions("s.t", "s.stage_t", "id")
    assert sql.startswith("begin;")
    assert "delete from s.t using s.stage_t where s.t.id = s.stage_t.id" in sql
    assert sql.rstrip().endswith("commit;")


def test_write_options_keys():
    cfg = RedshiftConfig(
        url="jdbc:redshift://h:5439/db",
        user="u",
        password="p",
        tempdir="s3://b/tmp",
        aws_iam_role="arn:aws:iam::1:role/r",
    )
    opts = write_options(cfg, "public.stage_t", "begin; end;")
    # option set per glue_pg_redshift_cdc.py:192-203
    assert set(opts) >= {"url", "dbtable", "user", "password", "tempdir", "tempformat", "aws_iam_role", "postactions"}
    assert opts["tempformat"] == "CSV"
    assert opts["dbtable"] == "public.stage_t"


def test_table_exists_sql():
    assert table_exists_sql("public") == (
        "select distinct tablename from pg_tables where schemaname = 'public'"
    )
    # reference probe filters on BOTH (glue_pg_redshift_cdc.py:105)
    assert table_exists_sql("public", "d_t") == (
        "select distinct tablename from pg_tables "
        "where schemaname = 'public' and tablename = 'd_t'"
    )


def _tagged_df(spark):
    """CDC slice shaped like the reference's per-batch projection
    (glue_pg_redshift_cdc.py:139-146), with redshift_type metadata."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(1, '{"v":1}', "2021-01-01", 100, "insert"),
         (2, None, "2021-01-01", 100, "delete")],
        "pk_id long, data string, ts_date string, cts_ms long, op string",
    )
    return base.select(
        typed_col(F.col("pk_id"), "pk_id", "INT4"),
        super_col(F.col("data"), "data"),
        F.col("ts_date"),
        F.col("cts_ms"),
        typed_col(F.col("op"), "op_type", "CHAR(6)"),
    )


def test_ddl_metadata_consumption(spark):
    df = _tagged_df(spark)
    ddl = create_table_ddl("public.d_t", df.schema)
    assert "pk_id INT4" in ddl and "data SUPER" in ddl and "op_type CHAR(6)" in ddl
    assert "cts_ms BIGINT" in ddl  # untagged falls back to the type map
    assert ddl.endswith("sortkey (ts_date)")
    jt = jdbc_column_types(df.schema)
    assert jt == "pk_id INT4, data SUPER, ts_date VARCHAR(MAX), cts_ms BIGINT, op_type CHAR(6)"


def _cfg():
    return RedshiftConfig(
        url="jdbc:redshift://h:5439/db",
        user="u",
        password="p",
        tempdir="s3://b/tmp/",
        aws_iam_role="arn:aws:iam::1:role/r",
    )


def test_redshift_sink_write_invocation(spark):
    """K1: the sink invokes the connector write with the exact option
    set + probe-driven postactions for one upsert+delete batch."""
    calls = []

    def fake_writer(df, fmt, opts):
        calls.append((df, fmt, opts))

    sink = RedshiftSink(_cfg(), probe=lambda schema, t: False, writer=fake_writer)
    df = _tagged_df(spark)
    sink.apply_changeset("db1", "t1", df)

    (wdf, fmt, opts), = calls
    assert wdf is df
    assert fmt == REDSHIFT_FORMAT
    assert opts["dbtable"] == "public.stage_db1_t1"
    assert opts["tempdir"] == "s3://b/tmp/db1_t1"  # per-table temp prefix
    assert opts["tempformat"] == "CSV"
    post = opts["postactions"]
    # probe said absent -> plain CTAS inside the txn, op excluded
    assert post.startswith(
        "begin; create table public.db1_t1 sortkey (ts_date) "
        "as select pk_id, data, ts_date, cts_ms from public.stage_db1_t1 where 0=1;"
    )
    assert "insert into public.db1_t1 (pk_id, data, ts_date, cts_ms)" in post
    assert "drop table public.stage_db1_t1; end;" in post

    # second batch: table now known -> no DDL in postactions
    sink.apply_changeset("db1", "t1", df)
    assert "create table" not in calls[1][2]["postactions"]


def test_jdbc_sink_typed_stage_and_postactions(spark):
    writes, sqls = [], []

    def fake_writer(df, fmt, opts):
        writes.append((fmt, opts))

    def run_sql(sql):
        sqls.append(sql)
        return []  # probe: nothing exists

    sink = JdbcSink("jdbc:postgresql://h/db", writer=fake_writer, run_sql=run_sql)
    df = _tagged_df(spark)
    sink.apply_changeset("db1", "t1", df)

    fmt, opts = writes[0]
    assert fmt == "jdbc"
    assert opts["dbtable"] == "public.stage_db1_t1"
    # P7: redshift_type metadata feeds Spark JDBC's typed DDL option
    assert opts["createTableColumnTypes"].startswith("pk_id INT4, data SUPER")
    # probe SQL then the postactions batch
    assert sqls[0] == table_exists_sql("public", "db1_t1")
    assert sqls[1].startswith("begin; create table public.db1_t1 sortkey (ts_date)")


def test_parquet_sink_pruned_falls_back_on_schema_evolution(spark, tmp_path):
    """A batch introducing a new column can't hard-link old partition
    files (they lack the column); the sink must fall back to the full
    merge and surface the evolved schema across the whole table."""
    sink = ParquetSink(spark, str(tmp_path), partition_cols=("ts_date",))
    sink.apply_changeset(
        "d", "t", pchdf(spark, [("1", 100, 0, "insert", '{"v":1}', "2021-01-01"),
                                 ("2", 100, 1, "insert", '{"v":2}', "2021-01-02")])
    )
    evolved = spark.createDataFrame(
        [("1", 200, 2, "update", '{"v":9}', "2021-01-01", "extra")],
        "key string, ts_ms long, offset long, op string, payload string, "
        "ts_date string, note string",
    )
    sink.apply_changeset("d", "t", evolved)
    df = sink.read_table(spark, "d", "t")
    assert "note" in df.columns
    rows = {r.key: r for r in df.collect()}
    assert rows["1"].note == "extra"
    assert rows["2"].note is None  # untouched row got a typed null


def test_expire_tombstones_pruned(spark, tmp_path):
    """Tombstone compaction rewrites only partitions holding expirable
    tombstones; a horizon that expires nothing doesn't even cut a new
    version."""
    sink = ParquetSink(spark, str(tmp_path), partition_cols=("ts_date",))
    sink.apply_changeset(
        "d",
        "t",
        pchdf(
            spark,
            [
                ("1", 100, 0, "insert", '{"v":1}', "2021-01-01"),
                ("2", 100, 1, "delete", None, "2021-01-02"),
                ("3", 500, 2, "insert", '{"v":3}', "2021-01-03"),
            ],
        ),
    )
    tdir = tmp_path / "d" / "t"
    # horizon below every tombstone: no-op, still v1
    sink.expire_tombstones("d", "t", before_ts_ms=50)
    assert (tdir / "_LATEST").read_text() == "1"
    # horizon past the delete: only 2021-01-02 rewritten, others linked
    sink.expire_tombstones("d", "t", before_ts_ms=200)
    assert (tdir / "_LATEST").read_text() == "2"
    f1 = sorted((tdir / "v1" / "ts_date=2021-01-01").glob("*.parquet"))[0]
    f2 = tdir / "v2" / "ts_date=2021-01-01" / f1.name
    assert f2.exists() and f2.stat().st_ino == f1.stat().st_ino
    assert not (tdir / "v2" / "ts_date=2021-01-02").exists()  # emptied out
    rows = sink.read_table(spark, "d", "t", include_tombstones=True).collect()
    assert {r.key for r in rows} == {"1", "3"}  # tombstone gone


def test_sink_bloom_index_lookup(spark, tmp_path):
    """bloom_index_cols builds a per-file index at every commit;
    lookup_files serves point lookups on a secondary key with no
    false negatives, and the index follows the snapshot version."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    sink = ParquetSink(
        spark, str(tmp_path / "b"), keys=("k",), bloom_index_cols=("aux",)
    )

    def ch(rows, ts):
        return spark.createDataFrame(
            rows, "k long, aux long, op string"
        ).select(
            "k", "aux", "op",
            F.lit(ts).cast("long").alias("ts_ms"),
            F.col("k").alias("offset"),
        )

    rows = [(i, 1000 + i, "insert") for i in range(200)]
    sink.apply_changeset("db", "t", ch(rows, 1))
    files = sink.lookup_files("db", "t", "aux", 1042)
    assert files
    got = (
        spark.read.parquet(*files).where(F.col("aux") == 1042).collect()
    )
    assert [r["k"] for r in got] == [42]
    # absent value: usually no files (fp-rate bounded)
    assert len(sink.lookup_files("db", "t", "aux", 99999)) <= 1

    # second commit: index tracks the new version
    sink.apply_changeset("db", "t", ch([(42, 7777, "insert")], 2))
    files2 = sink.lookup_files("db", "t", "aux", 7777)
    got2 = spark.read.parquet(*files2).where(F.col("aux") == 7777).collect()
    assert [r["k"] for r in got2] == [42]

    import pytest

    with pytest.raises(ValueError, match="no bloom index"):
        sink.lookup_files("db", "t", "k", 1)


def test_sink_bloom_with_partitions_keeps_pruned_path(spark, tmp_path, monkeypatch):
    """ADVICE r6 medium: bloom_index_cols + partition_cols must not
    disable the partition-pruned merge (the _BLOOM_<col> dir inside a
    snapshot used to make _partition_dirs bail to full rewrites), and
    a pruned commit must maintain the index INCREMENTALLY — scanning
    only the rewritten partitions, carrying hard-linked files' index
    rows forward with a path rewrite."""
    import os

    from pyspark.sql import functions as F

    import cdc_redshift_spark.operators.layout as layout_mod
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    root = str(tmp_path / "bp")
    sink = ParquetSink(
        spark,
        root,
        keys=("k",),
        partition_cols=("p",),
        bloom_index_cols=("aux",),
    )

    def ch(rows, ts):
        return spark.createDataFrame(
            rows, "k long, p string, aux long, op string"
        ).select(
            "k", "p", "aux", "op",
            F.lit(ts).cast("long").alias("ts_ms"),
            F.col("k").alias("offset"),
        )

    rows = [(i, f"p{i % 4}", 1000 + i, "insert") for i in range(200)]
    sink.apply_changeset("db", "t", ch(rows, 1))

    scanned: list = []
    real = layout_mod.bloom_file_index

    def spy(spark_, path, key_col, **kw):
        scanned.append(path)
        return real(spark_, path, key_col, **kw)

    monkeypatch.setattr(layout_mod, "bloom_file_index", spy)

    # second commit touches ONLY partition p1 (key 41 lives there)
    sink.apply_changeset("db", "t", ch([(41, "p1", 7777, "update")], 2))

    # pruned path engaged: untouched partitions are hard links of v1
    tdir = os.path.join(root, "db", "t")
    for p in ("p=p0", "p=p2", "p=p3"):
        f1 = sorted(
            f for f in os.listdir(os.path.join(tdir, "v1", p))
            if f.endswith(".parquet")
        )
        f2 = sorted(
            f for f in os.listdir(os.path.join(tdir, "v2", p))
            if f.endswith(".parquet")
        )
        assert f2 and f1 == f2
        for f in f2:
            assert os.path.samefile(
                os.path.join(tdir, "v1", p, f), os.path.join(tdir, "v2", p, f)
            ), f"{p}/{f} was rewritten, not hard-linked — pruned path lost"

    # index maintenance scanned ONLY the touched partition
    assert len(scanned) == 1 and isinstance(scanned[0], list)
    assert [os.path.basename(x) for x in scanned[0]] == ["p=p1"]
    assert "/v2/" in scanned[0][0]

    # carried rows (path-rewritten) still serve untouched-partition keys
    files = sink.lookup_files("db", "t", "aux", 1042)  # key 42, p=p2
    assert files and all("/v2/" in f for f in files)
    got = spark.read.parquet(*files).where(F.col("aux") == 1042).collect()
    assert [r["k"] for r in got] == [42]
    # fresh rows serve the rewritten partition
    files2 = sink.lookup_files("db", "t", "aux", 7777)
    got2 = spark.read.parquet(*files2).where(F.col("aux") == 7777).collect()
    assert [r["k"] for r in got2] == [41]


def test_sink_time_travel_pins_per_version_schema(spark, tmp_path):
    """ADVICE r6 low: read_table(version=) must reproduce the schema
    AS OF that version — a column added later must not appear as NULL
    in historical reads, and table_changes narrows to common columns."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    sink = ParquetSink(spark, str(tmp_path / "tt"), keys=("k",))
    v1 = spark.createDataFrame(
        [(1, "a", "insert", 1, 1)], "k long, val string, op string, ts_ms long, offset long"
    )
    sink.overwrite("db", "t", v1)
    v2 = spark.createDataFrame(
        [(1, "a", "x", "insert", 2, 2)],
        "k long, val string, extra string, op string, ts_ms long, offset long",
    )
    sink.overwrite("db", "t", v2)

    old = sink.read_table(spark, "db", "t", version=1)
    assert "extra" not in old.columns, "v1 read leaked the v2 schema"
    assert set(old.columns) == {"k", "val", "op", "ts_ms", "offset"}
    cur = sink.read_table(spark, "db", "t")
    assert "extra" in cur.columns
    # change feed narrows to the common columns instead of erroring
    feed = sink.table_changes(spark, "db", "t", from_version=1).collect()
    assert feed == []  # val unchanged; extra not comparable across versions


def test_expire_tombstones_keeps_bloom_and_pruned_path(spark, tmp_path):
    """Tombstone expiry runs through the same pruned-commit path; with
    bloom_index_cols configured the index must follow the new version
    and keep serving lookups for surviving rows."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    sink = ParquetSink(
        spark,
        str(tmp_path / "ex"),
        keys=("k",),
        partition_cols=("p",),
        bloom_index_cols=("aux",),
    )

    def ch(rows, ts):
        return spark.createDataFrame(
            rows, "k long, p string, aux long, op string"
        ).select(
            "k", "p", "aux", "op",
            F.lit(ts).cast("long").alias("ts_ms"),
            F.col("k").alias("offset"),
        )

    rows = [(i, f"p{i % 3}", 1000 + i, "insert") for i in range(60)]
    rows += [(100 + i, f"p{i % 3}", 2000 + i, "delete") for i in range(6)]
    sink.apply_changeset("db", "t", ch(rows, 1))
    sink.expire_tombstones("db", "t", before_ts_ms=10)
    cur = sink.read_table(spark, "db", "t", include_tombstones=True)
    assert cur.where(F.col("op") == "delete").count() == 0
    files = sink.lookup_files("db", "t", "aux", 1042)
    assert files and all(
        f"/v{sink._latest_version('db', 't')}/" in f for f in files
    )
    got = spark.read.parquet(*files).where(F.col("aux") == 1042).collect()
    assert [r["k"] for r in got] == [42]


def test_repartition_table_guards_and_layout(spark, tmp_path):
    """Partition-spec evolution: missing table/column raise; evolving
    to a column produces the hive layout and adopts the new spec for
    subsequent merges; the empty list reverts to unpartitioned."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    sink = ParquetSink(spark, str(tmp_path / "rp"), keys=("k",))
    with pytest.raises(ValueError, match="does not exist"):
        sink.repartition_table("db", "t", ["p"])
    df = spark.createDataFrame(
        [(1, "a", "insert", 1, 1), (2, "b", "insert", 1, 2)],
        "k long, p string, op string, ts_ms long, offset long",
    )
    sink.apply_changeset("db", "t", df)
    with pytest.raises(ValueError, match="not in"):
        sink.repartition_table("db", "t", ["nope"])
    sink.repartition_table("db", "t", ["p"])
    v = sink._latest_version("db", "t")
    vdir = os.path.join(str(tmp_path / "rp"), "db", "t", f"v{v}")
    assert sorted(
        d for d in os.listdir(vdir) if d.startswith("p=")
    ) == ["p=a", "p=b"]
    assert sink.partition_cols == ["p"]
    # content identical across the evolution
    got = {(r.k, r.p) for r in sink.read_table(spark, "db", "t").collect()}
    assert got == {(1, "a"), (2, "b")}
    # revert to unpartitioned
    sink.repartition_table("db", "t", [])
    v2 = sink._latest_version("db", "t")
    vdir2 = os.path.join(str(tmp_path / "rp"), "db", "t", f"v{v2}")
    assert not any(d.startswith("p=") for d in os.listdir(vdir2))
    assert sink.partition_cols == []


def _dv_ch(spark, rows, ts):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        rows, "k long, val string, op string"
    ).select(
        "k", "val", "op",
        F.lit(ts).cast("long").alias("ts_ms"),
        F.col("k").alias("offset"),
    )


def test_dv_merge_matches_rewrite_and_never_rewrites_files(spark, tmp_path):
    """merge_mode='dv': state equals the rewrite merge after identical
    changesets, while every prior data file hard-links forward
    untouched and only the batch winners are appended."""
    import os

    from pyspark.sql import functions as F

    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    dv = ParquetSink(spark, str(tmp_path / "dv"), keys=("k",), merge_mode="dv")
    rw = ParquetSink(spark, str(tmp_path / "rw"), keys=("k",))

    base = [(i, f"v{i}", "insert") for i in range(100)]
    batches = [
        (_dv_ch(spark, base, 1)),
        (_dv_ch(spark, [(5, "upd5", "update"), (7, "gone", "delete"),
                        (200, "new200", "insert")], 2)),
        (_dv_ch(spark, [(5, "upd5b", "update"), (201, "new201", "insert")], 3)),
    ]
    for ch in batches:
        dv.apply_changeset("db", "t", ch)
        rw.apply_changeset("db", "t", ch)

    a = {r.k: r.val for r in dv.read_table(spark, "db", "t").collect()}
    b = {r.k: r.val for r in rw.read_table(spark, "db", "t").collect()}
    assert a == b and a[5] == "upd5b" and 7 not in a and a[201] == "new201"

    # v1's data files are byte-identical hard links in v3
    tdir = os.path.join(str(tmp_path / "dv"), "db", "t")
    v1_files = [f for f in os.listdir(os.path.join(tdir, "v1"))
                if f.endswith(".parquet")]
    assert v1_files
    for f in v1_files:
        assert os.path.samefile(
            os.path.join(tdir, "v1", f), os.path.join(tdir, "v3", f)
        ), "DV merge rewrote an existing data file"
    # DV sidecar masks exactly the superseded rows: k=5 (twice),
    # k=7 (once) = 3 masked row slots by v3
    dvrows = spark.read.parquet(os.path.join(tdir, "v3", "_DV")).count()
    assert dvrows == 3

    # time travel applies each version's own DV
    v2 = {r.k: r.val
          for r in dv.read_table(spark, "db", "t", version=2).collect()}
    assert v2[5] == "upd5" and 7 not in v2 and 201 not in v2


def test_dv_merge_late_older_change_is_noop_and_replay_idempotent(
    spark, tmp_path
):
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    sink = ParquetSink(
        spark, str(tmp_path / "dvl"), keys=("k",), merge_mode="dv"
    )
    sink.apply_changeset("db", "t", _dv_ch(spark, [(1, "new", "insert")], 10))
    # LATE, OLDER change: must not mask the newer stored row
    sink.apply_changeset("db", "t", _dv_ch(spark, [(1, "old", "update")], 5))
    got = {r.k: r.val for r in sink.read_table(spark, "db", "t").collect()}
    assert got == {1: "new"}
    # replaying an identical changeset: equal (ts, offset) never beats
    # itself -> no new masks, no duplicate rows
    sink.apply_changeset("db", "t", _dv_ch(spark, [(1, "new", "insert")], 10))
    out = sink.read_table(spark, "db", "t").collect()
    assert len(out) == 1 and out[0].val == "new"


def test_dv_compact_folds_vectors_and_preserves_state(spark, tmp_path):
    import os

    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    sink = ParquetSink(
        spark, str(tmp_path / "dvc"), keys=("k",), merge_mode="dv"
    )
    sink.apply_changeset(
        "db", "t", _dv_ch(spark, [(i, f"v{i}", "insert") for i in range(50)], 1)
    )
    sink.apply_changeset(
        "db", "t", _dv_ch(spark, [(3, "u3", "update"), (4, None, "delete")], 2)
    )
    before = {r.k: r.val for r in sink.read_table(spark, "db", "t").collect()}
    assert sink.dv_masked_fraction("db", "t") > 0
    sink.compact("db", "t")
    assert sink.dv_masked_fraction("db", "t") == 0.0
    tdir = os.path.join(str(tmp_path / "dvc"), "db", "t")
    v = sink._latest_version("db", "t")
    assert not os.path.isdir(os.path.join(tdir, f"v{v}", "_DV"))
    after = {r.k: r.val for r in sink.read_table(spark, "db", "t").collect()}
    assert after == before and after[3] == "u3" and 4 not in after
    # tombstone survives compaction (late-event guard)
    withts = sink.read_table(spark, "db", "t", include_tombstones=True)
    assert withts.where("k = 4").count() == 1


def test_dv_merge_with_partition_cols(spark, tmp_path):
    """DV mode composes with a partitioned layout: appends land inside
    the existing partition dirs next to the hard-linked files, and the
    read-time mask stays correct per partition."""
    import os

    from pyspark.sql import functions as F

    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    sink = ParquetSink(
        spark, str(tmp_path / "dvp"), keys=("k",),
        partition_cols=("p",), merge_mode="dv",
    )

    def ch(rows, ts):
        return spark.createDataFrame(
            rows, "k long, p string, val string, op string"
        ).select(
            "k", "p", "val", "op",
            F.lit(ts).cast("long").alias("ts_ms"),
            F.col("k").alias("offset"),
        )

    sink.apply_changeset(
        "db", "t",
        ch([(i, f"p{i % 3}", f"v{i}", "insert") for i in range(60)], 1),
    )
    sink.apply_changeset(
        "db", "t", ch([(4, "p1", "u4", "update"), (5, "p2", None, "delete")], 2)
    )
    got = {r.k: r.val for r in sink.read_table(spark, "db", "t").collect()}
    assert got[4] == "u4" and 5 not in got and len(got) == 59
    # the untouched partition p0's v1 files are hard links in v2
    tdir = os.path.join(str(tmp_path / "dvp"), "db", "t")
    p0 = [f for f in os.listdir(os.path.join(tdir, "v1", "p=p0"))
          if f.endswith(".parquet")]
    assert p0
    for f in p0:
        assert os.path.samefile(
            os.path.join(tdir, "v1", "p=p0", f),
            os.path.join(tdir, "v2", "p=p0", f),
        )


def test_dv_expire_tombstones_carries_sidecar_on_pruned_commit(
    spark, tmp_path
):
    """Review finding (confirmed bug): expire_tombstones' PRUNED
    commit hard-links untouched partitions forward — their DV-masked
    rows travel with them, so the sidecar must too, or every masked
    row resurrects."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    sink = ParquetSink(
        spark, str(tmp_path / "dvexp"), keys=("k",),
        partition_cols=("p",), merge_mode="dv",
    )

    def ch(rows, ts):
        return spark.createDataFrame(
            rows, "k long, p string, val string, op string"
        ).select(
            "k", "p", "val", "op",
            F.lit(ts).cast("long").alias("ts_ms"),
            F.col("k").alias("offset"),
        )

    sink.apply_changeset(
        "db", "t", ch([(1, "p0", "a", "insert"), (2, "p1", "b", "insert")], 1)
    )
    # DV-commit: update k=1 (mask in p0), delete k=2 (tombstone in p1)
    sink.apply_changeset(
        "db", "t", ch([(1, "p0", "a2", "update"), (2, "p1", None, "delete")], 50)
    )
    # expire the k=2 tombstone: rewrites p1, hard-links p0 forward
    sink.expire_tombstones("db", "t", before_ts_ms=100)
    rows = sink.read_table(spark, "db", "t").collect()
    got = sorted((r.k, r.val) for r in rows)
    assert got == [(1, "a2")], f"masked row resurrected: {got}"


def test_dv_commit_retries_after_partial_failure(spark, tmp_path, monkeypatch):
    """Review finding (confirmed bug): a DV commit that dies between
    the snapshot link and the pointer flip must be retryable — the
    partial v+1 dir is cleared, not collided with."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    sink = ParquetSink(
        spark, str(tmp_path / "dvretry"), keys=("k",), merge_mode="dv"
    )

    def ch(rows, ts):
        return spark.createDataFrame(rows, "k long, val string, op string").select(
            "k", "val", "op",
            F.lit(ts).cast("long").alias("ts_ms"),
            F.col("k").alias("offset"),
        )

    sink.apply_changeset("db", "t", ch([(1, "a", "insert")], 1))
    # crash the first DV attempt AFTER the link, BEFORE the flip
    real_flip = sink._flip
    calls = {"n": 0}

    def dying_flip(db, table, v):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash before pointer flip")
        real_flip(db, table, v)

    monkeypatch.setattr(sink, "_flip", dying_flip)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        sink.apply_changeset("db", "t", ch([(1, "a2", "update")], 2))
    assert sink._latest_version("db", "t") == 1  # pointer untouched
    # retry must succeed (partial v2 cleared) and converge
    sink.apply_changeset("db", "t", ch([(1, "a2", "update")], 2))
    rows = sink.read_table(spark, "db", "t").collect()
    assert len(rows) == 1 and rows[0].val == "a2"


# -- metadata-only column rename (column mapping) ------------------------


def test_rename_column_zero_rewrite_and_read(spark, tmp_path):
    """Rename commits a new version whose data files are hard-links of
    the old one (zero data bytes rewritten); reads serve the new
    logical name with identical values; time travel serves the old."""
    sink = ParquetSink(spark, str(tmp_path))
    sink.apply_changeset(
        "d", "t", chdf(spark, [("1", 100, 0, "insert", "p1"), ("2", 100, 1, "insert", "p2")])
    )
    v1_files = sink._data_files(str(tmp_path / "d" / "t" / "v1"))
    sink.rename_column("d", "t", "payload", "body")
    v2_files = sink._data_files(str(tmp_path / "d" / "t" / "v2"))
    # every v2 data file is a hard link of a v1 file
    v1_inodes = {os.stat(f).st_ino for f in v1_files}
    assert {os.stat(f).st_ino for f in v2_files} == v1_inodes

    cur = sink.read_table(spark, "d", "t")
    assert "body" in cur.columns and "payload" not in cur.columns
    assert {r.key: r.body for r in cur.collect()} == {"1": "p1", "2": "p2"}
    # time travel: pre-rename version keeps its name
    old = sink.read_table(spark, "d", "t", version=1)
    assert "payload" in old.columns and "body" not in old.columns


def test_rename_column_then_merge_keeps_one_physical_name(spark, tmp_path):
    """Writes after a rename translate logical->physical, so files
    written before and after the rename stay mutually readable."""
    sink = ParquetSink(spark, str(tmp_path))
    sink.apply_changeset("d", "t", chdf(spark, [("1", 100, 0, "insert", "p1")]))
    sink.rename_column("d", "t", "payload", "body")
    post = spark.createDataFrame(
        [("1", 200, 1, "update", "p1b"), ("3", 200, 2, "insert", "p3")],
        "key string, ts_ms long, offset long, op string, body string",
    )
    sink.apply_changeset("d", "t", post)
    rows = {r.key: r.body for r in sink.read_table(spark, "d", "t").collect()}
    assert rows == {"1": "p1b", "3": "p3"}
    # physical parquet name stays the ORIGINAL in the new files too
    import pyarrow.parquet as pq

    v = sink._latest_version("d", "t")
    for f in sink._data_files(str(tmp_path / "d" / "t" / f"v{v}")):
        names = set(pq.read_schema(f).names)
        assert "payload" in names and "body" not in names


def test_rename_column_dv_mode(spark, tmp_path):
    """Rename composed with deletion-vector merges: the DV sidecar
    carries across the rename commit and post-rename DV commits mask
    correctly under the logical name."""
    sink = ParquetSink(spark, str(tmp_path), merge_mode="dv")
    sink.apply_changeset(
        "d", "t", chdf(spark, [("1", 100, 0, "insert", "a"), ("2", 100, 1, "insert", "b")])
    )
    sink.apply_changeset("d", "t", chdf(spark, [("1", 200, 2, "update", "a2")]))
    sink.rename_column("d", "t", "payload", "body")
    rows = {r.key: r.body for r in sink.read_table(spark, "d", "t").collect()}
    assert rows == {"1": "a2", "2": "b"}
    post = spark.createDataFrame(
        [("2", 300, 3, "update", "b2")],
        "key string, ts_ms long, offset long, op string, body string",
    )
    sink.apply_changeset("d", "t", post)
    rows = {r.key: r.body for r in sink.read_table(spark, "d", "t").collect()}
    assert rows == {"1": "a2", "2": "b2"}


def test_rename_column_validation(spark, tmp_path):
    import pytest

    sink = ParquetSink(spark, str(tmp_path))
    with pytest.raises(ValueError):
        sink.rename_column("d", "missing", "a", "b")
    sink.apply_changeset("d", "t", chdf(spark, [("1", 100, 0, "insert", "p")]))
    with pytest.raises(ValueError):
        sink.rename_column("d", "t", "nope", "x")
    with pytest.raises(ValueError):
        sink.rename_column("d", "t", "payload", "op")  # collision
    with pytest.raises(ValueError):
        sink.rename_column("d", "t", "key", "k2")  # merge key protected


def test_rename_column_twice_chains_mapping(spark, tmp_path):
    """payload -> body -> content: physical stays 'payload' throughout."""
    sink = ParquetSink(spark, str(tmp_path))
    sink.apply_changeset("d", "t", chdf(spark, [("1", 100, 0, "insert", "p")]))
    sink.rename_column("d", "t", "payload", "body")
    sink.rename_column("d", "t", "body", "content")
    cur = sink.read_table(spark, "d", "t")
    assert {r.key: r.content for r in cur.collect()} == {"1": "p"}
    assert sink._mapping("d", "t") == {"content": "payload"}


# -- CHECK constraints ----------------------------------------------------


def test_sink_constraints_reject_and_commit(spark, tmp_path):
    from cdc_redshift_spark.sinks.parquet_sink import ConstraintViolation

    sink = ParquetSink(
        spark,
        str(tmp_path),
        constraints={
            "payload_not_null": "payload IS NOT NULL",
            "ts_positive": "ts_ms > 0",
        },
    )
    sink.apply_changeset("d", "t", chdf(spark, [("1", 100, 0, "insert", "p")]))
    # violating batch: raises, table untouched (same version, same rows)
    import pytest

    with pytest.raises(ConstraintViolation, match="payload_not_null"):
        sink.apply_changeset(
            "d", "t", chdf(spark, [("2", 200, 1, "insert", None)])
        )
    assert sink._latest_version("d", "t") == 1
    assert sink.read_table(spark, "d", "t").count() == 1
    # delete tombstones are exempt (their payload is null by design)
    sink.apply_changeset(
        "d", "t", chdf(spark, [("1", 300, 2, "delete", None)])
    )
    assert sink.read_table(spark, "d", "t").count() == 0
    # null EXPR result is a pass (SQL/Delta CHECK semantics): ts > 0
    # with null ts is not FALSE
    sink2 = ParquetSink(
        spark, str(tmp_path / "s2"), constraints={"ts_positive": "ts_ms > 0"}
    )
    rows = spark.createDataFrame(
        [("1", None, 0, "insert", "p")],
        "key string, ts_ms long, offset long, op string, payload string",
    )
    sink2.apply_changeset("d", "t", rows)
    assert sink2.read_table(spark, "d", "t").count() == 1


# -- OPTIMIZE (bin-packing compaction) ------------------------------------


def test_optimize_partitioned_packs_only_fragmented(spark, tmp_path):
    sink = ParquetSink(spark, str(tmp_path), partition_cols=("ts_date",))
    rows = [
        (str(i), 100, i, "insert", f"p{i}", f"2024-01-0{1 + i % 2}")
        for i in range(40)
    ]
    # fragment: force many files per partition dir (explicit
    # repartition counts survive AQE; the merge agg would coalesce)
    sink.overwrite("d", "t", pchdf(spark, rows).repartition(8))
    src = str(tmp_path / "d" / "t" / "v1")
    before = {
        name: len(sink._data_files(src + "/" + name))
        for name in ("ts_date=2024-01-01", "ts_date=2024-01-02")
    }
    assert all(n > 1 for n in before.values())

    rep = sink.optimize("d", "t")  # huge target: 1 file per partition
    assert rep["version"] == 2
    assert sorted(rep["rewritten"]) == ["2024-01-01", "2024-01-02"]
    assert rep["files_after"] == 2 < rep["files_before"]
    # content identical
    got = {r.key: r.payload for r in sink.read_table(spark, "d", "t").collect()}
    assert got == {str(i): f"p{i}" for i in range(40)}
    # second optimize is a NO-OP: no new version
    rep2 = sink.optimize("d", "t")
    assert rep2["version"] == 2 and rep2["rewritten"] == []


def test_optimize_links_well_packed_partitions(spark, tmp_path):
    sink = ParquetSink(spark, str(tmp_path), partition_cols=("ts_date",))
    packed = [(str(i), 100, i, "insert", "x", "2024-02-01") for i in range(5)]
    frag = [(str(100 + i), 200, 100 + i, "insert", "y", "2024-02-02") for i in range(8)]
    # union keeps child task layouts: 1 task holds all packed rows,
    # 8 tasks spread the fragmented partition
    sink.overwrite(
        "d",
        "t",
        pchdf(spark, packed).coalesce(1).unionByName(
            pchdf(spark, frag).repartition(8)
        ),
    )
    v = sink._latest_version("d", "t")
    packed_files = sink._data_files(
        str(tmp_path / "d" / "t" / f"v{v}" / "ts_date=2024-02-01")
    )
    rep = sink.optimize("d", "t")
    assert rep["rewritten"] == ["2024-02-02"]
    after = sink._data_files(
        str(tmp_path / "d" / "t" / f"v{rep['version']}" / "ts_date=2024-02-01")
    )
    # untouched partition: same inodes, hard-linked forward
    assert {os.stat(f).st_ino for f in after} == {
        os.stat(f).st_ino for f in packed_files
    }
    assert sink.read_table(spark, "d", "t").count() == 13


def test_optimize_unpartitioned_and_dv(spark, tmp_path):
    """Unpartitioned DV table: optimize packs files AND applies the
    deletion vectors (masked rows stay dead, sidecar dropped)."""
    sink = ParquetSink(spark, str(tmp_path), merge_mode="dv")
    sink.apply_changeset(
        "d", "t",
        chdf(spark, [(str(i), 100, i, "insert", "a") for i in range(20)]).repartition(6),
    )
    sink.apply_changeset(
        "d", "t", chdf(spark, [("3", 200, 100, "update", "b"), ("4", 200, 101, "delete", None)])
    )
    assert os.path.isdir(str(tmp_path / "d" / "t" / "v2" / "_DV"))
    rep = sink.optimize("d", "t")
    assert rep["files_after"] == 1
    rows = {r.key: r.payload for r in sink.read_table(spark, "d", "t").collect()}
    assert rows["3"] == "b" and "4" not in rows and len(rows) == 19
    # DVs folded away by the rewrite
    assert not os.path.isdir(
        str(tmp_path / "d" / "t" / f"v{rep['version']}" / "_DV")
    )


# -- generated columns ----------------------------------------------------


def test_generated_partition_column(spark, tmp_path):
    """Changesets need not carry the derived partition column: it is
    computed, partitions route correctly, and the pruned merge still
    engages on later batches."""
    from cdc_redshift_spark.sinks.parquet_sink import ConstraintViolation

    sink = ParquetSink(
        spark,
        str(tmp_path),
        partition_cols=("ts_date",),
        generated_cols={
            "ts_date": "CAST(to_date(timestamp_millis(ts_ms)) AS STRING)"
        },
    )
    day = 86_400_000
    sink.apply_changeset(
        "d", "t",
        chdf(spark, [("1", 1 * day, 0, "insert", "a"), ("2", 2 * day, 1, "insert", "b")]),
    )
    dirs = {
        e for e in os.listdir(str(tmp_path / "d" / "t" / "v1"))
        if e.startswith("ts_date=")
    }
    assert dirs == {"ts_date=1970-01-02", "ts_date=1970-01-03"}
    # second batch without the column: pruned path (one partition touched)
    sink.apply_changeset("d", "t", chdf(spark, [("1", 1 * day + 5, 2, "update", "a2")]))
    v2 = str(tmp_path / "d" / "t" / "v2")
    # untouched partition hard-linked
    f1 = sink._data_files(str(tmp_path / "d" / "t" / "v1" / "ts_date=1970-01-03"))
    f2 = sink._data_files(os.path.join(v2, "ts_date=1970-01-03"))
    assert {os.stat(f).st_ino for f in f2} == {os.stat(f).st_ino for f in f1}
    rows = {r.key: (r.payload, r.ts_date) for r in sink.read_table(spark, "d", "t").collect()}
    assert rows == {"1": ("a2", "1970-01-02"), "2": ("b", "1970-01-03")}

    # explicit WRONG value for a generated column raises
    import pytest

    bad = spark.createDataFrame(
        [("3", 3 * day, 3, "insert", "c", "2099-01-01")],
        "key string, ts_ms long, offset long, op string, payload string, ts_date string",
    )
    with pytest.raises(ConstraintViolation, match="generated"):
        sink.apply_changeset("d", "t", bad)
    # explicit CORRECT value passes
    ok = spark.createDataFrame(
        [("3", 3 * day, 3, "insert", "c", "1970-01-04")],
        "key string, ts_ms long, offset long, op string, payload string, ts_date string",
    )
    sink.apply_changeset("d", "t", ok)
    assert sink.read_table(spark, "d", "t").count() == 3


# -- multi-table crash-atomic transactions --------------------------------


def test_transaction_all_or_nothing(spark, tmp_path):
    sink = ParquetSink(spark, str(tmp_path))
    sink.apply_changeset("d", "a", chdf(spark, [("1", 100, 0, "insert", "a1")]))
    sink.apply_changeset("d", "b", chdf(spark, [("1", 100, 0, "insert", "b1")]))
    with sink.transaction():
        sink.apply_changeset("d", "a", chdf(spark, [("1", 200, 1, "update", "a2")]))
        # mid-transaction: nothing published yet
        assert {r.payload for r in sink.read_table(spark, "d", "a").collect()} == {"a1"}
        sink.apply_changeset("d", "b", chdf(spark, [("1", 200, 1, "update", "b2")]))
    # both visible after commit
    assert {r.payload for r in sink.read_table(spark, "d", "a").collect()} == {"a2"}
    assert {r.payload for r in sink.read_table(spark, "d", "b").collect()} == {"b2"}
    assert not os.path.exists(str(tmp_path / "_TXN_PENDING"))


def test_transaction_abort_publishes_nothing(spark, tmp_path):
    import pytest

    sink = ParquetSink(spark, str(tmp_path))
    sink.apply_changeset("d", "a", chdf(spark, [("1", 100, 0, "insert", "a1")]))
    sink.apply_changeset("d", "b", chdf(spark, [("1", 100, 0, "insert", "b1")]))
    with pytest.raises(RuntimeError, match="boom"):
        with sink.transaction():
            sink.apply_changeset("d", "a", chdf(spark, [("1", 200, 1, "update", "a2")]))
            raise RuntimeError("boom")
    assert {r.payload for r in sink.read_table(spark, "d", "a").collect()} == {"a1"}
    assert {r.payload for r in sink.read_table(spark, "d", "b").collect()} == {"b1"}
    # the orphaned v2 dir is retry-garbage; the next (non-txn) apply
    # overwrites it and lands normally
    sink.apply_changeset("d", "a", chdf(spark, [("1", 300, 2, "update", "a3")]))
    assert {r.payload for r in sink.read_table(spark, "d", "a").collect()} == {"a3"}


def test_transaction_same_table_twice_raises(spark, tmp_path):
    import pytest

    sink = ParquetSink(spark, str(tmp_path))
    sink.apply_changeset("d", "a", chdf(spark, [("1", 100, 0, "insert", "a1")]))
    with pytest.raises(RuntimeError, match="at most once"):
        with sink.transaction():
            sink.apply_changeset("d", "a", chdf(spark, [("1", 200, 1, "update", "x")]))
            sink.apply_changeset("d", "a", chdf(spark, [("1", 300, 2, "update", "y")]))
    # nothing published
    assert {r.payload for r in sink.read_table(spark, "d", "a").collect()} == {"a1"}


def test_pipeline_batch_is_atomic_by_default(spark, tmp_path, monkeypatch):
    """A default CdcPipeline on a ParquetSink publishes each
    micro-batch's tables together or not at all: when the second
    table's apply raises, neither table's _LATEST moves and no
    _TXN_PENDING is left; replaying the same batch id publishes both.
    A sink without transaction() still gets plain per-table applies."""
    import pytest

    from cdc_redshift_spark.sinks.base import Sink
    from cdc_redshift_spark.streaming.pipeline import CdcPipeline

    schema = (
        "db string, table string, key string, ts_ms long, offset long, "
        "op string, payload string"
    )

    def batch(ts, a, b):
        return spark.createDataFrame(
            [
                ("d", "t1", "1", ts, ts, "insert", a),
                ("d", "t2", "1", ts, ts + 1, "insert", b),
            ],
            schema,
        )

    def payloads():
        return {
            t: {r.payload for r in sink.read_table(spark, "d", t).collect()}
            for t in ("t1", "t2")
        }

    sink = ParquetSink(spark, str(tmp_path))
    pipe = CdcPipeline(changeset_fn=lambda df: df, sink=sink)
    pipe.process_batch(batch(100, "a", "b"), 0)
    assert payloads() == {"t1": {"a"}, "t2": {"b"}}
    versions = {t: sink._latest_version("d", t) for t in ("t1", "t2")}

    apply = sink.apply_changeset

    def crash_on_t2(db, table, changes):
        if table == "t2":
            raise RuntimeError("crash mid-batch")
        apply(db, table, changes)

    monkeypatch.setattr(sink, "apply_changeset", crash_on_t2)
    with pytest.raises(RuntimeError, match="crash mid-batch"):
        pipe.process_batch(batch(200, "a2", "b2"), 1)
    assert {t: sink._latest_version("d", t) for t in ("t1", "t2")} == versions
    assert payloads() == {"t1": {"a"}, "t2": {"b"}}
    assert not os.path.exists(str(tmp_path / "_TXN_PENDING"))

    monkeypatch.setattr(sink, "apply_changeset", apply)
    pipe.process_batch(batch(200, "a2", "b2"), 1)  # the replay
    assert payloads() == {"t1": {"a2"}, "t2": {"b2"}}
    assert not os.path.exists(str(tmp_path / "_TXN_PENDING"))

    class PerTableSink(Sink):
        def __init__(self):
            self.applied = []

        def table_exists(self, db, table):
            return False

        def apply_changeset(self, db, table, changes):
            self.applied.append((db, table, changes.count()))

        def read_table(self, spark, db, table):
            return None

    plain = PerTableSink()
    CdcPipeline(changeset_fn=lambda df: df, sink=plain).process_batch(
        batch(100, "a", "b"), 0
    )
    assert sorted(plain.applied) == [("d", "t1", 1), ("d", "t2", 1)]


# -- row-level commit provenance ------------------------------------------


def test_commit_version_tracks_hard_links(spark, tmp_path):
    """Pruned merge: rows of untouched (hard-linked) partitions keep
    their ORIGINAL _commit_version; rewritten-partition rows carry the
    new one.  Time travel reads each version's own manifest."""
    sink = ParquetSink(spark, str(tmp_path), partition_cols=("ts_date",))
    sink.apply_changeset(
        "d", "t",
        pchdf(spark, [
            ("1", 100, 0, "insert", "a", "2024-01-01"),
            ("2", 100, 1, "insert", "b", "2024-01-02"),
        ]),
    )
    sink.apply_changeset(
        "d", "t", pchdf(spark, [("1", 200, 2, "update", "a2", "2024-01-01")])
    )
    rows = {
        r.key: r["_commit_version"]
        for r in sink.read_table(spark, "d", "t", with_commit_version=True).collect()
    }
    assert rows == {"1": 2, "2": 1}
    old = {
        r.key: r["_commit_version"]
        for r in sink.read_table(
            spark, "d", "t", version=1, with_commit_version=True
        ).collect()
    }
    assert old == {"1": 1, "2": 1}


def test_commit_version_dv_mode(spark, tmp_path):
    """DV commits: appended winners carry the new version; linked
    survivors keep theirs."""
    sink = ParquetSink(spark, str(tmp_path), merge_mode="dv")
    sink.apply_changeset(
        "d", "t", chdf(spark, [("1", 100, 0, "insert", "a"), ("2", 100, 1, "insert", "b")])
    )
    sink.apply_changeset("d", "t", chdf(spark, [("2", 200, 2, "update", "b2")]))
    rows = {
        r.key: r["_commit_version"]
        for r in sink.read_table(spark, "d", "t", with_commit_version=True).collect()
    }
    assert rows == {"1": 1, "2": 2}


def test_optimize_multi_column_layout_converges(spark, tmp_path):
    """Two partition columns (no pruned machinery): optimize must
    judge fragmentation per leaf dir, land ONE file per partition
    tuple (never k files in every dir), and no-op on the second call."""
    sink = ParquetSink(spark, str(tmp_path), partition_cols=("ts_date", "op"))
    rows = [
        (str(i), 100, i, "insert" if i % 2 else "update", "p", f"2024-03-0{1 + (i // 2) % 2}")
        for i in range(40)
    ]
    sink.overwrite("d", "t", pchdf(spark, rows).repartition(8))
    n_dirs = 4  # 2 dates x 2 ops
    before = len(sink._data_files(str(tmp_path / "d" / "t" / "v1")))
    assert before > n_dirs
    rep = sink.optimize("d", "t")
    assert rep["files_after"] == n_dirs
    rep2 = sink.optimize("d", "t")
    assert rep2["rewritten"] == [] and rep2["version"] == rep["version"]
    assert sink.read_table(spark, "d", "t").count() == 40


def test_optimize_refuses_inside_transaction(spark, tmp_path):
    import pytest

    sink = ParquetSink(spark, str(tmp_path))
    sink.apply_changeset("d", "t", chdf(spark, [("1", 100, 0, "insert", "p")]))
    with pytest.raises(RuntimeError, match="transaction"):
        with sink.transaction():
            sink.optimize("d", "t")


def test_restore_semantics_dv(spark, tmp_path):
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    s = ParquetSink(spark, str(tmp_path / "r2"), keys=("k",), merge_mode="dv")
    s.apply_changeset(
        "db", "t", _dv_ch(spark, [(i, f"v{i}", "insert") for i in range(20)], 1)
    )
    s.apply_changeset(
        "db", "t",
        _dv_ch(spark, [(5, "upd5", "update"), (7, "gone", "delete")], 2),
    )
    # restore back to the pre-changeset state
    assert s.restore("db", "t", 1) == 3
    state = {r.k: r.val for r in s.read_table(spark, "db", "t").collect()}
    assert state[5] == "v5" and 7 in state and len(state) == 20
    # restore FORWARD to the masked state: the DV sidecar must carry,
    # keeping k=5's old row masked and k=7 deleted
    assert s.restore("db", "t", 2) == 4
    state = {r.k: r.val for r in s.read_table(spark, "db", "t").collect()}
    assert state[5] == "upd5" and 7 not in state and len(state) == 19
    # no-op + error paths
    assert s.restore("db", "t", 4) == 4
    assert s.versions("db", "t") == [1, 2, 3, 4]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no retained snapshot"):
        s.restore("db", "t", 99)
    with _pytest.raises(ValueError, match="does not exist"):
        s.restore("db", "nope", 1)


def test_clone_requires_fresh_target_and_carries_dv(spark, tmp_path):
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    s = ParquetSink(spark, str(tmp_path / "c"), keys=("k",), merge_mode="dv")
    s.apply_changeset(
        "db", "t", _dv_ch(spark, [(i, f"v{i}", "insert") for i in range(10)], 1)
    )
    s.apply_changeset(
        "db", "t", _dv_ch(spark, [(3, "upd3", "update")], 2)
    )
    s.clone_table("db", "t", "db", "t2")
    got = {r.k: r.val for r in s.read_table(spark, "db", "t2").collect()}
    assert got[3] == "upd3" and len(got) == 10  # DV mask carried
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        s.clone_table("db", "t", "db", "t2")
    with _pytest.raises(ValueError, match="does not exist"):
        s.clone_table("db", "missing", "db", "t3")


def test_add_drop_column_guards_and_time_travel(spark, tmp_path):
    from pyspark.sql import functions as F

    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    s = ParquetSink(
        spark, str(tmp_path / "evo"), keys=("k",),
        constraints={"pos": "val IS NULL OR length(val) > 0"},
    )
    s.apply_changeset(
        "db", "t", _dv_ch(spark, [(i, f"v{i}", "insert") for i in range(10)], 1)
    )
    import pytest as _pytest

    # machinery columns refused both ways
    with _pytest.raises(ValueError, match="cannot add"):
        s.add_column("db", "t", "k", "long")
    with _pytest.raises(ValueError, match="cannot drop"):
        s.drop_column("db", "t", "ts_ms")
    # constraint-referenced column refused
    with _pytest.raises(ValueError, match="referenced by CHECK"):
        s.drop_column("db", "t", "val")
    with _pytest.raises(ValueError, match="already has"):
        s.add_column("db", "t", "val", "string")
    with _pytest.raises(ValueError, match="has no column"):
        s.drop_column("db", "t", "nope")

    s.add_column("db", "t", "extra", "int")
    # time travel: v1 serves the pre-add schema, v2 the post-add one
    assert "extra" not in s.read_table(spark, "db", "t", version=1).columns
    assert "extra" in s.read_table(spark, "db", "t", version=2).columns
    # drop it again; v2 still serves it via per-version schema
    s.drop_column("db", "t", "extra")
    assert "extra" not in s.read_table(spark, "db", "t").columns
    assert "extra" in s.read_table(spark, "db", "t", version=2).columns
    # dropped-guard: a batch carrying it raises until re-added
    with _pytest.raises(ValueError, match="dropped column"):
        s.apply_changeset(
            "db", "t",
            _dv_ch(spark, [(1, "x", "update")], 5).withColumn(
                "extra", F.lit(7)
            ),
        )


def test_add_column_dv_mode_and_populate(spark, tmp_path):
    """DV-mode sink: add_column, then a populating batch — the read
    imposes the widened catalog schema, so batch and target dtypes
    MATCH and the DV fast path is taken (the appended file stores the
    physical name, linked files read NULL); the added column
    round-trips values."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    s = ParquetSink(spark, str(tmp_path / "evodv"), keys=("k",),
                    merge_mode="dv")
    s.apply_changeset(
        "db", "t", _dv_ch(spark, [(i, f"v{i}", "insert") for i in range(8)], 1)
    )
    s.add_column("db", "t", "score", "double")
    ch = _dv_ch(spark, [(3, "v3b", "update")], 2).withColumn(
        "score", F.lit(0.5)
    )
    s.apply_changeset("db", "t", ch)
    got = {r.k: (r.val, r.score) for r in
           s.read_table(spark, "db", "t").collect()}
    assert got[3] == ("v3b", 0.5) and got[2] == ("v2", None)
    assert len(got) == 8


def test_repartition_refuses_mapped_columns(spark, tmp_path):
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    s = ParquetSink(spark, str(tmp_path / "rp"), keys=("k",))
    s.apply_changeset(
        "db", "t", _dv_ch(spark, [(i, f"v{i}", "insert") for i in range(4)], 1)
    )
    s.add_column("db", "t", "bucket", "string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cannot partition"):
        s.repartition_table("db", "t", ["bucket"])


def test_restore_rejects_orphan_and_future_versions(spark, tmp_path):
    """An orphaned, never-flipped v(cur+1) dir (crashed commit) must
    not be restorable — restore validates against flipped history."""
    import os

    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    s = ParquetSink(spark, str(tmp_path / "orph"), keys=("k",))
    s.apply_changeset(
        "db", "t", _dv_ch(spark, [(i, f"v{i}", "insert") for i in range(5)], 1)
    )
    s.apply_changeset("db", "t", _dv_ch(spark, [(1, "v1b", "update")], 2))
    # simulate a crashed commit: partial v3 dir exists, _LATEST=2
    orphan = os.path.join(str(tmp_path / "orph"), "db", "t", "v3")
    os.makedirs(orphan)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no retained snapshot"):
        s.restore("db", "t", 3)
    assert os.path.isdir(orphan)  # and it must not have been destroyed
    # normal restore still works with the orphan present
    assert s.restore("db", "t", 1) == 3
    got = {r.k: r.val for r in s.read_table(spark, "db", "t").collect()}
    assert got[1] == "v1"


def test_dropped_guard_survives_readd_restore_and_clone(spark, tmp_path):
    """The _DROPPED guard set is kept across re-add (inert while the
    column is in the catalog), re-arms after a restore to a
    pre-re-add version, and travels with clone_table."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    s = ParquetSink(spark, str(tmp_path / "g"), keys=("k",))
    s.apply_changeset(
        "db", "t", _dv_ch(spark, [(i, f"v{i}", "insert") for i in range(5)], 1)
    )
    s.add_column("db", "t", "x", "int")          # v2
    s.drop_column("db", "t", "x")                # v3
    s.add_column("db", "t", "x", "int")          # v4 (re-add, guard kept)
    # inert while in catalog: a batch carrying x is fine
    s.apply_changeset(
        "db", "t",
        _dv_ch(spark, [(1, "v1b", "update")], 2).withColumn("x", F.lit(9)),
    )                                            # v5
    import pytest as _pytest

    # restore to v3 (x dropped): the guard must re-arm
    s.restore("db", "t", 3)                      # v6
    with _pytest.raises(ValueError, match="dropped column"):
        s.apply_changeset(
            "db", "t",
            _dv_ch(spark, [(2, "v2b", "update")], 3).withColumn(
                "x", F.lit(1)
            ),
        )
    # the guard travels with a clone
    s.clone_table("db", "t", "db", "t2")
    with _pytest.raises(ValueError, match="dropped column"):
        s.apply_changeset(
            "db", "t2",
            _dv_ch(spark, [(2, "v2b", "update")], 3).withColumn(
                "x", F.lit(1)
            ),
        )


def test_analyze_column_stats_roundtrip_and_version_isolation(
    spark, tmp_path, monkeypatch
):
    """analyze() persists exact one-pass stats per SNAPSHOT: the sidecar
    reads back verbatim and the old version keeps its own.  A later
    commit CARRIES the estimates forward (warehouse staleness
    semantics, bounded by ANALYZE_CARRY_LIMIT — see
    test_planner.test_analyze_stats_carry_forward_and_expiry);
    ANALYZE_CARRY_LIMIT=0 means strict version scoping."""
    import pytest as _pytest

    import cdc_redshift_spark.sinks.parquet_sink as ps

    sink = ParquetSink(spark, str(tmp_path))
    rows = [
        ("a", 100, 0, "insert", "x"),
        ("b", 100, 1, "insert", "y"),
        ("c", 100, 2, "insert", None),
        ("d", 100, 3, "insert", "y"),
    ]
    sink.apply_changeset("d", "t", chdf(spark, rows))
    got = sink.analyze("d", "t", ["key", "payload"])
    assert got["key"] == {
        "n": 4, "n_null": 0, "ndv": 4, "min": "a", "max": "d",
        "dtype": "string",
    }
    assert got["payload"]["n_null"] == 1 and got["payload"]["ndv"] == 2
    # round-trip: reader returns exactly what analyze computed
    assert sink.column_stats("d", "t") == got

    # a new commit CARRIES the previous snapshot's estimates (they
    # describe v1's data, verbatim); v1 keeps its own
    sink.apply_changeset("d", "t", chdf(spark, [("e", 200, 4, "insert", "z")]))
    assert sink.column_stats("d", "t") == got
    assert sink.column_stats("d", "t", version=1) == got

    # strict version scoping: carry disabled -> a new commit's
    # snapshot has no stats until analyzed
    monkeypatch.setattr(ps, "ANALYZE_CARRY_LIMIT", 0)
    strict = ParquetSink(spark, str(tmp_path / "strict"))
    strict.apply_changeset("d", "t", chdf(spark, rows))
    strict.analyze("d", "t", ["key"])
    strict.apply_changeset("d", "t", chdf(spark, [("e", 200, 4, "insert", "z")]))
    assert strict.column_stats("d", "t") is None

    with _pytest.raises(ValueError, match="unknown columns"):
        sink.analyze("d", "t", ["nope"])
    with _pytest.raises(ValueError, match="no committed version"):
        sink.analyze("d", "missing")


def test_occ_sink_fails_loudly_on_replay_recommit(spark, tmp_path):
    """OCC × streaming-replay contract (carried r7 #7), sink side:
    CdcPipeline refuses an occ=True sink at construction
    (test_streaming.test_occ_sink_refused_by_streaming_regime), but a
    hand-rolled foreachBatch can still drive one.  Pin what happens
    then: a crash-recovery replay (claim marker + unpublished version
    dir left by the dead attempt) must raise CommitConflictError on
    the re-commit — never silently overwrite or corrupt — with the
    published state byte-identical to the last flip, and the
    documented FSCK (clear_orphans) must make the replay land."""
    import os
    import shutil

    import pytest as _pytest

    from cdc_redshift_spark.sinks.parquet_sink import CommitConflictError

    root = str(tmp_path / "occ_replay")
    sink = ParquetSink(spark, root, occ=True)
    sink.apply_changeset("d", "t", chdf(spark, [("1", 100, 0, "insert", "a")]))
    sink.apply_changeset("d", "t", chdf(spark, [("2", 200, 1, "insert", "b")]))
    batch2 = [("1", 300, 2, "update", "a2"), ("3", 300, 3, "insert", "c")]

    # crashed attempt at batch 2: claim taken, data written, pointer
    # NEVER flipped (death between the write and the flip)
    tdir = os.path.join(root, "d", "t")
    open(os.path.join(tdir, "_CLAIM_v3"), "w").close()
    os.makedirs(os.path.join(tdir, "v3"), exist_ok=True)

    before = {tuple(r) for r in sink.read_table(spark, "d", "t").collect()}
    with _pytest.raises(CommitConflictError, match="claimed"):
        sink.apply_changeset("d", "t", chdf(spark, batch2))
    # loud, and lossless: the published snapshot did not move
    assert sink._latest_version("d", "t") == 2
    assert {tuple(r) for r in sink.read_table(spark, "d", "t").collect()} == before

    # recovery protocol: FSCK frees the dead claim, the replay lands
    assert sink.clear_orphans("d", "t") == [3]
    sink.apply_changeset("d", "t", chdf(spark, batch2))
    got = {
        (r["key"], r["payload"])
        for r in sink.read_table(spark, "d", "t").collect()
    }
    assert got == {("1", "a2"), ("2", "b"), ("3", "c")}
    shutil.rmtree(root, ignore_errors=True)


def test_occ_conflict_retry_and_orphan_clear(spark, tmp_path):
    """Optimistic concurrency: a claimed-but-unpublished version makes a
    competing commit raise CommitConflictError instead of silently losing
    an update; clear_orphans frees crashed claims; and two genuinely
    racing writers serialize to a linear history with both updates."""
    import os
    import threading

    import pytest as _pytest

    from cdc_redshift_spark.sinks.parquet_sink import CommitConflictError

    root = str(tmp_path / "occ")
    a = ParquetSink(spark, root, occ=True)
    b = ParquetSink(spark, root, occ=True)
    a.apply_changeset("d", "t", chdf(spark, [("1", 100, 0, "insert", "x")]))

    # writer B claimed v2 (crashed before flip; claim MARKER survives)
    # -> A conflicts instead of silently destroying B's claim
    open(os.path.join(root, "d", "t", "_CLAIM_v2"), "w").close()
    with _pytest.raises(CommitConflictError, match="v2 already claimed"):
        a.apply_changeset("d", "t", chdf(spark, [("2", 100, 1, "insert", "y")]))
    # published state untouched, FSCK frees the number, retry lands
    assert a.read_table(spark, "d", "t").count() == 1
    assert a.clear_orphans("d", "t") == [2]
    a.apply_changeset("d", "t", chdf(spark, [("2", 100, 1, "insert", "y")]))
    assert a.read_table(spark, "d", "t").count() == 2

    # stale-base detection: a competitor published between this op's
    # state read and its commit -> guard raises instead of losing it
    a._occ_base[("d", "t")] = 1  # op began when latest was 1
    with _pytest.raises(CommitConflictError, match="base version moved"):
        a._occ_guard("d", "t", 3)
    assert ("d", "t") not in a._occ_base  # consumed either way

    # a REJECTED batch must claim nothing: constraint violation, then
    # the fixed batch commits without any clear_orphans
    from cdc_redshift_spark.sinks.parquet_sink import ConstraintViolation

    g = ParquetSink(
        spark, str(tmp_path / "occg"), occ=True,
        constraints={"ts_pos": "ts_ms > 0"},
    )
    g.apply_changeset("d", "t", chdf(spark, [("1", 100, 0, "insert", "x")]))
    with _pytest.raises(ConstraintViolation):
        g.apply_changeset("d", "t", chdf(spark, [("2", -5, 1, "insert", "y")]))
    g.apply_changeset("d", "t", chdf(spark, [("2", 100, 1, "insert", "y")]))
    assert g.read_table(spark, "d", "t").count() == 2

    # real race: both writers commit concurrently; conflicts retry from
    # fresh state — final table must hold BOTH updates, linear history
    barrier = threading.Barrier(2)
    errs = []

    def write(sink, key, off):
        import time

        barrier.wait()
        for _ in range(30):
            try:
                sink.apply_changeset(
                    "d", "t", chdf(spark, [(key, 200, off, "insert", key)])
                )
                return
            except CommitConflictError:
                # the competing claim stays held until that writer's
                # flip — back off, then retry from fresh state
                time.sleep(1.0)
        errs.append(key)

    t1 = threading.Thread(target=write, args=(a, "r1", 10))
    t2 = threading.Thread(target=write, args=(b, "r2", 11))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    got = {r["key"] for r in a.read_table(spark, "d", "t").collect()}
    assert {"r1", "r2"} <= got
    vs = a.versions("d", "t")
    assert vs == sorted(vs) and a._latest_version("d", "t") == max(vs)

    # occ=False (streaming single-writer regime) keeps replay overwrite:
    # a pre-existing same-number dir is clobbered, not a conflict
    c = ParquetSink(spark, str(tmp_path / "plain"))
    c.apply_changeset("d", "t", chdf(spark, [("1", 100, 0, "insert", "x")]))
    os.makedirs(os.path.join(str(tmp_path / "plain"), "d", "t", "v2"), exist_ok=True)
    c.apply_changeset("d", "t", chdf(spark, [("2", 100, 1, "insert", "y")]))
    assert c.read_table(spark, "d", "t").count() == 2
