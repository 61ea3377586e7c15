"""Stats-driven join planning: decisions from persisted ANALYZE stats
and the physical plans they produce."""

import pytest

from cdc_redshift_spark.operators.planner import (
    apply_join_plan,
    estimate_size_bytes,
    join_plan,
)


def _stats(rows, ndv, dtype="bigint", nulls=0):
    return {"k": {"n": rows, "n_null": nulls, "ndv": ndv, "min": 0,
                  "max": rows, "dtype": dtype}}


def test_join_plan_decisions():
    small = _stats(1_000, 1_000)           # 8 KB
    huge = _stats(2_000_000_000, 1_000_000_000)  # 16 GB
    p = join_plan(huge, small, "k")
    assert p["strategy"] == "broadcast_right" and not p["skew_risk"]
    p = join_plan(small, huge, "k")
    assert p["strategy"] == "broadcast_left"
    p = join_plan(huge, huge, "k")
    assert p["strategy"] == "shuffle"
    # mean multiplicity 2e9/1e5 = 20000 per key -> skew risk flagged
    hot = _stats(2_000_000_000, 100_000)
    assert join_plan(hot, huge, "k")["skew_risk"]
    with pytest.raises(ValueError, match="not in left stats"):
        join_plan({"x": small["k"]}, small, "k")


def test_estimate_size_uses_dtype_widths():
    st = {
        "a": {"n": 100, "n_null": 0, "ndv": 100, "min": 0, "max": 1,
              "dtype": "bigint"},
        "b": {"n": 100, "n_null": 0, "ndv": 100, "min": "", "max": "",
              "dtype": "string"},
    }
    assert estimate_size_bytes(st) == 100 * (8 + 24)


def test_apply_join_plan_drives_physical_strategy(spark):
    """The stats-sourced hint must override the scan-time size guess:
    with autoBroadcastJoinThreshold OFF, only our explicit hint can
    produce a BroadcastHashJoin."""
    left = spark.range(0, 10_000).withColumnRenamed("id", "k")
    right = spark.range(0, 100).withColumnRenamed("id", "k")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pb = {"strategy": "broadcast_right"}
        plan = (
            apply_join_plan(left, right, "k", pb)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        ps = {"strategy": "shuffle"}
        plan = (
            apply_join_plan(left, right, "k", ps)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" not in plan
        with pytest.raises(ValueError, match="unknown strategy"):
            apply_join_plan(left, right, "k", {"strategy": "nope"})
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_join_plan_from_real_analyze_sidecar(spark, tmp_path):
    """End-to-end: ANALYZE two sink tables, plan the join from the
    persisted sidecars, and get the broadcast the sizes imply."""
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink
    from pyspark.sql import functions as F

    sink = ParquetSink(spark, str(tmp_path), keys=("k",))
    fact = spark.range(0, 5_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 50).alias("fk"),
        F.lit(1).cast("long").alias("ts_ms"),
        F.col("id").alias("offset"),
        F.lit("insert").alias("op"),
    )
    dim = spark.range(0, 50).select(
        F.col("id").alias("k"),
        F.lit(1).cast("long").alias("ts_ms"),
        F.col("id").alias("offset"),
        F.lit("insert").alias("op"),
    )
    sink.apply_changeset("d", "fact", fact)
    sink.apply_changeset("d", "dim", dim)
    fs = sink.analyze("d", "fact", ["k", "fk"])
    ds = sink.analyze("d", "dim", ["k"])
    # plan fact.fk = dim.k: rename so both sides expose the join key
    p = join_plan({"k": fs["fk"]}, ds, "k", broadcast_threshold=4096)
    assert p["strategy"] == "broadcast_right"
    assert p["mean_multiplicity_left"] == 100.0  # 5000 rows / 50 keys


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def test_broadcast_merge_equals_shuffle_merge(spark):
    """apply_changeset(strategy='broadcast') must return exactly the
    shuffle plan's state on the full semantic surface: updates that
    win, late rows that lose, deletes, brand-new keys, NULL keys, and
    asymmetric schemas (typed-null padding)."""
    from cdc_redshift_spark.plans.merge import apply_changeset

    target = spark.createDataFrame(
        [
            (1, "a", 100, 0, "load"),
            (2, "b", 100, 1, "load"),
            (3, "c", 100, 2, "load"),
            (None, "n", 100, 3, "load"),
            (9, "dead", 100, 4, "delete"),  # stored tombstone
        ],
        "k int, v string, ts_ms long, offset long, op string",
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", "x", 200, 10, "update"),   # wins
            (2, "late", "y", 50, 11, "update"),  # loses (older ts)
            (3, None, None, 300, 12, "delete"),  # tombstones k=3
            (None, "n2", "z", 300, 13, "update"),  # NULL key competes
            (7, "new", "w", 300, 14, "insert"),  # brand-new key
            (9, "back", "q", 300, 15, "insert"),  # resurrects past tombstone
            (7, "newer", "w2", 400, 16, "update"),  # intra-batch LWW
        ],
        "k int, v string, extra string, ts_ms long, offset long, op string",
    )
    for keep in (False, True):
        shuffle = apply_changeset(
            target, changes, keys=("k",), keep_tombstones=keep
        )
        bcast = apply_changeset(
            target, changes, keys=("k",), keep_tombstones=keep,
            strategy="broadcast",
        )
        assert bcast.columns == shuffle.columns
        assert _rows(bcast.select(*sorted(bcast.columns))) == _rows(
            shuffle.select(*sorted(shuffle.columns))
        ), f"keep_tombstones={keep}"
    with pytest.raises(ValueError, match="unknown strategy"):
        apply_changeset(target, changes, keys=("k",), strategy="nope")


def test_broadcast_merge_null_tiebreak_matches_shuffle(spark):
    """ADVICE r8: a MATCHED change with a NULL tiebreak but newer ts
    must win under BOTH strategies (max_by's struct ordering ranks a
    NULL field smallest but still compares the row; the broadcast
    plan's no-match detection must not piggyback on the tiebreak
    column being NULL).  Conversely a NULL-tiebreak change with an
    OLDER ts loses under both."""
    from cdc_redshift_spark.plans.merge import apply_changeset

    target = spark.createDataFrame(
        [
            (1, "a", 100, 1, "load"),
            (2, "b", 100, 2, "load"),
            (3, "c", 100, None, "load"),  # stored NULL tiebreak
        ],
        "k int, v string, ts_ms long, offset long, op string",
    )
    changes = spark.createDataFrame(
        [
            (1, "win", 200, None, "update"),   # newer ts, NULL tb -> wins
            (2, "lose", 50, None, "update"),   # older ts, NULL tb -> loses
            (3, "win3", 100, 5, "update"),     # same ts, tb 5 > NULL -> wins
        ],
        "k int, v string, ts_ms long, offset long, op string",
    )
    shuffle = apply_changeset(target, changes, keys=("k",))
    bcast = apply_changeset(target, changes, keys=("k",), strategy="broadcast")
    exp = {(1, "win"), (2, "b"), (3, "win3")}
    assert {(r.k, r.v) for r in shuffle.collect()} == exp
    assert {(r.k, r.v) for r in bcast.collect()} == exp


def test_sink_merge_strategy_composite_keys_use_struct_ndv(
    spark, tmp_path, monkeypatch
):
    """ADVICE r8 (low), resolved properly: a composite-key sink plans
    from the COMPOSITE_KEY struct-NDV analyze() records at the real
    grouping grain — keys[0] alone ('db'-like low-NDV leaders) can
    under-state multiplicity arbitrarily.  With composite stats the
    flip works; a legacy sidecar lacking the entry keeps the
    statistics-free default."""
    import json
    import os

    from pyspark.sql import functions as F

    import cdc_redshift_spark.operators.planner as planner
    from cdc_redshift_spark.operators.planner import COMPOSITE_KEY
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    monkeypatch.setattr(planner, "MERGE_BROADCAST_MIN_TARGET", 0)
    sink = ParquetSink(spark, str(tmp_path), keys=("k", "k2"))
    base = spark.range(0, 2_000).select(
        (F.col("id") % 3).alias("k"),  # low-NDV leading key: the trap
        F.col("id").alias("k2"),
        F.col("id").cast("string").alias("v"),
        F.lit(100).cast("long").alias("ts_ms"),
        F.col("id").alias("offset"),
        F.lit("insert").alias("op"),
    )
    sink.apply_changeset("d", "t", base)
    stats = sink.analyze("d", "t")
    assert stats[COMPOSITE_KEY]["ndv"] == 2_000  # struct grain, not keys[0]
    batch = base.limit(10).select(
        "k", "k2", F.lit("u").alias("v"),
        F.lit(200).cast("long").alias("ts_ms"),
        (F.col("offset") + 10_000).alias("offset"),
        F.lit("update").alias("op"),
    )
    target = sink.read_table(spark, "d", "t")
    assert sink._merge_strategy("d", "t", target, batch) == "broadcast"
    plan = sink.last_merge_plan
    # multiplicity at the composite grain is ~1, NOT rows/3
    assert plan["mean_multiplicity_left"] <= 2.0

    # legacy sidecar (written before composite stats existed): strip
    # the entry -> the planner keeps the statistics-free default
    v = sink._latest_version("d", "t")
    path = os.path.join(str(tmp_path), "d", "t", f"v{v}", "_ANALYZE")
    with open(path) as f:
        legacy = json.load(f)
    legacy.pop(COMPOSITE_KEY)
    with open(path, "w") as f:
        json.dump(legacy, f)
    assert sink._merge_strategy("d", "t", target, batch) == "shuffle"
    assert sink.last_merge_plan is None


def test_broadcast_merge_plan_never_shuffles_target(spark):
    """The point of the strategy: with autoBroadcastJoinThreshold OFF
    (so only explicit hints can broadcast), the target side must reach
    the merge via BroadcastHashJoins only — no Exchange hashpartitioning
    anywhere on the target lineage, and no SortMergeJoin at all."""
    from cdc_redshift_spark.plans.merge import apply_changeset
    from pyspark.sql import functions as F

    target = spark.range(0, 20_000).select(
        F.col("id").alias("k"),
        F.col("id").cast("string").alias("v"),
        F.lit(100).cast("long").alias("ts_ms"),
        F.col("id").alias("offset"),
        F.lit("load").alias("op"),
    )
    changes = spark.range(0, 50).select(
        F.col("id").alias("k"),
        F.lit("upd").alias("v"),
        F.lit(200).cast("long").alias("ts_ms"),
        (F.col("id") + 100_000).alias("offset"),
        F.lit("update").alias("op"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = apply_changeset(target, changes, keys=("k",), strategy="broadcast")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") >= 2, plan  # left + semi/anti
        assert "SortMergeJoin" not in plan, plan
        # the only hash exchange allowed is the small side's per-key
        # reduce (inside the checkpoint job, not here); the target
        # must never hash-partition
        assert "Exchange hashpartitioning(k#" not in plan, plan
        assert out.where(F.col("v") == "upd").count() == 50
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_sink_merge_flips_to_broadcast_from_analyze_stats(spark, tmp_path, monkeypatch):
    """The VERDICT r7 #3 contract: a sink whose table carries an
    _ANALYZE sidecar auto-plans the next merge's changes-side
    broadcast; without stats it falls back to the shuffle plan."""
    import cdc_redshift_spark.operators.planner as planner
    import cdc_redshift_spark.sinks.parquet_sink as ps
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink
    from pyspark.sql import functions as F

    captured = []
    real = ps.merge_apply

    def spy(*a, **kw):
        captured.append(kw.get("strategy", "shuffle"))
        return real(*a, **kw)

    monkeypatch.setattr(ps, "merge_apply", spy)

    # floor=0: this fixture's 8k-row target is far below the default
    # MERGE_BROADCAST_MIN_TARGET (where the target shuffle is cheap
    # and broadcast's fixed overheads lose — measured at sf0.01);
    # zeroing it exercises the stats->flip seam itself
    default_floor = planner.MERGE_BROADCAST_MIN_TARGET
    monkeypatch.setattr(planner, "MERGE_BROADCAST_MIN_TARGET", 0)
    sink = ParquetSink(spark, str(tmp_path), keys=("k",))
    base = spark.range(0, 8_000).select(
        F.col("id").alias("k"),
        F.col("id").cast("string").alias("v"),
        F.lit(100).cast("long").alias("ts_ms"),
        F.col("id").alias("offset"),
        F.lit("insert").alias("op"),
    )
    batch = spark.range(0, 40).select(
        F.col("id").alias("k"),
        F.lit("u").alias("v"),
        F.lit(200).cast("long").alias("ts_ms"),
        (F.col("id") + 10_000).alias("offset"),
        F.lit("update").alias("op"),
    )
    sink.apply_changeset("d", "t", base)     # no target -> strategy moot
    sink.apply_changeset("d", "t", batch)    # NO stats yet -> shuffle
    assert captured[-1] == "shuffle"
    assert sink.last_merge_plan is None

    sink.analyze("d", "t")                   # commit the stats sidecar
    batch2 = batch.withColumn("offset", F.col("offset") + 1_000)
    sink.apply_changeset("d", "t", batch2)   # stats present -> broadcast
    assert captured[-1] == "broadcast"
    assert sink.last_merge_plan["strategy"] == "broadcast_right"

    # result is the correct LWW state either way
    got = sink.read_table(spark, "d", "t")
    assert got.where(F.col("v") == "u").count() == 40
    assert got.count() == 8_000

    # under the DEFAULT floor the same stats keep the shuffle plan:
    # an 8k-row target's shuffle is cheaper than broadcast's fixed
    # overheads (second scan + bounded jobs)
    monkeypatch.setattr(
        planner, "MERGE_BROADCAST_MIN_TARGET", default_floor
    )
    defsink = ParquetSink(spark, str(tmp_path), keys=("k",))
    tgt = defsink.read_table(spark, "d", "t")
    assert defsink._merge_strategy("d", "t", tgt, batch2) == "shuffle"


def test_analyze_stats_carry_forward_and_expiry(spark, tmp_path, monkeypatch):
    """The CBO seam must survive the commits BETWEEN analyze()
    refreshes: each merge commits a NEW version, and per-version stats
    would otherwise orphan after the first merge — silently reverting
    every later micro-batch to shuffle, exactly in the streaming
    regime the broadcast plan exists for.  Pin: stats carry forward
    across merges (with an age counter), keep driving the broadcast
    flip, and EXPIRE past ANALYZE_CARRY_LIMIT."""
    import os

    from pyspark.sql import functions as F

    import cdc_redshift_spark.operators.planner as planner
    import cdc_redshift_spark.sinks.parquet_sink as ps
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    monkeypatch.setattr(planner, "MERGE_BROADCAST_MIN_TARGET", 0)

    def mk(path, limit):
        monkeypatch.setattr(ps, "ANALYZE_CARRY_LIMIT", limit)
        return ParquetSink(spark, str(path), keys=("k",))

    base = spark.range(0, 4_000).select(
        F.col("id").alias("k"),
        F.col("id").cast("string").alias("v"),
        F.lit(100).cast("long").alias("ts_ms"),
        F.col("id").alias("offset"),
        F.lit("insert").alias("op"),
    )

    def batch(i):
        return spark.range(0, 20).select(
            F.col("id").alias("k"),
            F.lit(f"u{i}").alias("v"),
            F.lit(100 + i).cast("long").alias("ts_ms"),
            (F.col("id") + 10_000 * i).alias("offset"),
            F.lit("update").alias("op"),
        )

    sink = mk(tmp_path / "carry", limit=64)
    sink.apply_changeset("d", "t", base)
    sink.analyze("d", "t")
    for i in range(1, 4):  # three consecutive merges, ONE analyze
        sink.apply_changeset("d", "t", batch(i))
        assert sink.last_merge_plan is not None, f"merge {i} lost the stats"
        assert sink.last_merge_plan["strategy"] == "broadcast_right"
    assert sink.column_stats("d", "t") is not None
    v = sink._latest_version("d", "t")
    with open(os.path.join(str(tmp_path / "carry"), "d", "t", f"v{v}", "_ANALYZE_AGE")) as f:
        assert int(f.read()) == 3  # commits since the stats were computed

    # expiry: limit=1 -> the carried sidecar survives exactly one
    # commit, so merge 1 and 2 plan from stats, merge 3 finds none
    sink2 = mk(tmp_path / "exp", limit=1)
    sink2.apply_changeset("d", "t", base)
    sink2.analyze("d", "t")
    sink2.apply_changeset("d", "t", batch(1))  # consults v1 stats (fresh)
    assert sink2.last_merge_plan is not None
    sink2.apply_changeset("d", "t", batch(2))  # consults carried age-1 stats
    assert sink2.last_merge_plan is not None
    sink2.apply_changeset("d", "t", batch(3))  # age-2 would exceed limit
    assert sink2.last_merge_plan is None       # expired -> stats-free default
    assert sink2.column_stats("d", "t") is None

    # a fresh analyze() restarts the chain at age 0
    sink2.analyze("d", "t")
    sink2.apply_changeset("d", "t", batch(4))
    assert sink2.last_merge_plan is not None

    # restore: stats follow the DATA lineage — the restored-to
    # version's stats (not the replaced pointer's) describe the new
    # current snapshot
    sink3 = mk(tmp_path / "rst", limit=64)
    sink3.apply_changeset("d", "t", base)
    v_analyzed = sink3._latest_version("d", "t")
    frozen = sink3.analyze("d", "t")
    sink3.apply_changeset("d", "t", batch(1))
    sink3.apply_changeset("d", "t", batch(2))
    sink3.restore("d", "t", v_analyzed)
    assert sink3.column_stats("d", "t") == frozen


def test_analyze_approx_mode_drives_the_same_flip(spark, tmp_path, monkeypatch):
    """approx=True (HLL++ NDV, no expand — the analyze_every
    maintenance mode) must produce planner-usable stats: NDV within
    HLL tolerance at the composite grain, and the same broadcast flip
    as exact stats."""
    from pyspark.sql import functions as F

    import cdc_redshift_spark.operators.planner as planner
    from cdc_redshift_spark.operators.planner import COMPOSITE_KEY
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    monkeypatch.setattr(planner, "MERGE_BROADCAST_MIN_TARGET", 0)
    sink = ParquetSink(spark, str(tmp_path), keys=("k", "k2"))
    base = spark.range(0, 2_000).select(
        (F.col("id") % 3).alias("k"),
        F.col("id").alias("k2"),
        F.col("id").cast("string").alias("v"),
        F.lit(100).cast("long").alias("ts_ms"),
        F.col("id").alias("offset"),
        F.lit("insert").alias("op"),
    )
    sink.apply_changeset("d", "t", base)
    stats = sink.analyze("d", "t", approx=True)
    assert abs(stats[COMPOSITE_KEY]["ndv"] - 2_000) / 2_000 < 0.1
    batch = base.limit(10).select(
        "k", "k2", F.lit("u").alias("v"),
        F.lit(200).cast("long").alias("ts_ms"),
        (F.col("offset") + 10_000).alias("offset"),
        F.lit("update").alias("op"),
    )
    target = sink.read_table(spark, "d", "t")
    assert sink._merge_strategy("d", "t", target, batch) == "broadcast"


def test_analyze_carry_covers_dv_and_pruned_commits(spark, tmp_path):
    """Every commit path funnels through _flip, so the stats carry
    must survive a deletion-vector commit and a partition-pruned
    commit exactly like a full rewrite — pin the funnel assumption."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    def base(with_part):
        df = spark.range(0, 500).select(
            F.col("id").alias("k"),
            F.col("id").cast("string").alias("v"),
            F.lit(100).cast("long").alias("ts_ms"),
            F.col("id").alias("offset"),
            F.lit("insert").alias("op"),
        )
        return df.withColumn("p", (F.col("k") % 4).cast("int")) if with_part else df

    def batch(with_part):
        df = spark.range(0, 10).select(
            F.col("id").alias("k"),
            F.lit("u").alias("v"),
            F.lit(200).cast("long").alias("ts_ms"),
            (F.col("id") + 10_000).alias("offset"),
            F.lit("update").alias("op"),
        )
        return df.withColumn("p", (F.col("k") % 4).cast("int")) if with_part else df

    dv = ParquetSink(spark, str(tmp_path / "dv"), keys=("k",), merge_mode="dv")
    dv.apply_changeset("d", "t", base(False))
    frozen = dv.analyze("d", "t")
    dv.apply_changeset("d", "t", batch(False))  # _apply_dv commit
    assert dv.column_stats("d", "t") == frozen

    pp = ParquetSink(
        spark, str(tmp_path / "pp"), keys=("k",), partition_cols=("p",)
    )
    pp.apply_changeset("d", "t", base(True))
    frozen = pp.analyze("d", "t")
    pp.apply_changeset("d", "t", batch(True))  # partition-pruned commit
    assert pp.column_stats("d", "t") == frozen


def test_merge_strategy_from_plan_thresholds():
    """The pure decision rule: broadcast only when the changeset is
    broadcastable AND the target is big in absolute terms AND the
    target dwarfs the changeset."""
    from cdc_redshift_spark.operators.planner import merge_strategy_from_plan

    def plan(strategy, left, right):
        return {
            "strategy": strategy,
            "est_left_bytes": left,
            "est_right_bytes": right,
        }

    gib = 1 << 30
    assert merge_strategy_from_plan(plan("broadcast_right", gib, 1 << 20)) == "broadcast"
    # target under the absolute floor -> shuffle
    assert merge_strategy_from_plan(plan("broadcast_right", 1 << 20, 1 << 10)) == "shuffle"
    # near-equal sides -> shuffle even when both are huge
    assert merge_strategy_from_plan(plan("broadcast_right", gib, gib // 2)) == "shuffle"
    # target-side broadcastable or plain shuffle -> shuffle
    assert merge_strategy_from_plan(plan("broadcast_left", 1 << 10, gib)) == "shuffle"
    assert merge_strategy_from_plan(plan("shuffle", gib, gib)) == "shuffle"
    # the floor is a knob (tests and small deployments)
    assert (
        merge_strategy_from_plan(
            plan("broadcast_right", 1 << 20, 1 << 10), min_target_bytes=0
        )
        == "broadcast"
    )


def test_cm_inner_product_cells_matches_dataframe_estimator(spark):
    """The pure-Python planner-side estimator must agree EXACTLY with
    the DataFrame cm_inner_product (same cells, same min-over-rows),
    and both must never undershoot the true join size."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.operators.sketches import (
        cm_collect,
        cm_inner_product,
        cm_inner_product_cells,
        cm_sketch,
    )

    d, w = 4, 256
    a = spark.range(0, 3_000).select(
        (F.col("id") % 40).cast("string").alias("k")
    )
    b = spark.range(0, 500).select(
        (F.col("id") % 25).cast("string").alias("k")
    )
    ska, skb = cm_sketch(a, "k", d=d, w=w), cm_sketch(b, "k", d=d, w=w)
    df_est = int(cm_inner_product(ska, skb, d).first()["n_est"])
    py_est = cm_inner_product_cells(cm_collect(ska), cm_collect(skb), d)
    assert py_est == df_est
    exact = a.join(b, "k").count()
    assert py_est >= exact
    # disjoint sides: some sketch row has zero colliding cells at this
    # width, so the estimate short-circuits to exactly 0
    c = spark.range(0, 50).select(
        (F.col("id") + 10_000).cast("string").alias("k")
    )
    skc = cm_sketch(c, "k", d=d, w=w)
    assert (
        cm_inner_product_cells(cm_collect(ska), cm_collect(skc), d)
        == int(cm_inner_product(ska, skc, d).first()["n_est"])
    )


def test_join_plan_blowup_probe_from_analyze_sketches(spark, tmp_path):
    """The CM blowup probe end-to-end, from persisted sidecars:
    a fact⋈dim join (output = fact rows) must NOT trip blowup_risk;
    a quadratic self-join on a heavy key MUST — the decision the
    reference delegates to Redshift's planner, priced here from
    metadata alone (zero jobs at plan time)."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.operators.planner import (
        CM_SKETCH,
        join_plan,
    )
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    sink = ParquetSink(spark, str(tmp_path), keys=("k",))
    n_fact, n_dim = 20_000, 200
    fact = spark.range(0, n_fact).select(
        F.col("id").alias("k"), (F.col("id") % n_dim).alias("fk")
    )
    dim = spark.range(0, n_dim).select(
        F.col("id").alias("k"), F.lit("d").alias("name")
    )
    # a pathological table: 20k rows over 4 keys -> self-join output
    # = 4 * 5000^2 = 1e8 rows from 2e4 inputs
    quad = spark.range(0, n_fact).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("hot")
    )
    sink.overwrite("d", "fact", fact)
    sink.overwrite("d", "dim", dim)
    sink.overwrite("d", "quad", quad)
    fs = sink.analyze("d", "fact", key_sketch="fk")
    ds = sink.analyze("d", "dim", key_sketch=True)  # merge key = k
    qs = sink.analyze("d", "quad", key_sketch="hot")

    assert fs[CM_SKETCH]["key"] == ["fk"]
    assert ds[CM_SKETCH]["key"] == ["k"]
    # the sidecar round-trips the sketch (JSON)
    assert sink.column_stats("d", "fact")[CM_SKETCH] == fs[CM_SKETCH]

    # fact.fk = dim.k: expose both sides' stats under the join key
    p = join_plan(
        {"k": fs["fk"], CM_SKETCH: fs[CM_SKETCH]},
        {"k": ds["k"], CM_SKETCH: ds[CM_SKETCH]},
        "k",
    )
    exact = fact.join(dim.withColumnRenamed("k", "fk"), "fk").count()
    assert p["est_output_rows"] is not None
    assert p["est_output_rows"] >= exact  # one-sided guarantee
    assert not p["blowup_risk"], p  # output == fact rows: no blowup

    pq = join_plan(
        {"k": qs["hot"], CM_SKETCH: qs[CM_SKETCH]},
        {"k": qs["hot"], CM_SKETCH: qs[CM_SKETCH]},
        "k",
    )
    # true self-join size = 4 * (20000/4)^2 = 1e8 >> 8 * 20000
    assert pq["est_output_rows"] >= 100_000_000
    assert pq["blowup_risk"], pq

    # no sketch on one side, or mismatched geometry -> additive no-op
    p0 = join_plan(
        {"k": fs["fk"]}, {"k": ds["k"], CM_SKETCH: ds[CM_SKETCH]}, "k"
    )
    assert p0["est_output_rows"] is None and not p0["blowup_risk"]
    other = dict(ds[CM_SKETCH], w=ds[CM_SKETCH]["w"] * 2)
    pm = join_plan(
        {"k": fs["fk"], CM_SKETCH: fs[CM_SKETCH]},
        {"k": ds["k"], CM_SKETCH: other},
        "k",
    )
    assert pm["est_output_rows"] is None and not pm["blowup_risk"]


def test_analyze_key_sketch_rides_the_carry_chain(spark, tmp_path):
    """The sketch lives in the _ANALYZE sidecar, so _carry_analyze
    carries it across commits with the column stats — a stream that
    analyzed once keeps its blowup probe until the age expiry, for
    free."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.operators.planner import CM_SKETCH
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink

    sink = ParquetSink(spark, str(tmp_path), keys=("k",))
    df = spark.range(0, 1_000).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    )
    sink.overwrite("d", "t", df)
    st = sink.analyze("d", "t", key_sketch=True)
    assert CM_SKETCH in st
    sink.overwrite(
        "d", "t", df.withColumn("v", F.lit(2))
    )  # new commit: sidecar carried forward, not regenerated
    carried = sink.column_stats("d", "t")
    assert carried is not None and CM_SKETCH in carried
    assert carried[CM_SKETCH] == st[CM_SKETCH]


def test_merge_strategy_under_floor_skips_changeset_pricing(
    spark, tmp_path, monkeypatch
):
    """Under-floor fast path: when the sidecar already proves the
    target below the broadcast floor, the flip can never engage, so
    _merge_strategy must NOT pay the df_key_stats aggregation job —
    measured at 74% per-commit overhead on micro-batches before this
    (SCALE.md "Round-10: CDC apply steady state").  With the floor
    lowered, the same sink consults the changeset again (decision
    unchanged either way for an under-8x-ratio batch: shuffle)."""
    import cdc_redshift_spark.operators.planner as planner
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink
    from pyspark.sql import functions as F

    calls = []
    real = planner.df_key_stats

    def spy(df, key):
        calls.append(key)
        return real(df, key)

    monkeypatch.setattr(planner, "df_key_stats", spy)

    base = spark.range(0, 2_000).select(
        F.col("id").alias("k"), F.lit("a").alias("v"),
        F.lit(1).cast("long").alias("ts_ms"),
        F.col("id").alias("offset"), F.lit("insert").alias("op"),
    )
    ch = base.limit(50).withColumn("ts_ms", F.lit(2).cast("long"))

    sink = ParquetSink(spark, str(tmp_path / "floor_def"), keys=("k",))
    sink.overwrite("d", "t", base)
    sink.analyze("d", "t", approx=True)
    assert sink._merge_strategy(
        "d", "t", sink.read_table(spark, "d", "t"), ch
    ) == "shuffle"
    assert calls == []  # 2k rows << 256MB floor: zero pricing jobs
    # the fast-path record must carry the SAME schema as a real
    # join_plan result (ADVICE r10): observability consumers index
    # these keys unconditionally; under_floor is the discriminator
    plan = sink.last_merge_plan
    assert plan["under_floor"] is True
    for k in (
        "strategy", "est_left_bytes", "est_right_bytes",
        "mean_multiplicity_left", "mean_multiplicity_right",
        "skew_risk", "est_output_rows", "est_output_noise_floor",
        "blowup_risk",
    ):
        assert k in plan, k
    assert plan["skew_risk"] is False and plan["blowup_risk"] is False

    monkeypatch.setattr(planner, "MERGE_BROADCAST_MIN_TARGET", 0)
    sink0 = ParquetSink(spark, str(tmp_path / "floor_0"), keys=("k",))
    sink0.overwrite("d", "t", base)
    sink0.analyze("d", "t", approx=True)
    assert sink0._merge_strategy(
        "d", "t", sink0.read_table(spark, "d", "t"), ch
    ) in ("shuffle", "broadcast")
    assert calls, "floor=0 must still price the changeset"


def test_blowup_probe_noise_floor_spares_large_benign_joins(spark):
    """The raw CM inner-product estimate of ANY join between large
    tables is dominated by collision noise (~n_l*n_r/w): two 200k-row
    unique-key tables joined 1:1 (true output 200k) estimate ~10M raw
    at the default w=4096.  blowup_risk must judge the NOISE-ADJUSTED
    estimate, or it is effectively always-on for benign joins at the
    scale the module advertises."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.operators.planner import (
        CM_SKETCH,
        join_plan,
    )
    from cdc_redshift_spark.operators.sketches import (
        cm_collect,
        cm_sketch,
    )

    d, w, n = 5, 4096, 200_000
    df = spark.range(0, n).select(F.col("id").cast("string").alias("k"))
    cells = cm_collect(cm_sketch(df, "k", d=d, w=w))
    sk = {"n": n, "d": d, "w": w, "key": ["k"], "cells": cells,
          "dtype": "cm_sketch"}
    st = {"k": {"n": n, "n_null": 0, "ndv": n, "dtype": "string"},
          CM_SKETCH: sk}
    p = join_plan(st, st, "k")
    assert p["est_output_rows"] > 5_000_000  # raw: collision-dominated
    assert p["est_output_noise_floor"] == n * n // w
    # adjusted ~ true output (200k) << 8 * 200k: benign, no flag
    assert not p["blowup_risk"], p
    # and the adjusted estimate is in the right ballpark of the truth
    adj = p["est_output_rows"] - p["est_output_noise_floor"]
    assert adj < 4 * n


def test_apply_join_plan_warns_on_blowup_risk(spark, caplog):
    """Executing a blowup-flagged plan logs the loud warning naming
    the remedies (predicate / pre-aggregate / salted_join) — the
    planner never silently rewrites a semantic choice."""
    import logging

    left = spark.range(0, 100).withColumnRenamed("id", "k")
    right = spark.range(0, 100).withColumnRenamed("id", "k")
    plan = {
        "strategy": "shuffle",
        "blowup_risk": True,
        "est_output_rows": 10**9,
        "est_output_noise_floor": 10**6,
    }
    with caplog.at_level(
        logging.WARNING, logger="cdc_redshift_spark.operators.planner"
    ):
        apply_join_plan(left, right, "k", plan).count()
    assert any("salted_join" in r.message for r in caplog.records)


def test_blowup_mitigation_salted_join_row_identical_and_bounded(spark):
    """VERDICT r10 #5: acting on blowup_risk.  A hot-key fixture (one
    celebrity key carrying 40% of the fact) must (a) trip the CM
    blowup flag, (b) be NAMEABLE via confirm_hot_keys' sidecar point
    queries (zero jobs), and (c) execute row-identically under
    apply_join_plan(salt_factor=...) with the hot key's rows spread
    across salt sub-partitions so no single task holds more than
    ~1/factor of them (the property streaming/stateful.py's salted
    LWW form relies on, applied to the planner's join path)."""
    from cdc_redshift_spark.operators.planner import (
        CM_SKETCH,
        apply_join_plan,
        confirm_hot_keys,
        df_key_stats,
        join_plan,
    )
    from cdc_redshift_spark.operators.sketches import cm_collect, cm_sketch
    from pyspark.sql import functions as F

    D, W = 5, 4096
    fact = spark.range(50_000).select(
        F.when(F.col("id") < 20_000, F.lit("hot"))
        .otherwise(F.col("id").cast("string"))
        .alias("k"),
        F.col("id").alias("fid"),
    )
    dim = (
        spark.range(40)
        .select(F.lit("hot").alias("k"), F.col("id").alias("did"))
        .unionByName(
            spark.range(20_000, 20_100).select(
                F.col("id").cast("string").alias("k"),
                F.col("id").alias("did"),
            )
        )
    )

    def stats(df):
        st = df_key_stats(df, "k")
        st[CM_SKETCH] = {
            "n": st["k"]["n"], "d": D, "w": W, "key": "k",
            "cells": cm_collect(cm_sketch(df, "k", d=D, w=W)),
            "dtype": "string",
        }
        return st

    sf, sd = stats(fact), stats(dim)
    plan = join_plan(sf, sd, "k", broadcast_threshold=0)
    assert plan["strategy"] == "shuffle"
    assert plan["blowup_risk"], "hot-key fixture must trip the flag"

    # (b) the hot key is nameable from metadata alone; a cold
    # candidate stays out (CM never undershoots, overshoot ~n/w)
    hot = confirm_hot_keys(sf, ["hot", "31337", "no-such-key"], 5_000)
    assert set(hot) == {"hot"} and hot["hot"] >= 20_000

    # (c) mitigated == plain, row for row (checksum equality: count +
    # bounded per-row hash sum, overflow-safe under ANSI)
    mitigated = apply_join_plan(
        fact, dim, "k", plan, salt_factor=8, discriminator="fid"
    )
    plain = fact.join(dim, "k")

    def checksum(df):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.pmod(
                    F.xxhash64("k", "fid", "did"), F.lit(1_000_000_007)
                )
            ).alias("h"),
        ).first()
        return (r["n"], r["h"])

    assert checksum(mitigated) == checksum(plain)
    assert checksum(plain)[0] == 20_000 * 40 + 100

    # the salted path was actually taken (join keys include the salt)
    pstr = mitigated._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in pstr

    # max task input bounded: the hot key's fact rows spread over the
    # 8 salt buckets (same deterministic salt expr salted_join uses);
    # uniform expectation 2500/bucket — allow wide slack, but far
    # below the unsalted 20k concentration
    spread = (
        fact.where(F.col("k") == "hot")
        .groupBy(F.pmod(F.xxhash64(F.col("fid")), F.lit(8)))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert spread < 4_000, f"hot key not spread: max bucket {spread}"


def test_suggest_salt_factor_sizing_and_clamp():
    """Round-14: factor = smallest power of two whose per-salt share
    fits the per-task budget; 1 = no salt needed; clamped so dim
    replication cost stays bounded."""
    import pytest

    from cdc_redshift_spark.operators.planner import suggest_salt_factor

    assert suggest_salt_factor(0) == 1
    assert suggest_salt_factor(1_000_000) == 1          # exactly fits
    assert suggest_salt_factor(1_000_001) == 2
    assert suggest_salt_factor(4_000_000) == 4
    assert suggest_salt_factor(4_000_001) == 8
    # the measured probe shape: 4M hot rows at a 128k budget -> 32
    assert suggest_salt_factor(4_000_000, 128_000) == 32
    # clamp: replication cost dominates past max_factor
    assert suggest_salt_factor(10**12, 1_000_000, max_factor=256) == 256
    # a NON-power-of-two ceiling clamps exactly, not to the next
    # doubling above it (ADVICE r14: 100 must not return 128 — the
    # dim side replicates factor×, past the caller's stated budget)
    assert suggest_salt_factor(10**12, 1_000_000, max_factor=100) == 100
    with pytest.raises(ValueError, match="hot_rows"):
        suggest_salt_factor(-1)
    with pytest.raises(ValueError, match="target_rows_per_task"):
        suggest_salt_factor(5, 0)
