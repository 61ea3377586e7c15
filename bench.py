"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline figure is the end-to-end suite wall time; `extra` carries
the CDC apply rate measured against the reference's designed envelope
(200k offsets / 30s trigger ≈ 6,667 rec/s sustained — BASELINE.md).
Each query is forced with a noop-format write so Catalyst can't prune
the work away (a count() would drop unused columns from the scan).
Every `queries` figure but `cdc_apply_batch` is a row of ENTRIES.
"""

from __future__ import annotations

import gc
import glob
import json
import os
import re
import shutil
import sys
import tempfile
import time
from collections.abc import Callable
from functools import cache, partial, reduce
from typing import Any, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def artifact_round(path: str) -> int:
    """Round number of a round-stamped artifact: the leading digits
    after the name's last ``_r`` (``BENCH_r15_c8.json`` -> 15)."""
    m = re.match(r"\d+", os.path.basename(path).rsplit("_r", 1)[-1])
    if m is None:
        raise ValueError(f"no round number in {path!r}")
    return int(m.group())


def force(df) -> None:
    """Fully materialize every column of df through the noop sink."""
    df.write.format("noop").mode("overwrite").save()


class Entry(NamedTuple):
    """A timed row: each iteration times ``thunk(spark, setup(spark))``,
    then calls ``teardown`` on the setup's result.  ``query`` is the
    ``queries()`` key of a registry-backed row."""

    name: str
    thunk: Callable[[Any, Any], object]
    iters: int = 2
    keep_cache: bool = False
    setup: Callable[[Any], Any] | None = None
    teardown: Callable[[Any], object] | None = None
    query: str | None = None


def run(spark, e: Entry) -> float:
    """Min-of-``e.iters`` wall of ``e.thunk`` in seconds, to 3 dp: host
    load swings identical runs up to 7x, and the min is the robust cost
    estimate.  Off the clock before each call: Python gc FIRST (eager
    localCheckpoint blocks are freed only once reference cycles holding
    their py4j handles are collected; a pileup cost the apply path
    ~10-13%, SCALE.md); clearCache, unless the row keeps an input it
    persisted outside the window; then a JVM GC."""
    best = float("inf")
    for _ in range(e.iters):
        state = e.setup(spark) if e.setup else None
        try:
            gc.collect()
            if not e.keep_cache:
                spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            e.thunk(spark, state)
            best = min(best, time.perf_counter() - t0)
        finally:
            if e.teardown:
                e.teardown(state)
    return round(best, 3)


@cache
def _queries() -> dict:
    import __spark_entry__
    return __spark_entry__.queries()


def registry(name: str, iters: int = 2, shape: Callable = force) -> Entry:
    """A row timing registry query ``name`` at SF_DIR, consumed by ``shape``."""
    thunk = lambda spark, _: shape(_queries()[name](spark, SF_DIR))  # noqa: E731
    return Entry(name, thunk, iters, query=name)


def pair_agg(df) -> None:
    """dedup_simjoin's noop write of ~965k pair rows, not its PPJoin, swings
    with host load; (count, pairing checksum) still verifies every pair."""
    df.selectExpr("count(1)", "bit_xor(xxhash64(id_a, id_b, jaccard))").collect()


def _docs(spark, index: bool = False):
    """(all, stored corpus, 5% micro-batch) of the documents table; with
    ``index``, the corpus's signatures persisted outside the window."""
    from pyspark.sql import functions as F
    from cdc_redshift_spark.operators.dedup import minhash_frames
    from cdc_redshift_spark.queries.dedup_q import INC_MH_K
    from cdc_redshift_spark.sources.tables import load_table
    d = load_table(spark, SF_DIR, "documents")
    ex, ba = d.where(F.col("doc_id") % 20 != 0), d.where(F.col("doc_id") % 20 == 0)
    if index:
        ex = minhash_frames(ex, k=INC_MH_K).persist()
        ex.count()
    return d, ex, ba


def _lsh(unit: str) -> Callable:
    """dedup_minhash_lsh per shingle config: the registry query runs
    both folds in one slot; char stays comparable with older rounds."""
    def thunk(_spark, docs) -> None:
        from cdc_redshift_spark.operators.dedup import minhash_lsh_pairs
        from cdc_redshift_spark.queries import dedup_q as q
        word = unit == "word"
        force(minhash_lsh_pairs(
            docs[0], k=32, bands=8, n=q.WORD_N if word else 3, unit=unit,
            jaccard_threshold=q.WORD_THRESHOLD if word else 0.6,
            max_bucket_size=q.MINHASH_BUCKET_CAP))
    return thunk


# The incremental-minhash rows split the one-time index build from the
# steady-state probe: a 5% micro-batch band-joined to the persisted index
# (the query's 25% split is a fixture, not a steady-state batch ratio).
def _inc_build(_spark, docs) -> None:
    from cdc_redshift_spark.operators.dedup import minhash_frames
    from cdc_redshift_spark.queries.dedup_q import INC_MH_K
    force(minhash_frames(docs[1], k=INC_MH_K))


def _inc_probe(_spark, docs) -> None:
    from cdc_redshift_spark.operators import dedup as op
    from cdc_redshift_spark.queries import dedup_q as q
    _, idx, batch = docs
    k = q.INC_MH_K
    force(op.incremental_minhash_pairs(idx, op.minhash_frames(batch, k=k), k=k,
                                       bands=q.INC_MH_BANDS,
                                       jaccard_threshold=q.INC_MH_THRESHOLD))


def _dv_setup(spark):
    """A fresh dv-mode sink holding the orders base (the apply mutates
    versioned state) and the changeset persisted outside the window: the
    row times the DV merge commit, not the changeset's lineage."""
    from pyspark.sql import functions as F
    from cdc_redshift_spark.sinks.parquet_sink import ParquetSink
    from cdc_redshift_spark.sources.tables import load_table
    base = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.lit(1).cast("long").alias("ts_ms"), F.col("o_orderkey").alias("offset"),
        F.lit("insert").alias("op"),
    )
    mo = F.pmod(F.col("k"), F.lit(10))
    upd = base.where(mo == 2).withColumn("status", F.lit("U"))
    ch = (
        upd.withColumn("op", F.lit("update"))
        .unionByName(base.where(mo == 3).withColumn("op", F.lit("delete")))
        .withColumn("ts_ms", F.lit(2).cast("long"))
    ).persist()
    ch.count()
    root = tempfile.mkdtemp(prefix="bench_dv_")
    sink = ParquetSink(spark, root, keys=("k",), merge_mode="dv")
    sink.apply_changeset("db", "t", base)
    return root, sink, ch


def _dv_teardown(state) -> None:
    state[2].unpersist()
    shutil.rmtree(state[0], ignore_errors=True)


#: The timed rows, in run order, which is also their `queries` order.
#: The last N_TAIL rows run after the CDC apply and the `extra` probes.
ENTRIES = [
    *map(registry, (
        "cdc_pg_replay", "cdc_lww_dedup", "q1_pricing_summary", "q3_shipping_priority",
        "q5_local_supplier_volume", "events_sessionize", "text_stats",
        "text_fingerprint", "dedup_exact", "sim_topk_query", "sim_lsh_eval",
        "events_asof_attribution", "text_winnow", "sim_pq_eval", "corpus_decontaminate",
        "mm_features_similarity", "events_incremental_rollup", "dq_orders_suite",
    )),
    # min-of-3 rows are JIT- and host-noise-sensitive (dedup_simjoin read
    # 6.7 s vs 11.0 s in two same-tree suite runs, ~5.5 s isolated);
    # compare them with their isolated steady states in SCALE.md
    registry("dedup_simjoin", iters=3, shape=pair_agg),
    registry("layout_pruned_scan", iters=3),
    *map(registry, (
        "scd2_user_history", "docs_bm25_topk", "docs_substring_dedup",
        "corpus_dsir_weights", "corpus_lm_perplexity", "emb_semantic_dedup",
        "corpus_bpe_pairs", "dedup_containment",
    )),
    registry("graph_tree_roots", iters=3),
    registry("events_twap", iters=3),
    *map(registry, (
        "dq_drift_psi", "cdc_stream_psi_drift", "cdc_stream_emb_drift",
        "cdc_stream_token_drift", "plan_salted_exec", "cdc_stream_k_anonymity",
        "cdc_stream_l_diversity", "cdc_stream_t_closeness",
    )),
    Entry("dedup_minhash_lsh.char", _lsh("char"), setup=_docs),
    Entry("dedup_minhash_lsh.word", _lsh("word"), setup=_docs),
    Entry("dedup_incremental_minhash_build", _inc_build, setup=_docs),
    Entry("dedup_incremental_minhash_probe", _inc_probe, keep_cache=True,
          setup=partial(_docs, index=True), teardown=lambda st: st[1].unpersist()),
    Entry("sink_dv_merge_commit",
          lambda _, state: state[1].apply_changeset("db", "t", state[2]),
          keep_cache=True, setup=_dv_setup, teardown=_dv_teardown),
    # The tail runs LAST: streaming leaves state-store threads and JVM churn
    # that cleanup can't reclaim, which doubled cdc_apply_batch when run
    # first.  The JVM LWW variant is timed: applyInPandasWithState's Python
    # floor (~0.2 ms/key, ~40 s at sf0.1) would drown every other signal.
    registry("events_stream_join"),
    registry("cdc_stateful_lww_agg_stream"),
]
N_TAIL = 2

#: Forced once at the smallest SF before any timing: the candidate-verify
#: family's JIT is the suite's heaviest (dedup_simjoin 20 s cold vs 6.5 s
#: warm) and C2 compiles it once whatever the SF.
WARMUP = ("dedup_minhash_lsh", "sim_lsh_eval", "dedup_simjoin", "dedup_containment",
          "dedup_incremental_minhash")

#: The DMS replay, string vs variant payload: ~par expected (0.97x at sf0.1,
#: one from_json either way), pinning that the variant path costs nothing.
VARIANT = (("replay_string_s", "cdc_dms_relational"),
           ("replay_variant_s", "cdc_dms_variant_replay"))


def ratio(a: float, b: float) -> float:
    return round(a / max(b, 1e-9), 2)


def cdc_apply(spark) -> tuple[float, dict]:
    """CDC apply: one micro-batch (≈ the reference's 200k-offset trigger
    at sf0.1) through parse -> normalize -> LWW -> merge, then at 4x; the
    4x rate should RISE as fixed costs amortize (a drop flags a scaling
    regression).  Each input is persisted outside the window and kept."""
    from pyspark.sql import functions as F
    from cdc_redshift_spark.dedup import latest_per_key
    from cdc_redshift_spark.normalize import pg_changeset
    from cdc_redshift_spark.plans.merge import apply_changeset
    from cdc_redshift_spark.queries.cdc import synth_pg_changelog
    keys = ("db", "table", "key")

    def apply(_spark, raw) -> None:
        ch = latest_per_key(pg_changeset(raw, offset_col="offset"), keys=keys)
        force(apply_changeset(None, ch, keys=keys))
    row = Entry("cdc_apply_batch", apply, keep_cache=True)
    raw = synth_pg_changelog(spark, SF_DIR).persist()
    n = raw.count()
    secs = run(spark, row._replace(setup=lambda _: raw))
    big = reduce(lambda a, b: a.unionByName(b), [
        raw.select(
            F.regexp_replace("value", '"id":', f'"id":{i}00').alias("value"),
            (F.col("offset") + i * 100_000_000).alias("offset"),
        )
        for i in range(4)
    ]).persist()
    n_4x = big.count()
    raw.unpersist()
    secs_4x = run(spark, row._replace(setup=lambda _: big))
    big.unpersist()
    rate = n / secs if secs > 0 else 0.0
    rate_4x = n_4x / secs_4x if secs_4x > 0 else 0.0
    return secs, {
        "cdc_events": n, "cdc_rec_per_s": round(rate, 1),
        "baseline_rec_per_s": 6667, "cdc_vs_baseline_x": round(rate / 6667, 2),
        "cdc_events_4x": n_4x, "cdc_rec_per_s_4x": round(rate_4x, 1),
        "cdc_scaleup_x": round(rate_4x / rate, 2) if rate else 0.0,
    }


def merge_crossover(spark) -> dict:
    """Shuffle vs broadcast apply_changeset, the planner's pick (the seam
    ParquetSink consults) and whether it won, at both ratio extremes:
    "micro", 0.5% of keys into a 16x target (the streaming steady state
    broadcast exists for); "bulk", all keys into the plain target (the
    backfill shape); "disk_micro", micro against the 16x target read
    from parquet, where only the shuffle plan pays a full-target shuffle."""
    from pyspark.sql import functions as F
    from cdc_redshift_spark.operators import planner as p
    from cdc_redshift_spark.plans.merge import apply_changeset
    from cdc_redshift_spark.sources.tables import load_table

    def leg(label: str, tgt, pred, iters: int) -> None:
        ch = (
            tgt.where(pred).withColumn("v", F.lit("upd"))
            .withColumn("ts_ms", F.lit(200).cast("long"))
            .withColumn("offset", F.col("offset") + 100_000_000)
            .withColumn("op", F.lit("update"))
        ).persist()
        merge_x[f"{label}_rows"] = ch.count()

        def apply(_spark, strategy) -> None:
            force(apply_changeset(tgt, ch, keys=("k",), strategy=strategy))
        for strat in ("shuffle", "broadcast"):
            row = Entry(label, apply, iters, keep_cache=True,
                        setup=lambda _, s=strat: s)
            merge_x[f"{label}_{strat}_s"] = run(spark, row)
        pick = p.merge_strategy_from_plan(p.join_plan(
            p.df_key_stats(tgt, "k"), p.df_key_stats(ch, "k"), "k",
            left_row_bytes=p.row_bytes_of(tgt.dtypes),
            right_row_bytes=p.row_bytes_of(ch.dtypes),
        ))
        walls = [merge_x[f"{label}_{strat}_s"] for strat in ("shuffle", "broadcast")]
        merge_x[f"{label}_planner_pick"] = pick
        merge_x[f"{label}_pick_is_faster"] = merge_x[f"{label}_{pick}_s"] <= min(walls)
        ch.unpersist()
    key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    mbase = load_table(spark, SF_DIR, "lineitem").select(
        key.alias("k"), F.col("l_quantity").cast("double").alias("qty"),
        F.col("l_returnflag").alias("v"), F.lit(100).cast("long").alias("ts_ms"),
        key.alias("offset"), F.lit("load").alias("op"),
    )
    # disjoint 16x replication: the big-target regime at any SF
    mbig = reduce(lambda a, b: a.unionByName(b), [
        mbase.select(
            (F.col("k") + i * 1_000_000_000).alias("k"), "qty", "v", "ts_ms",
            (F.col("offset") + i * 1_000_000_000).alias("offset"), "op",
        )
        for i in range(16)
    ]).persist()
    msmall = mbase.persist()
    merge_x = {"big_target_rows": mbig.count(), "bulk_target_rows": msmall.count()}
    micro = F.pmod(F.col("k"), F.lit(200)) == 7
    # min-of-3: the two plans are within ~1 s of each other at this SF,
    # and in-suite JVM state swings single runs by more than that
    leg("micro", mbig, micro, iters=3)
    leg("bulk", msmall, F.lit(True), iters=3)
    msmall.unpersist()
    disk_root = tempfile.mkdtemp(prefix="bench_merge_disk_")
    try:
        mbig.write.mode("overwrite").parquet(disk_root)
        mbig.unpersist()
        dtgt = spark.read.parquet(disk_root)
        merge_x["disk_target_rows"] = dtgt.count()
        leg("disk_micro", dtgt, micro, iters=2)
    finally:
        shutil.rmtree(disk_root, ignore_errors=True)
    # READ ME before re-litigating the sign: locally both micro plans are
    # scan-bound and their gap is noise (same-tree runs read it in
    # OPPOSITE directions, SCALE.md), so *_pick_is_faster is a coin flip;
    # the flip pays off on a cluster, where the shuffle is network.
    merge_x["local_mode_scan_bound"] = True
    return merge_x


def maintainers(spark) -> dict:
    """Per-trigger cost and history-depth axes of the streaming maintainers."""
    from pyspark.sql import functions as F
    from cdc_redshift_spark.operators.similarity import _centroids
    from cdc_redshift_spark.sources.tables import load_table
    from cdc_redshift_spark.streaming.annindex import IvfIndexMaintainer
    from cdc_redshift_spark.streaming.joinview import JoinViewMaintainer
    from cdc_redshift_spark.streaming.rollup import RollupMaintainer
    from cdc_redshift_spark.streaming.scd2 import Scd2Maintainer
    maint: dict = {}

    def trigger_walls(steps) -> list[float]:
        # ``steps`` is a generator, so each batch is built off the clock
        walls = []
        for step in steps:
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            step()
            walls.append(round(time.perf_counter() - t0, 3))
        return walls

    def steady(walls: list[float]) -> float:
        return round(sum(walls[2:]) / len(walls[2:]), 3)  # 2 pay init + JIT

    def store_footprint(root: str) -> tuple[int, int]:
        # (bytes, version dirs); a hard-linked file counts ONCE, as bytes
        # must stay O(state + churn x keep_versions)
        files = [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]
        sizes = {st.st_ino: st.st_size for st in map(os.stat, files)}
        vdirs = [os.path.join(root, d) for d in os.listdir(root) if d.startswith("v")]
        return sum(sizes.values()), sum(map(os.path.isdir, vdirs))

    def growth(prefix, slices, open_store, batch) -> None:
        # "O(batch) per trigger, never O(history)": ten triggers per 1x
        # and 4x batch; the last one's wall shows any history growth
        for label, sl in slices:
            sl = sl.persist()
            maint[f"{prefix}_batch_rows_{label}"] = sl.count()
            root = tempfile.mkdtemp(prefix=f"bench_{prefix}_")
            try:
                m = open_store(root)
                steps = (partial(m.update, batch(sl, i), i) for i in range(10))
                walls = trigger_walls(steps)
            finally:
                shutil.rmtree(root, ignore_errors=True)
                sl.unpersist()
            maint[f"{prefix}_sec_per_trigger_{label}"] = steady(walls)
            maint[f"{prefix}_last_trigger_s_{label}"] = walls[-1]

    def depth(prefix, rows_key, seeds, open_store, pinned, steps, on_done=None,
              seed_store=lambda m, seed: m.update(seed, 0)) -> None:
        # trigger IO is O(touched buckets + batch): s/trigger must stay
        # flat as the stored state grows 10x.  Triggers touch the SAME 5
        # literal keys; a mod-class filter would touch ~every bucket
        for label, seed in seeds:
            root = tempfile.mkdtemp(prefix=f"bench_{prefix}_")
            try:
                m = open_store(root)
                seed_store(m, seed)
                maint[f"{prefix}_{label}_{rows_key}"] = m.current().count()
                maint[f"{prefix}_touched_buckets"] = len(m.touched_buckets(pinned))
                walls = trigger_walls(steps(m, seed))
                if on_done:
                    on_done(label, m, root)
            finally:
                shutil.rmtree(root, ignore_errors=True)
            maint[f"{prefix}_{label}_s_per_trigger"] = steady(walls)
        maint[f"{prefix}_flat_ratio"] = ratio(
            maint[f"{prefix}_10x_s_per_trigger"], maint[f"{prefix}_1x_s_per_trigger"]
        )

    def pinned5(df, col):
        keys5 = [r[0] for r in df.select(col).distinct().orderBy(col).take(5)]
        return df.where(F.col(col).isin(keys5))

    def scd2_batch(df, i):
        attr = F.concat("attr", F.lit(str(i)))
        return df.withColumn("ts", F.lit(100 + i).cast("long")).withColumn("attr", attr)

    def scd2_steps(m, lo, hi):
        return (partial(m.update, scd2_batch(micro, i), i) for i in range(lo, hi))

    def footprint(label, m, root):
        # after 9 commits, bytes track the STATE and version dirs stay at
        # the retention cap; rows re-counted so bytes/row is one state
        fb, nv = store_footprint(root)
        maint[f"scd2_depth_{label}_store_bytes"] = fb
        maint[f"scd2_depth_{label}_version_dirs"] = nv
        maint[f"scd2_depth_{label}_rows_at_du"] = m.current().count()

    scd2 = partial(Scd2Maintainer, spark, keys=["k"], ts_col="ts", attrs=["attr"],
                   tiebreak=["seq"])
    orders = load_table(spark, SF_DIR, "orders")
    okey = F.col("o_orderkey")
    scd = orders.select(okey.alias("k"), F.col("o_orderstatus").alias("attr"),
                        okey.alias("seq"), F.lit("update").alias("op"))
    # SCD2 worst case: each trigger UPDATES the same keys with a later ts
    k400 = F.pmod(F.col("k"), F.lit(400))
    growth("scd2", [(lbl, scd.where(k400 < n)) for lbl, n in (("1x", 10), ("4x", 40))],
           scd2, scd2_batch)
    micro = pinned5(scd, "k").persist()
    maint["scd2_depth_micro_rows"] = micro.count()
    seeds = [(lbl, scd.where(k400 < n).withColumn("ts", F.lit(1).cast("long")))
             for lbl, n in (("1x", 40), ("10x", 400))]
    depth("scd2_depth", "hist_rows", seeds, scd2, micro,
          lambda m, _seed: scd2_steps(m, 1, 9), footprint)
    # ~1.0 = disk is O(state x keep_versions), no version leak
    per_row = [maint[f"scd2_depth_{d}_store_bytes"]
               / max(maint[f"scd2_depth_{d}_rows_at_du"], 1) for d in ("10x", "1x")]
    maint["scd2_depth_bytes_per_row_ratio"] = ratio(*per_row)
    # the depth flat line must HOLD across a live rebucket(64 -> 128); the
    # one-off migration is amortized O(1)/byte by snapshots.maybe_rebucket
    root = tempfile.mkdtemp(prefix="bench_scd2_rebucket_")
    try:
        m = scd2(root)
        m.update(seeds[1][1], 0)
        pre = steady(trigger_walls(scd2_steps(m, 1, 7)))
        maint["rebucket_store_bytes_pre"] = pre_bytes = store_footprint(root)[0]
        t0 = time.perf_counter()
        m.rebucket(128)
        maint["rebucket_migration_s"] = round(time.perf_counter() - t0, 3)
        post = steady(trigger_walls(scd2_steps(m, 7, 13)))
        fb, maint["rebucket_version_dirs_post"] = store_footprint(root)
        maint["rebucket_store_bytes_post"] = fb
        maint["rebucket_bytes_flat_ratio"] = ratio(fb, pre_bytes)
        maint["rebucket_pre_s_per_trigger"] = pre
        maint["rebucket_post_s_per_trigger"] = post
        maint["rebucket_touched_buckets_post"] = len(m.touched_buckets(micro))
        maint["rebucket_hist_rows"] = m.current().count()
        maint["rebucket_flat_ratio"] = ratio(post, pre)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        micro.unpersist()
    right = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment").persist()
    right.count()
    jv_pinned = pinned5(right, "custkey")
    signed = right.withColumn("sign", F.lit(1))

    def jv_steps(m, left):
        # 5 new left rows on the pinned keys: delta = dL ⋈ R_old (dR empty)
        for i in range(1, 9):
            d_left = jv_pinned.select("custkey", F.lit(f"S{i}").alias("o_orderstatus"),
                                      F.lit(1).alias("sign"))
            yield partial(m.update, d_left, left, signed.limit(0), right, i)

    depth(
        "jv_depth", "view_rows",
        [(lbl, orders.where(F.pmod(okey, F.lit(n)) == 0)
          .select(F.col("o_custkey").alias("custkey"), "o_orderstatus"))
         for lbl, n in (("1x", 10), ("10x", 1))],
        partial(JoinViewMaintainer, spark, on=["custkey"],
                cols=["custkey", "o_orderstatus", "c_mktsegment"]),
        jv_pinned.select("custkey"), jv_steps,
        seed_store=lambda m, left: m.update(
            left.withColumn("sign", F.lit(1)), left, signed, right.limit(0), 0),
    )
    right.unpersist()
    # a PER-KEY rollup grain, so the stored state grows with the keys
    total = F.col("o_totalprice").cast("decimal(18,4)")
    ru = orders.select(okey.alias("k"), total.alias("total"), F.lit(1).alias("sign"))
    ru_micro = pinned5(ru, "k").persist()
    ru_micro.count()
    depth(
        "rollup_depth", "group_rows",
        [(lbl, ru.where(F.pmod(F.col("k"), F.lit(n)) == 0))
         for lbl, n in (("1x", 10), ("10x", 1))],
        partial(RollupMaintainer, spark, prepare=lambda r: r, time_col=None,
                bucket=None, dims=["k"], measures={"sum_total": "total"}),
        ru_micro.select("k"),
        lambda m, _seed: (partial(m.update, ru_micro, i) for i in range(1, 9)),
    )
    ru_micro.unpersist()
    # 1x = a quarter of the small embeddings table per IVF trigger, 4x =
    # all of it: a thinner slice would measure only the fixed floor
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = _centroids(emb, 16, "vec_id", "embedding")
    growth(
        "ivf",
        [(lbl, emb.where(F.pmod(F.col("vec_id"), F.lit(4)) < n))
         for lbl, n in (("1x", 1), ("4x", 4))],
        partial(IvfIndexMaintainer, spark, cents=cents),
        lambda sl, i: sl.select((F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                                "embedding"),
    )
    return maint


def main() -> None:
    from cdc_redshift_spark.session import get_spark
    spark = get_spark("bench")
    # warmup, off the clock: touch the tables, JIT common paths and start
    # the Python worker pool (~10 s one-time) before any pandas-UDF query
    _queries()["q1_pricing_summary"](spark, SF_DIR).count()
    warm_sf = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_sf):
        for name in WARMUP:
            force(_queries()[name](spark, warm_sf))
    times = {e.name: run(spark, e) for e in ENTRIES[:-N_TAIL]}
    cdc_secs, extra = cdc_apply(spark)
    extra["merge_crossover"] = merge_crossover(spark)
    extra["maintainers"] = maintainers(spark)
    v = extra["dms_payload_variant"] = {k: run(spark, registry(q)) for k, q in VARIANT}
    v["variant_speedup_x"] = ratio(v["replay_string_s"], v["replay_variant_s"])
    times.update((e.name, run(spark, e)) for e in ENTRIES[-N_TAIL:])
    result = {
        "metric": "suite_wall_seconds",
        "value": round(sum(times.values()) + cdc_secs, 3),
        "unit": "sec",
        "queries": {**times, "cdc_apply_batch": cdc_secs},
        "sf": float(SF_DIR.rstrip("/").split("sf")[-1]),
        "extra": extra,
    }
    # the full result goes to BENCH_FULL_rNN.json (N = 1 + the newest round
    # artifact, or SPARK_GRAFT_ROUND); the printed line is slim, because
    # its consumer records only the last 2000 chars of stdout
    here = os.path.dirname(__file__)
    full = None
    try:
        rnd = os.environ.get("SPARK_GRAFT_ROUND")
        if rnd is None:
            pats = ("CORRECTNESS_r*.json", "BENCH_r*.json")
            seen = [artifact_round(p) for pat in pats
                    for p in glob.glob(os.path.join(here, pat))]
            rnd = str(max(seen) + 1 if seen else 0)
        full = f"BENCH_FULL_r{int(rnd):02d}.json"
        with open(os.path.join(here, full), "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
            f.write("\n")
    except Exception as exc:  # artifact write must never fail the bench
        print(f"BENCH_FULL write skipped: {exc}", file=sys.stderr)
    slim = ("cdc_events", "cdc_rec_per_s", "baseline_rec_per_s", "cdc_vs_baseline_x",
            "cdc_rec_per_s_4x", "cdc_scaleup_x")
    slim_extra = {k: extra[k] for k in slim}
    if full is not None:
        slim_extra["full_extra_in"] = full
    print(json.dumps({**result, "extra": slim_extra}))


if __name__ == "__main__":
    main()
