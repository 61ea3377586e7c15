"""Regenerate PLANS.md: formatted physical plans of the headline
queries with the scale-relevant properties called out.

Usage: python tools/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# query -> the one-line property a reviewer should verify in the plan
CALLOUTS = {
    "q1_pricing_summary": "PushedFilters on l_shipdate; ReadSchema pruned; one Exchange; partial_sum map-side",
    "q6_revenue_change": "all four predicates in PushedFilters; 4-column ReadSchema; no shuffle before the scalar agg",
    "q3_shipping_priority": "BroadcastHashJoin for customer; TakeOrderedAndProject for top-10 (no global Sort)",
    "q5_local_supplier_volume": "every dim a BroadcastHashJoin; single fact-fact shuffle",
    "events_asof_attribution": "NO join operator at all: union + one hashpartitioning Exchange + window carry-forward",
    "events_burst_windows": "range join planned as an equi-join on time cells (no BroadcastNestedLoopJoin)",
    "dedup_minhash_lsh": "one narrow Arrow pass, ONE shuffle on band slice-values, in-bucket verify",
    "sim_lsh_eval": "tag -> (tbl,bucket) shuffle -> fused bucket GEMM emitting local top-k; recall frame rides a 1-row broadcast BNLJ",
    "sim_pq_eval": "exactly one ArrowEvalPython (the encode); ADC scoring is codegen element_at chains; recall frame a 1-row broadcast BNLJ",
    "text_winnow": "ONE mapInPandas (Arrow per-doc winnowing) and ZERO shuffles before the output projection",
    "cdc_pg_replay": "codegen parse/normalize; one LWW shuffle; one max_by merge shuffle",
    "cdc_variant_payload": "try_parse_json once per row inside codegen; variant_get typed extraction (no per-path JSON re-parse); one LWW shuffle + one agg shuffle",
    "corpus_source_cap": "salted two-phase cap: windows keyed (source,salt) then (source); no join, md5 priority in codegen",
    "corpus_decontaminate": "Arrow gram-row fast path each side; window DF filter; one gram-hash equi-join",
    "mm_features_similarity": "one mapInPandas (Arrow) for features; cosine in codegen; TakeOrdered top-k",
    "events_incremental_rollup": "delta fold shuffles ONLY changed rows; merge re-agg over group rows; no joins, no fact rescan",
    "sketch_distinct_users": "WindowGroupLimit partial+final (O(k) sketch build); one array-merge agg per event_type",
    "dq_orders_suite": "one aggregation pass per table; RI checks as BroadcastHashJoin on pruned key columns",
    "q21_late_supplier": "ONE lineitem pass (no fact self-join): broadcast orders filter, per-order Expand agg, TakeOrdered",
    "dedup_simjoin": "no CartesianProduct/BNLJ anywhere: prefix explode -> equi-join on rare tokens; array_intersect verify in codegen",
    "dedup_incremental_minhash": "band rows from STORED signatures (no Arrow on the index side); one equi-join on (band, slice-values)",
    "corpus_chunk_docs": "zero Exchange: sequence+slice flatMap entirely inside WholeStageCodegen",
    "corpus_pack_stream": "one Exchange keyed on shard; running-sum window per shard; integer-only projections",
    "corpus_weighted_sample": "scan + TakeOrderedAndProject (no global Sort); priorities in codegen (conv/md5/pow)",
    "sketch_price_quantiles": "bin ids pure codegen (length(bin())/shift/mask); ONE count shuffle; cumsum window on tiny sketch rows",
    "snapshot_partition_diff": "ONE full-outer join on the key + one partition aggregate; no second pass over either snapshot",
    "er_fuzzy_name_pairs": "equi-join on the block key (never all-pairs); levenshtein only after the length prefilter",
    "cdc_ingest_neardup_probe": "band rows from stored signatures; ONE (band,key) equi-join; left join of the tiny hit set back onto the batch",
    "orders_running_windows": "three window specs, ONE hashpartitioning Exchange on o_custkey (fold must not multiply shuffles)",
    "scd2_user_history": "ONE per-key window Exchange; zero join nodes; delete filter after lead() in codegen",
    "scd2_incremental_apply": "batch window + BroadcastHashJoin of the per-key cut against history; history never re-sorted",
    "orders_join_view_maintenance": "both IVM joins broadcast the DELTA side; bases never shuffle for a join; union + one groupBy apply",
    "docs_bm25_topk": "tf explode filtered to query terms pre-shuffle; df broadcast; ONE 1-row stats BNLJ; TakeOrderedAndProject",
    "events_heavy_hitters": "MG screen collected once to LOCAL rows (no cache, no runtime Arrow stage); candidates broadcast into a LeftSemi; count shuffle carries candidate rows only",
    "scd2_late_repair": "late keys broadcast into BOTH prune joins (anti on history, semi on changelog); only touched keys re-window",
    "events_scd2_asof_enrich": "zero join nodes: union + per-key window carry + containment projection",
    "docs_substring_dedup": "gram hashes in codegen (transform/sequence); dup filter is a LeftSemi; BOTH island windows share ONE per-doc Sort",
    "dedup_containment": "probe-side prefix explode only; container side full index; positional filter per join row; verify joins broadcast",
    "sketch_cm_tokens": "cells bounded d*w by map-side partial agg; estimate broadcasts the sketch; probes never shuffle",
    "corpus_dsir_weights": "bucket tables (<=4096 rows) broadcast; ONE 1-row stats BNLJ; gram explode evaluated exactly twice",
    "layout_zonemap_scan": "index = ONE distributed groupBy(input_file_name) min/max; read is an explicit candidate file list",
    "corpus_lm_perplexity": "both LM count tables (<=4096 rows) broadcast; transitions scored in place; ONE per-doc avg shuffle",
    "corpus_temperature_mix": "no whole-source window: broadcast per-source cuts; only the boundary bucket cumsums",
    "events_golden_profile": "all non-mode rules in ONE keyed aggregate (max_by structs); mode table broadcast back",
    "events_ohlc_bars": "ordered picks via max_by/min_by structs inside ONE time-bucket aggregate; no window, no per-bucket sort",
    "orders_merge_into": "ONE full-outer join on the key; every clause a codegen when/otherwise chain; no per-clause joins",
    "emb_semantic_dedup": "ONE cell shuffle; in-cell pairs via Arrow tiled GEMM; survivor rule a broadcast-able anti-join on dropped ids",
    "corpus_bpe_pairs": "one corpus scan folds words to types (map-side combine); pair explode vocab-sized; TakeOrderedAndProject top-k",
    "docs_hybrid_rrf": "both retrievers pool-sized before fusion; rank windows over <=50 rows; one full-outer join over <=100 rows",
    "docs_phrase_search": "ZERO Exchange: scan -> filter -> project only; positional element_at predicate, no shuffle, no UDF",
    "events_resample_interp": "two as-of passes (union + keyed window, no join nodes) + one equi-join on (user, grid) keys",
    "dq_value_outliers": "ONE user_id Exchange shared by the median and MAD percentile windows; flag filter in codegen",
    "dq_value_winsorized": "both percentile bounds over ONE whole-partition window; clamp projection in codegen",
    "layout_range_bounds": "one exact-percentile aggregation (no sort, no window); bin = literal-array filter in codegen; k-group count",
    "events_session_paths": "sessionize + lead windows share ONE user_id Exchange; transition agg on <=|types|^2 keys; TakeOrderedAndProject",
    "events_pivot_types": "explicit pivot values -> ONE conditional-aggregation pass (no distinct scan)",
    "docs_tfidf_keywords": "vocab df table BROADCAST back (no big-big join); 1-row N broadcast; round-then-rank window",
    "events_rfm_segments": "events touched once into the per-user frame; three ntile windows; 1-row max broadcast is the only join",
    "orders_bloom_semi_revenue": "bitmap prefilter entirely scan-side (codegen element_at probes); exactly ONE LeftSemi join",
    "events_twap": "one lead window + one bucket agg; all epoch-ns math in integer div/pmod",
    "graph_tree_roots": "pointer doubling: O(log depth) self-joins, lineage truncated per round",
    "dq_latency_percentiles": "one exact percentile-array aggregation pass; no window, no sort",
    "dq_drift_psi": "epoch bounds a 1-row broadcast; per-key ref stats a BroadcastHashJoin; ONE (key,bin) cell shuffle; no window, no sort",
    "pii_k_anonymity": "ONE map-side-combined hash aggregation on the QI tuple; violator filter on the aggregate",
    "pii_l_diversity": "two map-side-combined hash aggregations ((QI, sensitive) distinct-collapse, then QI); no join, no window; output bounded by violators",
    "pii_t_closeness": "ONE (QI, sensitive) cell aggregation; global-value and 1-row total attaches broadcast; absent-value algebra keeps the class x value grid virtual",
    "emb_drift_report": "posexplode folds map-side into (label,pos) means -> shuffle carries |labels|*dim rows; cosine a |labels|-row aggregate; id bounds a 1-row broadcast",
    "pii_t_closeness_ordered": "grid = |classes| x m via broadcast of the m-row ranked value table (bounded BNLJ on aggregate output); ONE per-class window Exchange carries grid cells, never input rows; prefix-sum + |cum| fold in codegen",
    "plan_salted_exec": "the flagged shuffle join executes SALTED with a factor DERIVED from the confirmed hot mass (suggest_salt_factor, r14 — no guessed constant): fact side pmod(xxhash64(event_id), factor) salt in codegen, dim side Generate-replicated factor x, join keys (user_id, __salt) — no hot-key task (the fixture-scale dump broadcasts the tiny replicated side; in the no-broadcast regime the plan targets, the same salted keys shuffle — straggler ratio 70.8 -> 1.83 measured, SCALE.md r14); per-user agg map-side combines after the join",
    "corpus_token_drift": "token explode folds map-side into (source,token) counts (ONE wide shuffle); vocab window + OOV remap on the tiny count table; PSI over |sources|*51 cells",
    # cdc_stream_psi_drift localCheckpoints its maintained-state read
    # (like cdc_stream_ivf_index below), so a dumped plan is an
    # ExistingRDD scan; its scale properties ride RollupMaintainer's
    # bucketed store (SCALE.md round-11 second session).  The same
    # holds for the round-13 streaming faces cdc_stream_emb_drift /
    # cdc_stream_token_drift / cdc_rollup_autogrow_stream (history
    # independence measured in SCALE.md round-13) and the round-14
    # privacy faces cdc_stream_k_anonymity / cdc_stream_l_diversity
    # (maintained QI-class counts; scoring reads only state cells through the
    # shared k_anonymity_score / l_diversity_score expressions whose
    # batch plans ARE dumped above).
    # cdc_stream_ivf_index's scale property (batch=<id>/cell=<c> probes
    # prune DIRECTORIES; 87.5% files skipped at 2/16 cells) is pinned in
    # tests/test_similarity_ops.py + SCALE.md — its gated form
    # localCheckpoints, so a dumped plan would be an ExistingRDD scan.
}


def main() -> None:
    from cdc_redshift_spark.session import get_spark

    spark = get_spark("plan-dump", master="local[4]", shuffle_partitions=4)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        "Regenerate with `python tools/dump_plans.py` (sf0.001, local[4]).",
        "Each section names the scale property the plan must keep; the",
        "same properties are pinned by tests/test_plan_quality.py where",
        "they are assertable.",
        "",
    ]
    def lazy_simjoin(spark, sf_dir):
        # eager=False: the gated form localCheckpoints (collapsing the
        # dumped plan to an ExistingRDD scan); the lazy form has the
        # identical logical plan up to that point
        from cdc_redshift_spark.operators.simjoin import (
            jaccard_similarity_join,
        )
        from cdc_redshift_spark.queries.dedup_q import SIMJOIN_TAU
        from cdc_redshift_spark.sources.tables import load_table

        return jaccard_similarity_join(
            load_table(spark, sf_dir, "documents"), tau=SIMJOIN_TAU, eager=False
        )

    overrides = {"dedup_simjoin": lazy_simjoin}

    for name, note in CALLOUTS.items():
        df = overrides.get(name, qs[name])(spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Keep:** {note}")
        out.append("")
        out.append("```")
        lines = plan.strip().splitlines()
        if len(lines) > 150:
            lines = lines[:150] + [f"... ({len(lines) - 150} detail lines trimmed)"]
        out.append("\n".join(lines))
        out.append("```")
        out.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(CALLOUTS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
