"""Registry contract: the driver's correctness gate checks the FIRST 50
queries in registry order, so the window composition is load-bearing —
pin it so a refactor can't silently push an operator family out of the
driver's sight again (the round-4 failure mode)."""

from cdc_redshift_spark.queries import _GATE_WINDOW, all_queries


def test_gate_window_is_exactly_50_and_leads_registry():
    q, o = all_queries()
    names = list(q)
    assert len(_GATE_WINDOW) == 50
    assert names[:50] == _GATE_WINDOW
    assert len(names) == len(set(names))


def test_gate_window_pins_the_round15_rotation():
    """The r15 window is a staleness refresh plus the entries that
    MUST gate this round: every query whose semantics or machinery
    code changed (the parquet_sink nine-fix cluster -> all sink_*
    entries; the snapshots.py flip-pruning/keep_extra changes -> the
    store-backed streams; the suggest_salt_factor clamp ->
    plan_salted_exec) and the 5 CDC pipelines re-gated every round.
    (The bulk of the window — the r10 staleness cohort — is policy,
    not correctness, so it is not pinned here;
    tools/rotate_window.py recomputes it.)"""
    must_gate = {
        # parquet_sink.py edge-fix cluster (r15)
        "sink_analyze_stats", "sink_column_rename", "sink_constraints",
        "sink_dv_merge", "sink_generated_columns", "sink_occ_commit",
        "sink_optimize", "sink_repartition_evolution",
        "sink_restore_clone", "sink_row_provenance",
        "sink_schema_evolution", "sink_table_changes",
        "sink_time_travel", "sink_txn_batch",
        # snapshots.py flip pruning / keep_versions validation (r15)
        "cdc_scd2_history", "cdc_join_view_stream",
        "cdc_rollup_rebucket_stream", "cdc_rollup_autogrow_stream",
        "cdc_stream_kmv_rollup", "cdc_stream_cm_sketch",
        # planner clamp (ADVICE r14)
        "plan_salted_exec",
        # NEW r15: the lookup_files + read_files fast path, and the
        # full-pipeline dead-letter certification
        "sink_point_lookup",
        "cdc_dead_letter_replay",
        # recorded r15 queue heads from the r14 close notes
        "cdc_windowed_ops_stream", "corpus_clean_pipeline",
        "cdc_variant_payload",
        # CDC pipelines, every round
        "cdc_pg_replay", "cdc_lww_dedup", "cdc_dms_relational",
        "cdc_dms_schema_drift", "cdc_mongo_replay",
    }
    missing = must_gate - set(_GATE_WINDOW)
    assert not missing, f"never-driver-gated queries outside window: {missing}"


#: Queries allowed to omit a SQL oracle (driver falls back to the
#: rows-only check).  Each entry must name the pytest that value-gates
#: it instead; keep this list justified and short.
ROWS_ONLY_OK: set[str] = set()
# (empty since r11: sketch_hll_users — the last rows-only entry —
# now emits its HLL_8 registers as the query output, full-value
# hash-gated against a from-scratch SQL recomputation of the public
# spec (duck_hll8_registers); the implementation-defined lgk=12
# estimate is certified in-query by a raise-on-miss tolerance gate.)


def test_every_query_has_an_oracle_or_is_allowlisted():
    q, o = all_queries()
    missing = [n for n in q if n not in o and n not in ROWS_ONLY_OK]
    assert missing == [], missing
    stale = [n for n in ROWS_ONLY_OK if n not in q or n in o]
    assert stale == [], f"allowlist out of date: {stale}"


def test_no_cross_module_query_name_collisions():
    """Module QUERIES keys must be globally unique: the registry is a
    dict.update chain, so a duplicate name silently SHADOWS an earlier
    module's query (and its oracle) — exactly the failure that briefly
    replaced analytics' events_funnel with a temporal duplicate."""
    from collections import Counter

    from cdc_redshift_spark.queries import (
        analytics,
        cdc,
        corpus_q,
        dedup_q,
        dq_q,
        incremental_q,
        layout_q,
        multimodal_q,
        similarity,
        streaming_q,
        temporal_q,
        text_q,
        tpch_q,
    )

    names: list = []
    for mod in (
        cdc, analytics, text_q, dedup_q, corpus_q, similarity,
        multimodal_q, streaming_q, temporal_q, incremental_q, dq_q,
        layout_q, tpch_q,
    ):
        names += list(mod.QUERIES)
    dups = [n for n, c in Counter(names).items() if c > 1]
    assert not dups, f"query names shadow each other across modules: {dups}"


def test_artifact_round_reads_leading_digits(monkeypatch):
    """bench.py stamps BENCH_FULL_rNN.json one past the newest round
    artifact, and tools/rotate_window.py reads CORRECTNESS_rNN.json
    rounds: both parse names through bench.artifact_round, which must
    read suffixed names such as BENCH_r15_c8.json (an int("15_c8")
    there once silently stopped BENCH_FULL from being written)."""
    import os

    import pytest

    monkeypatch.syspath_prepend(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import artifact_round

    assert artifact_round("BENCH_r15_c8.json") == 15
    assert artifact_round("/repo/BENCH_FULL_r07.json") == 7
    assert artifact_round("CORRECTNESS_r16.json") == 16
    with pytest.raises(ValueError):
        artifact_round("BENCH_rx.json")


def test_bench_table_keeps_the_published_keys(monkeypatch):
    """bench.py's table is the published `queries` contract: its entry
    names plus cdc_apply_batch are exactly the keys of the committed
    BENCH_FULL_r17.json, so an entry cannot be renamed or dropped
    without this test changing.  Importing bench loads no pyspark."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.syspath_prepend(repo)
    import bench

    names = [e.name for e in bench.ENTRIES]
    assert len(names) == len(set(names))
    with open(os.path.join(repo, "BENCH_FULL_r17.json")) as f:
        published = set(json.load(f)["queries"])
    assert set(names) | {"cdc_apply_batch"} == published
    probe = "import sys, bench; sys.exit('pyspark' in sys.modules)"
    assert subprocess.run([sys.executable, "-c", probe], cwd=repo).returncode == 0
