"""The benchmark's workloads: one closed-loop stream each.

A micro-batch costs 4-7 s on a 4-core host, mostly fixed per-job and
per-task overhead, so the sizes are chosen for a few timed batches per
14 s run while the layer each workload stresses still dominates.
``dms_skewed_dv_read`` is runnable by name but left out of
BENCHMARK.json: one DV commit takes ~25 s (see README.md).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    envelope: str  # "pg" | "mongo" | "dms"
    db: str
    table_prefix: str
    tables: int
    seed_keys: int  # keys per table loaded by the seed batch
    keys_per_table: int  # key space the change batches draw from
    batch_events: int
    delete_share: float
    insert_share: float
    zipf_s: float | None = None  # skewed key draw when set
    merge_mode: str = "rewrite"
    read_after_commit: bool = False  # fixed read of every table per batch
    warm_batches: int = 1
    # ANALYZE every table after the seed batch, so the sink's merge
    # planner plans each apply from the carried stats
    analyze: bool = False
    # sizes the timed file budget, with room for a ~3x faster engine
    min_batch_s: float = 1.0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="pg_rewrite_merge",
            why=(
                "Debezium-PG updates and deletes spread uniformly over a "
                "seeded 2-table target: the sink's full rewrite merge and "
                "commit dominate, parse and LWW are cheap"
            ),
            envelope="pg",
            db="inventory",
            table_prefix="orders_",
            tables=2,
            seed_keys=10_000,
            keys_per_table=10_000,
            batch_events=2_000,
            delete_share=0.10,
            insert_share=0.05,
            analyze=True,
            min_batch_s=1.0,
        ),
        Workload(
            name="mongo_many_tables",
            why=(
                "Debezium-Mongo, small batches over 4 collections: per-table "
                "fan-out, per-job and per-task overhead and the slowest table "
                "dominate, merge data per table is tiny"
            ),
            envelope="mongo",
            db="shop",
            table_prefix="coll_",
            tables=4,
            seed_keys=100,
            keys_per_table=400,
            batch_events=600,
            delete_share=0.10,
            insert_share=0.20,
            min_batch_s=1.0,
        ),
        Workload(
            name="dms_skewed_dv_read",
            why=(
                "DMS, large batches over a small zipf-skewed key space with "
                "merge_mode=dv and a fixed read after every commit: parse and "
                "LWW see most rows, reads pay for deferred deletion vectors"
            ),
            envelope="dms",
            db="sales",
            table_prefix="ledger_",
            tables=2,
            seed_keys=2_000,
            keys_per_table=2_000,
            batch_events=20_000,
            delete_share=0.05,
            insert_share=0.05,
            zipf_s=1.1,
            merge_mode="dv",
            read_after_commit=True,
            min_batch_s=10.0,
        ),
    )
}
