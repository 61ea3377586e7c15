"""Last-writer-wins dedup — the reference's workhorse operator (W1).

The reference runs ``row_number() over (partition by db, table, key
order by ts desc) == 1`` per micro-batch
(glue_docdb_redshift_cdc.py:137-139, glue_pg_redshift_cdc.py:134-136,
glue_dms_redshift_cdc.py:170-172).  Ties in ts are nondeterministic
there; we add the source offset as a total-order tiebreaker
(SURVEY §2.7 W1, FIXTURES §6.5).

Scale notes (100 TB): this is one hash shuffle on the partition keys.
Skewed keys (one hot document) are bounded by batch size; AQE skew-join
handling does not apply to windows, but a two-phase
max-ts-then-semijoin variant is provided for pathological skew.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str] = ("db", "table", "key"),
    ts_col: str = "ts_ms",
    tiebreak_col: str | None = "offset",
    salt: int | None = None,
) -> DataFrame:
    """Keep the newest row per key: LWW dedup with deterministic ties.

    Exactly the reference's W1 window, plus the offset tiebreaker.

    ``salt`` enables the two-phase hot-key form: phase 1 picks a
    partial winner per (keys, hash-salt) — the hot key's rows spread
    over ``salt`` window tasks — phase 2 picks the winner of the ≤
    ``salt`` survivors per key.  Same result (max over a partition is
    associative); bounded task size.
    """
    order = [F.col(ts_col).desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).desc())
    if salt is not None:
        if salt <= 1:
            raise ValueError(f"salt must be > 1, got {salt}")
        # deterministic row-level salt: hash the ORDER columns so equal
        # rows land in the same bucket and replays stay idempotent
        scol = F.pmod(
            F.xxhash64(ts_col, *([tiebreak_col] if tiebreak_col else [])),
            F.lit(salt),
        )
        w1 = Window.partitionBy(*keys, "__salt").orderBy(*order)
        partial = (
            df.withColumn("__salt", scol)
            .withColumn("__rn", F.row_number().over(w1))
            .where(F.col("__rn") == 1)
            .drop("__rn", "__salt")
        )
        df = partial  # ≤ salt rows per key survive to the final window
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
