"""Incremental materialized-aggregate maintenance (continuous aggregates
under CDC).

The reference applies CDC changes to Redshift base tables and leaves all
aggregation to downstream warehouse SQL (SURVEY §0; postactions at
`/root/reference/src/glue_pg_redshift_cdc.py:178-191` only merge rows) —
so every dashboard rollup over a 100 TB base table is a full rescan even
when 0.01 % of rows changed.  These operators close that gap: maintain a
bucketed rollup *incrementally* from the changeset itself.

Two steps, each one bounded shuffle:

1. :func:`rollup_delta` — fold the changeset (rows tagged
   insert/delete; an update is the delete of the before-image plus the
   insert of the after-image, exactly the shape
   ``normalize.pg_changeset`` can emit from a Debezium ``before``/
   ``after`` envelope) into signed per-group deltas.  Shuffles ONLY the
   changed rows — at 100 TB that is the micro-batch, not the table.
2. :func:`apply_rollup_delta` — merge deltas into the stored rollup via
   union + re-aggregate: one shuffle of |rollup| + |delta| *group* rows
   (already tiny — one row per bucket×dims).  When the rollup is stored
   partitioned by bucket date (``sinks/parquet_sink.py`` swap-commit),
   only partitions that appear in the delta need rewriting — the same
   touched-partition discipline the CDC merge path uses.

Maintainable measures are COUNT and SUM — the group homomorphisms with
inverses, so deletes subtract exactly.  MIN/MAX and COUNT(DISTINCT) are
NOT incrementally maintainable under deletes without auxiliary state;
for distinct counts pair this with the mergeable sketches in
:mod:`cdc_redshift_spark.operators.sketches` (insert-only maintainable).
Use DECIMAL measure columns when exact replay equivalence matters:
decimal sums are associative, so base+delta equals a full recompute
bit-for-bit regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: op-code vocabularies: "row removed" (Debezium 'd', our normalized
#: 'delete') vs "row image added" (insert/load/snapshot-read).  An op
#: outside BOTH vocabularies — most importantly a Debezium 'u'/'update'
#: single-image row, which CANNOT be folded without its before-image —
#: raises instead of silently drifting the rollup.
DELETE_OPS = ("delete", "d")
INSERT_OPS = ("insert", "load", "c", "i", "r")


def rollup_delta(
    changeset: DataFrame,
    time_col: str | None,
    bucket: str | None,
    dims: list[str] | tuple[str, ...],
    measures: dict[str, str],
    op_col: str = "op",
    n_col: str = "n",
) -> DataFrame:
    """Signed per-group aggregate deltas from a changeset.

    Parameters
    ----------
    changeset : one row per change image. ``op_col`` in DELETE_OPS ∪
        INSERT_OPS (case-insensitive) — updates must arrive as
        delete(before) + insert(after) pairs; a bare update op raises
        (its before-image is missing by construction).
    time_col / bucket : event-time column and ``date_trunc`` unit for
        the rollup bucket (``'hour'``, ``'day'``, ...).
    dims : extra grouping dimensions.
    measures : ``{output_name: source_column}`` summed measures.
    n_col : name of the maintained row-count measure.

    Returns one row per touched (bucket_ts, \\*dims) with signed
    ``n_col`` and measure deltas — the only shuffle is over changed
    rows, grouped map-side first (partial aggregation).
    """
    op = F.lower(F.col(op_col))
    sign = (
        F.when(op.isin(*DELETE_OPS), F.lit(-1))
        .when(op.isin(*INSERT_OPS), F.lit(1))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "rollup_delta: op must be a delete/insert image "
                        "(updates arrive as delete-before + insert-after "
                        "pairs, or use rollup_delta_signed over a "
                        "retraction stream); got: "
                    ),
                    F.coalesce(F.col(op_col), F.lit("NULL")),
                )
            ).cast("int")
        )
    )
    return _signed_delta(
        changeset, sign, time_col, bucket, dims, measures, n_col
    )


def rollup_delta_signed(
    retractions: DataFrame,
    time_col: str | None,
    bucket: str | None,
    dims: list[str] | tuple[str, ...],
    measures: dict[str, str],
    sign_col: str = "sign",
    n_col: str = "n",
) -> DataFrame:
    """Like :func:`rollup_delta` but over an already-signed retraction
    stream (``normalize.normalize_pg_retractions``): ``sign_col`` is
    ±1 per image row.  Because retraction algebra commutes, the input
    needs no dedup and no ordering — any batch split yields the same
    merged rollup."""
    return _signed_delta(
        retractions, F.col(sign_col), time_col, bucket, dims, measures, n_col
    )


def _signed_delta(df, sign, time_col, bucket, dims, measures, n_col):
    aggs = [F.sum(sign).alias(n_col)] + [
        F.sum(sign * F.col(src)).alias(out) for out, src in measures.items()
    ]
    # time_col=None → a pure dimensional rollup (no time bucket); the
    # bucketed form requires the bucketing time to come from the ROW
    # IMAGE (so an update's retraction lands in the bucket it was
    # counted in), which is why it is the image payload's column, never
    # the change timestamp.
    keys = (
        [F.date_trunc(bucket, F.col(time_col)).alias("bucket_ts")]
        if time_col is not None
        else []
    )
    return df.groupBy(*keys, *dims).agg(*aggs)


def apply_rollup_delta(
    rollup: DataFrame,
    delta: DataFrame,
    dims: list[str] | tuple[str, ...],
    measures: list[str] | tuple[str, ...],
    n_col: str = "n",
) -> DataFrame:
    """Merge a signed delta into a stored rollup.

    Both inputs carry ``(bucket_ts, *dims, n_col, *measures)``.  Union
    + one re-aggregation: with the rollup bucketed/partitioned on the
    group key this co-locates without a wide shuffle, and AQE coalesces
    the tiny post-shuffle partitions.

    Cleanup rule: only groups that are IDENTICALLY zero (count and
    every measure) disappear — a fully-deleted bucket leaves no residue
    row (exact with DECIMAL measures).  Groups with a NEGATIVE count
    are kept: they are in-flight retractions whose matching inserts sit
    in a batch not yet applied (retraction algebra commutes across
    batch splits only if negative intermediate states survive the
    merge).  A converged rollup has no negative groups; readers that
    must tolerate mid-replay reads can filter ``n > 0`` themselves.
    """
    keys = (["bucket_ts"] if "bucket_ts" in rollup.columns else []) + list(
        dims
    )
    cols = [*keys, n_col, *measures]
    merged = rollup.select(*cols).unionByName(delta.select(*cols))
    out = merged.groupBy(*keys).agg(
        F.sum(n_col).alias(n_col),
        *[F.sum(m).alias(m) for m in measures],
    )
    return out.filter(_nonzero_group(n_col, measures))


def _nonzero_group(n_col: str, measures) -> "F.Column":
    """True for groups that carry any state: nonzero count or any
    nonzero measure.  (A group at count 0 whose measures are all 0 or
    NULL is identically empty — nothing left to retract or report.)"""
    cond = F.col(n_col) != 0
    for m in measures:
        cond = cond | (F.col(m) != 0)  # NULL-measure ⇒ no state
    return cond


def incremental_rollup(
    rollup: DataFrame,
    changeset: DataFrame,
    time_col: str | None,
    bucket: str | None,
    dims: list[str] | tuple[str, ...],
    measures: dict[str, str],
    op_col: str = "op",
    n_col: str = "n",
) -> DataFrame:
    """Convenience composition: ``apply_rollup_delta(rollup,
    rollup_delta(changeset, ...))``."""
    d = rollup_delta(
        changeset, time_col, bucket, dims, measures, op_col=op_col, n_col=n_col
    )
    return apply_rollup_delta(
        rollup, d, dims, list(measures), n_col=n_col
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    partition_col: str,
    compare_cols: list[str],
) -> DataFrame:
    """Per-partition change report between two snapshots of a table —
    the backfill planner: downstream recomputes touch ONLY partitions
    this report marks dirty, instead of diffing or rescanning 100 TB.

    Row-level semantics (full outer join on ``keys``):

    - key only in ``new``            → *added* (new row's partition)
    - key only in ``old``            → *deleted* (old row's partition)
    - both, any compare col differs (``IS DISTINCT FROM`` — null-safe)
      and partition unchanged        → *changed*
    - both, partition value moved    → *deleted* from the old partition
      AND *added* to the new one (both partitions are dirty)
    - otherwise                      → *unchanged*

    Output: ``partition, n_added, n_deleted, n_changed, n_unchanged``
    (one row per partition appearing in either snapshot).

    Plan: ONE full-outer shuffle join on the keys + one count
    aggregate on the partition value; with both snapshots bucketed by
    key (sinks/parquet_sink bucketing) the join is co-located.
    """
    o = old.select(
        *keys,
        F.col(partition_col).alias("__po"),
        F.struct(*compare_cols).alias("__vo"),
        F.lit(1).alias("__ino"),
    )
    n = new.select(
        *keys,
        F.col(partition_col).alias("__pn"),
        F.struct(*compare_cols).alias("__vn"),
        F.lit(1).alias("__inn"),
    )
    j = o.join(n, keys, "full_outer")
    moved = (
        F.col("__ino").isNotNull()
        & F.col("__inn").isNotNull()
        & ~F.col("__po").eqNullSafe(F.col("__pn"))
    )
    # each joined row contributes to one partition — except moves,
    # which contribute a delete to the old and an add to the new
    contrib = F.when(
        F.col("__ino").isNull(),
        F.array(F.struct(F.col("__pn").alias("p"), F.lit("added").alias("s"))),
    ).when(
        F.col("__inn").isNull(),
        F.array(
            F.struct(F.col("__po").alias("p"), F.lit("deleted").alias("s"))
        ),
    ).when(
        moved,
        F.array(
            F.struct(F.col("__po").alias("p"), F.lit("deleted").alias("s")),
            F.struct(F.col("__pn").alias("p"), F.lit("added").alias("s")),
        ),
    ).when(
        ~F.col("__vo").eqNullSafe(F.col("__vn")),
        F.array(
            F.struct(F.col("__pn").alias("p"), F.lit("changed").alias("s"))
        ),
    ).otherwise(
        F.array(
            F.struct(F.col("__pn").alias("p"), F.lit("unchanged").alias("s"))
        )
    )
    return (
        j.select(F.explode(contrib).alias("c"))
        .groupBy(F.col("c.p").alias("partition"))
        .agg(
            *[
                F.sum((F.col("c.s") == s).cast("long")).alias(f"n_{s}")
                for s in ("added", "deleted", "changed", "unchanged")
            ]
        )
    )


def snapshot_changes(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Row-level change feed between two snapshots — CDC *generation*,
    the inverse of ``plans/merge.apply_changeset``: the engine can now
    both APPLY a changeset to a table and EMIT the changeset two
    snapshots imply (Delta's ``table_changes`` shape, minus the log).

    Output: ``keys..., op ('insert'|'delete'|'update'), before
    struct, after struct`` — one row per changed key; unchanged keys
    (null-safe struct compare) produce nothing.

    Plan: the same ONE full-outer key join as :func:`snapshot_diff`;
    at 100 TB bucket both snapshots by key so it is co-located, and
    feed the output straight back through apply_changeset to replicate
    the table elsewhere.
    """
    o = old.select(
        *keys, F.struct(*compare_cols).alias("before"), F.lit(1).alias("__o")
    )
    n = new.select(
        *keys, F.struct(*compare_cols).alias("after"), F.lit(1).alias("__n")
    )
    return (
        o.join(n, keys, "full_outer")
        .withColumn(
            "op",
            F.when(F.col("__o").isNull(), F.lit("insert"))
            .when(F.col("__n").isNull(), F.lit("delete"))
            .when(
                ~F.col("before").eqNullSafe(F.col("after")), F.lit("update")
            )
            .otherwise(F.lit(None)),
        )
        .where(F.col("op").isNotNull())
        .select(*keys, "op", "before", "after")
    )


# ---------------------------------------------------------------------------
# SCD Type-2 dimension history (validity intervals from a change stream)
# ---------------------------------------------------------------------------

def scd2_history(
    changes: DataFrame,
    keys: list[str],
    ts_col: str,
    attrs: list[str],
    op_col: str = "op",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Build a Slowly-Changing-Dimension Type-2 history from a change
    stream: one output row per attribute *version* with its validity
    interval.

    The reference's sinks keep only the latest image per key (LWW merge,
    `glue_pg_redshift_cdc.py:178-191` — SCD Type 1); warehouse dimension
    modeling also wants the full history with ``valid_from``/``valid_to``
    so facts can join to the dimension *as of* the fact's event time
    (pair with :func:`cdc_redshift_spark.operators.temporal.asof_join`).

    Semantics
    ---------
    - each insert/update image opens a version at its ``ts_col``;
    - a version closes at the NEXT change for the same key (any op —
      a newer image supersedes it, a delete ends it);
    - delete images emit no version of their own;
    - ``is_current`` = the interval is still open (so a key whose last
      change is a delete has NO current row, matching the LWW view).

    Plan: exactly ONE shuffle — the per-key window that computes
    ``lead(ts)``; everything else is codegen projections.  At 100 TB
    the window partitions by the dimension key (hash shuffle, no
    skew beyond per-key change counts); there is no join and no
    driver-side step.

    Columns out: ``keys..., attrs..., valid_from, valid_to,
    is_current`` (``valid_to`` NULL while open).
    """
    from pyspark.sql import Window

    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (tiebreak or [])
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    # a NULL / absent op is an UPSERT image (the changeset convention
    # at rollup_delta / plans/merge.py) — only an explicit delete
    # vocabulary word closes without emitting; NULL.isin() is NULL,
    # so the coalesce keeps those rows instead of silently dropping
    # them from the history
    is_delete = F.coalesce(
        F.lower(F.col(op_col)).isin(*DELETE_OPS), F.lit(False)
    )
    return (
        changes.withColumn("__valid_to", F.lead(ts_col).over(w))
        .where(~is_delete)
        .select(
            *keys,
            *attrs,
            F.col(ts_col).alias("valid_from"),
            F.col("__valid_to").alias("valid_to"),
            F.col("__valid_to").isNull().alias("is_current"),
        )
    )


def scd2_apply(
    history: DataFrame,
    batch: DataFrame,
    keys: list[str],
    ts_col: str,
    attrs: list[str],
    op_col: str = "op",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Incrementally extend an SCD2 ``history`` with a new ``batch`` of
    changes WITHOUT rebuilding untouched keys: close each touched key's
    open interval at the batch's first change for that key, and append
    the batch's own versions (:func:`scd2_history` over the batch
    alone).

    Invariant (property-tested): for any event-time split ``part1 /
    part2`` of a change stream at a watermark,
    ``scd2_apply(scd2_history(part1), part2) ==
    scd2_history(part1 + part2)`` — so a streaming pipeline can
    maintain the dimension history batch-by-batch with work
    proportional to the BATCH, never re-scanning the stored history.

    Requires the watermark discipline the equality implies: every
    batch change must be >= the stored history's max ``ts`` for its
    key (late arrivals belong in a rebuild of that key, exactly like
    the retraction path in ``streaming/rollup.py``).

    Plan: one window shuffle over the batch (small), one broadcast-able
    aggregation of the batch's per-key first ts joined to the history's
    open rows; closed/untouched history rows pass through untouched —
    at 100 TB with the history stored partitioned by key-hash this is
    a touched-partition rewrite, the same discipline as the CDC merge
    path (``plans/merge.py``).
    """
    first_ts = batch.groupBy(*keys).agg(F.min(ts_col).alias("__cut"))
    closed = (
        history.join(F.broadcast(first_ts), keys, "left")
        .withColumn(
            "valid_to",
            F.when(
                F.col("is_current") & F.col("__cut").isNotNull(),
                F.col("__cut"),
            ).otherwise(F.col("valid_to")),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("__cut")
    )
    appended = scd2_history(
        batch, keys, ts_col, attrs, op_col=op_col, tiebreak=tiebreak
    )
    return closed.unionByName(appended)


# ---------------------------------------------------------------------------
# Incremental equi-join view maintenance (delta-join algebra)
# ---------------------------------------------------------------------------

def join_view_delta(
    d_left: DataFrame,
    left_new: DataFrame,
    d_right: DataFrame,
    right_old: DataFrame,
    on: list[str],
    cols: list[str],
    sign_col: str = "sign",
) -> DataFrame:
    """Signed delta of the equi-join view ``V = L join R on `on```
    under signed row deltas to BOTH sides, using the asymmetric
    delta-join identity (standard incremental view maintenance
    algebra; see e.g. Chirkova & Yang, *Materialized Views*, FnT-DB
    2012):

        delta(L join R) = dL join R_old  UNION ALL  L_new join dR

    (telescoping: ``L_new x R_new - L_old x R_old =
    dL x R_old + L_new x dR`` — the asymmetric form needs no
    separate ``dL x dR`` term).

    Inputs carry multiplicity signs in ``sign_col`` (+1 inserted row
    image, -1 deleted row image; an update is -before +after, the
    same convention as :func:`rollup_delta_signed`).  Output: one row
    per joined image with the product sign, ready for
    :func:`apply_view_delta`.

    100 TB plan: the delta sides are micro-batches, so BOTH joins
    broadcast the delta — ``dL join R_old`` broadcasts dL against the
    dimension, and ``L_new join dR`` broadcasts dR against the fact,
    which with join-key partition pruning / bucketing touches only
    matching fact partitions.  Neither join shuffles the big tables;
    the view is never recomputed from scratch.

    When the fact is stored partitioned by a key bucket (the
    ``ParquetSink`` layout), pass ``left_new`` ALREADY PRUNED to the
    delta's buckets — rows outside ``dR``'s key buckets cannot join
    ``dR``, so the filter is semantics-free and turns the fact scan
    into a touched-partition read (measured 1/64 of files, SCALE.md
    round-6 second pass).
    """
    l_cols = [c for c in d_left.columns if c != sign_col]
    part1 = (
        F.broadcast(d_left)
        .join(right_old, on, "inner")
        .select(*cols, F.col(sign_col))
    )
    part2 = (
        left_new.select(*l_cols)
        .join(F.broadcast(d_right), on, "inner")
        .select(*cols, F.col(sign_col))
    )
    return part1.unionByName(part2)


def apply_view_delta(
    view: DataFrame,
    delta: DataFrame,
    cols: list[str],
    cnt_col: str = "cnt",
    sign_col: str = "sign",
) -> DataFrame:
    """Merge a signed :func:`join_view_delta` into the stored view.

    The view is kept with BAG semantics — ``cols..., cnt_col`` holds
    each distinct joined row image with its multiplicity — because
    join views are not generally duplicate-free and deletes must
    decrement, not drop.  One union + one groupBy over
    |view| + |delta| rows (map-side combined); images whose net count
    reaches zero vanish.  A net-negative count raises at evaluation
    time: it means a delete arrived for a row the view never held
    (drift), and silently clamping would corrupt the view.
    """
    v = view.select(*cols, F.col(cnt_col).alias("__m"))
    d = delta.select(*cols, F.col(sign_col).cast("long").alias("__m"))
    net = (
        v.unionByName(d)
        .groupBy(*cols)
        .agg(F.sum("__m").alias(cnt_col))
    )
    guard = F.when(
        F.col(cnt_col) < 0,
        F.raise_error(
            F.concat(
                F.lit(
                    "apply_view_delta: net multiplicity went negative "
                    "(delete without matching view row); image count: "
                ),
                F.col(cnt_col).cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col(cnt_col))
    return net.withColumn(cnt_col, guard).where(F.col(cnt_col) > 0)


def scd2_late_batch_rows(
    history: DataFrame,
    batch: DataFrame,
    keys: list[str],
    ts_col: str,
) -> DataFrame:
    """Rows of ``batch`` that violate :func:`scd2_apply`'s watermark
    contract — their ``ts_col`` is NOT after the stored history's
    latest change for the same key, so applying them incrementally
    could disagree with a full rebuild (their version belongs in the
    MIDDLE of the chain, not at the end).

    The frontier is ``greatest(valid_from, valid_to)`` — NOT just
    ``valid_from``: a trailing DELETE leaves no history row of its
    own, surviving only as the last row's ``valid_to``, and a batch
    row between that close and the frontier would otherwise pass the
    guard and resurrect a deleted key as current.  The comparison is
    ``<=`` (not ``<``): a batch change at EXACTLY the frontier ts is
    ambiguous without the stored change's tiebreak value (which the
    history does not retain), so it is conservatively flagged —
    sources with strictly-increasing per-key change timestamps never
    trip this.

    Known residual gap (documented, not silently wrong): a key whose
    stored changes were ALL deletes has no history rows at all, so
    its late batch rows cannot be flagged from the history alone —
    but a delete for a never-inserted key is itself upstream
    corruption, and the CDC replay path rejects that shape earlier.

    Batch-proportional: the history side reduces to one per-key max
    over the touched keys (semi-joined by the broadcast batch key
    set) before the comparison join.  Callers decide the policy —
    :class:`cdc_redshift_spark.streaming.scd2.Scd2Maintainer` raises
    by default (a late dimension change means that key's history
    needs a rebuild, the same posture as the retraction path's
    out-of-order handling).
    """
    bkeys = batch.select(*keys).distinct()
    frontier = (
        history.join(F.broadcast(bkeys), keys, "leftsemi")
        .groupBy(*keys)
        .agg(
            F.max(F.greatest("valid_from", "valid_to")).alias("__frontier")
        )
    )
    return (
        batch.join(F.broadcast(frontier), keys, "inner")
        .where(F.col(ts_col) <= F.col("__frontier"))
        .drop("__frontier")
    )


def scd2_rebuild_keys(
    history: DataFrame,
    changelog: DataFrame,
    keys: list[str],
    ts_col: str,
    attrs: list[str],
    rebuild_keys: DataFrame,
    op_col: str = "op",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Repair exactly ``rebuild_keys``' version chains from their
    change log and splice them into the stored ``history`` — the
    recovery path :func:`scd2_late_batch_rows` points at: a late
    change cannot be applied incrementally (its version belongs in
    the MIDDLE of its key's chain), so that key's chain is rebuilt
    from scratch while every other key's stored rows pass through
    untouched.

    Splice invariant (property-tested): whatever state ``history``
    holds for the rebuilt keys — stale, diverged, or missing — the
    result equals ``scd2_history(changelog)`` restricted to
    (untouched-history ∪ rebuilt-keys), because the rebuilt chains
    derive from the changelog alone.  With ``history`` correct for
    the untouched keys, the splice IS the full rebuild.

    Batch-proportional plan: ``rebuild_keys`` is a per-batch-small
    key set, broadcast into BOTH pruning joins (an anti-join keeps
    untouched history rows where they are; a semi-join prunes the
    changelog scan to the touched keys — with the changelog stored
    key-partitioned/bucketed this is a touched-partition read, and a
    key-range-clustered log prunes at file level); only the touched
    keys' changes are re-windowed.  Nothing else shuffles.
    """
    rk = rebuild_keys.select(*keys).distinct()
    untouched = history.join(F.broadcast(rk), keys, "left_anti")
    touched_log = changelog.join(F.broadcast(rk), keys, "left_semi")
    rebuilt = scd2_history(
        touched_log, keys, ts_col, attrs, op_col=op_col, tiebreak=tiebreak
    )
    return untouched.unionByName(rebuilt)
