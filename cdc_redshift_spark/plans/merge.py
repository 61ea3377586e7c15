"""Native Spark merge: apply a ChangeSet to a table state.

The reference delegates merge to Redshift SQL executed as connector
postactions (SURVEY §2.5):

- J1 delete-matching:  DELETE FROM target USING stage WHERE t.key=s.key
  (glue_docdb_redshift_cdc.py:183, glue_pg_redshift_cdc.py:182,
  glue_dms_redshift_cdc.py:114)
- J2 MERGE upsert:     MERGE INTO target USING stage ... REMOVE DUPLICATES
  (glue_dms_redshift_cdc.py:107)
- J3 delete+insert upsert transaction
  (glue_docdb_redshift_cdc.py:183-186, glue_pg_redshift_cdc.py:182-185)

Here the same semantics run natively so they are locally testable, and
with one fix: the reference is last-*batch*-wins (a late event in a
later batch overwrites a newer row — SURVEY §2.11); we are
last-*timestamp*-wins, with (ts_ms, offset) as the total order.

Implementation choice (scale): union + keyed reduce rather than
join-per-op.  One hash shuffle on the key; map-side combine via
``max_by``.  The alternative (left_anti join + union) shuffles both
sides twice for the same result.  When the changeset is a micro-batch
(small vs. target), Catalyst/AQE broadcast the small side of the
pre-partition-prune semi-join automatically.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Ops that remove the row from the target when they win.
DELETE_OP = "delete"


def apply_changeset(
    target: DataFrame | None,
    changes: DataFrame,
    keys: Sequence[str] = ("key",),
    ts_col: str = "ts_ms",
    tiebreak_col: str = "offset",
    op_col: str = "op",
    keep_tombstones: bool = False,
    strategy: str = "shuffle",
) -> DataFrame:
    """Return the new table state after applying ``changes``.

    ``target`` rows must carry the same (ts_col, tiebreak_col) columns
    (persisted by the sink) so late-arriving older events lose.  A
    ``None``/empty target means first materialization.

    Winner per key = max by (ts, offset) over target-row ∪ change-rows;
    a winning ``delete`` removes the key.  This is exactly Redshift's
    ``MERGE`` with a ``WHEN MATCHED AND s.ts >= t.ts`` guard — the
    guard the reference lacks (SURVEY §7.3).

    A row is a delete iff its op equals ``'delete'`` NULL-SAFELY: a
    NULL op (a malformed envelope that _map_op passes through) is
    data, not a tombstone — the three-valued ``!=`` filter would
    otherwise silently drop the winning row from the state.

    ``keep_tombstones=True`` retains winning delete rows (op='delete')
    in the output instead of dropping them.  Sinks that store state
    across batches need this: without the tombstone, an older event for
    a deleted key arriving in a LATER batch finds no competitor and
    resurrects the key (micro-batch order is not event order — file
    sources and Kafka partitions both reorder).  Readers filter
    tombstones out; a compactor may expire them once the source's
    max-lateness horizon passes.

    ``strategy`` picks the physical plan (same result either way):

    - ``"shuffle"`` (default): union + keyed ``max_by`` reduce — ONE
      hash shuffle of target ∪ changes.  Right when the two sides are
      comparable, or no statistics exist to prove otherwise.
    - ``"broadcast"``: the CBO plan for a micro-batch changeset
      against a huge target — the target is NEVER shuffled.  The
      changeset reduces to one winner per key (a shuffle of the small
      side only), rides a broadcast left join against the target
      (matched keys resolved map-side by a codegen ts/tiebreak
      comparison), and brand-new keys come from a broadcast anti join
      against the matched-key set.  Cost: two target scans (the
      second pruned to key columns) instead of one target shuffle —
      at 100 TB a column-pruned re-scan is far cheaper than
      shuffling the table.  NULL ts/tiebreak fields order smallest
      on either side — the bare struct comparison uses the same
      interpreted ordering as ``max_by``, so the two strategies agree
      whenever the orderings are UNEQUAL, NULLs included.  On an
      EXACT (ts, tiebreak) tie they can diverge: broadcast
      deterministically takes the change, while shuffle's ``max_by``
      leaves equal-order ties unspecified.  A unique tiebreak (the
      offset contract) precludes ties between distinct rows; rows
      carrying NULL tiebreaks (e.g. NULL-padded schema-evolution
      rows) are NOT unique, so a pipeline that can feed two
      same-key rows with identical (ts, NULL) orderings must either
      accept either row winning or keep one strategy.  Pick
      automatically from persisted
      statistics with :func:`cdc_redshift_spark.operators.planner.
      join_plan` (the ParquetSink does — see ``_merge_strategy``).
      Precondition (an invariant of sink state): the target holds
      at most ONE row per key (unmatched target rows pass through
      un-grouped, they are never re-deduped).
    """
    if strategy not in ("shuffle", "broadcast"):
        raise ValueError(f"apply_changeset: unknown strategy {strategy!r}")
    if op_col not in changes.columns:
        raise ValueError(f"changes must carry an '{op_col}' column")

    if target is not None:
        # Existing rows compete as non-delete ops at their stored ts.
        t = target
        if op_col not in t.columns:
            t = t.withColumn(op_col, F.lit("load"))
        # Symmetric schema union: a column present on either side
        # survives as a typed null on the other.  Asymmetry here is a
        # data-loss bug — in the DMS path, payload schemas come from
        # sample-bounded inference, and a batch whose sample missed a
        # field must not drop that column from the whole table.
        c_types = dict(changes.dtypes)
        t_types = dict(t.dtypes)
        c = changes
        for name in t.columns:
            if name not in c_types:
                c = c.withColumn(name, F.lit(None).cast(t_types[name]))
        for name in changes.columns:
            if name not in t_types:
                t = t.withColumn(name, F.lit(None).cast(c_types[name]))
        cols = c.columns  # changes' order, then target-only extras
        if strategy == "broadcast":
            return _broadcast_apply(
                t.select(*cols),
                c.select(*cols),
                cols,
                keys,
                ts_col,
                tiebreak_col,
                op_col,
                keep_tombstones,
            )
        pool = t.select(*cols).unionByName(c.select(*cols))
    else:
        # first materialization: no target to shuffle, strategy moot
        cols = changes.columns
        pool = changes

    ordered = F.struct(F.col(ts_col), F.col(tiebreak_col))
    row = F.struct(*[F.col(c) for c in cols])
    winners = (
        pool.groupBy(*[F.col(k) for k in keys])
        .agg(F.max_by(row, ordered).alias("__row"))
        .select(*[F.col(f"__row.{c}").alias(c) for c in cols])
    )
    if keep_tombstones:
        return winners
    return winners.where(~F.col(op_col).eqNullSafe(F.lit(DELETE_OP)))


def _broadcast_apply(
    target: DataFrame,
    changes: DataFrame,
    cols: list[str],
    keys: Sequence[str],
    ts_col: str,
    tiebreak_col: str,
    op_col: str,
    keep_tombstones: bool,
) -> DataFrame:
    """The no-target-shuffle merge plan (see :func:`apply_changeset`
    ``strategy="broadcast"``).  Both inputs are already column-aligned
    to ``cols``.  Three bounded pieces:

    1. ``best``: one winner per key within the changeset (shuffles
       only the small side), materialized once (it feeds three
       consumers) with ``localCheckpoint`` — the repo's established
       small-frame reuse discipline;
    2. matched keys: target ⋉ broadcast(best) — a map-side,
       column-pruned semi join over the target scan;
    3. output: target ⟕ broadcast(best) with a codegen
       (ts, tiebreak) comparison picking the winner per column, union
       the anti-joined brand-new keys.

    Null-safe key equality throughout so a NULL-keyed change competes
    with a NULL-keyed stored row exactly as the shuffle plan's
    ``groupBy`` (which groups NULL keys together) does.
    """
    ordered = F.struct(F.col(ts_col), F.col(tiebreak_col))
    row = F.struct(*[F.col(c) for c in cols])
    # the match marker ("this key matched" after the left join) is a
    # dedicated column, NOT a data column: gating no-match on
    # s.<tiebreak> would make a matched change with a NULL tiebreak
    # lose even when its ts is newer, diverging from the shuffle
    # plan's max_by (struct ordering treats a NULL field as smallest
    # but still compares the row).  Underscore-extend past any real
    # column so a table that happens to carry "__m" can't make the
    # qualified reference ambiguous.
    marker = "__m"
    while marker in cols:
        marker += "_"
    best = (
        changes.groupBy(*[F.col(k) for k in keys])
        .agg(F.max_by(row, ordered).alias("__row"))
        .select(
            *[F.col(f"__row.{c}").alias(c) for c in cols],
            F.lit(True).alias(marker),
        )
        .localCheckpoint(eager=False)
    )

    def null_safe_on(left_alias: str, right_alias: str):
        on = None
        for k in keys:
            eq = F.col(f"{left_alias}.{k}").eqNullSafe(F.col(f"{right_alias}.{k}"))
            on = eq if on is None else on & eq
        return on

    # §1: the matched-key set — a map-side, column-pruned semi join
    # (the target scan reads ONLY the key columns here)
    matched_keys = (
        target.select(*keys)
        .alias("t")
        .join(F.broadcast(best.alias("s")), null_safe_on("t", "s"), "left_semi")
    )

    # §2: matched keys resolve map-side.  A change whose ordering
    # tuple ties the stored row's exactly WINS (documented rule).  The
    # bare struct comparison uses Spark's interpreted ordering — a
    # NULL ts/tiebreak field orders smallest but the row still
    # competes — which is exactly max_by's ordering, so the two
    # strategies agree on NULL-field rows (verified empirically:
    # struct(10, NULL) >= struct(5, 100) is TRUE, never NULL).
    change_wins = F.col(f"s.{marker}").isNotNull() & (
        F.struct(F.col(f"s.{ts_col}"), F.col(f"s.{tiebreak_col}"))
        >= F.struct(F.col(f"t.{ts_col}"), F.col(f"t.{tiebreak_col}"))
    )
    merged = (
        target.alias("t")
        .join(F.broadcast(best.alias("s")), null_safe_on("t", "s"), "left")
        .select(
            *[
                F.when(change_wins, F.col(f"s.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                for c in cols
            ]
        )
    )

    # §3: brand-new keys — everything in the changeset the target has
    # never seen (matched_keys is per-batch small: broadcast anti)
    new_rows = (
        best.alias("b")
        .join(
            F.broadcast(matched_keys.alias("m")),
            null_safe_on("b", "m"),
            "left_anti",
        )
        .select(*cols)
    )
    out = merged.unionByName(new_rows)
    if keep_tombstones:
        return out
    return out.where(~F.col(op_col).eqNullSafe(F.lit(DELETE_OP)))


def merge_into(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    check_duplicate_source: bool = True,
) -> "MergeIntoBuilder":
    """Delta/Iceberg-style conditional ``MERGE INTO`` on plain
    DataFrames: chain ``when_matched_update / when_matched_delete /
    when_not_matched_insert / when_not_matched_by_source_update /
    when_not_matched_by_source_delete`` clauses (each with an optional
    condition over ``t.<col>`` / ``s.<col>``), then ``execute()`` for
    the new state.  Generalizes :func:`apply_changeset`'s fixed LWW
    rule to arbitrary per-clause predicates — the reference's Redshift
    ``MERGE`` postaction (SURVEY §2.5 J2) with the full conditional
    surface, runnable locally.

    Semantics (Delta contract): clauses of a branch evaluate IN ORDER,
    first true condition wins; unmatched-by-any-clause rows keep
    (matched / by-source) or drop (not-matched).  A source with two
    rows for one key is ambiguous and raises by default
    (``check_duplicate_source=False`` skips the check job when the
    caller has already deduped — e.g. output of
    :func:`~cdc_redshift_spark.dedup.latest_per_key`).

    Scale shape: ONE full-outer shuffle join on the keys (AQE
    broadcasts a micro-batch source side automatically) and pure
    codegen when/otherwise chains — no window, no per-clause joins.
    """
    return MergeIntoBuilder(target, source, keys, check_duplicate_source)


class MergeIntoBuilder:
    def __init__(
        self,
        target: DataFrame,
        source: DataFrame,
        keys: Sequence[str],
        check_duplicate_source: bool = True,
    ):
        self._t = target
        self._s = source
        self._keys = list(keys)
        self._check_dups = check_duplicate_source
        self._matched: list[tuple[str, object, dict | None]] = []
        self._not_matched: list[tuple[object, dict | None]] = []
        self._by_source: list[tuple[str, object, dict | None]] = []

    # -- clause builders (each returns self for chaining) ----------------
    def when_matched_update(self, set: dict, condition=None):
        self._matched.append(("update", condition, dict(set)))
        return self

    def when_matched_delete(self, condition=None):
        self._matched.append(("delete", condition, None))
        return self

    def when_not_matched_insert(self, values: dict | None = None, condition=None):
        """``values=None`` inserts ALL target columns by source-name
        match (Delta ``insertAll``); a dict inserts EXACTLY the
        specified columns and NULLs every other target column — keys
        included, map them explicitly — matching Delta's ``insert``
        (an unspecified column silently inheriting the source value
        would populate fields the caller deliberately did not map)."""
        self._not_matched.append(
            (condition, None if values is None else dict(values))
        )
        return self

    def when_not_matched_by_source_update(self, set: dict, condition=None):
        self._by_source.append(("update", condition, dict(set)))
        return self

    def when_not_matched_by_source_delete(self, condition=None):
        self._by_source.append(("delete", condition, None))
        return self

    # -- execution --------------------------------------------------------
    @staticmethod
    def _as_col(e):
        return F.expr(e) if isinstance(e, str) else e

    def execute(self) -> DataFrame:
        if not (self._matched or self._not_matched or self._by_source):
            raise ValueError("merge_into: no WHEN clauses specified")
        if self._check_dups:
            dups = self._s.groupBy(*self._keys).count().where(F.col("count") > 1)
            if not dups.isEmpty():
                raise ValueError(
                    "merge_into: source has multiple rows per key (ambiguous "
                    "merge, the Delta contract); dedup the source first or "
                    "pass check_duplicate_source=False after doing so"
                )
        # marker/action column names underscore-extend past any real
        # column (the _broadcast_apply "__m" discipline): withColumn
        # on a clashing name would OVERWRITE that data column, and the
        # existence test below would read the constant marker instead
        # of the join result
        taken = set(self._t.columns) | set(self._s.columns)

        def fresh(name: str) -> str:
            while name in taken:
                name += "_"
            taken.add(name)
            return name

        tm, sm, actm = fresh("__t"), fresh("__s"), fresh("__act")
        t = self._t.withColumn(tm, F.lit(True)).alias("t")
        s = self._s.withColumn(sm, F.lit(True)).alias("s")
        cond = None
        for k in self._keys:
            eq = F.col(f"t.{k}") == F.col(f"s.{k}")
            cond = eq if cond is None else cond & eq
        j = t.join(s, cond, "full_outer")

        def chain(clauses, tags, default):
            out = None
            for (c, tag) in zip(clauses, tags):
                cc = F.lit(True) if c is None else self._as_col(c)
                out = (F.when(cc, F.lit(tag)) if out is None
                       else out.when(cc, F.lit(tag)))
            return F.lit(default) if out is None else out.otherwise(F.lit(default))

        m_tags = [
            f"u{i}" if kind == "update" else "d"
            for i, (kind, _, _) in enumerate(self._matched)
        ]
        n_tags = [f"n{i}" for i in range(len(self._not_matched))]
        b_tags = [
            f"v{i}" if kind == "update" else "d"
            for i, (kind, _, _) in enumerate(self._by_source)
        ]
        matched = F.col(f"t.{tm}").isNotNull() & F.col(f"s.{sm}").isNotNull()
        not_matched = F.col(f"s.{sm}").isNotNull() & F.col(f"t.{tm}").isNull()
        act = (
            F.when(matched, chain([c for _, c, _ in self._matched], m_tags, "keep"))
            .when(not_matched, chain([c for c, _ in self._not_matched], n_tags, "drop"))
            .otherwise(chain([c for _, c, _ in self._by_source], b_tags, "keep"))
        )
        j = j.withColumn(actm, act)

        t_types = dict(self._t.dtypes)
        s_cols = set(self._s.columns)
        out_cols = []
        for c in self._t.columns:
            col = F.col(f"t.{c}")
            for i, (kind, _, aset) in enumerate(self._matched):
                if kind == "update" and c in aset:
                    col = F.when(
                        F.col(actm) == m_tags[i], self._as_col(aset[c])
                    ).otherwise(col)
            for i, (_, values) in enumerate(self._not_matched):
                if values is None:  # insertAll: match by name
                    v = (
                        F.col(f"s.{c}")
                        if c in s_cols
                        else F.lit(None).cast(t_types[c])
                    )
                elif c in values:
                    v = self._as_col(values[c])
                else:  # explicit insert: unspecified columns are NULL
                    v = F.lit(None).cast(t_types[c])
                col = F.when(F.col(actm) == n_tags[i], v).otherwise(col)
            for i, (kind, _, aset) in enumerate(self._by_source):
                if kind == "update" and c in aset:
                    col = F.when(
                        F.col(actm) == b_tags[i], self._as_col(aset[c])
                    ).otherwise(col)
            out_cols.append(col.alias(c))
        return j.where(~F.col(actm).isin("d", "drop")).select(*out_cols)
