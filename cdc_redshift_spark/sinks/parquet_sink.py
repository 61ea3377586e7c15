"""Local Parquet sink with versioned snapshots and native merge.

Plays the role Redshift plays for the reference (stage + postactions
merge — SURVEY §2.2), but runs the merge in Spark so it's testable
without a warehouse.  Each ``apply_changeset`` writes a new immutable
snapshot version and flips a pointer file — the same
write-new-then-swap discipline as Delta/Iceberg commits, minus the
format (those libs aren't available in this environment).

Layout (``T`` = ``root/<db>/<table>``):
    T/v<N>/part-*.parquet     # data files (partitioned: T/v<N>/<col>=<val>/)
    T/v<N>/_SCHEMA            # catalog schema of snapshot N (JSON)
    T/v<N>/_FILEVERS          # {data file: version that wrote it}
    T/v<N>/_ANALYZE[_AGE]     # column stats, and commits since computed
    T/v<N>/_DV/               # deletion vectors, (file, pos) parquet
    T/v<N>/_BLOOM_<col>/      # per-file Bloom index parquet
    T/_LATEST                 # the pointer: contains "N"
    T/_DROPPED                # dropped-column guard set (JSON)
    T/_CLAIM_v<N>             # OCC claim marker (occ=True only)
    root/_TXN_PENDING         # intent manifest of a multi-table commit

Publish order: Spark writes the data files, ``_DV/`` and the index
dirs into ``v<N>/`` (or hard-links them forward); then ``_SCHEMA``,
``_FILEVERS`` and ``_ANALYZE[_AGE]``; then, inside a transaction only,
``_TXN_PENDING``; then ``_LATEST`` flips; last the spent
``_CLAIM_v<N>`` and ``_TXN_PENDING`` are removed.  Every small file
publishes through :func:`cdc_redshift_spark.commit.atomic_write`, so
every sidecar a pointer names is durable before the pointer flips
(the Spark-written data files are not fsynced), and a crash at any
step leaves the table at v<N-1> or, once ``_TXN_PENDING`` exists,
rolls forward to v<N> on :meth:`recover`.

Scale notes: with ``partition_cols`` set (``ts_date`` is the natural
choice — it is the reference's Redshift sortkey,
glue_docdb_redshift_cdc.py:180) ``apply_changeset`` runs the
partition-pruned merge: a semi-join of the target's keys against the
batch's changed keys finds the partitions holding old versions, the
batch's own partition values add the new landing partitions, and ONLY
that touched set is merged and rewritten.  Untouched partition
directories are carried into the new snapshot version as hard links —
the local-filesystem analogue of manifest-level file reuse in a
Delta/Iceberg MERGE — so write cost is O(touched partitions), not
O(table).  (The probe that locates old key versions is a column-pruned
scan of keys + partition values only; a table format with file-level
key stats would prune that read too.)  Without ``partition_cols`` the
merge falls back to the full-snapshot rewrite — fine for tests, wrong
at 100 TB.
"""

from __future__ import annotations

import os
import shutil
import urllib.parse
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_redshift_spark import commit
from cdc_redshift_spark.plans.merge import apply_changeset as merge_apply
from cdc_redshift_spark.sinks.base import Sink

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

#: commits an ``_ANALYZE`` sidecar may be carried forward before it
#: expires (see ParquetSink._carry_analyze); <=0 disables carrying
ANALYZE_CARRY_LIMIT = 64


class CommitConflictError(RuntimeError):
    """A concurrent writer claimed or published the version this commit
    targeted.  The caller must RE-READ table state and retry the whole
    operation — its merge was computed against a now-stale base, so
    blindly re-flipping would lose the other writer's update (the
    same retry contract as Delta/Iceberg optimistic concurrency)."""


class ConstraintViolation(ValueError):
    """A batch broke a table CHECK constraint; nothing was committed."""


class ParquetSink(Sink):
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        keys: Sequence[str] = ("key",),
        ts_col: str = "ts_ms",
        tiebreak_col: str = "offset",
        partition_cols: Sequence[str] = (),
        bloom_index_cols: Sequence[str] = (),
        merge_mode: str = "rewrite",
        constraints: dict[str, str] | None = None,
        generated_cols: dict[str, str] | None = None,
        occ: bool = False,
    ):
        """``bloom_index_cols`` builds a per-file Bloom
        index (operators/layout.bloom_file_index) for each named
        column at every commit, stored as ``_BLOOM_<col>`` parquet
        next to the snapshot — point lookups on SECONDARY
        high-cardinality keys (which min/max clustering cannot serve)
        then read only candidate files via :meth:`lookup_files`.
        Pruned commits maintain the index incrementally (untouched
        partitions' rows carried forward; only rewritten partitions
        scanned).  Filters are sized per file at ~18 bits/key
        (``bloom_file_index``'s 'auto'), so realistic file sizes don't
        saturate them.

        ``merge_mode``: ``'rewrite'`` (default) merges by rewriting
        touched data (partition-pruned when possible);  ``'dv'``
        applies changesets as DELETION VECTORS + appends — every
        existing data file hard-links forward untouched, superseded
        rows are masked by ``(file, pos)`` rows in a ``_DV`` sidecar
        (``_metadata.row_index``), and only the batch's winning rows
        are written as new files.  Per-commit write cost is O(batch),
        independent of partition sizes — the small-update path a
        rewrite cannot match when updates scatter across partitions.
        Reads anti-join the (tiny) DV sidecar at scan time;
        :meth:`compact` folds DVs back into a clean rewrite when the
        masked fraction grows.

        Two fixed policies are module constants, not options: the
        merge planner's broadcast floor
        (``planner.MERGE_BROADCAST_MIN_TARGET``, see
        :meth:`_merge_strategy`) and :data:`ANALYZE_CARRY_LIMIT`, the
        number of commits an ``_ANALYZE`` sidecar is carried forward
        before it expires (see :meth:`_carry_analyze`)."""
        self.spark = spark
        self.root = root
        self.keys = list(keys)
        self.ts_col = ts_col
        self.tiebreak_col = tiebreak_col
        self.partition_cols = list(partition_cols)
        self.bloom_index_cols = list(bloom_index_cols)
        if merge_mode not in ("rewrite", "dv"):
            raise ValueError(
                f"merge_mode must be 'rewrite' or 'dv', got {merge_mode!r}"
            )
        self.merge_mode = merge_mode
        #: {name: SQL boolean expr} CHECK constraints (Delta contract:
        #: a row violates only when the expr evaluates FALSE — null is
        #: a pass; spell NOT NULL as "x IS NOT NULL").  Enforced on
        #: every incoming batch BEFORE any commit work: a violating
        #: batch raises and the table is untouched.
        self.constraints = dict(constraints or {})
        #: {name: SQL expr} GENERATED ALWAYS AS columns (the Delta
        #: contract): a batch missing the column gets it COMPUTED from
        #: the expression (so changesets don't have to carry derived
        #: partition columns — the canonical use is
        #: ``partition_cols=("ts_date",), generated_cols={"ts_date":
        #: "..."}``); a batch supplying it explicitly is VALIDATED
        #: against the expression and a mismatch raises.
        self.generated_cols = dict(generated_cols or {})
        #: Optimistic concurrency for MULTIPLE INDEPENDENT WRITERS on
        #: one filesystem: each data-committing operation first claims
        #: its target version number by atomically creating the version
        #: directory (os.mkdir — exactly one of two racing writers
        #: wins; the loser gets :class:`CommitConflictError` and must
        #: re-read + retry, because its merge used a stale base).  OFF
        #: by default: the streaming exactly-once regime is SINGLE
        #: writer per table, where a foreachBatch RETRY must be free to
        #: overwrite the same version dir it crashed on — exclusive
        #: claims would block that replay.  The two regimes are
        #: mutually exclusive by design, like Delta's
        #: single-writer-fast-path vs OCC commit protocol.  Claims
        #: orphaned by a writer crash block the number until
        #: :meth:`clear_orphans` (the FSCK analogue).  NOTE: mkdir
        #: atomicity is a POSIX-filesystem property — on object stores
        #: swap this seam for a lock service, the standard deployment
        #: answer (e.g. a DynamoDB mutex, as S3 Delta does).
        self.occ = bool(occ)
        #: {(db, table): base version} recorded by _occ_begin, consumed
        #: by _occ_guard — the OCC read-set check
        self._occ_base: dict[tuple[str, str], int | None] = {}
        self._deferred_flips: list[tuple[str, str, int]] | None = None
        #: last _merge_strategy join_plan dict (None = no stats
        #: consulted) — observability for tests and operators
        self.last_merge_plan: dict | None = None
        os.makedirs(root, exist_ok=True)
        # self-heal an interrupted multi-table transaction (roll the
        # published intent forward — see transaction()/recover())
        self.recover()

    def _validate_batch(self, df: DataFrame, what: str) -> DataFrame:
        """Compute missing generated columns, then verify supplied
        generated values AND every CHECK constraint in ONE aggregate
        job over the batch (tombstones exempt) — a batch whose lineage
        is expensive must not pay one validation scan per rule
        family."""
        checks: list[tuple[str, str, Column]] = []
        for name, expr in self.generated_cols.items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
            else:
                checks.append(
                    (
                        f"generated column {name} supplied with "
                        f"non-generated values (expr: {expr!r})",
                        name,
                        ~F.col(name).eqNullSafe(F.expr(expr)),
                    )
                )
        for name, expr in self.constraints.items():
            # Delta CHECK contract: only an explicit FALSE violates
            checks.append(
                (
                    f"CHECK constraint {name} (expr: {expr!r})",
                    name,
                    F.expr(expr) == F.lit(False),
                )
            )
        if checks:
            rows = df
            if "op" in df.columns:
                # null-safe: a NULL op is NOT a tombstone — it must
                # still pass validation (three-valued != would exempt
                # it from every CHECK constraint)
                rows = rows.where(~F.col("op").eqNullSafe(F.lit("delete")))
            aggs = [
                F.sum(F.when(cond, 1).otherwise(0)).alias(f"__c{i}")
                for i, (_, _, cond) in enumerate(checks)
            ]
            counts = rows.agg(*aggs).collect()[0]
            bad = [
                f"{label}: {int(counts[f'__c{i}'])} row(s)"
                for i, (label, _, _) in enumerate(checks)
                if counts[f"__c{i}"]
            ]
            if bad:
                raise ConstraintViolation(
                    f"batch rejected for {what}: " + "; ".join(bad)
                )
        return df

    # -- catalog -----------------------------------------------------------
    def _dir(self, db: str, table: str) -> str:
        return os.path.join(self.root, db, table)

    def _latest_version(self, db: str, table: str) -> int | None:
        v = commit.read_pointer(os.path.join(self._dir(db, table), "_LATEST"))
        return None if v is None else int(v)

    def table_exists(self, db: str, table: str) -> bool:
        return self._latest_version(db, table) is not None

    def versions(self, db: str, table: str) -> list[int]:
        """Retained snapshot versions, ascending (time-travel targets
        for ``read_table(version=)``)."""
        d = self._dir(db, table)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(e[1:])
            for e in os.listdir(d)
            if e.startswith("v") and e[1:].isdigit()
        )

    def read_table(
        self,
        spark: SparkSession,
        db: str,
        table: str,
        include_tombstones: bool = False,
        version: int | None = None,
        with_commit_version: bool = False,
    ) -> DataFrame | None:
        """Current state — or TIME TRAVEL with ``version=``: every
        ``apply_changeset`` commit is a full snapshot directory
        (``v1, v2, ...``, unchanged partitions hard-linked forward),
        so any retained version reads at full scan speed with zero
        reconstruction — the Delta/Iceberg ``VERSION AS OF`` contract
        the reference delegates to the warehouse.  ``versions()``
        lists what is retained; reading an expired/unknown version
        raises rather than silently serving the latest.

        Delete tombstones (op='delete') are stored so
        late events for deleted keys can't resurrect them across
        micro-batches; readers see them filtered unless asked.

        Reads with the schema persisted at commit time (the sink's
        catalog entry) so partition-directory values keep their written
        types — Spark's partition type INFERENCE would otherwise read a
        string '2021-01-01' back as DATE and break merge type parity.
        """
        v = self._latest_version(db, table)
        if v is None:
            return None
        if version is not None:
            # validate against FLIPPED history, not the raw directory
            # listing (the same guard restore() has): a crashed or
            # aborted commit leaves an orphaned, never-published
            # version dir above the pointer — possibly PARTIAL — that
            # time travel must not serve as if it were history
            retained = [
                x for x in self.versions(db, table) if x <= v
            ]
            if version > v or version not in retained:
                raise ValueError(
                    f"{db}.{table} has no retained snapshot v{version}; "
                    f"available: {retained}"
                )
            v = version
        reader = spark.read
        # time travel pins the PER-VERSION schema (falling back to
        # inference for pre-versioned-schema snapshots); current reads
        # use the table-level latest
        schema = (
            self._read_schema(db, table, v)
            if version is not None
            else self._read_schema(db, table)
        )
        if schema is not None:
            # impose PHYSICAL names (column mapping): parquet columns
            # match by name; logical names apply after the scan
            reader = reader.schema(self._phys_read_schema(schema))
        df = reader.parquet(os.path.join(self._dir(db, table), f"v{v}"))
        man = (
            self._read_file_manifest(db, table, v)
            if with_commit_version
            else {}
        )
        if man:
            # capture the basename while the hidden _metadata column
            # still resolves (the DV anti-join below severs it); the
            # provenance join itself happens after the mask
            df = df.withColumn(
                "__file",
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ),
            )
        df = self._apply_dv_mask(spark, df, db, table, v)
        if with_commit_version:
            # row provenance: which commit WROTE each row's file (the
            # Delta _commit_version story) — hard-linked rows keep
            # their original version, derived from the per-snapshot
            # file manifest; a tiny broadcast join on the basename
            if man:
                mdf = spark.createDataFrame(
                    [(f, ver) for f, ver in man.items()],
                    "__file string, _commit_version int",
                )
                df = df.join(F.broadcast(mdf), "__file", "left").drop(
                    "__file"
                )
            else:  # pre-manifest snapshot: unknown provenance
                df = df.withColumn(
                    "_commit_version", F.lit(None).cast("int")
                )
        if schema is not None:
            df = self._to_logical(df, schema)
        if not include_tombstones and "op" in df.columns:
            # null-safe: only true tombstones are hidden — a NULL op
            # (malformed envelope normalized through) is data, and
            # three-valued != would silently hide the row forever
            df = df.where(~F.col("op").eqNullSafe(F.lit("delete")))
        return df

    def _schema_path(self, db: str, table: str, v: int | None = None) -> str:
        d = self._dir(db, table)
        return (
            os.path.join(d, f"v{v}", "_SCHEMA")
            if v is not None
            else os.path.join(d, "_SCHEMA")
        )

    def _read_schema(self, db: str, table: str, v: int | None = None):
        """Committed schema — the CURRENT (latest flipped) snapshot's
        by default; with ``v`` the schema persisted WITH that snapshot,
        so time travel reproduces the schema as of that version (a
        column added since doesn't read as NULL into history, a
        dropped one doesn't vanish from it — the Delta/Iceberg
        ``VERSION AS OF`` schema contract).  Pre-versioned-schema
        snapshots return None and the reader falls back to parquet
        inference rather than imposing the latest schema on old data.

        The default (current) read resolves through the published
        ``_LATEST`` pointer to that version's OWN ``_SCHEMA`` copy:
        schema writes happen at operation time while pointer flips can
        be deferred (sink transactions) or pre-empted (crash before
        flip), so the version dir is the atomic unit and its schema
        travels with it.  A table-level ``_SCHEMA`` is no longer
        written; it is read only as the fallback for pre-upgrade
        tables whose version dirs carry no schema copy."""
        from pyspark.sql.types import StructType

        import json as _json

        if v is None:
            cur = self._latest_version(db, table)
            if cur is not None:
                pv = self._schema_path(db, table, cur)
                if os.path.exists(pv):
                    with open(pv) as f:
                        return StructType.fromJson(_json.load(f))
        p = self._schema_path(db, table, v)
        if not os.path.exists(p):
            return None  # pre-catalog snapshot: fall back to inference
        with open(p) as f:
            return StructType.fromJson(_json.load(f))

    def _write_schema(
        self, db: str, table: str, df: DataFrame, v: int
    ) -> None:
        # carry the column-mapping metadata forward: a field that was
        # renamed keeps pointing at its ORIGINAL physical parquet name
        # (DataFrame ops strip field metadata, so the stored catalog —
        # not df.schema — is the mapping's source of truth)
        from pyspark.sql.types import StructField, StructType

        mapping = self._mapping(db, table)
        fields = [
            StructField(
                f.name,
                f.dataType,
                f.nullable,
                {"physical": mapping[f.name]} if f.name in mapping else {},
            )
            for f in df.schema.fields
        ]
        self._write_schema_json(db, table, StructType(fields), v)

    def _write_schema_json(self, db: str, table: str, schema, v: int) -> None:
        import json as _json

        commit.atomic_write(
            self._schema_path(db, table, v), _json.dumps(schema.jsonValue())
        )

    # -- column mapping (metadata-only rename) ------------------------------
    def _mapping(self, db: str, table: str) -> dict[str, str]:
        """{logical name: physical parquet name} for renamed columns
        (identity entries omitted)."""
        sch = self._read_schema(db, table)
        if sch is None:
            return {}
        out = {}
        for f in sch.fields:
            phys = (f.metadata or {}).get("physical", f.name)
            if phys != f.name:
                out[f.name] = phys
        return out

    @staticmethod
    def _phys_read_schema(schema):
        """The schema to IMPOSE on a parquet scan: logical types with
        PHYSICAL field names (Spark matches parquet columns by name —
        imposing a renamed logical name would read NULLs)."""
        from pyspark.sql.types import StructField, StructType

        return StructType(
            [
                StructField(
                    (f.metadata or {}).get("physical", f.name),
                    f.dataType,
                    f.nullable,
                )
                for f in schema.fields
            ]
        )

    @staticmethod
    def _to_logical(df: DataFrame, schema) -> DataFrame:
        """Physical scan columns -> logical names (post-scan rename)."""
        inv = {
            (f.metadata or {}).get("physical", f.name): f.name
            for f in schema.fields
        }
        if all(p == l for p, l in inv.items()):
            return df
        return df.select(
            *[F.col(c).alias(inv.get(c, c)) for c in df.columns]
        )

    def _to_physical(self, db: str, table: str, df: DataFrame) -> DataFrame:
        """Logical frame -> physical column names, applied at every
        data-file write so the physical name NEVER changes after first
        write (the Delta column-mapping invariant: rename is pure
        metadata, old and new files stay mutually readable)."""
        mapping = self._mapping(db, table)
        if not mapping:
            return df
        return df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
        )

    def list_tables(self) -> list[tuple[str, str]]:
        out = []
        if not os.path.isdir(self.root):
            return out
        for db in sorted(os.listdir(self.root)):
            dbdir = os.path.join(self.root, db)
            if not os.path.isdir(dbdir):
                continue
            for table in sorted(os.listdir(dbdir)):
                if self.table_exists(db, table):
                    out.append((db, table))
        return out

    # -- merge -------------------------------------------------------------
    def apply_changeset(self, db: str, table: str, changes: DataFrame) -> None:
        """Merge one table's deduped ChangeSet slice into the snapshot.

        Partition-pruned when ``partition_cols`` is a single column the
        changes carry and the target exists (see module docstring);
        full merge + rewrite otherwise.
        """
        self._occ_begin(db, table)
        changes = self._validate_batch(changes, f"changeset for {db}.{table}")
        if os.path.exists(self._dropped_path(db, table)):
            sch = self._read_schema(db, table)
            cur = {f.name for f in sch.fields} if sch is not None else set()
            dropped = self._dropped(db, table)
            stale = [
                c
                for c in changes.columns
                if c in dropped and c not in cur
            ]
            if stale:
                raise ValueError(
                    f"changeset for {db}.{table} carries dropped "
                    f"column(s) {stale}: drop them from the batch, or "
                    "re-add with add_column() first"
                )
        target = self.read_table(self.spark, db, table, include_tombstones=True)
        if (
            self.merge_mode == "dv"
            and target is not None
            and dict(target.dtypes) == dict(changes.dtypes)
        ):
            self._apply_dv(db, table, changes)
            return
        strategy = self._merge_strategy(db, table, target, changes)
        pruned = (
            target is not None
            and len(self.partition_cols) == 1
            and self.partition_cols[0] in changes.columns
            and dict(target.dtypes) == dict(changes.dtypes)
        )
        if pruned and self._apply_pruned(db, table, target, changes, strategy):
            return
        new_state = merge_apply(
            target,
            changes,
            keys=self.keys,
            ts_col=self.ts_col,
            tiebreak_col=self.tiebreak_col,
            keep_tombstones=True,
            strategy=strategy,
        )
        self._commit(db, table, new_state)

    def _merge_strategy(
        self, db: str, table: str, target: DataFrame | None, changes: DataFrame
    ) -> str:
        """Stats-driven merge planning (the CBO seam): consult the
        current snapshot's ``_ANALYZE`` sidecar and, when it proves the
        changeset is the provably-small side, pick the
        no-target-shuffle broadcast plan in
        :func:`~cdc_redshift_spark.plans.merge.apply_changeset`.

        Safe-fallback contract: no sidecar (the table was never
        ``analyze``-d), stats missing the merge key, or any stats
        error → ``"shuffle"``, the statistics-free default.  The
        changeset side's stats come from one cheap aggregation job
        (:func:`df_key_stats`) which only runs when target stats
        exist — a table nobody analyzed pays nothing.  The decision
        is recorded on ``self.last_merge_plan`` for observability.

        Under-floor fast path (round-10, measured): when the TARGET's
        own estimated size — computable from the sidecar alone, zero
        jobs — is below the broadcast floor, the flip rule can never
        pick broadcast, so the changeset-pricing job is skipped
        entirely.  Without this, carried stats on a small table taxed
        EVERY micro-batch commit one fixed-latency aggregation job to
        reach a foregone conclusion (measured 74% per-commit overhead
        on a 1.5k-row micro-batch against a 150k-row table;
        SCALE.md "Round-10: CDC apply steady state").
        """
        self.last_merge_plan = None
        if target is None:
            return "shuffle"
        from cdc_redshift_spark.operators.planner import (
            COMPOSITE_KEY,
            MERGE_BROADCAST_MIN_TARGET,
            df_key_stats,
            estimate_size_bytes,
            join_plan,
            merge_strategy_from_plan,
            row_bytes_of,
        )

        # composite-key sinks plan from the COMPOSITE_KEY entry
        # (analyze() records struct-NDV at the real grouping grain —
        # keys[0] alone can under-state composite multiplicity
        # arbitrarily, e.g. 'db' has NDV 1 on a ("db","table","key")
        # sink); a sidecar written before composite stats existed
        # lacks the entry and keeps the statistics-free default
        single = len(self.keys) == 1
        key = self.keys[0] if single else COMPOSITE_KEY
        try:
            stats = self.column_stats(db, table)
        except Exception:
            return "shuffle"
        if not stats or key not in stats:
            return "shuffle"
        try:
            # metadata-only pre-check (same estimate join_plan would
            # compute for its left side): an under-floor target can
            # never flip to broadcast, so skip the changeset-pricing
            # aggregation job.  The decision is still RECORDED (the
            # observability contract above): a set plan with
            # under_floor distinguishes "stats consulted, foregone
            # shuffle" from "no/expired stats" (last_merge_plan None)
            est_target = estimate_size_bytes(
                stats, row_bytes=row_bytes_of(target.dtypes)
            )
            if est_target < MERGE_BROADCAST_MIN_TARGET:
                # same key set as a real join_plan result (plus the
                # under_floor discriminator) so observability
                # consumers indexing e.g. plan["skew_risk"] never
                # KeyError on an under-floor commit — the unpriced
                # fields are None/False, not absent
                self.last_merge_plan = {
                    "strategy": "shuffle",
                    "est_left_bytes": est_target,
                    "est_right_bytes": None,
                    "mean_multiplicity_left": None,
                    "mean_multiplicity_right": None,
                    "skew_risk": False,
                    "est_output_rows": None,
                    "est_output_noise_floor": None,
                    "blowup_risk": False,
                    "under_floor": True,
                }
                return "shuffle"
            plan = join_plan(
                stats,
                df_key_stats(
                    changes, self.keys[0] if single else list(self.keys)
                ),
                key,
                left_row_bytes=row_bytes_of(target.dtypes),
                right_row_bytes=row_bytes_of(changes.dtypes),
            )
        except Exception:
            return "shuffle"
        self.last_merge_plan = plan
        return merge_strategy_from_plan(
            plan, min_target_bytes=MERGE_BROADCAST_MIN_TARGET
        )

    def _apply_pruned(
        self,
        db: str,
        table: str,
        target: DataFrame,
        changes: DataFrame,
        strategy: str = "shuffle",
    ) -> bool:
        """Merge only the partitions a batch touches; hard-link the rest
        forward into the new version.  Returns False to signal the
        caller to fall back to the full rewrite (unparseable partition
        directory layout)."""
        pcol = self.partition_cols[0]
        v = self._latest_version(db, table)
        src = os.path.join(self._dir(db, table), f"v{v}")
        existing = self._partition_dirs(src, pcol)
        if existing is None:
            return False

        changes = changes.persist()
        try:
            # Touched = partitions holding OLD versions of changed keys
            # (column-pruned semi-join probe) ∪ the batch's own landing
            # partitions.  Both sides are per-batch small.
            ckeys = changes.select(*self.keys).distinct()
            old_parts = (
                target.select(*self.keys, pcol)
                .join(ckeys, self.keys, "left_semi")
                .select(pcol)
            )
            new_parts = changes.select(pcol)
            touched_rows = old_parts.union(new_parts).distinct().collect()
            touched = {r[0] for r in touched_rows}
            null_touched = None in touched
            touched_strs = {
                self._part_value_str(x) for x in touched if x is not None
            }

            non_null = [x for x in touched if x is not None]
            cond = F.col(pcol).isin(non_null) if non_null else F.lit(False)
            if null_touched:
                cond = cond | F.col(pcol).isNull()
            merged = merge_apply(
                target.where(cond),
                changes,
                keys=self.keys,
                ts_col=self.ts_col,
                tiebreak_col=self.tiebreak_col,
                keep_tombstones=True,
                # the stats decision transfers: it only asserts the
                # CHANGES side is small, true a fortiori against the
                # partition-pruned target subset
                strategy=strategy,
            )

            self._commit_pruned(
                db, table, merged, v, existing, touched_strs, null_touched
            )
            return True
        finally:
            changes.unpersist()

    def _commit_pruned(
        self,
        db: str,
        table: str,
        rewritten: DataFrame,
        v: int,
        existing: dict[str, str],
        touched_strs: set[str],
        null_touched: bool,
    ) -> None:
        """Write the touched partitions as v+1 and hard-link every
        untouched partition directory forward from v."""
        src = os.path.join(self._dir(db, table), f"v{v}")
        dst = os.path.join(self._dir(db, table), f"v{v + 1}")
        self._occ_guard(db, table, v + 1)
        self._to_physical(db, table, rewritten).write.mode(
            "overwrite"
        ).partitionBy(*self.partition_cols).parquet(dst)
        self._write_schema(db, table, rewritten, v + 1)
        linked: list[str] = []
        for name, val_str in existing.items():
            is_null = val_str == HIVE_NULL
            if (is_null and null_touched) or (
                not is_null and val_str in touched_strs
            ):
                continue
            self._link_tree(os.path.join(src, name), os.path.join(dst, name))
            linked.append(name)
        if self.bloom_index_cols:
            self._build_bloom_incremental(db, table, v + 1, v, linked)
        # a DV-bearing snapshot hard-links masked rows forward: the
        # sidecar rows of LINKED partitions must travel too (rewritten
        # partitions were rebuilt from the DV-APPLIED state, so their
        # masks are dead and dropped here)
        prev_dv = self._dv_dir(db, table, v)
        if os.path.isdir(prev_dv) and linked:
            carried = self._carried_index_rows(
                self.spark.read.parquet(prev_dv),
                linked,
                f"/{db}/{table}/v{v}/",
                f"/{db}/{table}/v{v + 1}/",
            )
            if not carried.isEmpty():
                carried.coalesce(1).write.mode("overwrite").parquet(
                    self._dv_dir(db, table, v + 1)
                )
        self._flip(db, table, v + 1)

    # -- deletion-vector merge ---------------------------------------------
    def _dv_dir(self, db: str, table: str, v: int) -> str:
        return os.path.join(self._dir(db, table), f"v{v}", "_DV")

    @classmethod
    def _link_snapshot(cls, src: str, dst: str) -> None:
        """Hard-link every DATA entry of one snapshot dir into another
        (recursing into partition dirs); underscore/dot sidecars
        (_DV, _SCHEMA, _BLOOM_*, _SUCCESS) are NOT carried — the
        commit writes fresh ones."""
        os.makedirs(dst, exist_ok=True)
        for name in os.listdir(src):
            if name.startswith(("_", ".")):
                continue
            s = os.path.join(src, name)
            if os.path.isfile(s):
                os.link(s, os.path.join(dst, name))
            else:
                cls._link_snapshot(s, os.path.join(dst, name))

    @staticmethod
    def _data_files(root: str) -> set[str]:
        out = set()
        for base, dirs, files in os.walk(root):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.endswith(".parquet"):
                    out.add(os.path.join(base, f))
        return out

    def _apply_dv(self, db: str, table: str, changes: DataFrame) -> None:
        """Deletion-vector merge: commit ``changes`` WITHOUT rewriting
        any existing data file.

        v+1 = hard links of every v data file + the batch's winning
        rows appended as new files + a ``_DV`` sidecar of
        ``(file, pos)`` rows masking superseded stored rows.  LWW
        semantics are identical to the rewrite merge: the stored row
        competes against the batch winner on (ts, tiebreak) and is
        masked only when it LOSES — a late-arriving older change
        appends nothing and masks nothing, which also makes replaying
        the same changeset a natural no-op (equal (ts, offset) never
        beats itself).

        Scale shape: the probe reads only (keys, ts, tiebreak,
        _metadata) — a column-pruned scan — and every join broadcasts
        the per-batch-small side; the write is O(batch winners) + the
        tiny sidecar.  The trade: reads pay a broadcast anti-join per
        scan until :meth:`compact` folds the DVs into a clean
        snapshot (the standard Delta/Iceberg deletion-vector
        economics)."""
        changes = changes.persist()
        try:
            v = self._latest_version(db, table)
            src = os.path.join(self._dir(db, table), f"v{v}")
            dst = os.path.join(self._dir(db, table), f"v{v + 1}")
            self._occ_guard(db, table, v + 1)
            old_seg = f"/{db}/{table}/v{v}/"
            new_seg = f"/{db}/{table}/v{v + 1}/"

            # batch winners (per-key LWW within the batch, tombstones
            # kept so deletes land as maskers + tombstone rows)
            batch_best = merge_apply(
                None,
                changes,
                keys=self.keys,
                ts_col=self.ts_col,
                tiebreak_col=self.tiebreak_col,
                keep_tombstones=True,
            )

            # stored rows competing with this batch: key-pruned,
            # column-pruned, and already-masked rows excluded
            schema = self._read_schema(db, table)
            reader = self.spark.read
            if schema is not None:
                reader = reader.schema(self._phys_read_schema(schema))
            cur = reader.parquet(src).select(
                *self.keys,
                self.ts_col,
                self.tiebreak_col,
                F.col("_metadata.file_path").alias("__f"),
                F.col("_metadata.row_index").alias("__r"),
            )
            dvdir_prev = self._dv_dir(db, table, v)
            old_dv = (
                self.spark.read.parquet(dvdir_prev)
                if os.path.isdir(dvdir_prev)
                else None
            )
            if old_dv is not None:
                cur = cur.join(
                    F.broadcast(old_dv),
                    (F.col("__f") == old_dv["file"])
                    & (F.col("__r") == old_dv["pos"]),
                    "left_anti",
                )
            ckeys = batch_best.select(*self.keys).distinct()
            rel = cur.join(F.broadcast(ckeys), self.keys, "left_semi")

            # per key: does the batch winner beat the stored best?
            stored_best = rel.groupBy(*self.keys).agg(
                F.max(
                    F.struct(
                        F.col(self.ts_col).alias("t"),
                        F.col(self.tiebreak_col).alias("o"),
                    )
                ).alias("__sb")
            )
            bb = batch_best.join(
                F.broadcast(stored_best), self.keys, "left"
            )
            wins = F.col("__sb").isNull() | (
                F.struct(
                    F.col(self.ts_col).alias("t"),
                    F.col(self.tiebreak_col).alias("o"),
                )
                > F.col("__sb")
            )
            winners = bb.where(wins).drop("__sb")
            win_keys = winners.select(*self.keys).distinct()

            # DV additions: every surviving stored row of a key the
            # batch won (path-rewritten into the new snapshot)
            new_dv = (
                rel.join(F.broadcast(win_keys), self.keys, "left_semi")
                .select(
                    F.replace(
                        F.col("__f"), F.lit(old_seg), F.lit(new_seg)
                    ).alias("file"),
                    F.col("__r").alias("pos"),
                )
            )
            carried_dv = (
                old_dv.select(
                    F.replace(
                        F.col("file"), F.lit(old_seg), F.lit(new_seg)
                    ).alias("file"),
                    "pos",
                )
                if old_dv is not None
                else None
            )
            dv_rows = (
                new_dv
                if carried_dv is None
                else carried_dv.unionByName(new_dv)
            )
            # every source below (src data, prev _DV, the persisted
            # changes) is DISTINCT from the v+1 dir being built, so
            # the lazy plans stay valid throughout the commit
            append_rows = winners.localCheckpoint(eager=True)
            # retry safety: a prior attempt may have died between the
            # link and the pointer flip, leaving a partial dst (the
            # rewrite paths get this for free from Spark's overwrite
            # mode; os.link would raise FileExistsError instead)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            self._link_snapshot(src, dst)
            before = self._data_files(dst)
            writer = self._to_physical(db, table, append_rows).write.mode(
                "append"
            )
            if self.partition_cols:
                writer = writer.partitionBy(*self.partition_cols)
            writer.parquet(dst)
            appended = sorted(self._data_files(dst) - before)
            dv_rows.select(
                F.col("file").cast("string"), F.col("pos").cast("long")
            ).coalesce(1).write.mode("overwrite").parquet(
                self._dv_dir(db, table, v + 1)
            )
            self._write_schema(db, table, append_rows, v + 1)
            if self.bloom_index_cols:
                self._index_dv_commit(db, table, v + 1, v, appended)
            self._flip(db, table, v + 1)
        finally:
            changes.unpersist()

    def _index_dv_commit(
        self,
        db: str,
        table: str,
        new_v: int,
        prev_v: int,
        appended_files: list[str],
    ) -> None:
        """Bloom maintenance for a DV commit: every previous file is
        hard-linked (rows carried by path rewrite, ALL dirs linked),
        and only the appended files are scanned.  Masked rows stay in
        the index as false-positive candidates — a wasted file read at
        lookup time, never a correctness loss; compact() rebuilds
        clean."""
        from cdc_redshift_spark.operators.layout import (
            BLOOM_K_HASHES,
            BLOOM_M_BITS,
            bloom_file_index,
        )

        old_seg = f"/{db}/{table}/v{prev_v}/"
        new_seg = f"/{db}/{table}/v{new_v}/"

        def carry(old_idx: DataFrame) -> DataFrame:
            return old_idx.withColumn(
                "file",
                F.replace(F.col("file"), F.lit(old_seg), F.lit(new_seg)),
            )

        for col in self.bloom_index_cols:
            prev_dir = self._bloom_dir(db, table, prev_v, col)
            if not os.path.isdir(prev_dir):
                self._build_bloom(db, table, new_v)
                break
            old_idx = self.spark.read.parquet(prev_dir)
            if "m_bits" not in old_idx.columns:
                old_idx = old_idx.withColumn(
                    "m_bits", F.lit(BLOOM_M_BITS).cast("long")
                ).withColumn("k", F.lit(BLOOM_K_HASHES))
            idx = carry(old_idx)
            if appended_files:
                idx = idx.unionByName(
                    bloom_file_index(self.spark, appended_files, col)
                )
            idx.coalesce(1).write.mode("overwrite").parquet(
                self._bloom_dir(db, table, new_v, col)
            )

    def compact(self, db: str, table: str) -> None:
        """Fold deletion vectors into a clean snapshot: read the
        DV-applied current state (tombstones kept) and commit it as a
        fresh full rewrite — subsequent reads pay no anti-join, and
        the indexes rebuild without masked-row false positives.  Run
        when the masked fraction or sidecar size crosses the
        deployment's read-amplification budget."""
        self._occ_begin(db, table)
        state = self.read_table(
            self.spark, db, table, include_tombstones=True
        )
        if state is None:
            return
        # break metadata lineage to the dir being superseded
        self._commit(db, table, state.localCheckpoint(eager=True))

    @staticmethod
    def _partition_dirs(src: str, pcol: str) -> dict[str, str] | None:
        """{dirname: decoded partition value-string} for one snapshot
        version, or None if the snapshot's ACTUAL layout is not a pure
        ``pcol=value`` hive tree.

        The None cases route the caller to the full-rewrite path, and
        every one of them is a real data-loss/duplication hazard for a
        pruned commit, not a formality:

        - a top-level DATA file (unpartitioned snapshot — written
          before ``partition_cols`` was configured, or by a
          ``repartition_table([])`` revert): a pruned commit against
          it would link NO directories forward and silently LOSE every
          row in those files;
        - a directory partitioned by a DIFFERENT column (snapshot
          pre-dating a partition-spec evolution, or plain config
          drift): value-strings of the wrong column would be compared
          against the touched set, linking old-layout dirs forward
          next to the rewrite — resurrected/duplicated keys;
        - a directory that isn't ``col=value`` at all.
        """
        out: dict[str, str] = {}
        if not os.path.isdir(src):
            return None
        for name in os.listdir(src):
            p = os.path.join(src, name)
            if not os.path.isdir(p):
                # a bare DATA file means unpartitioned layout; sidecars
                # (_SUCCESS, .crc) are fine
                if not name.startswith(("_", ".")):
                    return None
                continue
            if name.startswith(("_", ".")):
                continue  # _BLOOM_<col> index dirs etc. — not partitions
            if "=" not in name:
                return None
            col, val = name.split("=", 1)
            if col != pcol:
                return None  # partitioned by a different column
            out[name] = urllib.parse.unquote(val)
        return out

    @staticmethod
    def _part_value_str(x) -> str:
        """A collected partition value rendered the way Spark renders
        it into a hive partition DIRECTORY name.  The one divergence
        from Python ``str()`` that bites in practice is boolean:
        Spark writes ``flag=true`` while ``str(True)`` is ``'True'`` —
        an unnormalized compare treats the touched partition as
        untouched, hard-links it forward NEXT TO its rewrite, and
        every row in it duplicates."""
        if x is True:
            return "true"
        if x is False:
            return "false"
        return str(x)

    @staticmethod
    def _link_tree(src: str, dst: str) -> None:
        os.makedirs(dst, exist_ok=True)
        for name in os.listdir(src):
            s = os.path.join(src, name)
            if os.path.isfile(s):
                os.link(s, os.path.join(dst, name))

    def expire_tombstones(self, db: str, table: str, before_ts_ms: int) -> None:
        """Compact away tombstones older than the lateness horizon.

        At scale tombstones accumulate one row per deleted key; once no
        event older than ``before_ts_ms`` can still arrive, they are
        dead weight and a periodic compaction drops them.  With a
        partition column configured the compaction is pruned like the
        merge: only partitions actually holding expirable tombstones
        are rewritten (a no-op — not even a new version — when there
        are none), the rest are hard-linked forward.
        """
        self._occ_begin(db, table)
        cur = self.read_table(self.spark, db, table, include_tombstones=True)
        if cur is None or "op" not in cur.columns:
            return
        # null-safe: a NULL-ts tombstone is UNEXPIRABLE (its age is
        # unknown), not expirable-by-three-valued-logic.  Without the
        # isNotNull guard the full-rewrite filter `~expired` evaluates
        # to NULL on such rows and DROPS them — while the pruned path
        # (whose touched set only sees rows `where(expired)` matches)
        # links their partitions forward and keeps them: the two paths
        # disagreed, and an expired tombstone's key could resurrect.
        expired = (
            (F.col("op") == "delete")
            & F.col(self.ts_col).isNotNull()
            & (F.col(self.ts_col) < F.lit(before_ts_ms))
        )
        # no-op fast path on EVERY layout: nothing expirable → the
        # current version stands, no rewrite, no new snapshot (early-
        # exit scan of op + ts only)
        if cur.where(expired).isEmpty():
            return
        if len(self.partition_cols) == 1:
            pcol = self.partition_cols[0]
            v = self._latest_version(db, table)
            src = os.path.join(self._dir(db, table), f"v{v}")
            existing = self._partition_dirs(src, pcol)
            if existing is not None and pcol in cur.columns:
                touched = {r[0] for r in cur.where(expired).select(pcol).distinct().collect()}
                if not touched:
                    return  # nothing to expire: current version stands
                null_touched = None in touched
                non_null = [x for x in touched if x is not None]
                in_touched = F.col(pcol).isin(non_null) if non_null else F.lit(False)
                if null_touched:
                    in_touched = in_touched | F.col(pcol).isNull()
                rewritten = cur.where(in_touched & ~expired)
                self._commit_pruned(
                    db,
                    table,
                    rewritten,
                    v,
                    existing,
                    {self._part_value_str(x) for x in non_null},
                    null_touched,
                )
                return
        self._commit(db, table, cur.where(~expired))

    def _occ_begin(self, db: str, table: str) -> None:
        """Record the base version this operation reads its state from
        (occ mode only).  The matching :meth:`_occ_guard` at the commit
        choke point verifies the base has not moved — the read-set
        check of optimistic concurrency.  Runs BEFORE validation, so a
        rejected batch claims nothing."""
        if self.occ:
            self._occ_base[(db, table)] = self._latest_version(db, table)

    def _occ_guard(self, db: str, table: str, v: int) -> None:
        """Commit-time OCC check (occ mode only), called by every
        version-committing choke point (_commit, _commit_pruned,
        _apply_dv, _metadata_only_commit) with the version it is about
        to write:

        1. the base recorded by :meth:`_occ_begin` must still be the
           published latest (a competitor published meanwhile → this
           operation's merge used a stale base → conflict);
        2. atomically create the ``_CLAIM_v<N>`` marker FILE
           (O_CREAT|O_EXCL — exactly one of N racing writers wins;
           a marker file, not the version dir itself, because Spark's
           overwrite write deletes and recreates the directory, which
           would momentarily un-claim it).

        The marker is removed by the flip; markers orphaned by a
        writer crash are freed by :meth:`clear_orphans`."""
        if not self.occ:
            return
        d = self._dir(db, table)
        os.makedirs(d, exist_ok=True)
        missing = object()
        expected = self._occ_base.pop((db, table), missing)
        cur = self._latest_version(db, table)
        if expected is not missing and cur != expected:
            raise CommitConflictError(
                f"{db}.{table}: base version moved "
                f"{expected} -> {cur} during this operation — a "
                "concurrent writer published; re-read state and retry"
            )
        if cur is not None and cur >= v:
            raise CommitConflictError(
                f"{db}.{table}: v{v} is already published "
                f"(latest={cur}) — re-read state and retry"
            )
        try:
            fd = os.open(
                os.path.join(d, f"_CLAIM_v{v}"),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
            os.close(fd)
        except FileExistsError:
            raise CommitConflictError(
                f"{db}.{table}: version v{v} already claimed by a "
                "concurrent writer — re-read state and retry "
                "(clear_orphans() if the claimant crashed)"
            ) from None

    def clear_orphans(self, db: str, table: str) -> list[int]:
        """Remove version directories AND claim markers above the
        published ``_LATEST`` pointer — commits/claims abandoned by
        crashed writers.  The caller guarantees no writer is live (the
        FSCK contract); published state is untouched by construction,
        since orphans are exactly the never-flipped versions no reader
        can reach."""
        latest = self._latest_version(db, table) or 0
        d = self._dir(db, table)
        orphans = sorted(
            v for v in self.versions(db, table) if v > latest
        )
        for v in orphans:
            shutil.rmtree(os.path.join(d, f"v{v}"), ignore_errors=True)
        stale = []
        if os.path.isdir(d):
            for name in os.listdir(d):
                if name.startswith("_CLAIM_v"):
                    try:
                        cv = int(name[len("_CLAIM_v"):])
                    except ValueError:
                        continue
                    if cv > latest:
                        os.remove(os.path.join(d, name))
                        stale.append(cv)
        return sorted(set(orphans) | set(stale))

    def overwrite(self, db: str, table: str, state: DataFrame) -> None:
        """Direct snapshot write (initial loads / oracle comparisons)."""
        self._occ_begin(db, table)
        state = self._validate_batch(state, f"overwrite of {db}.{table}")
        self._commit(db, table, state)

    def optimize(
        self,
        db: str,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> dict:
        """Small-file bin-packing compaction (the Delta ``OPTIMIZE`` /
        Iceberg ``rewrite_data_files`` story): rewrite ONLY the
        partitions carrying more data files than
        ``ceil(bytes / target_file_bytes)`` — each into exactly that
        many files — and hard-link every already-well-packed partition
        forward.  Micro-batch merges inevitably fragment partitions
        (one commit's shuffle writes many small files; at 100 TB the
        file-listing + per-file open cost dominates scans long before
        data volume does); OPTIMIZE pays one bounded rewrite of the
        fragmented slice, never the table.

        Deletion vectors of rewritten partitions are APPLIED (their
        masks die with the rewrite, exactly like the pruned merge);
        linked partitions carry their DV rows and index rows forward
        by path rewrite.  Content is bit-identical before/after.

        Layouts: a SINGLE partition column gets the pruned path
        (fragmented partitions rewritten to their per-partition byte
        budget, the rest hard-linked).  Multi-column / unparseable
        layouts have no pruned machinery, so a needed compaction
        rewrites the whole table — but fragmentation is still judged
        PER LEAF DIRECTORY and the rewrite lands one file per
        partition tuple, so a second call is a no-op (never the
        file-multiplying global-repartition trap).  Unpartitioned
        tables pack to ``ceil(bytes/target)`` files.

        Returns ``{"rewritten": [...], "files_before": n,
        "files_after": m, "version": v}`` (``version`` is unchanged
        when nothing needed rewriting — a no-op makes NO new
        snapshot).  Refuses to run inside a :meth:`transaction` (the
        report would read deferred state).
        """
        self._occ_begin(db, table)
        if self._deferred_flips is not None:
            # the report reads _LATEST, which a transaction defers —
            # and table maintenance has no business inside a batch txn
            raise RuntimeError(
                "optimize() cannot run inside a sink transaction"
            )
        v = self._latest_version(db, table)
        if v is None:
            raise ValueError(f"{db}.{table} does not exist")
        src = os.path.join(self._dir(db, table), f"v{v}")

        def part_stats(d: str) -> tuple[int, int]:
            files = self._data_files(d)
            return len(files), sum(os.path.getsize(f) for f in files)

        files_before = len(self._data_files(src))
        cur = self.read_table(self.spark, db, table, include_tombstones=True)
        pruned_layout = (
            len(self.partition_cols) == 1
            and self._partition_dirs(src, self.partition_cols[0]) is not None
        )
        if pruned_layout:
            pcol = self.partition_cols[0]
            existing = self._partition_dirs(src, pcol)
            plan: dict[str, int] = {}  # value-string -> target k
            for name, val_str in existing.items():
                n, size = part_stats(os.path.join(src, name))
                k = max(1, -(-size // target_file_bytes))
                if n > k:
                    plan[val_str] = k
            if not plan:
                return {
                    "rewritten": [],
                    "files_before": files_before,
                    "files_after": files_before,
                    "version": v,
                }
            null_touched = HIVE_NULL in plan
            non_null = [s for s in plan if s != HIVE_NULL]
            # partition values compare as their directory strings (the
            # same str() round-trip _apply_pruned relies on)
            cond = (
                F.col(pcol).cast("string").isin(non_null)
                if non_null
                else F.lit(False)
            )
            if null_touched:
                cond = cond | F.col(pcol).isNull()
            # spread each partition over exactly its k target files
            ks = self.spark.createDataFrame(
                [(s, k) for s, k in plan.items()],
                "__pv string, __k int",
            )
            total = sum(plan.values())
            rewritten = (
                cur.where(cond)
                .join(
                    F.broadcast(ks),
                    F.coalesce(F.col(pcol).cast("string"), F.lit(HIVE_NULL))
                    == F.col("__pv"),
                )
                .withColumn(
                    "__salt",
                    F.pmod(
                        F.xxhash64(*[F.col(k) for k in self.keys]),
                        F.col("__k").cast("long"),
                    ),
                )
                .repartition(max(total, 1), F.col(pcol), F.col("__salt"))
                .drop("__pv", "__k", "__salt")
            )
            self._commit_pruned(
                db,
                table,
                rewritten,
                v,
                existing,
                set(non_null),
                null_touched,
            )
        elif self.partition_cols:
            # multi-column / unparseable layout: no pruned machinery,
            # so the whole table rewrites — but the no-op check and the
            # file-count target must still be PER LEAF DIRECTORY
            # (a global repartition(k) + partitionBy would write up to
            # k files into EVERY partition dir, multiplying fragments)
            by_dir: dict[str, list[str]] = {}
            for f in self._data_files(src):
                by_dir.setdefault(os.path.dirname(f), []).append(f)
            frag = [
                d
                for d, fs in by_dir.items()
                if len(fs)
                > max(
                    1,
                    -(
                        -sum(os.path.getsize(f) for f in fs)
                        // target_file_bytes
                    ),
                )
            ]
            if not frag:
                return {
                    "rewritten": [],
                    "files_before": files_before,
                    "files_after": files_before,
                    "version": v,
                }
            plan = {os.path.relpath(d, src): 1 for d in frag}
            # one task per partition tuple -> one file per leaf dir
            # (task collisions only merge partitions, never split them)
            state = cur.repartition(
                max(len(by_dir), 1), *[F.col(c) for c in self.partition_cols]
            )
            self._commit(db, table, state)
        else:
            n, size = part_stats(src)
            k = max(1, -(-size // target_file_bytes))
            if n <= k:
                return {
                    "rewritten": [],
                    "files_before": files_before,
                    "files_after": files_before,
                    "version": v,
                }
            plan = {"": k}
            # reading v while writing v+1: distinct dirs, lazy is safe
            self._commit(db, table, cur.repartition(k))
        new_v = self._latest_version(db, table)
        files_after = len(
            self._data_files(os.path.join(self._dir(db, table), f"v{new_v}"))
        )
        return {
            "rewritten": sorted(plan),
            "files_before": files_before,
            "files_after": files_after,
            "version": new_v,
        }

    def repartition_table(
        self, db: str, table: str, new_partition_cols: Sequence[str]
    ) -> None:
        """PARTITION-SPEC EVOLUTION: commit a new snapshot of the
        current state rewritten under ``new_partition_cols`` and adopt
        them as the sink's partitioning — the Iceberg
        partition-evolution story on plain parquet, minus per-file
        spec tracking (the new spec applies to the whole new snapshot;
        older snapshots stay readable via ``read_table(version=)``
        with their own layout and per-version schema).  Content is
        byte-identical; only directory layout changes, and every
        subsequent ``apply_changeset`` prunes on the NEW column.

        Cost: ONE full rewrite (a repartition shuffle + write) — the
        unavoidable price of changing physical layout; pay it once in
        a maintenance window, then merges are O(touched partitions)
        again.  A mis-partitioned 100 TB table pays a full-table merge
        on EVERY micro-batch, so the one-time rewrite amortizes in a
        handful of commits.  The Bloom index (if configured) is
        rebuilt for the new snapshot; the empty column list reverts
        the table to unpartitioned."""
        self._occ_begin(db, table)
        cur = self.read_table(self.spark, db, table, include_tombstones=True)
        if cur is None:
            raise ValueError(f"{db}.{table} does not exist")
        missing = [c for c in new_partition_cols if c not in cur.columns]
        if missing:
            raise ValueError(
                f"new partition column(s) {missing} not in {db}.{table} "
                f"schema {cur.columns}"
            )
        mapping = self._mapping(db, table)
        mapped = [c for c in new_partition_cols if c in mapping]
        if mapped:
            raise ValueError(
                f"cannot partition by renamed/added column(s) {mapped}: "
                "partition directories use physical names, which "
                "column mapping cannot reach"
            )
        # adopt-then-commit with rollback: _commit writes under
        # whatever self.partition_cols says, so the spec must be
        # swapped in before it runs — but an OCC conflict or write
        # error must NOT leave the sink believing the new spec while
        # the published snapshot still has the old layout (every later
        # pruned merge would then hit the layout-vs-spec mismatch and
        # pay a full rewrite; pre-validation, it silently lost rows)
        old_spec = self.partition_cols
        self.partition_cols = list(new_partition_cols)
        try:
            self._commit(db, table, cur)
        except BaseException:
            self.partition_cols = old_spec
            raise

    def rename_column(self, db: str, table: str, old: str, new: str) -> None:
        """METADATA-ONLY column rename (the Delta/Iceberg column-
        mapping story on plain parquet): commit a new snapshot whose
        every data file, deletion-vector row and index row is a
        hard-link / path-rewrite of the current one — ZERO data bytes
        rewritten however large the table — with an updated catalog
        schema where the field's LOGICAL name changes but its
        ``physical`` parquet name (recorded in field metadata) stays
        what it was at first write.  All subsequent writes translate
        logical -> physical at the storage boundary, so old and new
        files remain mutually readable forever; time travel to
        pre-rename versions serves the old name via the per-version
        schema.

        Merge-machinery columns (keys, ts/tiebreak, op), partition,
        cluster and index columns are refused: their names are wired
        into directory layouts, sidecar names and changeset contracts,
        where a metadata rename cannot reach.
        """
        self._occ_begin(db, table)
        v = self._latest_version(db, table)
        if v is None:
            raise ValueError(f"{db}.{table} does not exist")
        schema = self._read_schema(db, table)
        if schema is None:
            # pre-catalog table: materialize the catalog first so the
            # mapping has a source of truth
            schema = self.spark.read.parquet(
                os.path.join(self._dir(db, table), f"v{v}")
            ).schema
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"{db}.{table} has no column {old!r}: {names}")
        if new in names:
            raise ValueError(f"{db}.{table} already has a column {new!r}")
        if old in self._machinery_cols():
            raise ValueError(
                f"cannot rename {old!r}: merge-key/partition/cluster/"
                "index columns are wired into layouts and contracts"
            )
        from pyspark.sql.types import StructField, StructType

        new_schema = StructType(
            [
                StructField(
                    new,
                    f.dataType,
                    f.nullable,
                    {"physical": (f.metadata or {}).get("physical", f.name)},
                )
                if f.name == old
                else f
                for f in schema.fields
            ]
        )
        self._metadata_only_commit(db, table, new_schema)

    def _dv_rewrite(
        self, src_dv: str, dst_dv: str, old_seg: str, new_seg: str
    ) -> None:
        """Carry a DV sidecar between snapshot dirs by path rewrite
        (the masks reference absolute file paths)."""
        if os.path.isdir(src_dv):
            self.spark.read.parquet(src_dv).select(
                F.replace(
                    F.col("file"), F.lit(old_seg), F.lit(new_seg)
                ).alias("file"),
                "pos",
            ).coalesce(1).write.mode("overwrite").parquet(dst_dv)

    def _metadata_only_commit(
        self,
        db: str,
        table: str,
        new_schema,
        src_v: int | None = None,
    ) -> int:
        """Commit a new version whose DATA is a pure hard-link of the
        ``src_v`` snapshot (current by default; DV sidecar and index
        rows carried by path rewrite) under the given catalog schema —
        the shared tail of every ALTER TABLE-style operation (rename /
        add / drop column) and of restore().  Zero data bytes move
        regardless of table size.  File provenance inherits from
        ``src_v``'s manifest (for the default src that IS the v-1
        default)."""
        cur = self._latest_version(db, table)
        if src_v is None:
            src_v = cur
        new_v = cur + 1
        self._occ_guard(db, table, new_v)
        src = os.path.join(self._dir(db, table), f"v{src_v}")
        dst = os.path.join(self._dir(db, table), f"v{new_v}")
        if os.path.isdir(dst):  # retry safety (see _apply_dv)
            shutil.rmtree(dst)
        self._link_snapshot(src, dst)
        old_seg = f"/{db}/{table}/v{src_v}/"
        new_seg = f"/{db}/{table}/v{new_v}/"
        self._dv_rewrite(
            self._dv_dir(db, table, src_v),
            self._dv_dir(db, table, new_v),
            old_seg,
            new_seg,
        )
        if self.bloom_index_cols:
            # every file carries: index rows travel by path rewrite
            self._index_dv_commit(db, table, new_v, src_v, [])
        self._write_schema_json(db, table, new_schema, new_v)
        self._flip(db, table, new_v, manifest_prev=src_v)
        return new_v

    # -- metadata-only column add / drop -------------------------------------
    def _dropped_path(self, db: str, table: str) -> str:
        return os.path.join(self._dir(db, table), "_DROPPED")

    def _dropped(self, db: str, table: str) -> dict[str, str]:
        """{logical name: physical parquet name} of every column ever
        dropped and not since re-added — the guard set that keeps a
        later batch from silently resurrecting a dropped column."""
        import json as _json

        p = self._dropped_path(db, table)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return _json.load(f)

    def _write_dropped(self, db: str, table: str, d: dict[str, str]) -> None:
        import json as _json

        commit.atomic_write(self._dropped_path(db, table), _json.dumps(d))

    def _machinery_cols(self) -> set[str]:
        return (
            set(self.keys)
            | {self.ts_col, self.tiebreak_col, "op"}
            | set(self.partition_cols)
            | set(self.bloom_index_cols)
        )

    def _catalog_or_infer(self, db: str, table: str, v: int):
        schema = self._read_schema(db, table)
        if schema is None:
            schema = self.spark.read.parquet(
                os.path.join(self._dir(db, table), f"v{v}")
            ).schema
        return schema

    def add_column(self, db: str, table: str, name: str, dtype: str) -> int:
        """METADATA-ONLY ``ALTER TABLE ADD COLUMN`` (Delta contract):
        commit a new snapshot that hard-links every data file and adds
        the column to the catalog schema — existing rows read as NULL
        (the imposed scan schema fills columns absent from a file), no
        backfill, no rewrite.  The new column gets a version-unique
        PHYSICAL parquet name (``<name>__v<N>`` via the column-mapping
        machinery), so re-adding a previously dropped name can never
        resurrect stale bytes from old files — the Delta column-mapping
        id story on plain parquet.  Returns the new version."""
        self._occ_begin(db, table)
        from pyspark.sql.types import StructField, StructType

        v = self._latest_version(db, table)
        if v is None:
            raise ValueError(f"{db}.{table} does not exist")
        if name in self._machinery_cols():
            raise ValueError(
                f"cannot add {name!r}: merge-key/partition/cluster/"
                "index columns must exist physically, not as "
                "metadata-only nulls"
            )
        schema = self._catalog_or_infer(db, table, v)
        if name in [f.name for f in schema.fields]:
            raise ValueError(f"{db}.{table} already has a column {name!r}")
        dt = StructType.fromDDL(f"x {dtype}").fields[0].dataType
        new_schema = StructType(
            [
                *schema.fields,
                StructField(name, dt, True, {"physical": f"{name}__v{v + 1}"}),
            ]
        )
        # the _DROPPED entry (if any) is NOT removed: it is inert
        # while the name is in the catalog (the guard checks catalog
        # first), and keeping it means a later restore() to a
        # pre-re-add version leaves the name guarded instead of
        # silently re-widenable
        return self._metadata_only_commit(db, table, new_schema)

    def drop_column(self, db: str, table: str, name: str) -> int:
        """METADATA-ONLY ``ALTER TABLE DROP COLUMN``: the field leaves
        the catalog schema; data files are hard-linked untouched and
        the dropped bytes are simply never scanned again (imposed-
        schema column pruning).  Time travel to pre-drop versions still
        serves the column via the per-version schema.  The name is
        recorded in the table's ``_DROPPED`` guard set: a later
        changeset still carrying it RAISES (instead of silently
        re-widening the catalog), and ``add_column`` re-adds it under a
        fresh physical name so old bytes can never leak back.  Columns
        wired into merge/layout contracts, CHECK constraints or
        generated-column expressions are refused.  Returns the new
        version."""
        self._occ_begin(db, table)
        import re as _re

        from pyspark.sql.types import StructType

        v = self._latest_version(db, table)
        if v is None:
            raise ValueError(f"{db}.{table} does not exist")
        schema = self._catalog_or_infer(db, table, v)
        fields = {f.name: f for f in schema.fields}
        if name not in fields:
            raise ValueError(
                f"{db}.{table} has no column {name!r}: {list(fields)}"
            )
        if name in self._machinery_cols():
            raise ValueError(
                f"cannot drop {name!r}: merge-key/partition/cluster/"
                "index columns are wired into layouts and contracts"
            )
        word = _re.compile(rf"\b{_re.escape(name)}\b")
        for label, exprs in (
            ("CHECK constraint", self.constraints),
            ("generated column", self.generated_cols),
        ):
            for ename, expr in exprs.items():
                if word.search(expr):
                    raise ValueError(
                        f"cannot drop {name!r}: referenced by {label} "
                        f"{ename} (expr: {expr!r})"
                    )
        physical = (fields[name].metadata or {}).get("physical", name)
        new_schema = StructType(
            [f for f in schema.fields if f.name != name]
        )
        # guard first: a crash between this write and the flip leaves
        # an inert entry (the catalog-first check ignores it), never a
        # resurrection window
        dropped = self._dropped(db, table)
        dropped[name] = physical
        self._write_dropped(db, table, dropped)
        return self._metadata_only_commit(db, table, new_schema)

    def restore(self, db: str, table: str, version: int) -> int:
        """Delta ``RESTORE TABLE ... VERSION AS OF`` on plain parquet:
        make the table's CURRENT state equal an earlier retained
        snapshot, committed as a NEW version — history is preserved,
        so a restore is itself undoable by another restore.  Zero data
        bytes move: the new snapshot hard-links the target version's
        files, its DV sidecar and Bloom index rows carry by
        path rewrite, its per-version schema becomes the current
        catalog entry again (a later rename/evolution rolls back
        logically WITH the data, matching Delta), and the file
        manifest inherits the target's provenance so restored rows
        keep reporting the commit that actually wrote them.
        Restoring to the current version is a no-op (no new commit).
        Returns the current version after the call."""
        self._occ_begin(db, table)
        cur = self._latest_version(db, table)
        if cur is None:
            raise ValueError(f"{db}.{table} does not exist")
        # validate against FLIPPED history, not the directory listing:
        # a crashed commit can leave an orphaned, never-published
        # v(cur+1) dir that must not be restorable (it may be partial)
        if version > cur or version not in self.versions(db, table):
            raise ValueError(
                f"{db}.{table} has no retained snapshot v{version}; "
                f"available: "
                f"{[v for v in self.versions(db, table) if v <= cur]}"
            )
        if version == cur:
            return cur
        schema = self._read_schema(db, table, version)
        if schema is None:
            # pre-versioned-schema snapshot: infer once so current
            # reads stay typed
            schema = self.spark.read.parquet(
                os.path.join(self._dir(db, table), f"v{version}")
            ).schema
        return self._metadata_only_commit(db, table, schema, src_v=version)

    def clone_table(
        self, db: str, table: str, dest_db: str, dest_table: str
    ) -> None:
        """Zero-copy table clone (the Delta SHALLOW CLONE use case —
        dev/test copies, experiment branches — without its dangling-
        reference hazard): the clone's v1 HARD-LINKS the source's
        current snapshot, so no data bytes are written, yet the clone
        is fully independent afterwards — vacuuming or rewriting the
        source can never break it, because links keep shared bytes
        alive until both sides drop them.  DV sidecar and index rows
        carry by path rewrite; the clone starts its own history at v1
        (provenance resets, as Delta clones do)."""
        v = self._latest_version(db, table)
        if v is None:
            raise ValueError(f"{db}.{table} does not exist")
        if self._latest_version(dest_db, dest_table) is not None:
            raise ValueError(
                f"clone target {dest_db}.{dest_table} already exists"
            )
        src = os.path.join(self._dir(db, table), f"v{v}")
        dst = os.path.join(self._dir(dest_db, dest_table), "v1")
        if os.path.isdir(dst):  # retry safety
            shutil.rmtree(dst)
        self._link_snapshot(src, dst)
        old_seg = f"/{db}/{table}/v{v}/"
        new_seg = f"/{dest_db}/{dest_table}/v1/"

        def rewrite(df: DataFrame) -> DataFrame:
            return df.withColumn(
                "file",
                F.replace(F.col("file"), F.lit(old_seg), F.lit(new_seg)),
            )

        self._dv_rewrite(
            self._dv_dir(db, table, v),
            self._dv_dir(dest_db, dest_table, 1),
            old_seg,
            new_seg,
        )
        for col in self.bloom_index_cols:
            bdir = self._bloom_dir(db, table, v, col)
            if os.path.isdir(bdir):
                from cdc_redshift_spark.operators.layout import (
                    BLOOM_K_HASHES,
                    BLOOM_M_BITS,
                )

                idx = self.spark.read.parquet(bdir)
                if "m_bits" not in idx.columns:
                    # legacy pre-geometry index rows: same upgrade
                    # _index_dv_commit applies on same-table carries
                    idx = idx.withColumn(
                        "m_bits", F.lit(BLOOM_M_BITS).cast("long")
                    ).withColumn("k", F.lit(BLOOM_K_HASHES))
                rewrite(idx).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(self._bloom_dir(dest_db, dest_table, 1, col))
        # the _DROPPED guard travels with the catalog: a changeset on
        # the clone carrying a source-dropped column must raise too
        if os.path.exists(self._dropped_path(db, table)):
            self._write_dropped(dest_db, dest_table, self._dropped(db, table))
        schema = self._read_schema(db, table)
        if schema is not None:
            self._write_schema_json(dest_db, dest_table, schema, 1)
        self._flip(dest_db, dest_table, 1)

    def _commit(self, db: str, table: str, state: DataFrame) -> None:
        d = self._dir(db, table)
        v = (self._latest_version(db, table) or 0) + 1
        self._occ_guard(db, table, v)
        path = os.path.join(d, f"v{v}")
        writer = (
            self._to_physical(db, table, state)
            .write.mode("overwrite")
        )
        if self.partition_cols:
            writer = writer.partitionBy(*self.partition_cols)
        writer.parquet(path)
        if self.bloom_index_cols:
            self._build_bloom(db, table, v)
        self._write_schema(db, table, state, v)
        self._flip(db, table, v)

    def table_changes(
        self,
        spark: SparkSession,
        db: str,
        table: str,
        from_version: int,
        to_version: int | None = None,
        compare_cols: Sequence[str] | None = None,
    ) -> DataFrame:
        """Change data feed between two retained snapshot versions:
        the row-level ``(keys..., op, before, after)`` changeset that
        ``to_version`` implies relative to ``from_version`` — Delta's
        ``table_changes`` contract, computed as ONE full-outer key
        join over the two snapshots (``operators/incremental.
        snapshot_changes``) instead of a transaction log.  Feed the
        output to ``apply_changeset`` on another sink to replicate
        the table; tombstones are excluded on both sides so a delete
        surfaces exactly once as ``op='delete'``.

        ``compare_cols`` defaults to every non-key, non-bookkeeping
        column shared by both snapshots (schema evolution between the
        versions narrows the comparison to the common columns).
        """
        from cdc_redshift_spark.operators.incremental import (
            snapshot_changes,
        )

        old = self.read_table(spark, db, table, version=from_version)
        new = self.read_table(spark, db, table, version=to_version) \
            if to_version is not None else self.read_table(spark, db, table)
        if old is None or new is None:
            raise ValueError(f"{db}.{table}: missing snapshot for diff")
        if compare_cols is None:
            skip = set(self.keys) | {self.ts_col, self.tiebreak_col, "op"}
            compare_cols = [
                c for c in old.columns if c in set(new.columns) - skip
            ]
        return snapshot_changes(
            old, new, keys=list(self.keys), compare_cols=list(compare_cols)
        )

    def dv_masked_fraction(self, db: str, table: str) -> float:
        """Fraction of stored rows masked by the current deletion
        vector — the read-amplification statistic that schedules
        :meth:`compact`.  Both counts are metadata-cheap (the DV
        sidecar is per-batch small; the data count comes from parquet
        row-group stats, no data read)."""
        v = self._latest_version(db, table)
        if v is None:
            return 0.0
        dvdir = self._dv_dir(db, table, v)
        if not os.path.isdir(dvdir):
            return 0.0
        masked = self.spark.read.parquet(dvdir).count()
        total = (
            self.spark.read.parquet(
                os.path.join(self._dir(db, table), f"v{v}")
            ).count()
        )
        return masked / total if total else 0.0

    def analyze(
        self,
        db: str,
        table: str,
        cols: list[str] | None = None,
        approx: bool = False,
        key_sketch: bool | str = False,
        sketch_d: int = 5,
        sketch_w: int = 4096,
    ) -> dict:
        """ANALYZE TABLE: per-column statistics — row count, null
        count, exact NDV, min, max — computed in ONE aggregation pass
        over the current snapshot and persisted as a ``v<N>/_ANALYZE``
        sidecar (JSON), the column-stats contract of a transactional
        table format (Delta's ``ANALYZE``/dataSkippingStatsColumns,
        Iceberg's puffin NDV blobs) on plain parquet.

        Why at 100 TB: join planning lives or dies on cardinality —
        a stored NDV/row-count lets a driver decide broadcast vs
        shuffle (and detect key skew: rows/ndv is mean multiplicity)
        WITHOUT re-scanning the table per query.  Exact
        ``count_distinct`` is one expand over the scan (the honest
        one-pass cost); ``approx=True`` swaps every NDV to
        ``approx_count_distinct`` (HLL++, no expand) — the right mode
        when stats feed PLANNING only (the planner needs order of
        magnitude, not exactness), and what the pipeline's periodic
        ``analyze_every`` refresh uses so maintenance never pays the
        expand at scale.

        Stats are per-version: readers of an older snapshot see that
        snapshot's own ``_ANALYZE`` (or none), never the future's.
        Returns the stats dict ``{col: {n, n_null, ndv, min, max,
        dtype}}``; min/max of non-JSON types (timestamps, decimals)
        are stored as their string form.

        ``key_sketch``: additionally persist a Count-Min sketch of a
        key column (a column name, or ``True`` for the sink's merge
        key — composite keys sketch the unit-separator-joined string
        form) under the reserved ``planner.CM_SKETCH`` entry.  The
        sketch is geometry-bounded (<= sketch_d × sketch_w cells,
        ~20k at the defaults, a few hundred KB of JSON) and rides the
        same sidecar, so ``_carry_analyze`` carries it forward with
        the column stats and the same age expiry.  Two analyzed
        tables' sketches let :func:`~.planner.join_plan` price the
        join's OUTPUT size (``est_output_rows`` / ``blowup_risk``)
        from metadata alone — the pre-shuffle blowup probe
        (``sketches.cm_inner_product``).  Cost: one extra
        geometry-bounded aggregation pass.
        """
        v = self._latest_version(db, table)
        if v is None:
            raise ValueError(f"analyze: no committed version for {db}.{table}")
        df = self.read_table(self.spark, db, table)
        cols = list(cols) if cols is not None else list(df.columns)
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"analyze: unknown columns {missing}")
        ndv = F.approx_count_distinct if approx else F.count_distinct
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, c in enumerate(cols):
            aggs += [
                F.count(F.col(c)).alias(f"__c{i}"),
                ndv(F.col(c)).alias(f"__d{i}"),
                F.min(F.col(c)).alias(f"__lo{i}"),
                F.max(F.col(c)).alias(f"__hi{i}"),
            ]
        # composite-key NDV in the SAME pass: any one column's NDV can
        # under-state the composite grain's multiplicity arbitrarily
        # (keys[0]='db' on a ("db","table","key") sink has NDV 1), and
        # the merge planner needs the real grain (COMPOSITE_KEY entry)
        composite = (
            len(self.keys) > 1 and all(k in df.columns for k in self.keys)
        )
        if composite:
            aggs.append(
                ndv(F.struct(*[F.col(k) for k in self.keys])).alias("__dk")
            )
        row = df.agg(*aggs).first()
        dts = dict(df.dtypes)

        def js(x):
            return x if isinstance(x, (int, float, str, bool, type(None))) else str(x)

        stats = {
            c: {
                "n": row["__n"],
                "n_null": row["__n"] - row[f"__c{i}"],
                "ndv": row[f"__d{i}"],
                "min": js(row[f"__lo{i}"]),
                "max": js(row[f"__hi{i}"]),
                "dtype": dts[c],
            }
            for i, c in enumerate(cols)
        }
        if composite:
            from cdc_redshift_spark.operators.planner import COMPOSITE_KEY

            stats[COMPOSITE_KEY] = {
                "n": row["__n"],
                "n_null": 0,
                "ndv": max(row["__dk"], 1),
                "min": None,
                "max": None,
                "dtype": "struct",
            }
        if key_sketch:
            from cdc_redshift_spark.operators.planner import CM_SKETCH
            from cdc_redshift_spark.operators.sketches import (
                cm_collect,
                cm_sketch,
            )

            if key_sketch is True:
                if len(self.keys) == 1:
                    kdf = df.select(
                        F.col(self.keys[0]).cast("string").alias("__k")
                    )
                    sk_key = list(self.keys)
                else:
                    # unit separator: unambiguous for the string forms
                    # of real key values (mirrors DuckDB concat_ws)
                    kdf = df.select(
                        F.concat_ws(
                            "\x1f",
                            *[F.col(k).cast("string") for k in self.keys],
                        ).alias("__k")
                    )
                    sk_key = list(self.keys)
            else:
                if key_sketch not in df.columns:
                    raise ValueError(
                        f"analyze: key_sketch column {key_sketch!r} "
                        f"not in table"
                    )
                kdf = df.select(
                    F.col(key_sketch).cast("string").alias("__k")
                )
                sk_key = [key_sketch]
            stats[CM_SKETCH] = {
                "n": row["__n"],
                "d": sketch_d,
                "w": sketch_w,
                "key": sk_key,
                "cells": cm_collect(
                    cm_sketch(kdf, "__k", d=sketch_d, w=sketch_w)
                ),
                "dtype": "cm_sketch",
            }
        import json as _json

        commit.atomic_write(
            os.path.join(self._dir(db, table), f"v{v}", "_ANALYZE"),
            _json.dumps(stats),
        )
        # fresh stats restart the carry chain (see _carry_analyze):
        # a leftover age marker from a carried sidecar is now wrong
        age = os.path.join(self._dir(db, table), f"v{v}", "_ANALYZE_AGE")
        if os.path.exists(age):
            os.remove(age)
        return stats

    def column_stats(
        self, db: str, table: str, version: int | None = None
    ) -> dict | None:
        """Read the persisted :meth:`analyze` stats for ``version``
        (default: current).  None when that snapshot was never
        analyzed — stats are an optimization input, not a correctness
        dependency, so callers must handle absence."""
        v = self._latest_version(db, table) if version is None else version
        if v is None:
            return None
        path = os.path.join(self._dir(db, table), f"v{v}", "_ANALYZE")
        if not os.path.exists(path):
            return None
        import json as _json

        with open(path) as f:
            return _json.load(f)

    def vacuum(self, db: str, table: str, keep_last: int = 2) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshot versions and
        return the versions removed.  Because unchanged partition
        directories are HARD-LINKED forward between versions, removing
        an old version frees only the files no newer version still
        links — the retention/vacuum contract of a transactional table
        format, without the log.  The latest version is always kept
        (``keep_last`` is clamped to >= 1) so readers never lose the
        current pointer target.
        """
        keep_last = max(1, int(keep_last))
        latest = self._latest_version(db, table)
        if latest is None:
            return []
        # retention counts COMMITTED versions only.  Dirs above the
        # pointer are crashed/aborted commit orphans: counting them
        # toward keep_last would silently drop that many real history
        # versions while retaining junk — and a concurrent writer may
        # be mid-commit on the highest one, so vacuum must not touch
        # them either way (clear_orphans owns that cleanup, under its
        # explicit no-live-writer contract).
        vs = [v for v in self.versions(db, table) if v <= latest]
        drop = [v for v in vs[:-keep_last] if v != latest]
        d = self._dir(db, table)
        for v in drop:
            shutil.rmtree(os.path.join(d, f"v{v}"), ignore_errors=True)
        return drop

    def _bloom_dir(self, db: str, table: str, v: int, col: str) -> str:
        return os.path.join(self._dir(db, table), f"v{v}", f"_BLOOM_{col}")

    def _build_bloom(self, db: str, table: str, v: int) -> None:
        """Full index build over snapshot ``v`` — correct whenever the
        snapshot was fully (re)written (``_commit``), since every file
        is new anyway.  Geometry: each file's filter is sized from its
        own row count, so large files don't saturate (the 'auto'
        sizing of operators/layout.bloom_file_index).
        """
        from cdc_redshift_spark.operators.layout import bloom_file_index

        snap = os.path.join(self._dir(db, table), f"v{v}")
        for col in self.bloom_index_cols:
            idx = bloom_file_index(self.spark, snap, col)
            # coalesce: the index is |files| rows — one file suffices
            idx.coalesce(1).write.mode("overwrite").parquet(
                self._bloom_dir(db, table, v, col)
            )

    def _build_bloom_incremental(
        self,
        db: str,
        table: str,
        new_v: int,
        prev_v: int,
        linked_dirs: list[str],
    ) -> None:
        """Index maintenance for a PRUNED commit: hard-linked partition
        directories hold byte-identical files, so their Bloom rows are
        unchanged by construction — carry them forward with a path
        rewrite and scan ONLY the rewritten partitions.  Per-commit
        index cost is O(touched partitions), matching the data write
        (a full rebuild would be a full-table read per micro-batch at
        100 TB).  Carried rows keep the geometry they were built with
        (it travels in the index's ``m_bits``/``k`` columns), so a
        geometry change applies to new files without invalidating old
        rows.  Falls back to a full build when the previous index is
        missing (``bloom_index_cols`` newly configured)."""
        from cdc_redshift_spark.operators.layout import (
            BLOOM_K_HASHES,
            BLOOM_M_BITS,
            bloom_file_index,
        )

        dst = os.path.join(self._dir(db, table), f"v{new_v}")
        if any(
            not os.path.isdir(self._bloom_dir(db, table, prev_v, col))
            for col in self.bloom_index_cols
        ):
            self._build_bloom(db, table, new_v)
            return
        linked_set = set(linked_dirs)
        touched = [
            d
            for d in os.listdir(dst)
            if os.path.isdir(os.path.join(dst, d))
            and not d.startswith(("_", "."))
            and d not in linked_set
        ]
        # paths from input_file_name are URIs over the os path — the
        # version segment is the only part that changes between
        # snapshots, so a prefix-anchored substring rewrite is exact
        old_seg = f"/{db}/{table}/v{prev_v}/"
        new_seg = f"/{db}/{table}/v{new_v}/"
        for col in self.bloom_index_cols:
            old_idx = self.spark.read.parquet(
                self._bloom_dir(db, table, prev_v, col)
            )
            if "m_bits" not in old_idx.columns:  # legacy fixed geometry
                old_idx = old_idx.withColumn(
                    "m_bits", F.lit(BLOOM_M_BITS).cast("long")
                ).withColumn("k", F.lit(BLOOM_K_HASHES))
            carried = self._carried_index_rows(
                old_idx, linked_dirs, old_seg, new_seg
            )
            if touched:
                fresh = bloom_file_index(
                    self.spark,
                    [os.path.join(dst, d) for d in touched],
                    col,
                )
                idx = carried.unionByName(fresh)
            else:
                idx = carried
            idx.coalesce(1).write.mode("overwrite").parquet(
                self._bloom_dir(db, table, new_v, col)
            )

    @staticmethod
    def _carried_index_rows(
        old_idx: DataFrame,
        linked_dirs: list[str],
        old_seg: str,
        new_seg: str,
    ) -> DataFrame:
        """Index rows of hard-linked (byte-identical) partition dirs,
        carried to the new snapshot with a path rewrite — shared by
        the Bloom incremental maintainer and the DV sidecar carry.

        ``linked_dirs`` are raw ``os.listdir`` names, but the ``file``
        column holds URIs (``input_file_name`` /
        ``_metadata.file_path``), where reserved characters are
        percent-encoded: a partition value ``'a b'`` is the directory
        ``p=a b`` on disk but ``.../p=a%20b/...`` in the URI.
        Matching the raw name alone silently drops the carried
        Bloom/DV rows of any such partition — deleted rows
        resurrect and the index serves false negatives.  Each dir is
        therefore matched under BOTH spellings: the raw name and its
        percent-encoded form (``quote(d, safe="=")`` reproduces the
        URI rendering of the on-disk name, including the double-encode
        of hive-escaped dirs like ``p=%3A`` → ``p=%253A``)."""
        from functools import reduce

        if not linked_dirs:
            return old_idx.limit(0)
        alts = sorted(
            {
                a
                for d in linked_dirs
                for a in (d, urllib.parse.quote(d, safe="="))
            }
        )
        in_linked = reduce(
            lambda a, b: a | b,
            [F.col("file").contains(old_seg + d + "/") for d in alts],
        )
        return old_idx.where(in_linked).withColumn(
            "file",
            F.replace(F.col("file"), F.lit(old_seg), F.lit(new_seg)),
        )

    def lookup_files(
        self, db: str, table: str, col: str, value
    ) -> list[str]:
        """Candidate data files for ``col == value`` in the CURRENT
        snapshot, via the committed Bloom index (no false negatives).
        Read them with :meth:`read_files` instead of scanning the
        snapshot — a raw ``spark.read.parquet(*files)`` loses
        partition-directory columns and, in dv merge mode, serves
        DV-masked (deleted / superseded) rows."""
        from cdc_redshift_spark.operators.layout import bloom_lookup_files

        if col not in self.bloom_index_cols:
            raise ValueError(
                f"no bloom index for column {col!r}; sink indexes "
                f"{self.bloom_index_cols}"
            )
        v = self._latest_version(db, table)
        if v is None:
            return []
        idx = self.spark.read.parquet(self._bloom_dir(db, table, v, col))
        return bloom_lookup_files(idx, value)

    def _apply_dv_mask(
        self, spark: SparkSession, df: DataFrame, db: str, table: str, v: int
    ) -> DataFrame:
        """Mask deletion-vector (file, pos) rows at scan time.  The
        sidecar is per-batch small and broadcast; compact() folds it
        away when the masked fraction grows.  No-op when snapshot
        ``v`` carries no DV sidecar."""
        dvdir = self._dv_dir(db, table, v)
        if not os.path.isdir(dvdir):
            return df
        dv = spark.read.parquet(dvdir)
        return (
            df.withColumn("__f", F.col("_metadata.file_path"))
            .withColumn("__r", F.col("_metadata.row_index"))
            .join(
                F.broadcast(dv),
                (F.col("__f") == dv["file"]) & (F.col("__r") == dv["pos"]),
                "left_anti",
            )
            .drop("__f", "__r")
        )

    def read_files(
        self,
        db: str,
        table: str,
        files: Sequence[str],
        include_tombstones: bool = False,
    ) -> DataFrame:
        """Read an index-pruned candidate-file list (from
        :meth:`lookup_files`) with FULL
        table read semantics — the point-lookup fast path that stays
        correct in every sink mode.  A raw
        ``spark.read.parquet(*files)`` is wrong twice over:

        - without ``basePath`` anchored at the snapshot root, Spark
          does not derive the hive partition column from the file
          paths — the imposed schema then reads it as all-NULL;
        - in dv merge mode the listed files still CONTAIN their
          DV-masked rows (deletes/updates mask rather than rewrite),
          so deleted and superseded row versions come back.

        Applies the committed schema (physical names), the current
        DV mask, logical renames and the tombstone filter — exactly
        :meth:`read_table`, restricted to ``files``.  The returned
        plan still scans only the listed files (index pruning is
        preserved; the mask is a broadcast anti-join on top)."""
        v = self._latest_version(db, table)
        if v is None:
            raise ValueError(f"{db}.{table} does not exist")
        if not files:
            empty = self.read_table(
                self.spark, db, table, include_tombstones=include_tombstones
            )
            return empty.limit(0)
        reader = self.spark.read.option(
            "basePath", os.path.join(self._dir(db, table), f"v{v}")
        )
        schema = self._read_schema(db, table)
        if schema is not None:
            reader = reader.schema(self._phys_read_schema(schema))
        # index file columns are URIs (percent-encoded: 'p=a b' is
        # .../p=a%20b/...); the reader wants on-disk paths — unquote
        # exactly inverts the URI rendering
        df = reader.parquet(*[urllib.parse.unquote(f) for f in files])
        df = self._apply_dv_mask(self.spark, df, db, table, v)
        if schema is not None:
            df = self._to_logical(df, schema)
        if not include_tombstones and "op" in df.columns:
            df = df.where(~F.col("op").eqNullSafe(F.lit("delete")))
        return df

    def _flip(
        self, db: str, table: str, v: int, manifest_prev: int | None = None
    ) -> None:
        # every commit path ends here with the version dir complete —
        # the one choke point where the file->commit-version manifest
        # can be derived before the snapshot becomes visible.
        # ``manifest_prev`` overrides which version's manifest carried
        # files inherit provenance from (restore links from an OLDER
        # snapshot, not v-1)
        self._write_file_manifest(db, table, v, prev_v=manifest_prev)
        # stats follow the DATA lineage: a restore commit links an
        # older snapshot's files (manifest_prev), so its stats — not
        # the replaced pointer's — describe the new current state
        self._carry_analyze(db, table, v, src_v=manifest_prev)
        if self._deferred_flips is not None:
            # inside a transaction: record the intent, flip at commit
            self._deferred_flips.append((db, table, v))
            return
        self._flip_now(db, table, v)

    def _carry_analyze(
        self, db: str, table: str, v: int, src_v: int | None = None
    ) -> None:
        """Carry the published snapshot's ``_ANALYZE`` sidecar into the
        about-to-flip version ``v``, so stats-driven planning
        (:meth:`_merge_strategy`) survives the commits BETWEEN
        ``analyze()`` refreshes — without this, the first merge after
        an ANALYZE orphans the stats (they are per-version) and every
        later micro-batch silently reverts to the statistics-free
        shuffle, exactly in the streaming regime the broadcast plan
        exists for.  Warehouse semantics: stats are estimates and stay
        usable until refreshed; staleness is bounded by an explicit
        age counter (``_ANALYZE_AGE`` = commits since the stats were
        computed) — past :data:`ANALYZE_CARRY_LIMIT` the chain EXPIRES and
        the planner reverts to the safe default rather than planning
        on arbitrarily stale cardinalities.  ``src_v`` overrides the
        carry source (restore commits link an OLDER version's data, so
        that version's stats are the ones that describe ``v``).

        Runs ON the commit path, so it must never fail a commit:
        stats are an optimization input, not a correctness dependency
        (the :meth:`column_stats` contract) — any IO/parse error here
        (corrupt age file from a crashed writer, ENOSPC) just skips
        the carry and the planner falls back to the stats-free
        default.  Both files publish through :func:`commit.atomic_write`,
        so a crash can leave them missing or old, never partial."""
        try:
            d = self._dir(db, table)
            prev = (
                src_v if src_v is not None else self._latest_version(db, table)
            )
            if prev is None or prev >= v:
                return
            src = os.path.join(d, f"v{prev}", "_ANALYZE")
            dst = os.path.join(d, f"v{v}", "_ANALYZE")
            if not os.path.exists(src) or os.path.exists(dst):
                return
            age_path = os.path.join(d, f"v{prev}", "_ANALYZE_AGE")
            age = int(commit.read_pointer(age_path) or 0)
            if age + 1 > ANALYZE_CARRY_LIMIT:
                return
            with open(src) as f:
                commit.atomic_write(dst, f.read())
            commit.atomic_write(
                os.path.join(d, f"v{v}", "_ANALYZE_AGE"), str(age + 1)
            )
        except Exception:
            return

    # -- row-level commit provenance ---------------------------------------
    def _manifest_path(self, db: str, table: str, v: int) -> str:
        return os.path.join(self._dir(db, table), f"v{v}", "_FILEVERS")

    def _read_file_manifest(self, db: str, table: str, v: int) -> dict:
        import json as _json

        p = self._manifest_path(db, table, v)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return _json.load(f)

    def _write_file_manifest(
        self, db: str, table: str, v: int, prev_v: int | None = None
    ) -> None:
        """{data-file basename: version that WROTE it} for one
        snapshot: hard-linked files keep the version recorded by the
        predecessor's manifest (their bytes are that commit's, by
        construction); everything else was written by THIS commit.
        Derivation is pure directory metadata — no data read."""
        import json as _json

        if prev_v is None:
            prev_v = v - 1
        prev = self._read_file_manifest(db, table, prev_v)
        if not prev and v > 1:
            # pre-manifest predecessor (sink root created before this
            # feature): its carried files have UNKNOWN provenance —
            # recording the current version would be silently WRONG
            prev_dir = os.path.join(self._dir(db, table), f"v{prev_v}")
            if os.path.isdir(prev_dir):
                prev = {
                    os.path.basename(f): None
                    for f in self._data_files(prev_dir)
                }
        man = {
            os.path.basename(f): prev.get(os.path.basename(f), v)
            for f in self._data_files(
                os.path.join(self._dir(db, table), f"v{v}")
            )
        }
        commit.atomic_write(
            self._manifest_path(db, table, v), _json.dumps(man)
        )

    def _flip_now(self, db: str, table: str, v: int) -> None:
        d = self._dir(db, table)
        commit.atomic_write(os.path.join(d, "_LATEST"), str(v))
        # the published version's OCC claim marker is spent
        claim = os.path.join(d, f"_CLAIM_v{v}")
        if os.path.exists(claim):
            os.remove(claim)

    # -- multi-table crash-atomic transactions ------------------------------
    def _txn_path(self) -> str:
        return os.path.join(self.root, "_TXN_PENDING")

    def transaction(self) -> "SinkTransaction":
        """Group several table commits into ONE crash-atomic unit —
        the cross-table guarantee a CDC micro-batch needs when its
        routing fans out to N tables: without it, a crash mid-batch
        publishes some tables' new state and not others', and readers
        can join v_new(orders) against v_old(customers) until the
        replay catches up.

        Protocol (single-writer, the sink's documented regime):
        every operation inside the transaction runs its normal commit
        work — new version directories are fully written — but the
        per-table ``_LATEST`` pointer flips are DEFERRED; ``commit()``
        then writes a ``_TXN_PENDING`` intent manifest (one atomic
        file), flips every pointer, and removes the manifest.  A crash
        BEFORE the manifest leaves every pointer untouched (the
        orphaned version dirs are overwritten by the replay — the
        established retry-safety) and a crash AFTER it is ROLLED
        FORWARD by :meth:`recover` (the version dirs are complete by
        construction once the manifest exists).  All-or-nothing under
        any single crash point.

        Usage::

            with sink.transaction() as txn:
                sink.apply_changeset("db", "orders", oc)
                sink.apply_changeset("db", "customers", cc)
            # both visible, or neither
        """
        return SinkTransaction(self)

    def recover(self) -> list[tuple[str, str, int]]:
        """Roll FORWARD an interrupted transaction: flip any pointer
        the pending manifest promised but the crash pre-empted.
        Returns the (db, table, version) flips performed.  Safe to
        call any time; called from :meth:`transaction`'s entry so a
        restarted pipeline self-heals before its next batch."""
        import json as _json

        p = self._txn_path()
        if not os.path.exists(p):
            return []
        with open(p) as f:
            pending = _json.load(f)
        done = []
        for db, table, v in pending:
            if (self._latest_version(db, table) or 0) < v:
                self._flip_now(db, table, v)
                done.append((db, table, v))
        os.remove(p)
        return done


class SinkTransaction:
    """Context manager grouping several ParquetSink table commits into
    one crash-atomic unit (see :meth:`ParquetSink.transaction`).  On
    clean exit the deferred pointer flips publish together behind a
    ``_TXN_PENDING`` intent manifest; on exception NOTHING publishes
    (orphaned version dirs are overwritten by the replay)."""

    def __init__(self, sink: ParquetSink):
        self.sink = sink

    def __enter__(self) -> "SinkTransaction":
        if self.sink._deferred_flips is not None:
            raise RuntimeError("nested sink transactions are not supported")
        self.sink.recover()
        self.sink._deferred_flips = []
        return self

    def __exit__(self, et, ev, tb) -> bool:
        flips = self.sink._deferred_flips or []
        self.sink._deferred_flips = None
        if et is not None:
            return False  # abort: no pointer moved, exception propagates
        seen = set()
        for db, table, _ in flips:
            if (db, table) in seen:
                raise RuntimeError(
                    f"transaction wrote {db}.{table} twice: each table "
                    "may commit at most once per transaction (later ops "
                    "would read the table's pre-transaction state)"
                )
            seen.add((db, table))
        if not flips:
            return False
        import json as _json

        p = self.sink._txn_path()
        commit.atomic_write(p, _json.dumps(flips))  # the commit point
        for db, table, v in flips:
            self.sink._flip_now(db, table, v)
        os.remove(p)
        return False
