"""Shared versioned-snapshot commit discipline for streaming
maintainers (``RollupMaintainer``, ``Scd2Maintainer``): the
write-new-then-swap layout of ``ParquetSink`` keyed by BATCH ID, so a
foreachBatch retry of an already-committed batch no-ops.

Layout:  ``path/v<token>/part-*.parquet`` + ``path/_LATEST``
containing the committed version token (a pointer flip published by
:func:`cdc_redshift_spark.commit.atomic_write`, after the version's
``_COMMITTED`` marker); snapshots beyond ``keep_versions`` are pruned
on commit, the previous one always kept so a reader holding the old
pointer still resolves.  A token is the batch id (``7``) or, after an
in-place re-bucket migration, the batch id plus a sub-version
(``7_r1``) — the batch-id part alone drives replay idempotency, so a
migration between batches never swallows or re-applies a real batch.

Bucketed mode (``bucket_keys`` + ``n_buckets`` set by the subclass):
the snapshot is stored hash-partitioned on the state keys —
``path/v<token>/__bucket=<pmod(xxhash64(keys), n)>/part-*.parquet``
— so a maintainer whose state GROWS with history (the SCD2 dimension
history) can commit a trigger by rewriting only the buckets the
batch touches and HARD-LINKING every untouched bucket's files
forward from the previous version (the same inode-pinned discipline
as ``ParquetSink._apply_pruned``).  Per-trigger IO becomes
O(touched buckets + batch), not O(stored history); version pruning
stays safe because removing an old version dir only unlinks names —
inodes shared with newer versions survive.

Bucket-count geometry (round 12): the count that routes reads and
writes is a property OF the committed version — each bucketed commit
records it in ``v<token>/_NBUCKETS``, and the resolution order is
committed ``_NBUCKETS`` > legacy top-level ``_BUCKETS`` (pinned at
first commit, kept for pre-r12 stores and as the restart guard) >
the constructor value.  Because the count and the layout it
describes flip together under the one atomic ``_LATEST`` replace, a
crash can never leave pruned reads routing by a count the committed
layout was not written with.

``n_buckets="auto"`` sizes the count from STATE BYTES instead of a
pin: the first commit writes plain, measures its bytes, and records
``ceil_pow2(bytes / target_bucket_bytes)``; after every subsequent
commit :meth:`maybe_rebucket` re-measures and, when the state has
outgrown its grid by >= 2x, migrates via :meth:`rebucket` (full
read -> rewrite at n' -> new sub-versioned token).  Growth is
geometric (doubling), so the amortized migration cost is O(1) extra
writes per byte ever stored — the same budget argument as a dynamic
array.  Shrinking never happens automatically (a transient dip must
not thrash the layout); call ``rebucket(n)`` explicitly.  At 100 TB
this is the knob that matters: a fixed count is always wrong at one
end of a store's life, exactly like a fixed shuffle-partition count
(Redshift hides the same decision behind its distribution keys —
reference ``glue_dms_redshift_cdc.py:107`` — a native store must own
it explicitly).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_redshift_spark import commit

#: partition column for bucketed snapshots — "__" prefix keeps it out
#: of the user column namespace (same convention as the planner's
#: reserved stats entries); ``current()`` never leaks it to readers.
BUCKET_COL = "__bucket"

#: ``n_buckets`` sentinel: size the bucket count from state bytes at
#: first commit and grow it geometrically as the state grows.
AUTO = "auto"

#: floor for ``target_bucket_bytes``.  The sizing signal is the
#: committed version's ON-DISK bytes, which include ~1 KiB of parquet
#: footer/metadata PER FILE — so more buckets means more measured
#: bytes even with zero data growth.  The auto loop converges iff the
#: per-bucket byte budget dwarfs that per-file overhead (fixed point
#: n * target >= data + n * overhead needs target > overhead); a
#: target at or below the overhead would let layout overhead feed the
#: sizing signal and double the grid forever.  16 KiB is > 10x the
#: worst observed footer; production targets are MiB-scale anyway.
MIN_TARGET_BUCKET_BYTES = 16 << 10


def size_buckets_for_bytes(nbytes: int, target_bytes: int) -> int:
    """The byte-budget bucket count: the smallest power of two whose
    per-bucket share of ``nbytes`` fits ``target_bytes``.  Powers of
    two keep successive auto-sizings on the same ladder (a store that
    grows 10% does not oscillate between 37 and 41 buckets) and make
    the >= 2x outgrowth trigger exact."""
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be > 0, got {target_bytes}")
    n = 1
    while n * target_bytes < nbytes:
        n *= 2
    return n


def _parse_token(token: str) -> tuple[int, int]:
    """``"7"`` -> (7, 0); ``"7_r2"`` -> (7, 2).  The int pair sorts
    versions chronologically (re-buckets slot between batches)."""
    if "_r" in token:
        b, s = token.split("_r", 1)
        return int(b), int(s)
    return int(token), 0


def _dir_bytes(d: str) -> int:
    """Data bytes under a version dir (metadata sidecars excluded).
    Pure inode metadata — no file is read."""
    total = 0
    for root, _dirs, files in os.walk(d):
        for fn in files:
            if fn.startswith((".", "_")):
                continue
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


class VersionedSnapshotStore:
    """Mixin: requires ``self.spark``, ``self.path``,
    ``self.keep_versions`` set by the subclass __init__.  Subclasses
    wanting bucketed commits also set ``self.bucket_keys``
    (state key columns) and ``self.n_buckets`` (an int, or
    :data:`AUTO` for byte-budget sizing + geometric growth)."""

    spark: SparkSession
    path: str
    keep_versions: int
    #: key columns the bucketed layout hashes on (None = unbucketed)
    bucket_keys: list[str] | None = None
    #: bucket count for NEW stores (int), or AUTO; an existing
    #: store's committed count always wins
    n_buckets: int | str = 0
    #: byte budget per bucket for AUTO sizing — the parquet-bytes
    #: analogue of spark.sql.files.maxPartitionBytes.  Floored at
    #: :data:`MIN_TARGET_BUCKET_BYTES` (see there for the convergence
    #: argument).
    target_bucket_bytes: int = 128 << 20

    def _set_target_bucket_bytes(self, target: int | None) -> None:
        """Constructor helper for subclasses: validate + set the AUTO
        byte budget (None keeps the class default)."""
        if target is None:
            return
        target = int(target)
        if target < MIN_TARGET_BUCKET_BYTES:
            raise ValueError(
                f"target_bucket_bytes must be >= {MIN_TARGET_BUCKET_BYTES}"
                f" (per-file parquet overhead must stay negligible in the"
                f" sizing signal), got {target}"
            )
        self.target_bucket_bytes = target

    def _set_keep_versions(self, keep_versions: int) -> None:
        """Constructor helper for subclasses: validate + set the
        retention depth at CONSTRUCTION time, so a misconfigured
        store fails before any version dir is written rather than at
        its first commit (the _flip check remains as a backstop)."""
        keep_versions = int(keep_versions)
        if keep_versions < 2:
            raise ValueError(
                f"keep_versions must be >= 2 (the previous committed "
                f"version must survive each flip), got {keep_versions}"
            )
        self.keep_versions = keep_versions

    def committed_batch(self) -> int | None:
        tok = self._committed_token()
        return None if tok is None else _parse_token(tok)[0]

    def _committed_token(self) -> str | None:
        return commit.read_pointer(os.path.join(self.path, "_LATEST"))

    def current(self, buckets: list[int] | None = None) -> DataFrame | None:
        """The committed snapshot (None before the first commit).

        ``buckets``: restrict a BUCKETED snapshot to these bucket ids
        — a partition-pruned read (only those buckets' files are
        listed/scanned).  The internal :data:`BUCKET_COL` never
        reaches the caller either way."""
        tok = self._committed_token()
        if tok is None:
            return None
        vdir = os.path.join(self.path, f"v{tok}")
        if not os.path.isdir(vdir):
            # the converse of the lost-pointer restore: pointer
            # present, version dir missing — fail with a diagnosis
            # instead of an opaque reader/listdir error (review r14)
            raise RuntimeError(
                f"snapshot store corrupted: _LATEST points at "
                f"{vdir!r} but the directory does not exist "
                f"(partial restore?)"
            )
        df = self.spark.read.parquet(vdir)
        if BUCKET_COL in df.columns:
            if buckets is not None:
                # filter on the partition column BEFORE dropping it:
                # Catalyst prunes the file listing at planning time
                df = df.where(F.col(BUCKET_COL).isin([int(b) for b in buckets]))
            df = df.drop(BUCKET_COL)
        return df

    # -- bucketed-mode helpers ---------------------------------------------

    def _bucket_count(self) -> int:
        """The count that routes reads and writes, resolved committed-
        layout-first: the committed version's ``_NBUCKETS`` (the count
        its files were actually hashed with — survives re-buckets), a
        legacy top-level ``_BUCKETS`` pin (pre-r12 stores, and the
        guard against a restart with a different constructor value),
        else the constructor value (0 while AUTO is still unsized —
        the first commit sizes it)."""
        tok = self._committed_token()
        if tok is not None:
            vdir = os.path.join(self.path, f"v{tok}")
            n = commit.read_pointer(os.path.join(vdir, "_NBUCKETS"))
            if n is not None:
                return int(n)
        pin = commit.read_pointer(os.path.join(self.path, "_BUCKETS"))
        if pin is not None:
            return int(pin)
        return 0 if self.n_buckets == AUTO else int(self.n_buckets)

    def _bucket_expr(self, n: int | None = None):
        """Deterministic bucket id of a row's state key:
        ``pmod(xxhash64(keys), n)`` — stable across sessions (xxhash64
        is seed-fixed), recomputable on both the batch and the stored
        side so pruning can never disagree with placement."""
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in self.bucket_keys]),
            F.lit(int(n if n is not None else self._bucket_count())),
        ).cast("int")

    def touched_buckets(self, batch: DataFrame) -> list[int]:
        """The bucket ids a batch's keys land in — a bounded collect
        (<= n_buckets values, metadata-sized by construction)."""
        return sorted(
            r[0]
            for r in batch.select(self._bucket_expr().alias("b"))
            .distinct()
            .collect()
        )

    def _commit(self, state: DataFrame, batch_id: int) -> None:
        """Full-state commit: write everything, flip the pointer.
        Bucketed stores still partition the layout (so the NEXT
        commit can prune/link) and record the version's count; an
        AUTO store's first commit writes plain, sizes the count from
        the measured bytes, and records it — the next full commit
        lays the state out bucketed at that count."""
        vdir = os.path.join(self.path, f"v{batch_id}")
        n = self._bucket_count() if self.bucket_keys else 0
        if self.bucket_keys and n:
            self._pin_buckets(n)
            self._write_bucketed(state, vdir, n)
            self._record_nbuckets(vdir, n)
            self._ensure_readable(vdir, state)
        else:
            state.write.mode("overwrite").parquet(vdir)
            if self.bucket_keys and self.n_buckets == AUTO:
                sized = size_buckets_for_bytes(
                    _dir_bytes(vdir), self.target_bucket_bytes
                )
                self._record_nbuckets(vdir, sized)
        pre_tok = self._committed_token()
        self._flip(batch_id)
        if self.bucket_keys and self.n_buckets == AUTO:
            self.maybe_rebucket(keep_extra=pre_tok)

    def _commit_pruned(
        self,
        touched_state: DataFrame,
        batch_id: int,
        touched: list[int],
        prev_batch: int,
    ) -> None:
        """Bucketed incremental commit: write ONLY the touched
        buckets' new state, hard-link every other bucket's files
        forward from the committed version (whose batch id is
        ``prev_batch``; after a re-bucket that is a sub-versioned
        token — resolving the TOKEN, not the int, is what keeps the
        link source on the migrated layout), flip the pointer.  IO is
        O(touched state) + O(#untouched files) link syscalls — the
        stored history's bytes are never re-read or re-written.

        ``touched_state`` must hold exactly the touched buckets' full
        new state (the caller read those buckets, merged the batch,
        and hands the result back); rows are re-bucketed here from
        the key columns, so placement cannot drift from pruning."""
        vdir = os.path.join(self.path, f"v{batch_id}")
        n = self._bucket_count()
        self._write_bucketed(
            touched_state, vdir, n, n_parts=max(len(touched), 1)
        )
        prev_tok = self._committed_token()
        if prev_tok is None or _parse_token(prev_tok)[0] != prev_batch:
            prev_tok = str(prev_batch)
        prev = os.path.join(self.path, f"v{prev_tok}")
        touched_dirs = {f"{BUCKET_COL}={int(b)}" for b in touched}
        for d in os.listdir(prev):
            if not d.startswith(f"{BUCKET_COL}=") or d in touched_dirs:
                continue
            src, dst = os.path.join(prev, d), os.path.join(vdir, d)
            os.makedirs(dst, exist_ok=True)
            for fn in os.listdir(src):
                if fn.startswith((".", "_")):
                    continue
                os.link(os.path.join(src, fn), os.path.join(dst, fn))
        self._record_nbuckets(vdir, n)
        self._ensure_readable(vdir, touched_state)
        pre_tok = prev_tok
        self._flip(batch_id)
        if self.n_buckets == AUTO:
            self.maybe_rebucket(keep_extra=pre_tok)

    # -- re-bucket migration ------------------------------------------------

    def rebucket(
        self, n_new: int | None = None, keep_extra: str | None = None
    ) -> int:
        """Migrate the committed snapshot to ``n_new`` buckets (default:
        the byte-budget size of the committed state) as a NEW
        sub-versioned token — read all, rewrite at n', atomic pointer
        flip.  The batch-id part of the token is unchanged, so replay
        idempotency is untouched: a retried batch still no-ops, the
        next real batch id still commits.  All mutation lands in the
        fresh version dir; a crash before the flip leaves the store
        on the old version with an orphan dir that normal version
        pruning removes.  Returns the count in effect afterwards."""
        if not self.bucket_keys:
            raise ValueError("rebucket() requires a bucketed store")
        tok = self._committed_token()
        if tok is None:
            raise ValueError("rebucket() before first commit")
        vdir_cur = os.path.join(self.path, f"v{tok}")
        if n_new is None:
            n_new = size_buckets_for_bytes(
                _dir_bytes(vdir_cur), self.target_bucket_bytes
            )
        n_new = int(n_new)
        if n_new < 1:
            raise ValueError(f"n_new must be >= 1, got {n_new}")
        if n_new == self._bucket_count() and self._bucketed_on_disk():
            return n_new
        state = self.current()
        batch, sub = _parse_token(tok)
        new_tok = f"{batch}_r{sub + 1}"
        vdir = os.path.join(self.path, f"v{new_tok}")
        self._write_bucketed(state, vdir, n_new)
        self._record_nbuckets(vdir, n_new)
        self._ensure_readable(vdir, state)
        self._flip(new_tok, keep_extra=keep_extra)
        return n_new

    def maybe_rebucket(
        self, grow_factor: int = 2, keep_extra: str | None = None
    ) -> int | None:
        """Grow the grid when the committed state has outgrown it:
        re-bucket to the byte-budget size iff that is >= grow_factor
        x the current count (so migrations are geometric — amortized
        O(1) extra writes per stored byte — and a store hovering at a
        boundary never thrashes).  Shrinking is never automatic.
        Returns the new count, or None when no migration ran."""
        tok = self._committed_token()
        if tok is None or not self.bucket_keys:
            return None
        n = self._bucket_count()
        if not n:
            return None
        ideal = size_buckets_for_bytes(
            _dir_bytes(os.path.join(self.path, f"v{tok}")),
            self.target_bucket_bytes,
        )
        if ideal >= n * grow_factor:
            return self.rebucket(ideal, keep_extra=keep_extra)
        return None

    def _write_bucketed(
        self,
        state: DataFrame,
        vdir: str,
        n: int,
        n_parts: int | None = None,
    ) -> None:
        """Bucket-partitioned snapshot write, repartitioned ON the
        bucket id first so each bucket directory holds ~one file —
        without this every upstream shuffle task writes a file per
        bucket it happens to hold (O(tasks x buckets) small files,
        which at scale bloats both the link pass and every pruned
        read's listing).  The repartition shuffles only the state
        being written; pruned commits pass ``n_parts`` ~= the touched
        bucket count so a 4096-bucket store doesn't launch 4096
        near-empty write tasks for a 3-bucket trigger (bucket-id hash
        collisions just mean one task writes two directories)."""
        df = state.withColumn(BUCKET_COL, self._bucket_expr(n))
        (
            df.repartition(n_parts or n, F.col(BUCKET_COL))
            .write.mode("overwrite")
            # STATIC per-write, whatever the session sets: crash
            # recovery of a pruned commit depends on the retry
            # clearing the crashed attempt's whole version dir —
            # under session-wide dynamic partitionOverwriteMode the
            # stale hard-linked bucket dirs would survive and the
            # link pass would FileExistsError forever (review r14)
            .option("partitionOverwriteMode", "static")
            .partitionBy(BUCKET_COL)
            .parquet(vdir)
        )

    def _ensure_readable(self, vdir: str, state: DataFrame) -> None:
        """A ``partitionBy`` write of an EMPTY frame emits no
        schema-bearing file (only ``_SUCCESS``), unlike a plain
        parquet write — so a batch that empties the whole state (all
        groups retracted) would leave a version ``spark.read`` cannot
        infer a schema from, permanently wedging the store (review
        r11, reproduced).  If the new version holds no data file at
        all (empty write AND nothing hard-linked), fall back to a
        plain empty write: it carries the schema in a metadata-only
        part file, reads back as zero rows, and — being UNBUCKETED —
        makes the next commit take the full (bootstrap-style) path,
        which re-buckets.  Self-healing by construction.

        The fallback's ``mode("overwrite")`` clears the version dir —
        including a ``_NBUCKETS`` recorded before this call — so the
        pin is saved and re-written afterwards: without it an AUTO
        store whose state empties would resolve its count from the
        stale first-sized top-level ``_BUCKETS`` pin, silently
        resetting a geometrically grown grid and re-paying the
        migration cost as state regrows."""
        for root, _dirs, files in os.walk(vdir):
            if any(not f.startswith((".", "_")) for f in files):
                return
        pinned = commit.read_pointer(os.path.join(vdir, "_NBUCKETS"))
        state.limit(0).drop(BUCKET_COL).write.mode("overwrite").parquet(vdir)
        if pinned is not None:
            self._record_nbuckets(vdir, int(pinned))

    def _record_nbuckets(self, vdir: str, n: int) -> None:
        """Record the count a version's layout was hashed with INSIDE
        the version dir — parquet readers skip underscore files, and
        the atomic ``_LATEST`` flip makes count + layout take effect
        together (the crash window a mutable global pin would have)."""
        commit.atomic_write(os.path.join(vdir, "_NBUCKETS"), str(int(n)))

    def _pin_buckets(self, n: int) -> None:
        pin = os.path.join(self.path, "_BUCKETS")
        if not os.path.exists(pin):
            commit.atomic_write(pin, str(int(n)))

    def _bucketed_on_disk(self) -> bool:
        """Whether the COMMITTED version is bucket-partitioned (an
        unbucketed store adopted mid-stream takes one full commit to
        migrate; until then pruned commits must not link)."""
        tok = self._committed_token()
        if tok is None:
            return False
        vdir = os.path.join(self.path, f"v{tok}")
        if not os.path.isdir(vdir):
            raise RuntimeError(
                f"snapshot store corrupted: _LATEST points at "
                f"{vdir!r} but the directory does not exist "
                f"(partial restore?)"
            )
        return any(
            d.startswith(f"{BUCKET_COL}=") for d in os.listdir(vdir)
        )

    def _flip(
        self, token: int | str, keep_extra: str | None = None
    ) -> None:
        # ``keep_extra``: one additional version TOKEN exempted from
        # this flip's keep_versions prune — the growth-migration flip
        # passes the version that was committed when its enclosing
        # update() began, because two flips inside one commit would
        # otherwise age the pre-commit version out in a single call
        # and strand a concurrent reader holding that pointer (the
        # r14 known limitation).
        if self.keep_versions < 2:
            # keep_versions=1 would prune the previous version at the
            # flip, breaking the documented reader-holding-the-old-
            # pointer guarantee; 0 would make the prune slice [:0]
            # and retain EVERY version forever (review r14)
            raise ValueError(
                f"keep_versions must be >= 2 (the previous committed "
                f"version must survive each flip), got "
                f"{self.keep_versions}"
            )
        prev_tok = self._committed_token()
        prev_key = None if prev_tok is None else _parse_token(prev_tok)
        # commit marker BEFORE the pointer flip: a dir carrying it was
        # (or was about to be) a real committed version, so a LATER
        # flip must count it toward keep_versions instead of deleting
        # it as a crash orphan — this is what lets the lost-pointer
        # survivors adopted by a replay-from-zero flip KEEP surviving
        # subsequent flips (review r14: the r13 protection lasted one
        # flip; the next `key > prev_key` pass destroyed them).  A
        # crash between marker and pointer leaves a marked-but-never-
        # pointed dir, which is merely retained until keep_versions
        # ages it out — safe in both directions.
        vdir = os.path.join(self.path, f"v{token}")
        commit.atomic_write(os.path.join(vdir, "_COMMITTED"), "1")
        commit.atomic_write(os.path.join(self.path, "_LATEST"), str(token))
        # prune old snapshots beyond keep_versions (the previous one is
        # kept so a reader holding the old pointer still resolves;
        # hard-linked files survive — rmtree only unlinks names).
        # Any dir newer than the PREVIOUSLY committed token, other than
        # the one just flipped, was never committed (a crash-aborted
        # rebucket / write): delete it outright rather than counting it
        # toward keep_versions — counted, it would push the genuinely
        # previous version out one flip early and break the
        # reader-holding-the-old-pointer guarantee.
        new_key = _parse_token(str(token))
        versions = []
        for d in os.listdir(self.path):
            if not d.startswith("v"):
                continue
            try:
                key = _parse_token(d[1:])
            except ValueError:
                continue
            if key == new_key:
                continue
            # prev_key None means no committed pointer EXISTED — either
            # a first-ever commit (no version dirs yet) or a store whose
            # _LATEST was lost (partial restore, manual copy).  The
            # > prev_key "never committed, delete outright" rule is only
            # sound when a committed pointer actually existed; with the
            # pointer lost, every surviving dir is potentially a real
            # committed snapshot, so count it toward keep_versions
            # instead of deleting it (ADVICE r13).
            if (
                prev_key is not None
                and key > prev_key
                and not os.path.exists(
                    os.path.join(self.path, d, "_COMMITTED")
                )
            ):
                shutil.rmtree(
                    os.path.join(self.path, d), ignore_errors=True
                )
                continue
            versions.append((key, d))
        versions.append((new_key, f"v{token}"))
        extra_key = None
        if keep_extra is not None:
            try:
                extra_key = _parse_token(str(keep_extra))
            except ValueError:
                extra_key = None
        for _key, d in sorted(versions)[: -self.keep_versions]:
            # the just-flipped dir must ALWAYS survive, whatever its
            # token order: after a lost-pointer restore the stream
            # replays from batch 0, so survivors can carry HIGHER
            # tokens than the new commit — pruning by sort order alone
            # would delete the dir _LATEST was just flipped to
            if _key == new_key:
                continue
            # the immediately-previous committed version is likewise
            # exempt, whatever its token order: after a lost-pointer
            # restore, _COMMITTED survivors with HIGHER tokens would
            # otherwise fill the keep_versions slice and push the
            # genuinely previous version out — transiently breaking
            # the reader-holding-the-old-pointer guarantee the
            # keep_versions >= 2 guard exists for (ADVICE r14)
            if prev_key is not None and _key == prev_key:
                continue
            if extra_key is not None and _key == extra_key:
                continue
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
