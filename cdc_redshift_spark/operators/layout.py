"""File-layout clustering for data-skipping reads (z-order-lite).

Parquet files and row groups carry min/max statistics per column, but a
hash-partitioned write scatters every key range across every file, so
the stats prune NOTHING — a point lookup still opens the whole table.
Range-clustering fixes the layout: ``repartitionByRange`` assigns each
output file a disjoint slice of the cluster key's value space and
``sortWithinPartitions`` tightens row-group stats inside each file.
After that, any engine that reads parquet statistics (Spark's scan
row-group filtering, DuckDB zone maps, Redshift Spectrum, Trino) skips
every file whose [min, max] misses the predicate — the poor man's
sort/cluster key, no table format required.

At 100 TB this is the difference between a key-range probe reading
the whole table and reading one file.

For multi-column locality beyond lexicographic (true Z-ordering),
cluster on an interleaved bit key computed from the columns; the
single-column/lexicographic form here covers the dominant cases (merge
keys, event time).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cluster(
    df: DataFrame, cols: Sequence[str], num_files: int | None = None
) -> DataFrame:
    """Range-cluster ``df`` on ``cols``: each output partition (→ file)
    covers a disjoint range, rows sorted within.  One range shuffle —
    the sort is partition-local, never global.

    Without ``num_files`` the partition count is left to Spark: an
    EXPLICIT count is exempt from AQE coalescing, so passing one by
    default would fragment every small snapshot into shuffle-partition
    many tiny files; with AQE on, small inputs coalesce naturally."""
    if num_files is not None:
        parted = df.repartitionByRange(num_files, *[F.col(c) for c in cols])
    else:
        parted = df.repartitionByRange(*[F.col(c) for c in cols])
    return parted.sortWithinPartitions(*cols)


def zorder_key(scaled: Sequence, bits: int) -> "F.Column":
    """Interleave the low ``bits`` bits of the scaled integer columns
    into one Morton (Z-order) key — pure Column bit arithmetic, stays
    in whole-stage codegen.  ``scaled[i]`` must already lie in
    ``[0, 2^bits)``."""
    n = len(scaled)
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(scaled):
            bit = F.shiftright(c, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i))
    return key


def zorder_cluster(
    df: DataFrame,
    cols: Sequence[str],
    num_files: int | None = None,
    bits: int = 12,
) -> DataFrame:
    """TRUE multi-dimensional clustering: range-partition + sort on the
    Morton key of ``cols`` instead of their lexicographic order.

    Lexicographic :func:`cluster` gives perfect pruning on the FIRST
    column and none on the rest; the Z-order key gives useful min/max
    locality on EVERY column (each file covers a contiguous Z range ==
    a small hyper-rectangle stack), which is what a table queried by
    several independent predicates needs — the same trade Delta's
    ``ZORDER BY`` and Redshift's interleaved sortkeys make.

    ``cols`` must be numeric (cast dates to epoch days first).  Each
    column is affinely scaled to ``[0, 2^bits)`` using its observed
    min/max (one tiny driver-side agg — 2×len(cols) scalars); rows
    then shuffle ONCE on the key.  The key column is dropped before
    returning: parquet min/max stats on the ORIGINAL columns are what
    skipping readers prune on.
    """
    stats = df.agg(
        *[F.min(c).alias(f"lo{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"hi{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    top = (1 << bits) - 1
    scaled = []
    for i, c in enumerate(cols):
        if stats[f"lo{i}"] is None:  # empty input or all-NULL column
            raise ValueError(
                f"zorder_cluster: column {c!r} has no non-NULL values "
                "(empty input or all-NULL column) — cannot scale a "
                "Morton coordinate from it"
            )
        lo = int(stats[f"lo{i}"])
        span = max(int(stats[f"hi{i}"]) - lo, 1)
        # a NULL coordinate maps to the column's minimum slot (0):
        # deterministic placement instead of an arbitrary NULL-key
        # range partition; such rows cluster with the low corner
        scaled.append(
            (
                (F.coalesce(F.col(c).cast("long"), F.lit(lo)) - F.lit(lo))
                * top
                / F.lit(span)
            ).cast("long")
        )
    keyed = df.withColumn("__z", zorder_key(scaled, bits))
    if num_files is not None:
        parted = keyed.repartitionByRange(num_files, F.col("__z"))
    else:
        parted = keyed.repartitionByRange(F.col("__z"))
    return parted.sortWithinPartitions("__z").drop("__z")


def file_ranges(path: str, col: str) -> list[tuple]:
    """[(min, max)] of ``col`` per parquet data file under ``path`` —
    the statistics a skipping reader prunes on.  Test/evidence helper
    (driver-side, walks file footers only)."""
    import glob
    import os

    import pyarrow.parquet as pq

    out = []
    for f in sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    ):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index(col)
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                continue
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            out.append((lo, hi))
    return out


def pruned_fraction(ranges: list[tuple], lo, hi) -> float:
    """Fraction of files a [lo, hi] predicate can SKIP given their
    min/max ranges — the data-skipping effectiveness metric."""
    if not ranges:
        return 0.0
    hit = sum(1 for a, b in ranges if not (b < lo or a > hi))
    return 1.0 - hit / len(ranges)


# ---------------------------------------------------------------------------
# Per-file Bloom index (point-lookup data skipping on unclustered keys)
# ---------------------------------------------------------------------------

#: Bloom geometry: each file's filter is sized from ITS OWN row count
#: at ``BLOOM_BITS_PER_KEY`` bits per key — at k=5 hashes, m/n = 18
#: gives p = (1-e^{-kn/m})^k ≈ 0.08 % false positives REGARDLESS of
#: file size, so a realistic 128 MB parquet file with ~10^6 keys gets
#: a ~2.2 MB filter instead of a saturated 16 Kibit one that matches
#: every probe.  ``BLOOM_M_BITS`` is the floor: tiny files round up
#: to 16 Kibit.
BLOOM_M_BITS = 16384
BLOOM_K_HASHES = 5
BLOOM_BITS_PER_KEY = 18


def _bloom_h1_h2(key_str):
    """The two engine-stable 60-bit base hashes (double hashing à la
    Kirsch–Mitzenmacher 2006: pos_i = h1 + i·h2 mod m)."""
    from cdc_redshift_spark.operators.corpus import stable_hash60

    return (
        stable_hash60(key_str),
        stable_hash60(F.concat(F.lit("b:"), key_str)),
    )


def bloom_file_index(spark, path, key_col: str) -> DataFrame:
    """Build one Bloom filter PER DATA FILE of a parquet table:
    ``(file, words: array<long>, m_bits, k)``.

    Range/Z-order clustering (above) gives min/max skipping on the
    SORT key; a point lookup on any other high-cardinality column
    still opens every file.  This index closes that gap the way
    Delta's Bloom-filter index does, with no table format: build once
    per snapshot (one scan, one groupBy(file) aggregate — bit_or is a
    map-side-combining JVM aggregate, no UDF), persist the tiny index
    next to the snapshot, and let :func:`bloom_lookup_files` turn a
    point predicate into an explicit file list.  No false negatives
    by construction (every present key set its bits); false-positive
    files cost one wasted file read, bounded by the geometry.

    ``path`` may be one path or a list of them — directories or
    data files (the sink indexes only the files a commit wrote).

    Geometry: each file's filter is sized from its OWN row count —
    ``BLOOM_BITS_PER_KEY`` bits per key (rounded up to a 64-bit word,
    floored at ``BLOOM_M_BITS``), so the false-positive rate stays at
    the design point for ANY file size (a fixed 16 Kibit filter
    saturates to "every probe matches" at the ~10^6 keys a realistic
    128 MB file holds).  Per-file counts are an upper bound on
    distinct keys — duplicates only oversize, never saturate.  The
    geometry travels IN the index rows (``m_bits``, ``k`` columns),
    so rows carried forward from older commits coexist with new ones
    in one index.

    At 100 TB: the index is ~BLOOM_BITS_PER_KEY/8 bytes per key per file
    (a 128 MB file → ~2.2 MB filter; ~1.7 % of data size), the build
    is a single pass, and it composes with the cluster layouts:
    cluster on the merge key, Bloom-index the secondary lookup keys.
    """
    paths = [path] if isinstance(path, str) else list(path)
    df = spark.read.parquet(*paths)
    word = F.ceil(
        F.col("count") * F.lit(BLOOM_BITS_PER_KEY) / F.lit(64.0)
    ).cast("long")
    geom = (
        df.select(F.input_file_name().alias("file"))
        .groupBy("file")
        .count()
        .select(
            "file",
            F.greatest(word * 64, F.lit(BLOOM_M_BITS))
            .cast("long")
            .alias("m_bits"),
        )
    )
    h1, h2 = _bloom_h1_h2(F.col(key_col).cast("string"))
    positions = F.transform(
        F.sequence(F.lit(0), F.lit(BLOOM_K_HASHES - 1)),
        lambda i: F.pmod(h1 + i.cast("long") * h2, F.col("m_bits")),
    )
    rows = (
        df.select(F.input_file_name().alias("file"), key_col)
        # NULL keys set no bits (a Bloom filter has no NULL member —
        # equality probes never match NULL anyway).  Without this
        # filter a single NULL key yields a (NULL, NULL) word struct
        # that array_sort places FIRST, prepending a null word and
        # shifting every real word one slot: every lookup on that
        # file then reads the wrong word — FALSE NEGATIVES from an
        # index whose whole contract is "no false negatives"
        # (adversarially pinned in tests/test_layout.py, r15).
        .where(F.col(key_col).isNotNull())
        .join(F.broadcast(geom), "file")
        .select(
            "file",
            "m_bits",
            F.explode(positions).alias("pos"),
        )
        .select(
            "file",
            "m_bits",
            (F.col("pos") / 64).cast("int").alias("widx"),
            # shiftleft needs a column shift amount -> SQL expr form
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("bit"),
        )
        .groupBy("file", "m_bits", "widx")
        .agg(F.bit_or("bit").alias("word"))
    )
    # densify: union explicit zero words, then ONE sort per file —
    # O(n_words log n_words).  (The obvious transform-over-a-map
    # densification is O(n_words^2): Spark map element_at is a linear
    # scan, which at auto-sized geometries — ~28k words for a 100k-key
    # file — turns the build into minutes per file.)
    zeros = geom.select(
        "file",
        "m_bits",
        F.explode(
            F.sequence(F.lit(0).cast("int"), ((F.col("m_bits") / 64) - 1).cast("int"))
        ).alias("widx"),
        F.lit(0).cast("long").alias("word"),
    )
    dense = (
        rows.unionByName(zeros)
        .groupBy("file", "m_bits", "widx")
        .agg(F.bit_or("word").alias("word"))
    )
    wm = dense.groupBy("file", "m_bits").agg(
        F.array_sort(
            F.collect_list(F.struct("widx", "word"))
        ).alias("sw")
    )
    return wm.select(
        "file",
        F.transform(F.col("sw"), lambda x: x["word"]).alias("words"),
        "m_bits",
        F.lit(BLOOM_K_HASHES).alias("k"),
    )


def _py_hash60(s: str) -> int:
    """Python mirror of corpus.stable_hash60 (md5 hex prefix)."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def bloom_lookup_files(index: DataFrame, key_value) -> list[str]:
    """Files that MAY contain ``key_value`` (no false negatives).
    The membership test is pure Column bit math over the index frame
    (tiny — one row per file); the returned list is what a reader
    passes to ``spark.read.parquet(*files)`` instead of scanning the
    table.  The collect is bounded by |matching files|.

    Geometry is read PER ROW from the index's ``m_bits``/``k``
    columns, so rows carried forward from commits with a different
    auto-sized geometry evaluate correctly side by side.
    """
    s = str(key_value)
    h1, h2 = _py_hash60(s), _py_hash60("b:" + s)
    # per-row geometry -> the whole test is ONE SQL forall over the
    # hash sequence (h1 + i*h2 stays < 2^63 for the k<=8 this module
    # writes: both base hashes are 60-bit)
    pos = f"pmod({h1}L + cast(i as long) * {h2}L, cast(m_bits as long))"
    member = (
        "forall(sequence(0, k - 1), i -> "
        f"(element_at(words, cast({pos} / 64 as int) + 1) & "
        f"shiftleft(1L, cast({pos} % 64 as int))) != 0)"
    )
    return [
        r["file"] for r in index.where(F.expr(member)).select("file").collect()
    ]


# ---------------------------------------------------------------------------
# Persisted zone-map file index (range data skipping as an explicit index)
# ---------------------------------------------------------------------------


def zonemap_file_index(spark, path, cols) -> "DataFrame":
    """Per-data-file min/max zone map for ``cols``: one row per file,
    columns ``file, <c>_min, <c>_max ...``.

    :func:`file_ranges` above walks parquet footers on the DRIVER —
    fine for test evidence, a sequential bottleneck at the ~10^6 files
    a 100 TB table holds.  This is the distributed, persistable form:
    ONE column-pruned scan, ``groupBy(input_file_name())`` with
    min/max JVM aggregates (map-side combining, so shuffle volume is
    one tiny row per file per task).  The index frame is what a probe
    planner consults to turn a RANGE predicate into an explicit file
    list (the range complement of :func:`bloom_file_index`'s point
    lookup), and being a plain DataFrame it persists next to the
    snapshot and merges across incremental commits exactly like the
    Bloom index rows (unchanged files keep their rows).

    ``path`` may be one directory or a list of them.
    """
    paths = [path] if isinstance(path, str) else list(path)
    df = spark.read.parquet(*paths)
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return (
        df.select(F.input_file_name().alias("file"), *cols)
        .groupBy("file")
        .agg(*aggs)
    )


def zonemap_prune_files(index: "DataFrame", bounds: dict) -> list[str]:
    """Files whose zones INTERSECT every ``col: (lo, hi)`` bound (no
    false negatives; ``None`` = unbounded on that side).

    Conservative on NULLs: min/max aggregates ignore NULL values, so a
    file whose column is entirely NULL has NULL zone bounds and is
    always kept (zone maps cannot serve ``IS NULL`` predicates — a
    reader needing those keeps a null-count column alongside).  The
    collect is one tiny row per candidate file, the same boundedness
    as :func:`bloom_lookup_files`.
    """
    cond = F.lit(True)
    for c, (lo, hi) in bounds.items():
        if hi is not None:
            cond &= F.col(f"{c}_min").isNull() | (
                F.col(f"{c}_min") <= F.lit(hi)
            )
        if lo is not None:
            cond &= F.col(f"{c}_max").isNull() | (
                F.col(f"{c}_max") >= F.lit(lo)
            )
    return [
        r["file"] for r in index.where(cond).select("file").collect()
    ]


def equi_depth_bounds(df: DataFrame, col: str, k: int) -> list[float]:
    """Exact interpolated ``(i/k)``-quantile cut points of ``col``,
    rounded to 6 dp with half-away-from-zero semantics (the
    cross-engine discipline; Python's builtin round is banker's).

    Why: ``repartitionByRange`` picks its bounds by SAMPLING
    (RangePartitioner, ~100 rows/partition) — under heavy duplication
    or skew the sampled bounds land unevenly and some output files run
    hot.  Computing exact equi-depth bounds first, then range-
    clustering with them, guarantees each file gets ~rows/k.

    Scale: ONE aggregation pass, no sort, no window.  Spark's exact
    ``percentile`` buffers a value→count map per task (merged on one
    reducer), so memory is O(distinct values) — the right tool for
    bounded-cardinality layout keys (prices, dates, status codes); for
    unbounded continuous domains swap in the mercantile-accuracy
    DDSketch quantiles (operators/sketches.py) at the same call site.

    Returns the k-1 interior bounds ascending (a bounded driver
    collect of scalars, same class as the Bloom/zonemap lookups).
    """
    from cdc_redshift_spark.functions.numeric import round_half_away

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    ps = [i / k for i in range(1, k)]
    row = df.agg(
        F.percentile(F.col(col), F.array(*[F.lit(p) for p in ps])).alias("b")
    ).first()
    if row["b"] is None:
        raise ValueError(f"equi_depth_bounds: no non-null values in {col!r}")
    return [round_half_away(float(b), 6) for b in row["b"]]


def equi_depth_histogram(df: DataFrame, col: str, k: int) -> DataFrame:
    """Equi-depth (equal-count) histogram report: bin each row by the
    exact :func:`equi_depth_bounds` cut points and count per bin —
    the balance proof for a prospective range-clustered layout (every
    ``n`` should be ~rows/k; a hot bin means duplicated boundary
    values, the signal to add a tiebreak column to the cluster key).

    Bin rule: ``bin = #(bounds <= value)`` — a value equal to a cut
    point belongs to the bin ABOVE it, identically in the SQL mirror
    (``len(list_filter(bounds, b -> b <= value))``).

    Output: (bin, lo, hi, n) ascending; ``lo`` is NULL for the first
    bin and ``hi`` NULL for the last (unbounded ends).  Two passes
    total: the bounds aggregation, then one groupBy over the binned
    scan (map-side combine, k groups).
    """
    bounds = equi_depth_bounds(df, col, k)
    arr = F.array(*[F.lit(b) for b in bounds])
    binned = df.where(F.col(col).isNotNull()).select(
        F.size(F.filter(arr, lambda b: b <= F.col(col))).alias("bin")
    )
    out = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    return out.select(
        "bin",
        F.when(F.col("bin") >= 1, F.element_at(arr, F.col("bin"))).alias("lo"),
        F.when(
            F.col("bin") <= len(bounds) - 1,
            F.element_at(arr, F.col("bin") + 1),
        ).alias("hi"),
        "n",
    ).orderBy("bin")
