"""Tests for operators/layout.py: the range-clustered write must
produce files with disjoint key ranges (so min/max stats actually
prune)."""

import pytest
from pyspark.sql import functions as F

from cdc_redshift_spark.operators.layout import (
    cluster,
    file_ranges,
    pruned_fraction,
)


@pytest.fixture(scope="module")
def rows(spark):
    # shuffled key order so a naive write scatters ranges everywhere
    return (
        spark.range(0, 4000)
        .select(
            F.col("id").alias("k"),
            (F.hash("id") % 1000).alias("noise"),
        )
        .orderBy("noise")
    )


def test_clustered_files_have_disjoint_ranges(spark, rows, tmp_path):
    plain, clustered = str(tmp_path / "plain"), str(tmp_path / "clus")
    rows.repartition(8).write.parquet(plain)
    cluster(rows, ["k"], num_files=8).write.parquet(clustered)

    pr = sorted(file_ranges(plain, "k"))
    cr = sorted(file_ranges(clustered, "k"))
    assert len(cr) >= 4

    def overlaps(rs):
        return sum(
            1
            for i, (a, b) in enumerate(rs)
            for c, d in rs[i + 1 :]
            if not (b < c or d < a)
        )

    assert overlaps(cr) == 0  # disjoint slices: stats fully selective
    assert overlaps(pr) > 0  # the unclustered layout can't prune

    # a narrow range predicate skips almost every clustered file
    assert pruned_fraction(cr, 100, 120) >= 0.75
    assert pruned_fraction(pr, 100, 120) == 0.0


def test_zorder_prunes_on_every_dimension(spark, tmp_path):
    """The z-order contract vs lexicographic: the SECOND clustered
    column must also carry file-level min/max locality.  Build a
    2-D uniform grid, cluster both ways, compare skip fractions for a
    mid-range slice on each dimension."""
    from cdc_redshift_spark.operators.layout import (
        cluster,
        file_ranges,
        pruned_fraction,
        zorder_cluster,
    )

    grid = spark.range(0, 10_000).select(
        (F.col("id") % 100).alias("x"),
        (F.col("id") / 100).cast("long").alias("y"),
    )
    # 64 files: at 16 the z-block grid is 4x4 and the skip fraction
    # sits on the assert boundary, wobbling with repartitionByRange's
    # sampled boundaries (an order-dependent flake in the full suite);
    # 8x8 blocks give a stable 0.69/0.75 margin
    lex_dir, z_dir = str(tmp_path / "lex"), str(tmp_path / "z")
    cluster(grid, ["x", "y"], num_files=64).write.parquet(lex_dir)
    zorder_cluster(grid, ["x", "y"], num_files=64).write.parquet(z_dir)

    def skips(d, col):
        return pruned_fraction(file_ranges(d, col), 45, 55)  # 10% slice

    # lexicographic: strong on x, nothing on y
    assert skips(lex_dir, "x") >= 0.5
    assert skips(lex_dir, "y") == 0.0
    # z-order: useful on BOTH
    assert skips(z_dir, "x") >= 0.25
    assert skips(z_dir, "y") >= 0.25
    # and the data survives the reshuffle intact
    assert (
        spark.read.parquet(z_dir).agg(F.sum("x"), F.sum("y")).collect()
        == grid.agg(F.sum("x"), F.sum("y")).collect()
    )


def test_bloom_index_no_false_negatives_and_skips(spark, tmp_path):
    """Every present key's file must match (no false negatives — the
    correctness contract); absent keys should rarely match anything
    (geometry gives ~0.1% fp); the sign-bit (pos % 64 == 63) path is
    exercised by probing every key in a small table."""
    from cdc_redshift_spark.operators.layout import (
        bloom_file_index,
        bloom_lookup_files,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).repartition(8).write.parquet(path)
    idx = bloom_file_index(spark, path, "k").cache()
    assert idx.count() == 8

    # truth: which file holds each key
    truth = {
        r["k"]: r["f"]
        for r in spark.read.parquet(path)
        .select("k", F.input_file_name().alias("f"))
        .collect()
    }
    misses = 0
    for k in range(0, 2000, 37):  # every 37th key, incl. many bit paths
        files = bloom_lookup_files(idx, k)
        assert truth[k] in files, f"false negative for {k}"
    # absent keys: false positives must be rare
    fp_files = sum(len(bloom_lookup_files(idx, 10_000_000 + k)) for k in range(20))
    assert fp_files <= 2  # ~0.1% x 8 files x 20 probes
    idx.unpersist()


def test_bloom_index_read_equals_full_filter(spark, tmp_path):
    from cdc_redshift_spark.operators.layout import (
        bloom_file_index,
        bloom_lookup_files,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "t2")
    spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartition(4).write.parquet(path)
    idx = bloom_file_index(spark, path, "k")
    files = bloom_lookup_files(idx, 123)
    got = spark.read.parquet(*files).where(F.col("k") == 123).collect()
    want = spark.read.parquet(path).where(F.col("k") == 123).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_bloom_auto_geometry_at_100k_keys_per_file(spark, tmp_path):
    """The r6 'weak' flag: a FIXED 16 Kibit filter saturates at ~10^6
    keys/file (every probe matches every file).  Auto geometry sizes
    each file's filter from its own row count, so probes at 100k keys
    per file still skip at least half the files."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.operators.layout import (
        bloom_file_index,
        bloom_lookup_files,
    )

    path = str(tmp_path / "big")
    n_files, per_file = 4, 100_000
    (
        spark.range(n_files * per_file)
        .select(F.col("id").alias("k"))
        .repartitionByRange(n_files, "k")
        .write.parquet(path)
    )
    idx = bloom_file_index(spark, path, "k").cache()
    rows = idx.collect()
    assert len(rows) == n_files
    # per-file sizing: ~18 bits x 100k keys, word-rounded
    for r in rows:
        assert r["m_bits"] >= 18 * per_file * 0.9
        assert len(r["words"]) == r["m_bits"] // 64
    hits = []
    for k in range(0, n_files * per_file, 37_003):
        files = bloom_lookup_files(idx, k)
        # no false negatives: the true file must be a candidate
        truth = (
            spark.read.parquet(path)
            .where(F.col("k") == k)
            .select(F.input_file_name())
            .collect()[0][0]
        )
        assert truth in files
        hits.append(len(files))
    # saturation check: probes skip at least half the files on average
    assert sum(hits) / len(hits) <= n_files / 2, hits
    idx.unpersist()


def test_zorder_rejects_empty_and_all_null_and_places_nulls(spark):
    """ADVICE r6 low: clear error on an unscalable Morton coordinate
    (empty input / all-NULL column) instead of int(None); NULL values
    in a cluster column get the deterministic low-corner slot."""
    import pytest
    from pyspark.sql import functions as F

    from cdc_redshift_spark.operators.layout import zorder_cluster

    empty = spark.createDataFrame([], "x long, y long")
    with pytest.raises(ValueError, match="no non-NULL"):
        zorder_cluster(empty, ["x", "y"]).collect()
    allnull = spark.createDataFrame([(None, 1), (None, 2)], "x long, y long")
    with pytest.raises(ValueError, match="no non-NULL"):
        zorder_cluster(allnull, ["x", "y"]).collect()
    # NULL coordinate: row survives with deterministic placement
    mixed = spark.createDataFrame(
        [(1, 1), (None, 2), (100, 3)], "x long, y long"
    )
    out = zorder_cluster(mixed, ["x", "y"]).collect()
    got = {((-1 if r["x"] is None else r["x"]), r["y"]) for r in out}
    assert got == {(1, 1), (-1, 2), (100, 3)}


def test_zonemap_prunes_exactly_intersecting_files(spark, tmp_path):
    from cdc_redshift_spark.operators.layout import (
        zonemap_file_index,
        zonemap_prune_files,
    )

    df = spark.range(0, 1600).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    path = str(tmp_path / "zm")
    cluster(df, ["k"], num_files=8).write.parquet(path)
    idx = zonemap_file_index(spark, path, ["k", "v"])
    rows = idx.collect()
    assert len(rows) == 8
    # each range-clustered file covers a disjoint ~200-wide k slice
    files = zonemap_prune_files(idx, {"k": (100, 299)})
    expect = {
        r["file"] for r in rows if not (r["k_max"] < 100 or r["k_min"] > 299)
    }
    assert set(files) == expect and 1 <= len(files) <= 3
    # no false negatives: reading the candidate list equals full filter
    got = (
        spark.read.parquet(*files).where(F.col("k").between(100, 299)).count()
    )
    assert got == 200
    # open-ended bounds
    assert len(zonemap_prune_files(idx, {"k": (1400, None)})) <= 2
    assert len(zonemap_prune_files(idx, {"k": (None, None)})) == 8
    # multi-column bounds intersect: v spans 0-6 in EVERY file, so a
    # v-bound outside that range empties the candidate list even when
    # the k-bound matches everything
    assert zonemap_prune_files(idx, {"k": (None, None), "v": (8, 9)}) == []


def test_zonemap_keeps_all_null_zone_files(spark, tmp_path):
    from cdc_redshift_spark.operators.layout import (
        zonemap_file_index,
        zonemap_prune_files,
    )

    a = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(None).cast("long").alias("v")
    )
    b = spark.range(10, 20).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    path = str(tmp_path / "zmnull")
    a.coalesce(1).write.parquet(path)
    b.coalesce(1).write.mode("append").parquet(path)
    idx = zonemap_file_index(spark, path, ["v"])
    # the all-NULL file has NULL zone bounds -> conservatively kept
    files = zonemap_prune_files(idx, {"v": (15, 18)})
    assert len(files) == 2


def test_equi_depth_bounds_balance_and_errors(spark):
    """Exact bounds split a skewed column into near-equal bins (the
    RangePartitioner-sampling failure mode this operator fixes), and
    degenerate inputs raise clearly."""
    import pytest as _pytest

    from cdc_redshift_spark.operators.layout import (
        equi_depth_bounds,
        equi_depth_histogram,
    )

    # heavily duplicated + skewed values: 1000 rows, 90% in [0, 10)
    rows = [(i, float(i % 10)) for i in range(900)] + [
        (900 + i, float(100 + i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id long, v double")
    k = 8
    bounds = equi_depth_bounds(df, "v", k)
    assert len(bounds) == k - 1 and bounds == sorted(bounds)
    hist = equi_depth_histogram(df, "v", k).collect()
    n = sum(r.n for r in hist)
    assert n == 1000
    # every bin within 2x of ideal depth despite 90/10 skew
    assert max(r.n for r in hist) <= 2 * (1000 // k)
    # lo/hi chain: consecutive bins share an edge, ends unbounded
    assert hist[0].lo is None and hist[-1].hi is None
    for a, b in zip(hist, hist[1:]):
        assert a.hi == b.lo

    with _pytest.raises(ValueError, match="k must be"):
        equi_depth_bounds(df, "v", 1)
    allnull = spark.createDataFrame([(1, None)], "id long, v double")
    with _pytest.raises(ValueError, match="no non-null"):
        equi_depth_bounds(allnull, "v", 4)


def test_bloom_index_null_keys_no_false_negatives(spark, tmp_path):
    """r15 review hunt: a single NULL key used to yield a (NULL, NULL)
    word struct that array_sort placed FIRST, prepending a null word
    and shifting every real word one slot — every lookup on that file
    then returned a FALSE NEGATIVE (0 candidate files for present
    keys).  NULL keys now set no bits; an all-NULL file still gets a
    (correctly empty) filter row."""
    from cdc_redshift_spark.operators.layout import (
        bloom_file_index,
        bloom_lookup_files,
    )

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c"), (3, "d")], "k int, v string"
    ).coalesce(1).write.parquet(p)
    p2 = str(tmp_path / "allnull.parquet")
    spark.createDataFrame(
        [(None, "x"), (None, "y")], "k int, v string"
    ).coalesce(1).write.parquet(p2)
    idx = bloom_file_index(spark, [p, p2], "k")
    rows = idx.collect()
    assert len(rows) == 2  # the all-NULL file keeps an index row
    for r in rows:
        assert len(r["words"]) == r["m_bits"] // 64  # dense, unshifted
    for key in (1, 2, 3):
        files = bloom_lookup_files(idx, key)
        assert any("t.parquet" in f for f in files), (
            f"false negative for present key {key}"
        )
        assert not any("allnull" in f for f in files)
