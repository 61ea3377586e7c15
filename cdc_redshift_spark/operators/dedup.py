"""Document deduplication operators: exact, MinHash-LSH, SimHash, Jaccard.

Training-data-pipeline extensions (no counterpart in the reference,
which only dedups CDC events by key — SURVEY §2.7).  All hot-path math
is built-in Column expressions (hashes, array ops, bit ops) running
inside whole-stage codegen; nothing here drops to Python per row.

Scale design (100 TB corpus):
- exact:   one hash-shuffle on the fingerprint.
- minhash: signatures are computed scan-side (one narrow Arrow pass);
  band rows (n_bands per doc, a small constant) make ONE shuffle keyed
  on the band's signature-slice values, and each bucket is verified in
  place by a blocked bitmap GEMM — candidate pairs never exist as a
  joined stream, and first-band suppression makes emission unique so
  no cross-band dedup shuffle exists either.  Never the O(N²) cross
  join.
- simhash: narrow signature compute + self-join on rotated bucket
  keys; hamming verify on 64-bit ints is a popcount (bit_count).
- jaccard: explode shingles → shuffle on shingle → pair-count; skew
  guard drops ubiquitous shingles (doc-frequency cap) like a stopword
  filter, which bounds the worst bucket.

Determinism: all hash seeds are fixed constants; every hash is
md5-derived (28-bit shingle hashes, 60-bit simhash token hashes) so
the DuckDB oracles mirror signatures bit-for-bit.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_redshift_spark.functions.text import normalize_text
from cdc_redshift_spark.operators.simjoin import (
    _finish,
    _pair_partitions,
    _verify,
)

# Mersenne prime modulus and fixed LCG-generated coefficients for the
# k minhash permutations h_i(x) = (a_i*x + b_i) mod P  (public
# broadcast-LSH construction, e.g. Leskovec et al., Mining of Massive
# Datasets ch.3).
MINHASH_P = 2_147_483_647  # 2^31 - 1


def minhash_coeffs(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via a tiny LCG (no RNG state)."""
    coeffs = []
    x = seed
    for _ in range(k):
        x = (1103515245 * x + 12345) % (2**31)
        a = x % (MINHASH_P - 1) + 1
        x = (1103515245 * x + 12345) % (2**31)
        b = x % MINHASH_P
        coeffs.append((a, b))
    return coeffs


def minhash_signature_from(hashes: Column, k: int = 32) -> Column:
    """k-wide MinHash signature from a (materialized) shingle-hash array.

    IMPORTANT: pass a *column reference*, not the shingle expression —
    the k permutations each embed their input subtree, so inlining the
    md5/shingle pipeline k times blows the plan up k-fold (Catalyst
    does not CSE across array lambdas).
    """

    def perm_min(a: int, b: int) -> Column:
        return F.array_min(F.transform(hashes, lambda h: (h * a + b) % MINHASH_P))

    return F.array(*[perm_min(a, b) for a, b in minhash_coeffs(k)])


def exploded_shingle_hashes(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, h) rows of (non-distinct) shingle hashes — the fast path.

    Evaluation-order matters enormously here: the array-lambda form
    (``transform(sequence(...), i -> substring(normalize(text), i, n))``)
    re-evaluates the whole regexp normalization PER ELEMENT — Spark
    does not hoist loop-invariant subexpressions out of higher-order
    functions, so a 500-shingle doc pays 500 regexp passes.  Projecting
    the normalized text below the explode pins it to once per doc
    (expressions can't collapse across a Generate), and the md5 runs
    once per (doc, position) row.
    """
    normed = df.select(
        F.col(id_col).alias("id"),
        normalize_text(F.col(text_col)).alias("__nt"),
    )
    pos = normed.select(
        "id",
        "__nt",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("__nt") - (n - 1), F.lit(1)))
        ).alias("__i"),
    )
    # distinct GRAMS (not distinct hashes): a 28-bit collision between
    # two different grams must contribute two list entries, exactly as
    # the array_distinct-before-hash form (and the DuckDB oracle) does
    grams = pos.select(
        "id", F.col("__nt").substr(F.col("__i"), F.lit(n)).alias("g")
    ).dropDuplicates(["id", "g"])
    return grams.select(
        "id",
        F.conv(F.substring(F.md5("g"), 1, 7), 16, 10).cast("long").alias("h"),
    )


def shingle_set_frame(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, sh array<long>) distinct shingle-hash sets — fully narrow.

    No explode, no shuffle: normalization is pinned to once per doc by
    projecting it below the array expression (a separate Project whose
    expensive regexp output is referenced more than once is not
    collapsed into the consumer, so it is never re-evaluated per
    element), dedup happens in the array domain (``array_distinct``),
    and the md5 runs once per distinct gram inside one array lambda.
    Callers needing parallelism should repartition the input first —
    a single parquet file otherwise pins the whole pipeline to one
    task.
    """
    normed = df.select(
        F.col(id_col).alias("id"),
        normalize_text(F.col(text_col)).alias("__nt"),
    )
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("__nt") - (n - 1), F.lit(1))),
            lambda i: F.col("__nt").substr(i, F.lit(n)),
        )
    )
    return normed.select(
        "id",
        F.transform(
            grams, lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long")
        ).alias("sh"),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    n: int = 3,
) -> DataFrame:
    """(id, sig array<long>, sh sorted distinct array<long>).

    Both stages are narrow (no shuffle); the k permutation minima are
    k O(|set|) array passes over longs (no md5, no regex) reading the
    materialized ``sh`` attribute.
    """
    sh = shingle_set_frame(df, id_col, text_col, n).select(
        "id", F.array_sort("sh").alias("sh")
    )
    return sh.select(
        "id", minhash_signature_from(F.col("sh"), k).alias("sig"), "sh"
    )


# ---- Arrow-batched MinHash pipeline --------------------------------------
#
# The pure-Column formulation above is kept for ad-hoc use and as the
# parity pin for the fast path below (tests/test_dedup_ops.py), but the
# k interpreted higher-order array passes cost ~0.6 µs per element —
# 28 s for 5k docs × 300 shingles × 32 perms at sf0.1.  The same math
# as one numpy pass per Arrow batch is ~100× cheaper, which is exactly
# the Pandas-UDF contract (see operators/similarity.py's module
# docstring).  All integer math is exact and engine-portable: 28-bit
# md5-derived hashes keep h·a < 2^59, so int64 never overflows and
# (h*a+b) % P is bit-identical in numpy, Spark and DuckDB.

# The JVM-parity normalization mirror lives in functions.text (one
# canonical copy; the SPARK-17299 trim rationale is documented there).
from cdc_redshift_spark.functions.text import _WS_RE  # noqa: F401
from cdc_redshift_spark.functions.text import py_normalize_text as _py_normalize


def _minhash_frames_fn(k: int, n: int, unit: str = "char"):
    """mapInPandas: (id, text) batches → (id, sh, sig).

    sh  = sorted shingle-hash list over DISTINCT grams (hash-level
          duplicates from 28-bit collisions between different grams are
          preserved, exactly like transform(array_distinct(grams), md5)
          and the DuckDB oracle's list_transform(list_distinct(...))).
    sig = k minhash minima over sh via the fixed LCG coefficients.

    ``unit='word'`` shingles over n consecutive whitespace tokens
    joined with a single space (the standard large-corpus text-dedup
    config) instead of char n-grams; the DuckDB mirror is
    ``array_to_string(list_slice(tokens, i, i+n-1), ' ')``.
    """
    coeffs = minhash_coeffs(k)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)

    def f(batches):
        cache: dict[str, int] = {}  # gram → 28-bit hash (vocab is tiny)
        for pdf in batches:
            ids, shs, sigs = [], [], []
            for i, t in zip(pdf["id"], pdf["text"]):
                if t is None:
                    continue  # null text: no shingles, no candidates
                nt = _py_normalize(t)
                if unit == "word":
                    toks = nt.split(" ")
                    grams = {
                        " ".join(toks[p : p + n])
                        for p in range(max(len(toks) - (n - 1), 1))
                    }
                else:
                    grams = {nt[p : p + n] for p in range(max(len(nt) - (n - 1), 1))}
                hl = []
                for g in grams:
                    h = cache.get(g)
                    if h is None:
                        h = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:7], 16)
                        cache[g] = h
                    hl.append(h)
                H = np.sort(np.array(hl, dtype=np.int64))
                sig = ((H[:, None] * A[None, :] + B[None, :]) % MINHASH_P).min(axis=0)
                ids.append(i)
                shs.append(H)
                sigs.append(sig)
            yield pd.DataFrame({"id": ids, "sh": shs, "sig": sigs})

    return f


def minhash_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    n: int = 3,
    unit: str = "char",
) -> DataFrame:
    """(id, sh sorted array<long>, sig array<long>) — one narrow
    Arrow-batched pass, no shuffle.  Numerically identical to
    :func:`minhash_signatures` for ``unit='char'`` (pinned by pytest);
    ``unit='word'`` shingles over token n-grams."""
    idt = df.schema[id_col].dataType.simpleString()
    return df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).mapInPandas(
        _minhash_frames_fn(k, n, unit),
        schema=f"id {idt}, sh array<long>, sig array<long>",
    )


def _band_rows_fn(
    bands: int, rows_per_band: int, dict_map: dict[int, int], n_words: int
):
    """mapInPandas: (id, sh, sig) → one row per (doc, band) carrying the
    band's signature SLICE VALUES as the bucket key (k0..k{r-1}) plus
    the doc's dictionary-encoded shingle bitmap (w0..w{nw-1}) and its
    shingle-list length sz.  Joining on the slice values themselves
    (not their murmur3 hash) makes candidate generation collision-free
    and mirrors the DuckDB oracle's band-slice equality exactly."""

    dict_vals = np.array(sorted(dict_map), dtype=np.int64)
    k = bands * rows_per_band

    def f(batches):
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            SIG = np.stack(pdf["sig"].to_numpy())  # (m, k)
            # dictionary-encode all shingle hashes in one vectorized
            # pass: searchsorted over the sorted dict + bitwise_or.at
            sz = np.array([len(sh) for sh in pdf["sh"]], dtype=np.int64)
            all_h = np.concatenate(list(pdf["sh"])).astype(np.int64)
            idx = np.searchsorted(dict_vals, all_h)
            row_idx = np.repeat(np.arange(m), sz)
            W = np.zeros((m, n_words), dtype=np.uint64)
            np.bitwise_or.at(
                W,
                (row_idx, idx >> 6),
                np.uint64(1) << (idx & 63).astype(np.uint64),
            )
            Wi = W.view(np.int64)
            frames = []
            for b in range(bands):
                cols = {"band": np.full(m, b, dtype=np.int32)}
                for j in range(rows_per_band):
                    cols[f"k{j}"] = SIG[:, b * rows_per_band + j]
                cols["id"] = pdf["id"].to_numpy()
                cols["sz"] = sz
                for w in range(n_words):
                    cols[f"w{w}"] = Wi[:, w]
                # full signature rides along so the verify stage can
                # suppress pairs already found by an EARLIER band —
                # emission becomes globally unique and the downstream
                # pair-dedup shuffle disappears entirely
                for j in range(k):
                    cols[f"s{j}"] = SIG[:, j]
                frames.append(pd.DataFrame(cols))
            yield pd.concat(frames, ignore_index=True)

    return f


def _bitmap_verify_fn(
    n_words: int,
    n_keys: int,
    threshold: float,
    bands: int,
    max_bucket: int | None = None,
):
    """mapInPandas over partitions PRE-PARTITIONED AND SORTED on the
    bucket key (band, k0..k{r-1}): exact pairwise intersections via
    blocked bool-GEMM per bucket.

    Buckets are contiguous sorted runs, segmented with one boundary
    scan and streamed across Arrow batches — NOT applyInPandas, whose
    per-group pandas/Arrow machinery costs milliseconds per group and
    melts down on the tens of thousands of tiny buckets LSH banding
    produces (measured 2× slower than the join it replaced).
    Per-segment cost here is one numpy slice + GEMM (~µs for small
    buckets).

    Emits (id_a < id_b by value, inter, uni) for pairs whose raw
    Jaccard clears threshold - 1e-6; the exact rounded-Jaccard filter
    runs JVM-side so rounding matches the oracle bit-for-bit.

    Globally-unique emission: a pair colliding in several bands is
    emitted ONLY by the first such band — each row carries the full
    signature, so band b drops any pair whose slices also match in a
    band < b.  No cross-band pair-dedup shuffle exists downstream.

    Memory: O(largest bucket) for the carried group + O(tile × bucket)
    for the GEMM — independent of partition size.

    ``max_bucket`` caps verify work on pathological (template-heavy)
    corpora: a bucket larger than the cap is skipped outright — its
    size is just the sorted-run length, so the cap costs nothing.
    Combined with first-band suppression this yields the deterministic
    rule "a pair survives iff the bucket of its FIRST colliding band
    is within the cap": an oversized first band claims the pair (later
    bands still suppress on the slice match) and drops it, so verify
    FLOPs are bounded by cap² per bucket no matter how skewed the
    banding gets.  Mirrored verbatim in the DuckDB oracle
    (queries/dedup_q.py `_capped_cand_cte`).
    """
    margin = threshold - 1e-6
    tile = 4096
    r = n_keys
    k = bands * r
    key_cols = ["band"] + [f"k{j}" for j in range(n_keys)]

    def verify_bucket(band, ids, sz, Bf, SIG, outs):
        m = len(ids)
        for lo in range(0, m, tile):
            hi = min(lo + tile, m)
            inter = (Bf[lo:hi] @ Bf.T).astype(np.int64)  # exact: counts < 2^24
            uni = sz[lo:hi, None] + sz[None, :] - inter
            pos_i, pos_j = np.nonzero(
                (inter >= margin * uni)
                & (np.arange(m)[None, :] > np.arange(lo, hi)[:, None])
            )
            if len(pos_i) == 0:
                continue
            pos_i = pos_i + lo
            if band > 0:
                # first-band suppression: skip pairs whose signature
                # slices also collide in an earlier band
                Sa, Sb = SIG[pos_i, : band * r], SIG[pos_j, : band * r]
                earlier = (
                    (Sa == Sb).reshape(len(pos_i), band, r).all(axis=2).any(axis=1)
                )
                if earlier.any():
                    keep = ~earlier
                    pos_i, pos_j = pos_i[keep], pos_j[keep]
                    if len(pos_i) == 0:
                        continue
            ia, ib = ids[pos_i], ids[pos_j]
            swap = ia > ib
            outs.append(
                pd.DataFrame(
                    {
                        "id_a": np.where(swap, ib, ia),
                        "id_b": np.where(swap, ia, ib),
                        "inter": inter[pos_i - lo, pos_j],
                        "uni": uni[pos_i - lo, pos_j],
                    }
                )
            )

    def process(pdf: pd.DataFrame):
        """Verify every bucket in a chunk of key-SORTED rows."""
        m = len(pdf)
        keys = np.stack(
            [pdf[c].to_numpy().astype(np.int64) for c in key_cols], axis=1
        )
        ids = pdf["id"].to_numpy()
        sz = pdf["sz"].to_numpy()
        SIG = np.stack([pdf[f"s{j}"].to_numpy() for j in range(k)], axis=1)
        W = np.stack(
            [pdf[f"w{w}"].to_numpy().view(np.uint64) for w in range(n_words)], axis=1
        )
        bits = np.unpackbits(np.ascontiguousarray(W).view(np.uint8), axis=1)
        Bf = bits.astype(np.float32)
        change = np.any(keys[1:] != keys[:-1], axis=1)
        bounds = np.concatenate([[0], np.nonzero(change)[0] + 1, [m]])
        outs: list[pd.DataFrame] = []
        for s, e in zip(bounds[:-1], bounds[1:]):
            if e - s >= 2 and (max_bucket is None or e - s <= max_bucket):
                verify_bucket(
                    int(keys[s, 0]), ids[s:e], sz[s:e], Bf[s:e], SIG[s:e], outs
                )
        if outs:
            yield pd.concat(outs, ignore_index=True)

    def f(batches):
        # Rows arrive key-SORTED within the partition
        # (sortWithinPartitions upstream), so buckets are contiguous
        # runs ACROSS Arrow batches: carry the possibly-split trailing
        # bucket into the next batch instead of concatenating the whole
        # partition — working memory is O(largest bucket), not
        # O(partition).
        pending: pd.DataFrame | None = None

        def clip(run: pd.DataFrame) -> pd.DataFrame:
            # A carried run longer than the cap is already doomed to be
            # skipped — keep just enough rows (cap + 1) to prove it's
            # oversized, so worker memory stays O(cap) even when one
            # template bucket spans millions of rows.
            if max_bucket is not None and len(run) > max_bucket + 1:
                return run.iloc[: max_bucket + 1]
            return run

        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            keys = np.stack(
                [pdf[c].to_numpy().astype(np.int64) for c in key_cols], axis=1
            )
            is_last = np.all(keys == keys[-1], axis=1)
            if is_last.all():
                pending = clip(pdf)  # one (possibly continuing) bucket
                continue
            cut = len(pdf) - int(np.argmin(is_last[::-1]))
            pending = clip(pdf.iloc[cut:].reset_index(drop=True))
            yield from process(pdf.iloc[:cut].reset_index(drop=True))
        if pending is not None and len(pending):
            yield from process(pending)

    return f


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    jaccard_threshold: float = 0.5,
    bitmap_dict_max: int = 4096,
    eager: bool = True,
    unit: str = "char",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verify.

    shingle→minhash→band→bucket→verify.  Returns (id_a, id_b, jaccard)
    with id_a < id_b and jaccard >= threshold, jaccard exact on the
    candidate pairs' shingle sets.

    Plan shape (one narrow Arrow pass, one shuffle, in-bucket GEMM):

    1. :func:`minhash_frames` computes (id, sh, sig) scan-side.
    2. A bounded vocabulary probe collects the global shingle
       dictionary (char-n-gram vocabularies are small — ≤ ~50k for
       3-grams of normalized text).
    3. **bitmap path** (vocabulary fits ``bitmap_dict_max``): each doc
       becomes a ``ceil(|dict|/64)``-word bitmap riding one row per
       (doc, band) into a single shuffle keyed on the band's SIGNATURE
       SLICE VALUES (collision-free — mirrors the oracle's band-slice
       equality exactly, no murmur3 in the candidate path).  Each
       bucket is verified in place by one blocked bool-GEMM over its
       bitmap matrix; only pairs near/above threshold leave the
       bucket, so the post-verify shuffle carries survivors, not the
       O(Σ bucket²) candidate stream.  The exact rounded-Jaccard
       filter runs JVM-side (F.round, HALF_UP) for oracle parity.
    4. **array fallback** (unbounded vocabularies, e.g. word n-grams):
       band-key self-join on the slice-value struct, then the shared
       ``array_intersect`` verify (``simjoin._verify``).

    ``max_bucket_size`` (optional) bounds per-bucket verify work on
    template-heavy corpora: a pair survives iff the bucket of its
    FIRST colliding band holds at most that many docs — an oversized
    first band claims the pair and drops it, keeping emission globally
    unique and the rule deterministic (mirrored in the DuckDB oracle).
    In the bitmap path the check is free (bucket size = sorted-run
    length); in the array fallback it rides the existing (band,
    bucket) shuffle as a window count.

    With ``eager`` (default) the pair list is materialized via
    ``localCheckpoint`` and cached intermediates are released before
    returning, so repeated calls don't leak executor memory into later
    queries.  ``eager=False`` keeps the result fully lazy/recomputable
    (executor loss after an eager checkpoint makes downstream actions
    unrecoverable — the lineage is truncated), at the cost of
    re-running the shingle pass if the result is consumed twice.
    """
    spark = df.sparkSession
    rows_per_band = k // bands
    num_partitions = _pair_partitions(spark)
    idt = df.schema[id_col].dataType.simpleString()

    shd = minhash_frames(
        df.repartition(num_partitions), id_col, text_col, k, n, unit
    ).persist()

    # Vocabulary probe: per-partition uniques in pandas (a few hundred
    # values per partition), then a tiny distinct — cheaper than
    # exploding every (doc, shingle) row.
    def _uniq(batches):
        seen: set[int] = set()
        for pdf in batches:
            for sh in pdf["sh"]:
                seen.update(int(x) for x in sh)
                if len(seen) > bitmap_dict_max:
                    break
        yield pd.DataFrame({"h": sorted(seen)})

    dict_rows = (
        shd.mapInPandas(_uniq, schema="h long")
        .distinct()
        .limit(bitmap_dict_max + 1)
        .collect()
    )
    bitmap = len(dict_rows) <= bitmap_dict_max
    #: the array-fallback verify's caches; the bitmap path makes none
    caches: list[DataFrame] = []

    if bitmap:
        dict_vals = sorted(r.h for r in dict_rows)
        dict_map = {h: i for i, h in enumerate(dict_vals)}
        n_words = max(1, (len(dict_vals) + 63) // 64)
        kcols = [f"k{j}" for j in range(rows_per_band)]
        row_schema = ", ".join(
            ["band int"]
            + [f"{c} long" for c in kcols]
            + [f"id {idt}", "sz long"]
            + [f"w{w} long" for w in range(n_words)]
            + [f"s{j} long" for j in range(k)]
        )
        rows = shd.mapInPandas(
            _band_rows_fn(bands, rows_per_band, dict_map, n_words), schema=row_schema
        )
        pairs = (
            rows.repartition(num_partitions, "band", *kcols)
            .sortWithinPartitions("band", *kcols)
            .mapInPandas(
                _bitmap_verify_fn(
                    n_words, rows_per_band, jaccard_threshold, bands, max_bucket_size
                ),
                schema=f"id_a {idt}, id_b {idt}, inter long, uni long",
            )
        )
        # first-band suppression makes emission unique — no pair-dedup
        out = pairs.select(
            "id_a",
            "id_b",
            F.round(F.col("inter").cast("double") / F.col("uni"), 6).alias("jaccard"),
        ).where(F.col("jaccard") >= jaccard_threshold)
    else:
        # Unbounded vocabulary: self-join on the band's slice-value
        # struct (still collision-free), dedup candidates BEFORE the
        # expensive array verify, and repartition explicitly (see
        # simjoin._pair_partitions).  No broadcast: that would ship the
        # whole corpus' shingle arrays to every executor, and the verify's
        # 300k-row cap was measured on the prefix joins' token arrays,
        # never on these.
        band_structs = F.array(
            *[
                F.struct(
                    *[
                        F.col("sig")[b * rows_per_band + j].alias(f"k{j}")
                        for j in range(rows_per_band)
                    ]
                )
                for b in range(bands)
            ]
        )
        band_entries = shd.select(
            "id", F.posexplode(band_structs).alias("band", "bucket")
        )
        if max_bucket_size is not None:
            # Bucket size rides the same (band, bucket) partitioning as
            # the self-join; first-colliding-band-decides via min_by.
            from pyspark.sql.window import Window

            w = Window.partitionBy("band", "bucket")
            entries = band_entries.withColumn("bn", F.count(F.lit(1)).over(w))
            a = entries.select("band", "bucket", "bn", F.col("id").alias("id_a"))
            b = entries.select("band", "bucket", F.col("id").alias("id_b"))
            cands = (
                a.join(b, ["band", "bucket"])
                .where(F.col("id_a") < F.col("id_b"))
                .groupBy("id_a", "id_b")
                .agg(F.min_by("bn", "band").alias("bn0"))
                .where(F.col("bn0") <= max_bucket_size)
                .select("id_a", "id_b")
                .repartition(num_partitions, "id_a", "id_b")
            )
        else:
            a = band_entries.select("band", "bucket", F.col("id").alias("id_a"))
            b = band_entries.select("band", "bucket", F.col("id").alias("id_b"))
            cands = (
                a.join(b, ["band", "bucket"])
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .dropDuplicates(["id_a", "id_b"])
                .repartition(num_partitions, "id_a", "id_b")
            )
        scored, caches = _verify(
            cands, shd.select("id", "sh"), eager, broadcast=False
        )
        union = F.col("__za") + F.col("__zb") - F.col("__i")
        out = (
            scored.select(
                "id_a",
                "id_b",
                F.round(F.col("__i").cast("double") / union, 6).alias(
                    "jaccard"
                ),
            )
            .where(F.col("jaccard") >= jaccard_threshold)
        )

    out = _finish(out, eager, f"minhash_lsh_pairs.{unit}", caches)
    shd.unpersist()
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via shingle inverted index.

    explode(shingles) → self-join on shingle → count pairs.  Exact (no
    LSH miss) but O(sum of bucket²); ``max_doc_freq`` drops shingles
    appearing in more than that many docs (skew guard — a ubiquitous
    shingle otherwise creates a quadratic bucket).
    """
    # distinct hash values per doc (array_distinct-on-hashes parity)
    sh = (
        exploded_shingle_hashes(df, id_col, text_col, n)
        .dropDuplicates(["id", "h"])
        .withColumnRenamed("h", "s")
    )
    if max_doc_freq is not None:
        freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df_"))
        sh = sh.join(F.broadcast(freq.where(F.col("df_") <= max_doc_freq)), "s").drop("df_")

    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("s"), F.col("id").alias("id_a"))
    b = sh.select(F.col("s"), F.col("id").alias("id_b"))
    inter = (
        a.join(b, "s")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= threshold)


def simhash64_from(th: Column) -> Column:
    """64-bit SimHash from a (materialized) token-hash array column.

    For each bit position, sum +1/-1 over token hashes' bits; bit set
    where the sum is positive.  Built from bit ops, fully codegen'd.
    Same plan-blowup caveat as :func:`minhash_signature_from`: pass a
    column reference, the 64 bit-votes each embed their input subtree.
    """

    def bit_vote(i: int) -> Column:
        # sum over tokens of (bit_i ? 1 : -1), sign → bit
        mask = F.shiftleft(F.lit(1).cast("long"), i)
        votes = F.aggregate(
            th,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
        )
        return F.when(votes > 0, mask).otherwise(F.lit(0).cast("long"))

    out = F.lit(0).cast("long")
    for i in range(64):
        out = out.bitwiseOR(bit_vote(i))
    return out


def token_hashes(text_col: Column) -> Column:
    """60-bit md5-derived hash of each distinct whitespace token
    (simhash input).  First 15 hex chars of md5 parsed as int —
    identical in DuckDB (``('0x' || substr(md5(t),1,15))::BIGINT``), so
    the simhash oracle mirrors signatures bit-for-bit; bits 60-63 of
    the simhash are constantly 0 on both engines (every vote is -1)."""
    toks = F.array_distinct(F.split(normalize_text(text_col), " "))
    return F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Pigeonhole blocking: split the 64-bit hash into ``blocks`` chunks;
    any pair within distance d < blocks shares at least one exact
    chunk, so join on (block_idx, chunk) finds all such pairs without
    the cross join; verify with bit_count(xor).
    """
    width = 64 // blocks
    sigs = df.select(
        F.col(id_col).alias("id"), token_hashes(F.col(text_col)).alias("th")
    ).select("id", simhash64_from(F.col("th")).alias("sig"))
    mask = (1 << width) - 1
    chunks = sigs.select(
        "id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("sig", i * width).bitwiseAND(F.lit(mask).cast("long"))
                    for i in range(blocks)
                ]
            )
        ).alias("blk", "chunk"),
    )
    a = chunks.select("blk", "chunk", F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = chunks.select("blk", "chunk", F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        a.join(b, ["blk", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on normalized-text fingerprint: keeps min id per
    group, marks the rest as duplicates."""
    from cdc_redshift_spark.functions.text import fingerprint

    fp = df.select(F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fp"))
    canon = fp.groupBy("fp").agg(F.min("id").alias("canonical_id"), F.count(F.lit(1)).alias("group_size"))
    return fp.join(canon, "fp").select(
        "id",
        "fp",
        "canonical_id",
        "group_size",
        (F.col("id") != F.col("canonical_id")).cast("int").alias("is_duplicate"),
    )


def connected_components(
    ids: DataFrame,
    pairs: DataFrame,
    max_iters: int = 25,
) -> DataFrame:
    """(id, cluster_id) — cluster_id = min id reachable over pair edges.

    The cluster-resolution step a dedup pipeline runs AFTER pair
    generation: near-dup pairs form a graph; each connected component
    keeps one canonical document.  Iterative min-label propagation over
    the (undirected) edge list: every round each node takes the min of
    its own label and its neighbors' labels, until a fixpoint (checked
    via a changed-count aggregate folded into the round's job).

    Scale: each round is one join + one groupBy shuffle on node id —
    the standard large-graph CC loop; rounds needed = component
    diameter (near-dup clusters are shallow; ``max_iters`` bounds
    pathological chains, and non-convergence RAISES rather than
    returning silently-wrong labels).  Lineage is truncated per round
    via localCheckpoint so plans don't grow with iterations.

    ``ids``: one column ``id`` (all nodes, including singletons);
    ``pairs``: columns ``id_a``, ``id_b``.
    """
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    edges = edges.localCheckpoint(eager=False)
    labels = ids.select(F.col("id"), F.col("id").alias("lab"))
    changed = 0
    for _ in range(max_iters):
        neigh = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lab").alias("nlab"))
        )
        merged = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(F.col("lab"), F.coalesce("nlab", "lab")).alias("lab"),
                (F.coalesce("nlab", "lab") < F.col("lab")).cast("long").alias("chg"),
            )
        ).localCheckpoint(eager=True)
        changed = merged.agg(F.sum("chg")).collect()[0][0] or 0
        labels = merged.select("id", "lab")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            f"iterations ({changed} labels still changing) — a component's "
            f"diameter exceeds max_iters; raise max_iters rather than "
            f"consuming unconverged cluster labels"
        )
    return labels.select("id", F.col("lab").alias("cluster_id"))


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted index
# ---------------------------------------------------------------------------
# The realistic 100 TB shape: the corpus is deduped ONCE, its
# fingerprint / band index is persisted (parquet, bucketed by the join
# key), and every new ingest batch dedups against the index WITHOUT
# re-reading or re-hashing the corpus — per-batch work is
# O(batch + matched buckets), not O(corpus).


def incremental_exact_dedup(
    index: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Classify each batch doc against a persisted fingerprint index.

    ``index``: one column ``fp`` (md5 fingerprints of every document
    already accepted — in production a parquet table bucketed by
    ``fp`` so this join is co-located).  ``batch``: (id, text).

    Output per batch doc: ``id, fp, status, canonical_id`` where
    status is ``dup_of_index`` (fp already in the index — wins over
    any in-batch grouping), ``dup_in_batch`` (first occurrence of the
    fp inside the batch keeps it), or ``new``; ``canonical_id`` is the
    min batch id of the fp group (the batch's keeper when the fp is
    not in the index).

    Plan: one fingerprint scan over the batch, one groupBy shuffle on
    fp (in-batch winner), one left equi-join against the index on fp.
    Nothing touches the corpus text.
    """
    from cdc_redshift_spark.functions.text import fingerprint

    fp = batch.select(
        F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fp")
    )
    canon = fp.groupBy("fp").agg(F.min("id").alias("canonical_id"))
    idx = index.select("fp").distinct().withColumn("__in_idx", F.lit(1))
    return (
        fp.join(canon, "fp")
        .join(idx, "fp", "left")
        .select(
            "id",
            "fp",
            F.when(F.col("__in_idx").isNotNull(), F.lit("dup_of_index"))
            .when(F.col("id") != F.col("canonical_id"), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
            "canonical_id",
        )
    )


def _band_key_rows(
    frames: DataFrame, k: int, bands: int, side: str
) -> DataFrame:
    """(id, sh, band, key struct<k0..k{r-1}:long>, side) — one row per
    (doc, band) keyed on the band's signature SLICE VALUES
    (collision-free, same bucket discipline as
    :func:`minhash_lsh_pairs`), via pure Column ops over an
    (id, sh, sig) frame.  The key is a STRUCT, not an array: struct
    join keys hash-partition (ShuffledHashJoin/SMJ on fixed-width
    fields), where array keys force order-based comparison paths —
    measured 30x on the sf0.1 probe (SCALE.md)."""
    r = k // bands
    bk = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.struct(
                    *[
                        F.col("sig")[b * r + j].alias(f"k{j}")
                        for j in range(r)
                    ]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    return frames.select(
        "id", F.explode(bk).alias("bk"), F.lit(side).alias("side")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"), "side")


def incremental_minhash_pairs(
    existing_frames: DataFrame,
    batch_frames: DataFrame,
    k: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    eager: bool = True,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against an already-signed corpus.

    Both inputs are (id, sh, sig) frames (:func:`minhash_frames`); in
    production ``existing_frames`` is READ from the persisted
    signature index — the corpus is never re-shingled.  Returns
    ``batch_id, match_id, match_side ('existing'|'batch'), jaccard``
    for every pair whose exact shingle-set Jaccard clears the
    threshold and that shares at least one MinHash band bucket:
    batch-vs-existing pairs, plus batch-vs-batch pairs counted once
    (``match_id < batch_id``).  Existing-vs-existing pairs are by
    definition already resolved and never generated.

    Plan: band rows on both sides (pure Column explode over the
    stored signatures — no Arrow pass for the existing side), ONE
    equi-join shuffled on (band, slice values) probing batch rows
    against the union index, exact ``array_intersect`` verify in
    place, distinct on the tiny qualifying output.  Per-batch cost is
    the batch's band rows plus the buckets they actually hit.
    """
    # both frames feed multiple consumers (band rows + verify sides);
    # without the persist the Arrow shingle pass re-runs per reference
    # (the docstring's "never re-shingled" claim would be false).
    # ``eager`` materializes the result and releases the caches before
    # returning (the simjoin discipline); eager=False keeps everything
    # lazy/recomputable.  A frame the caller already cached (a
    # persisted signature index probed batch after batch) is used as
    # is and left cached: only the caches this call makes are released.
    owned = [
        f.persist()
        for f in (existing_frames, batch_frames)
        if eager and not f.is_cached
    ]
    a = _band_key_rows(batch_frames, k, bands, "batch").withColumnRenamed(
        "id", "batch_id"
    )
    b = (
        _band_key_rows(existing_frames, k, bands, "existing")
        .unionByName(_band_key_rows(batch_frames, k, bands, "batch"))
        .withColumnsRenamed({"id": "match_id", "side": "match_side"})
    )
    # candidate ID pairs only — the (possibly megabucket) band join
    # never shuffles a shingle array, and each pair verifies ONCE
    # however many bands it collides in (the simjoin lesson: verify
    # work scales with distinct pairs, not bucket-size × bands)
    cand = (
        a.join(b, ["band", "key"])
        .where(
            (
                (F.col("match_side") == "existing")
                & (F.col("match_id") != F.col("batch_id"))
            )
            | (
                (F.col("match_side") == "batch")
                & (F.col("match_id") < F.col("batch_id"))
            )
        )
        .select("batch_id", "match_id", "match_side")
        # explicit candidate shuffle before the dedup (the simjoin
        # discipline): the band join inherits its stored-side
        # partitioning, which can satisfy the distinct's clustering and
        # fuse band join + dedup + verify into one stage with
        # index-side parallelism; the shuffle keys the verify on the
        # candidate volume instead
        .repartition(
            _pair_partitions(batch_frames.sparkSession),
            "batch_id",
            "match_id",
        )
        .distinct()
    )
    # the verify probes with the batch side, small by contract (a
    # micro-batch probing a big index), so an eager call broadcasts its
    # shingle arrays.  The match join is keyed on (match_id,
    # match_side): an id present in BOTH inputs (re-ingesting a doc
    # already indexed) must verify against the copy its candidate came
    # from, not fan out to both
    shb = existing_frames.select(
        F.col("id").alias("match_id"),
        F.lit("existing").alias("match_side"),
        F.col("sh"),
    ).unionByName(
        batch_frames.select(
            F.col("id").alias("match_id"),
            F.lit("batch").alias("match_side"),
            F.col("sh"),
        )
    )
    scored, caches = _verify(
        cand,
        batch_frames.select("id", "sh"),
        eager,
        probe_key="batch_id",
        match=shb,
    )
    jac = F.col("__i") / (F.col("__za") + F.col("__zb") - F.col("__i"))
    out = scored.where(jac >= jaccard_threshold).select(
        "batch_id",
        "match_id",
        "match_side",
        F.round(jac, 6).alias("jaccard"),
    )
    return _finish(
        out,
        eager,
        "incremental_minhash_pairs",
        caches + owned,
    )
