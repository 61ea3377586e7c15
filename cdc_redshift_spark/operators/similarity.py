"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — JVM-side dot products,
TakeOrderedAndProject for the top-k (no global sort).

NULL contract (r15): rows whose vector is NULL are EXCLUDED from
every operator up front — a NULL embedding has no geometry, and
letting one reach the Arrow batches aborts the whole job inside
numpy (inhomogeneous-shape ValueError), while letting one into the
deterministic centroid/codebook seeds poisons the index for every
later query.  Filtering at the entry point keeps both failure modes
impossible and matches equality-probe semantics everywhere else in
the engine.

Scale paths for 100 TB / billions of vectors:
- Random-hyperplane LSH (`rh_lsh_topk`, `rh_lsh_near_dup_pairs`):
  sign-bit signatures w.r.t. fixed hyperplanes; vectors compared only
  within a bucket, OR-amplified across independent tables.  Sub-linear
  candidate sets, tunable recall.
- IVF coarse quantization (`ivf_assign` / `ivf_topk`): deterministic
  centroid seeding (first n_cells by id), multi-probe search of the
  closest cells.

Plan-shape rules, learned by profiling three architectures:

1. Per-element array lambdas (``zip_with``/``aggregate``) are
   interpreted per pair — fine for one query vector, 100× too slow
   for pair streams.
2. Flattening vectors to ``dim`` scalar columns keeps dots in
   codegen, but 64+ aliased wide expression trees under self-joins
   send Catalyst into multi-minute optimizer/codegen blowups (wide
   rows also exceed ``spark.sql.codegen.maxFields``, silently
   disabling whole-stage codegen for every pair join).
3. **Arrow-vectorized Pandas UDFs (numpy GEMM) — used here.**  All
   vector arithmetic (bucket signatures, pair cosines, centroid
   assignment) runs as blocked matrix math over Arrow batches: one
   ``einsum`` per ~10k-row batch, no per-pair JVM allocation, no
   giant expression trees.  This is the one place in the engine where
   built-in functions genuinely can't express the computation
   efficiently, which is exactly the Pandas-UDF contract.

Candidate generation and scoring are FUSED per bucket: vectors are
tagged with their (table, bucket) keys in one narrow pass, grouped on
that key (the one shuffle), and each bucket is scored in place by a
blocked GEMM that emits only the per-member local top-k (or the
above-threshold pairs).  A globally top-k pair is locally top-k in
every bucket containing it, so ranking the deduped union of local
top-k's is exact over the candidate set — the O(Σ bucket²) pair
stream of the join-based formulation never exists, shrinking shuffled
rows to O(L·k·N).  Windows rank the small union JVM-side.

Ranking happens on the ROUNDED cosine (6 dp) with an id tiebreak so
results are reproducible across engines: the DuckDB oracles embed the
same literal hyperplanes and rank the same way.  (numpy's pairwise
float summation can differ from DuckDB's left-to-right by ~1e-15;
after 6-dp rounding a divergence needs a true value within 1e-15 of a
rounding boundary — odds ~1e-9 per emitted value.)

All deterministic: hyperplanes from a fixed LCG, centroids seeded by
vector id order.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def l2_norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda s, x: s + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def infer_dim(df: DataFrame, vec_col: str = "embedding") -> int:
    """Vector dimensionality via a one-row probe.

    Array columns carry no length in the schema; callers that know the
    dim should pass it explicitly to keep operators collect-free.
    """
    row = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    if row is None:
        raise ValueError(
            f"infer_dim: no non-NULL {vec_col!r} row to probe "
            "(empty corpus?) — pass dim explicitly"
        )
    return len(row[0])


def _mat(series: pd.Series) -> np.ndarray:
    """Arrow list column → (rows, dim) float64 matrix."""
    return np.array([np.asarray(v, dtype=np.float64) for v in series], dtype=np.float64)


def _topk_per_query(pairs: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            F.col("id_a").alias("vec_id"),
            F.col("rk").alias("rank"),
            F.col("id_b").alias("neighbor_id"),
            "cosine",
        )
    )


def cosine_topk_query(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k by cosine against one query vector.

    Narrow map over the scan + TakeOrderedAndProject — fully
    distributed, no shuffle except the final k-row gather.  One query
    vector → the JVM-side aggregate/zip_with dot is fine here (no pair
    stream), and it matches the oracle's left-to-right float sum
    bit-for-bit.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.round(cosine(_as_double(F.col(vec_col)), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def knn_all_pairs(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_partitions: int | None = None,
    max_collect_rows: int | None = 2_000_000,
    strategy: str = "auto",
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact k-NN for every vector (brute force, blocked GEMM).

    Correctness baseline for the ANN variants.  Two physical
    strategies behind one result contract:

    - ``broadcast`` (fast path, corpus ≤ ``max_collect_rows``): the
      corpus matrix is collected and broadcast; each partition of
      queries computes one numpy GEMM block against it and emits its
      rows' top-k directly.  O(N) driver memory — the same smallness
      assumption a broadcast nested-loop join makes.
    - ``tiled`` (scale path, chosen automatically above the bound):
      :func:`knn_all_pairs_tiled` — a blocked corpus×corpus tile plan
      with NO driver collect; memory per task is O(N/B · dim), so the
      exact computation (and the recall artifacts built on it) scales
      past driver memory, paying O(N·B) shuffled rows for it.

    ``strategy='auto'`` counts the corpus once and picks; pass
    ``'broadcast'`` or ``'tiled'`` to skip the count and force one.

    Ranking matches the oracles on either path: rounded cosine (6 dp)
    descending, neighbor id ascending, self excluded.
    """
    if strategy not in ("auto", "broadcast", "tiled"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "tiled":
        return knn_all_pairs_tiled(
            df, k=k, id_col=id_col, vec_col=vec_col, n_blocks=n_blocks
        )
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    sc = df.sparkSession.sparkContext
    if strategy == "auto" and max_collect_rows is not None:
        n = df.count()
        if n > max_collect_rows:
            # Above the driver-memory bound the collect+broadcast fast
            # path would OOM the driver; switch to the blocked tile
            # plan, which computes the identical result distributed.
            return knn_all_pairs_tiled(
                df, k=k, id_col=id_col, vec_col=vec_col, n_blocks=n_blocks
            )
    rows = df.select(id_col, vec_col).where(
        F.col(vec_col).isNotNull()
    ).collect()
    ids = np.array([r[0] for r in rows])
    B = np.array([np.asarray(r[1], dtype=np.float64) for r in rows])
    bn = np.sqrt(np.einsum("ij,ij->i", B, B))
    order = np.argsort(ids)
    ids, B, bn = ids[order], B[order], bn[order]
    bc = sc.broadcast((ids, B, bn))

    def block_topk(batches):
        b_ids, Bm, Bn = bc.value
        for pdf in batches:
            A = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            an = np.sqrt(np.einsum("ij,ij->i", A, A))
            sim = np.round((A @ Bm.T) / np.outer(an, Bn), 6)
            a_ids = pdf[id_col].to_numpy()
            # exclude self-matches
            self_mask = a_ids[:, None] == b_ids[None, :]
            sim[self_mask] = -np.inf
            # rank: sim desc, neighbor id asc (stable across engines)
            ord_ = np.lexsort(
                (np.broadcast_to(b_ids, sim.shape), -sim), axis=1
            )[:, :k]
            out = pd.DataFrame(
                {
                    "vec_id": np.repeat(a_ids, k),
                    "rank": np.tile(np.arange(1, k + 1), len(a_ids)),
                    "neighbor_id": b_ids[ord_].ravel(),
                    "cosine": np.take_along_axis(sim, ord_, axis=1).ravel(),
                }
            )
            yield out

    schema = f"vec_id long, rank int, neighbor_id long, cosine double"
    return (
        df.select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull())  # query side of the GEMM
        .repartition(num_partitions)
        .mapInPandas(block_topk, schema=schema)
    )


def knn_all_pairs_tiled(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact k-NN via blocked corpus×corpus tiles — no driver collect.

    The corpus is hashed into B blocks (``pmod(xxhash64(id), B)``).
    Every (query-block, data-block) tile is one group: query rows
    replicate across the B data blocks and data rows across the B
    query blocks (2·N·B shuffled rows total), so each tile holds
    O(N/B) rows per side and is scored by one in-tile GEMM emitting
    each query's LOCAL top-k against that data block.  A window then
    merges the B partial top-k lists per query — exact, because a
    globally top-k neighbor is locally top-k within its own data
    block (fewer than k candidates beat it anywhere).

    Memory per task is O((N/B)·dim) regardless of corpus size; pick
    ``n_blocks`` ≈ N·dim·8 / tile-memory-budget.  Each unordered
    (query, data) pair lives in exactly one tile, so no dedup is
    needed before the merge.  Arithmetic and ranking are identical to
    the broadcast path: rounded cosine (6 dp) desc, neighbor id asc,
    self excluded.
    """
    spark = df.sparkSession
    if n_blocks is None:
        # Default: one tile side ≈ defaultParallelism tasks worth of
        # work; at minimum 2 so the path is genuinely tiled.
        n_blocks = max(2, int(math.isqrt(spark.sparkContext.defaultParallelism)))
    B = int(n_blocks)
    all_blocks = F.array(*[F.lit(i) for i in range(B)])
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    own_block = F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int")
    q_side = base.select(
        "id", "v",
        own_block.alias("qb"),
        F.explode(all_blocks).alias("db"),
        F.lit(True).alias("is_q"),
    )
    d_side = base.select(
        "id", "v",
        F.explode(all_blocks).alias("qb"),
        own_block.alias("db"),
        F.lit(False).alias("is_q"),
    )

    def tile_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        is_q = pdf["is_q"].to_numpy()
        qpdf, dpdf = pdf[is_q], pdf[~is_q]
        if len(qpdf) == 0 or len(dpdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        d_ids = dpdf["id"].to_numpy()
        D = _mat(dpdf["v"])
        dn = np.sqrt(np.einsum("ij,ij->i", D, D))
        kk = min(k, len(dpdf))
        outs = []
        for lo in range(0, len(qpdf), _TILE):
            hi = min(lo + _TILE, len(qpdf))
            Q = _mat(qpdf["v"][lo:hi])
            qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
            q_ids = qpdf["id"].to_numpy()[lo:hi]
            sim = np.round((Q @ D.T) / np.outer(qn, dn), 6)
            sim[q_ids[:, None] == d_ids[None, :]] = -np.inf  # self
            order = np.lexsort(
                (np.broadcast_to(d_ids, sim.shape), -sim), axis=1
            )[:, :kk]
            out = pd.DataFrame(
                {
                    "id_a": np.repeat(q_ids, kk),
                    "id_b": d_ids[order].ravel(),
                    "cosine": np.take_along_axis(sim, order, axis=1).ravel(),
                }
            )
            outs.append(out[np.isfinite(out["cosine"])])
        return pd.concat(outs, ignore_index=True)

    idt = _id_type(df, id_col)
    local = (
        q_side.unionByName(d_side)
        .groupBy("qb", "db")
        .applyInPandas(tile_topk, schema=f"id_a {idt}, id_b {idt}, cosine double")
    )
    return _topk_per_query(local, k).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        "rank",
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "cosine",
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Fixed pseudo-random hyperplanes via LCG → Box-Muller-ish values.

    Deterministic across runs AND engines (plain f64 literals) — the
    DuckDB oracles embed the same planes, so bucket assignments mirror
    bit-for-bit (modulo sign flips of dots within ~1e-13 of zero,
    which for O(1)-magnitude dots never occurs in practice).
    """
    planes = []
    x = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x = (1103515245 * x + 12345) % (2**31)
            u = (x + 1) / (2**31)  # (0, 1]
            row.append(math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.pi * u))
        planes.append(row)
    return planes


def _buckets_udf(planes_per_table: list[list[list[float]]]) -> Column:
    """embedding → array of per-table sign-bit bucket ids.

    One GEMM against the stacked (L·m, dim) plane matrix per Arrow
    batch, then bit-packing per table — linear in rows, no shuffle.
    """
    n_tables = len(planes_per_table)
    n_planes = len(planes_per_table[0])
    P = np.array(
        [row for tbl in planes_per_table for row in tbl], dtype=np.float64
    )  # (L·m, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))  # (m,)

    @pandas_udf("array<long>")
    def _buckets(v: pd.Series) -> pd.Series:
        V = _mat(v)  # (rows, dim)
        signs = (V @ P.T) >= 0.0  # (rows, L·m)
        signs = signs.reshape(len(V), n_tables, n_planes)
        ids = (signs * weights).sum(axis=2)  # (rows, L)
        return pd.Series(list(ids))

    return _buckets


def _id_type(df: DataFrame, id_col: str) -> str:
    return df.schema[id_col].dataType.simpleString()


def _tagged(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
) -> DataFrame:
    """(id, v, tbl, bucket) — one row per (vector, LSH table).

    The vector rides into the (tbl, bucket) shuffle (L× duplication of
    the embedding payload — the standard multi-table LSH index cost;
    the alternative, joining vectors back onto a pair stream, shuffles
    strictly more bytes because candidate pairs outnumber vectors).
    """
    planes = [hyperplanes(dim, n_planes, seed=7 + 101 * t) for t in range(n_tables)]
    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.posexplode(_buckets_udf(planes)(F.col(vec_col))).alias("tbl", "bucket"),
    )


_TILE = 2048  # row-tile for in-bucket GEMM: memory O(_TILE × bucket)


def _bucket_topk_fn(k: int):
    """Per-(tbl,bucket) group: local top-k neighbors for every member.

    The global top-k over all candidates equals the top-k of the union
    of per-bucket top-k's: if a pair ranks in the global top-k for its
    query, fewer than k candidates beat it anywhere, in particular
    inside any bucket containing it.  So each bucket emits only k rows
    per member and the pair stream shrinks from O(Σ bucket²) to
    O(L·k·N) before it ever hits a shuffle.
    """

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids = pdf["id"].to_numpy()
        V = _mat(pdf["v"])
        n = np.sqrt(np.einsum("ij,ij->i", V, V))
        kk = min(k, m - 1)
        outs = []
        for lo in range(0, m, _TILE):
            hi = min(lo + _TILE, m)
            sim = np.round((V[lo:hi] @ V.T) / np.outer(n[lo:hi], n), 6)
            sim[np.arange(lo, hi) - lo, np.arange(lo, hi)] = -np.inf  # self
            order = np.lexsort(
                (np.broadcast_to(ids, sim.shape), -sim), axis=1
            )[:, :kk]
            outs.append(
                pd.DataFrame(
                    {
                        "id_a": np.repeat(ids[lo:hi], kk),
                        "id_b": ids[order].ravel(),
                        "cosine": np.take_along_axis(sim, order, axis=1).ravel(),
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    return f


def _bucket_threshold_fn(threshold: float):
    """Per-group: all in-bucket pairs with rounded cosine ≥ threshold,
    ordered id_a < id_b by id value."""

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids = pdf["id"].to_numpy()
        V = _mat(pdf["v"])
        n = np.sqrt(np.einsum("ij,ij->i", V, V))
        outs = []
        for lo in range(0, m, _TILE):
            hi = min(lo + _TILE, m)
            sim = np.round((V[lo:hi] @ V.T) / np.outer(n[lo:hi], n), 6)
            # strict upper triangle in POSITION space: each unordered
            # pair once; value-order the ids afterwards
            pos_i, pos_j = np.nonzero(
                (sim >= threshold)
                & (np.arange(m)[None, :] > (np.arange(lo, hi)[:, None]))
            )
            ia, ib = ids[pos_i + lo], ids[pos_j]
            swap = ia > ib
            ia2 = np.where(swap, ib, ia)
            ib2 = np.where(swap, ia, ib)
            outs.append(
                pd.DataFrame(
                    {"id_a": ia2, "id_b": ib2, "cosine": sim[pos_i, pos_j]}
                )
            )
        return pd.concat(outs, ignore_index=True)

    return f


def rh_lsh_topk(
    df: DataFrame,
    k: int = 5,
    n_planes: int = 2,
    n_tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k with multi-table random-hyperplane LSH.

    OR-amplification: L independent tables of m planes each; a pair is
    a candidate if it collides in ANY table, so
    P(found) = 1 - (1 - p^m)^L with p = 1 - θ/π.

    Plan: one narrow pass tags vectors with their L bucket ids, one
    (tbl, bucket) shuffle groups each bucket, and an Arrow-batched
    GEMM scores the bucket in-place, emitting only each member's local
    top-k.  Because a globally top-k pair is locally top-k in every
    bucket containing it, ranking the deduped union of local top-k's
    is EXACT over the LSH candidate set — identical to scoring all
    O(Σ bucket²) candidate pairs (the DuckDB oracle's formulation),
    at O(L·k·N) shuffled rows instead.  No persist, no pair-stream
    join, no eager materialization.
    """
    dim = dim or infer_dim(df, vec_col)
    idt = _id_type(df, id_col)
    local = (
        _tagged(df, id_col, vec_col, dim, n_planes, n_tables)
        .groupBy("tbl", "bucket")
        .applyInPandas(
            _bucket_topk_fn(k), schema=f"id_a {idt}, id_b {idt}, cosine double"
        )
    )
    # same pair from several tables → identical cosine; dedup before
    # ranking so row_number doesn't count it twice
    return _topk_per_query(local.dropDuplicates(["id_a", "id_b"]), k)


def rh_lsh_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    n_planes: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: LSH candidates ∩ exact cosine ≥ t.

    The scale path for embedding dedup — no cross join anywhere; each
    (tbl, bucket) group is scored by one in-bucket GEMM and only pairs
    clearing the threshold leave the bucket, so the shuffle after
    scoring carries true near-dups, not candidates.  The semantics are
    explicitly *LSH-screened*: a pair is emitted iff it collides in at
    least one table AND its exact cosine clears the threshold.  (A
    lossless variant is impossible to buy cheaply at low thresholds:
    for pairs sitting AT θ ≈ 70° the OR-amplification needed for
    ~100% recall costs more than the cross join — measured on the test
    corpus, where the pair-cosine distribution starts exactly at the
    0.35 threshold.  True near-dups at cosine ≥ 0.9 are found with
    ≥ 99% probability under the defaults.)  The DuckDB oracle mirrors
    the bucketing bit-for-bit via the same literal hyperplanes, so the
    gate checks candidates AND scores exactly.
    """
    dim = dim or infer_dim(df, vec_col)
    idt = _id_type(df, id_col)
    pairs = (
        _tagged(df, id_col, vec_col, dim, n_planes, n_tables)
        .groupBy("tbl", "bucket")
        .applyInPandas(
            _bucket_threshold_fn(threshold),
            schema=f"id_a {idt}, id_b {idt}, cosine double",
        )
    )
    return pairs.dropDuplicates(["id_a", "id_b"])


def pq_codebooks(
    df: DataFrame,
    n_sub: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Product-quantization codebooks, deterministically seeded.

    Splits the dim into ``n_sub`` equal subspaces; subspace ``m``'s
    codebook is the m-th sub-vector of the first ``ks`` vectors by id
    (the same seeding rule as :func:`_centroids`, so the DuckDB oracle
    reconstructs the identical codebooks from SQL).  Returns
    (n_sub, ks, sub_dim) float64.  Tiny driver state — the codebook is
    exactly what a PQ index ships to every worker node.
    """
    rows = (
        df.select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull())
        .orderBy(id_col)
        .limit(ks)
        .collect()
    )
    M = np.array([np.asarray(r[1], dtype=np.float64) for r in rows])  # (ks, dim)
    dim = M.shape[1]
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub = dim // n_sub
    return np.stack([M[:, m * sub : (m + 1) * sub] for m in range(n_sub)])


def pq_encode(
    df: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encode: vector → ``n_sub`` one-byte-ish codes (array<int>).

    Per Arrow batch and subspace, squared L2 distances to the ks
    codewords are computed by one broadcasted numpy subtraction
    (direct Σ(vᵢ-cᵢ)², not the cancellation-prone norm expansion),
    rounded to 6 dp, and the argmin (code-id tiebreak) becomes the
    code — the rounding + tiebreak make the assignment reproducible in
    the DuckDB oracle's SQL formulation.  Linear scan, no shuffle;
    the 64-dim float vector compresses to n_sub small ints (16× here),
    which is the point of PQ at 100 TB: the ADC query scan reads codes
    only, never the raw vectors.
    """
    n_sub, ks, sub = books.shape
    B = books  # (n_sub, ks, sub)

    @pandas_udf("array<int>")
    def _codes(v: pd.Series) -> pd.Series:
        V = _mat(v)  # (rows, dim)
        out = np.empty((len(V), n_sub), dtype=np.int32)
        for m in range(n_sub):
            Vm = V[:, m * sub : (m + 1) * sub]  # (rows, sub)
            d2 = np.round(
                ((Vm[:, None, :] - B[m][None, :, :]) ** 2).sum(axis=2), 6
            )  # (rows, ks)
            codes = np.arange(ks)
            out[:, m] = np.lexsort(
                (np.broadcast_to(codes, d2.shape), d2), axis=1
            )[:, 0]
        return pd.Series(list(out))

    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), _codes(F.col(vec_col)).alias("codes")
    )


def pq_topk_query(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_sub: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k for one query via PQ asymmetric distance.

    Encode once (Arrow GEMM — the index build); score with pure
    codegen Column expressions: the per-subspace lookup tables
    (query·codeword dot and codeword norm²) are embedded as array
    LITERALS, so the query-time scan is ``element_at`` chains over the
    codes column — no Python, no vector reads, whole-stage codegen.
    approx_cos(v) = Σₘ LUTdot[m][code] / (‖q‖·√Σₘ LUTnorm²[m][code]),
    i.e. cosine(q, reconstruction(v)).  All LUT values are computed
    driver-side with left-to-right Python float sums, matching the
    DuckDB oracle's ``list_sum`` associativity exactly.
    """
    if books is None:
        books = pq_codebooks(df, n_sub=n_sub, ks=ks, id_col=id_col, vec_col=vec_col)
    n_sub, ks, sub = books.shape
    q = [float(x) for x in query_vec]
    qn = math.sqrt(sum(x * x for x in q))
    # left-to-right Python sums — bit-identical to DuckDB list_sum
    lut_dot = [
        [
            sum(q[m * sub + i] * float(books[m, c, i]) for i in range(sub))
            for c in range(ks)
        ]
        for m in range(n_sub)
    ]
    lut_n2 = [
        [sum(float(books[m, c, i]) ** 2 for i in range(sub)) for c in range(ks)]
        for m in range(n_sub)
    ]
    enc = pq_encode(df, books, id_col=id_col, vec_col=vec_col)

    def lut_at(lut: list[list[float]], m: int) -> Column:
        arr = F.array(*[F.lit(x) for x in lut[m]])
        return F.element_at(arr, F.element_at(F.col("codes"), m + 1) + 1)

    dot_sum = lut_at(lut_dot, 0)
    n2_sum = lut_at(lut_n2, 0)
    for m in range(1, n_sub):
        dot_sum = dot_sum + lut_at(lut_dot, m)
        n2_sum = n2_sum + lut_at(lut_n2, m)
    scored = enc.select(
        F.col("id").alias(id_col),
        F.round(dot_sum / (F.lit(qn) * F.sqrt(n2_sum)), 6).alias("approx_cosine"),
    )
    return scored.orderBy(F.desc("approx_cosine"), F.asc(id_col)).limit(k)


def _centroids(df: DataFrame, n_cells: int, id_col: str, vec_col: str) -> np.ndarray:
    """Deterministic centroid seeds: the first n_cells vectors by id.

    A tiny driver-side collect (n_cells × dim floats) — the same
    n_cells × dim state any IVF index ships to every worker.  One
    kmeans refinement could be layered by re-averaging per cell;
    omitted to keep the operator deterministic and cheap.
    """
    rows = (
        df.select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull())
        .orderBy(id_col)
        .limit(n_cells)
        .collect()
    )
    return np.array([np.asarray(r[1], dtype=np.float64) for r in rows])


def _cells_udf(cents: np.ndarray, n_probe: int) -> Column:
    """embedding → array of the n_probe closest cell ids (1-based,
    ranked by rounded cosine, cell-id tiebreak); index 1 = home cell."""
    C = cents  # (n_cells, dim)
    cn = np.sqrt(np.einsum("ij,ij->i", C, C))

    @pandas_udf("array<int>")
    def _cells(v: pd.Series) -> pd.Series:
        V = _mat(v)
        vn = np.sqrt(np.einsum("ij,ij->i", V, V))
        sim = np.round((V @ C.T) / np.outer(vn, cn), 6)  # (rows, n_cells)
        # rank: sim desc, cell asc → lexsort on (cell_asc, -sim)
        order = np.lexsort((np.arange(C.shape[0])[None, :].repeat(len(V), 0), -sim), axis=1)
        return pd.Series(list((order[:, :n_probe] + 1).astype(np.int32)))

    return _cells


def kmeans_refine(
    df: DataFrame,
    cents: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
) -> np.ndarray:
    """Deterministic Lloyd refinement of IVF centroids.

    Each pass assigns every vector to its nearest centroid by rounded
    cosine (the same ranking `_cells_udf` uses) and replaces each
    non-empty cell's centroid with the 6-dp-rounded mean of its
    members, summed in id order — ``np.cumsum`` is sequential
    left-to-right, so a DuckDB oracle can mirror the refined centroids
    with ``list_sum`` over an id-ordered list.  Empty cells keep their
    previous centroid.  The assignment scan is distributed; only the
    (n_cells × dim) centroid state ever reaches the driver.
    """
    df = df.where(F.col(vec_col).isNotNull())
    for _ in range(iters):
        assign = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.element_at(_cells_udf(cents, 1)(F.col(vec_col)), 1).alias("cell"),
        )

        def cell_mean(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("id")
            V = _mat(pdf["v"])
            s = np.cumsum(V, axis=0)[-1]  # left-to-right, id order
            return pd.DataFrame(
                {"cell": [int(pdf["cell"].iloc[0])], "mean": [np.round(s / len(V), 6)]}
            )

        rows = (
            assign.groupBy("cell")
            .applyInPandas(cell_mean, schema="cell int, mean array<double>")
            .collect()
        )
        cents = cents.copy()
        for r in rows:
            cents[r["cell"] - 1] = np.asarray(r["mean"], dtype=np.float64)
    return cents


def ivf_assign(
    df: DataFrame,
    n_cells: int = 16,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF coarse quantization: (id, cell, cell_rank) for the n_probe
    closest cells per vector; rank 1 is the home cell (where the
    vector is indexed), ranks 2..n_probe are the probe cells a query
    searches."""
    cents = _centroids(df, n_cells, id_col, vec_col)
    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.posexplode(_cells_udf(cents, n_probe)(F.col(vec_col))).alias("rk0", "cell"),
    ).select("id", "cell", (F.col("rk0") + 1).alias("cell_rank"))


def ivf_topk(
    df: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    refine_iters: int = 0,
) -> DataFrame:
    """ANN top-k via multi-probe IVF.

    Every vector is indexed in its home cell (rank-1); a query scans
    its ``n_probe`` closest cells.  Shuffle key = cell, so the search
    scales out across cells; probe count trades recall for candidate
    volume.  Each cell group is scored by one blocked GEMM (queries ×
    home vectors) emitting local top-k per query — exact over the
    probed candidate set for the same union-of-local-top-k reason as
    :func:`rh_lsh_topk`, with no pair-stream join or materialization.
    """
    cents = _centroids(df, n_cells, id_col, vec_col)
    idt = _id_type(df, id_col)
    if cents.size == 0:  # empty corpus: no cells, no candidates
        return df.sparkSession.createDataFrame(
            [], f"vec_id {idt}, rank int, neighbor_id {idt}, cosine double"
        )
    if refine_iters:
        cents = kmeans_refine(df, cents, id_col, vec_col, iters=refine_iters)
    tagged = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.posexplode(_cells_udf(cents, n_probe)(F.col(vec_col))).alias("rk0", "cell"),
    )

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        # queries = every row probing this cell; data = rows HOME here
        # (rank-1).  A data vector is home in exactly one cell, so each
        # (query, data) pair is produced by exactly one group — no
        # cross-cell duplicates to dedup.
        home = pdf["rk0"].to_numpy() == 0
        n_home = int(home.sum())
        if n_home == 0 or len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        q_ids = pdf["id"].to_numpy()
        d_ids = q_ids[home]
        D = _mat(pdf["v"][home])
        dn = np.sqrt(np.einsum("ij,ij->i", D, D))
        outs = []
        for lo in range(0, len(pdf), _TILE):
            hi = min(lo + _TILE, len(pdf))
            Q = _mat(pdf["v"][lo:hi])
            qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
            sim = np.round((Q @ D.T) / np.outer(qn, dn), 6)
            sim[q_ids[lo:hi, None] == d_ids[None, :]] = -np.inf  # self
            kk = min(k, n_home)
            order = np.lexsort(
                (np.broadcast_to(d_ids, sim.shape), -sim), axis=1
            )[:, :kk]
            cos = np.take_along_axis(sim, order, axis=1).ravel()
            out = pd.DataFrame(
                {
                    "id_a": np.repeat(q_ids[lo:hi], kk),
                    "id_b": d_ids[order].ravel(),
                    "cosine": cos,
                }
            )
            outs.append(out[np.isfinite(out["cosine"])])
        return pd.concat(outs, ignore_index=True)

    local = tagged.groupBy("cell").applyInPandas(
        cell_topk, schema=f"id_a {idt}, id_b {idt}, cosine double"
    )
    return _topk_per_query(local, k)


def contrastive_negatives(
    df: DataFrame,
    k_neg: int = 4,
    n_shards: int = 16,
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every anchor, ``k_neg`` pseudo-random partners drawn WITHOUT
    replacement from the anchor's hash shard — reproducible across
    runs/engines (no RNG state), uniform-ish because the engine-stable
    60-bit hash both assigns shards and orders the ring.

    Construction: shard = hash60(id) % n_shards; within a shard, rows
    are ranked by (hash, id) into a ring; anchor at rank r takes the
    ``j``-th ring successor, ``(r - 1 + j) % shard_size + 1`` for
    ``j = 1..min(k_neg, shard_size - 1)``.  Ring order is hash order —
    already uniform with respect to content — so successors ARE
    uniform draws; offsets in ``[1, sz-1]`` are provably distinct and
    never self, so every anchor gets exactly ``min(k_neg, sz-1)``
    distinct negatives (fewer only when the shard simply has fewer
    candidates).

    Output: ``anchor_id, neg_id, j`` (one row per draw).

    Plan: one per-shard rank window + one equi-join on (shard, rank)
    — parallelism = n_shards regardless of corpus size; no global
    window, no RNG coordination.  At 100 TB raise ``n_shards`` to the
    write-parallelism you want.
    """
    from cdc_redshift_spark.operators.corpus import stable_hash60

    if k_neg < 1:
        raise ValueError(f"k_neg must be >= 1, got {k_neg}")
    base = df.select(
        F.col(id_col).alias("id"),
        stable_hash60(F.col(id_col).cast("string")).alias("h"),
    ).withColumn("shard", F.pmod("h", F.lit(n_shards)).cast("int"))
    w = Window.partitionBy("shard").orderBy("h", "id")
    ranked = base.withColumn("r", F.row_number().over(w)).withColumn(
        "sz", F.count(F.lit(1)).over(Window.partitionBy("shard"))
    )
    draws = (
        ranked.select(
            F.col("id").alias("anchor_id"),
            "shard",
            "sz",
            F.explode(
                F.array(*[F.lit(j) for j in range(1, k_neg + 1)])
            ).alias("j"),
            F.col("r").alias("r_a"),
        )
        # offsets beyond sz-1 would wrap into duplicates/self — cap
        # the draws at the shard's actual candidate count
        .where(F.col("j") <= F.col("sz") - 1)
        .withColumn(
            "r_n",
            F.pmod(F.col("r_a") - 1 + F.col("j"), F.col("sz")) + 1,
        )
    )
    partners = ranked.select(
        "shard", F.col("r").alias("r_n"), F.col("id").alias("neg_id")
    )
    return draws.join(partners, ["shard", "r_n"]).select(
        "anchor_id", "neg_id", "j"
    )


def pca_top_component(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
) -> tuple[DataFrame, list, list]:
    """First principal component of an embedding column by POWER
    ITERATION on the covariance matrix — the dimensionality-reduction
    / OPQ-style rotation step in front of an ANN index (PQ quality is
    dominated by how well the leading variance directions are
    handled).

    Scale shape: the only distributed work is TWO bounded aggregates —
    the d-element mean and the d^2-element second-moment matrix (pair
    explode with map-side combine: every task contributes <= d^2
    cells whatever its row count).  The d x d matrix collects to the
    driver (same bounded-collect class as the IVF centroid seeds) and
    ``iters`` matrix-vector products run there in pure Python.  The
    projection broadcasts (mu, v) back as literals — one codegen pass,
    zero joins.

    Cross-engine determinism: covariance cells, the mean, and every
    iteration step round at 9 dp (absorbing summation-order ulp, the
    PageRank discipline), so a SQL engine unrolling the SAME
    iterations reproduces the eigenvector bit-for-bit; starting from
    the all-ones vector makes the sign itself deterministic (no
    sign-fix rule needed).  Projections round at 6 dp.

    Returns ``(projections, v, mu)``: projections = one row per input
    (id_col, pc1); v, mu = the (rounded) component and mean as Python
    lists.
    """
    df = df.where(F.col(vec_col).isNotNull())
    x = F.transform(F.col(vec_col), lambda c: c.cast("double"))
    ex = df.select(
        F.col(id_col), F.posexplode(x).alias("i", "xi"), x.alias("__v")
    )
    # second moments: (i, j) cells via inner posexplode of the carried
    # array — n*d^2 rows, collapsed map-side to <= d^2 cells per task
    sums = (
        ex.select("i", F.posexplode("__v").alias("j", "xj"), "xi")
        .groupBy("i", "j")
        .agg(F.sum(F.col("xi") * F.col("xj")).alias("s"))
        .collect()
    )
    mu_rows = (
        ex.groupBy("i")
        .agg(F.sum("xi").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not mu_rows:
        raise ValueError("pca_top_component: empty input")
    from cdc_redshift_spark.functions.numeric import round_half_away as r9

    d = len(mu_rows)
    n = mu_rows[0]["n"]
    mu = [0.0] * d
    for r in mu_rows:
        mu[r["i"]] = r9(r["s"] / n, 9)
    cov = [[0.0] * d for _ in range(d)]
    for r in sums:
        cov[r["i"]][r["j"]] = r9(r["s"] / n - mu[r["i"]] * mu[r["j"]], 9)
    v = [1.0] * d
    for _ in range(int(iters)):
        w = [r9(sum(cov[i][j] * v[j] for j in range(d)), 9) for i in range(d)]
        norm = math.sqrt(sum(c * c for c in w))
        if norm == 0.0:
            raise ValueError(
                "pca_top_component: zero-variance input (all vectors "
                "identical) — no principal direction exists"
            )
        v = [r9(c / norm, 9) for c in w]
    b = r9(sum(mu[i] * v[i] for i in range(d)), 9)
    vlit = F.array(*[F.lit(c) for c in v])
    proj = df.select(
        F.col(id_col),
        F.round(
            F.aggregate(
                F.zip_with(x, vlit, lambda a, c: a * c),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
            - F.lit(b),
            6,
        ).alias("pc1"),
    )
    return proj, v, mu


def semantic_dedup(
    df: DataFrame,
    n_cells: int = 8,
    tau: float = 0.2,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then drop
    within-cluster semantic duplicates.

    A document is a semantic duplicate iff some SMALLER-id member of
    its cluster has rounded cosine similarity >= ``tau`` with it — the
    deterministic keep-first rule, so the survivor set is a pure
    function of the corpus (no RNG, mirrorable in SQL).  Returns one
    row per input vector: (``id_col``, cell, kept).

    Scale shape: centroids are the deterministic first-``n_cells``
    seeds (+ optional Lloyd refinement — both the distributed
    assignment scans and the (n_cells x dim) driver state of
    :func:`kmeans_refine`); the only shuffle is the cell partition, and
    the per-cell pairwise scoring runs as a tiled in-cell GEMM
    (memory O(_TILE x cell)).  Per-cell work is O((N/k)^2) — SemDeDup's
    economics REQUIRE n_cells to grow with the corpus (the paper runs
    ~100k clusters at web scale) so cells stay ~1e4 rows; n_cells is
    the knob, not a hidden constant.  ``max_cell_size`` makes that
    contract LOUD: when set, a pre-GEMM count raises naming any cell
    over the bound (capping silently would change the survivor set —
    the SemDeDup rule reads every in-cell pair, so the only honest
    responses to a runaway cell are more cells or more refinement).
    """
    cents = _centroids(df, n_cells, id_col, vec_col)
    idt = _id_type(df, id_col)
    if cents.size == 0:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} {idt}, cell int, kept boolean"
        )
    if refine_iters:
        cents = kmeans_refine(df, cents, id_col, vec_col, iters=refine_iters)
    assign = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.element_at(_cells_udf(cents, 1)(F.col(vec_col)), 1).alias("cell"),
    )
    if max_cell_size is not None:
        # Persist: the guard's count is an ACTION, so without a cache
        # the assignment UDF would run a third full corpus pass here
        # (and the two downstream uses re-run it anyway).  The cache is
        # reused by `pairs` and the final join below; Spark's
        # ContextCleaner unpersists it when the plan is GC'd.
        assign = assign.persist()
        over = (
            assign.groupBy("cell")
            .count()
            .where(F.col("count") > max_cell_size)
            .orderBy(F.desc("count"))
            .limit(16)
            .collect()
        )
        if over:
            assign.unpersist()
            detail = ", ".join(f"cell {r['cell']}: {r['count']}" for r in over)
            more = " (top 16 shown)" if len(over) == 16 else ""
            raise ValueError(
                f"semantic_dedup: cell(s) exceed "
                f"max_cell_size={max_cell_size} ({detail}{more}) — raise "
                "n_cells or refine_iters; capping would silently "
                "change the survivor set"
            )
    pairs = assign.groupBy("cell").applyInPandas(
        _bucket_threshold_fn(tau), schema=f"id_a {idt}, id_b {idt}, cosine double"
    )
    # pairs emit id_a < id_b, so id_b is exactly "has a smaller-id
    # >= tau partner in its cell" — the dropped set
    dropped = pairs.select(F.col("id_b").alias("id")).distinct()
    out = (
        assign.select("id", "cell")
        .join(dropped.withColumn("hit", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cell",
            F.coalesce(~F.col("hit"), F.lit(True)).alias("kept"),
        )
    )
    if max_cell_size is not None:
        # the result is corpus-SMALL (id, cell, kept — no vectors):
        # materialize it eagerly so the corpus-sized (id, vector, cell)
        # cache the guard created can be released NOW instead of
        # pinning executor storage until the caller's plan is GC'd
        out = out.localCheckpoint(eager=True)
        assign.unpersist()
    return out
