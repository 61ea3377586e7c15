"""Property tests for approximate dedup/similarity operators.

The exact operators are oracle-checked by the driver; these pin the
approximate ones (simhash blocking, LSH/IVF recall) against
brute-force baselines on sf0.001.
"""

import pytest
from pyspark.sql import functions as F

from cdc_redshift_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64_from,
    simhash_pairs,
    token_hashes,
)
from cdc_redshift_spark.operators.similarity import (
    knn_all_pairs,
    rh_lsh_topk,
)
from cdc_redshift_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").limit(200).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").limit(200).cache()


def test_simhash_blocking_is_complete(spark, docs):
    """Pigeonhole blocking must find ALL pairs with hamming <= 3
    (4 blocks ⇒ any pair with ≤3 differing bits shares a block)."""
    found = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, max_hamming=3, blocks=4).collect()
    }
    sigs = docs.select(
        F.col("doc_id").alias("id"), token_hashes(F.col("text")).alias("th")
    ).select("id", simhash64_from(F.col("th")).alias("sig"))
    a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sb"))
    brute = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 3)
        .collect()
    }
    assert found == brute


def test_minhash_pairs_subset_of_exact_jaccard(spark, docs):
    """Every LSH-found pair must genuinely meet the jaccard threshold
    (verification step), i.e. minhash output ⊆ exact all-pairs output."""
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.6).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, j in lsh.items():
        assert exact[pair] == j
    # and LSH should find a decent share of the true pairs
    assert len(lsh) >= 0.2 * len(exact)


def test_lsh_topk_recall(spark, emb):
    """LSH ANN recall@3 vs exact kNN ≥ 30% with coarse buckets
    (word of caution, not quality target — random vectors are the
    worst case for LSH; real embeddings cluster)."""
    exact = {
        (r.vec_id, r.neighbor_id)
        for r in knn_all_pairs(emb, k=3).collect()
    }
    approx = {
        (r.vec_id, r.neighbor_id)
        for r in rh_lsh_topk(emb, k=3, n_planes=4, n_tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall={recall}"


def test_knn_is_symmetric_topk(spark, emb):
    """Each vector gets exactly k neighbors, none equal to itself."""
    out = knn_all_pairs(emb, k=3).collect()
    by_vec = {}
    for r in out:
        assert r.vec_id != r.neighbor_id
        by_vec.setdefault(r.vec_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3] for v in by_vec.values())


def test_knn_tiled_matches_broadcast(spark, emb):
    """The distributed tile plan must equal the broadcast fast path
    row-for-row — same top-k, same ranks, same rounded cosines.  A
    small max_collect_rows forces the auto strategy over the driver
    bound onto the tiled path (the scale scenario)."""
    key = lambda r: (r.vec_id, r.rank)  # noqa: E731
    ref = sorted(
        knn_all_pairs(emb, k=3, strategy="broadcast").collect(), key=key
    )
    # auto with a tiny driver bound → must route to the tile plan
    tiled = sorted(
        knn_all_pairs(emb, k=3, max_collect_rows=10).collect(), key=key
    )
    assert [tuple(r) for r in tiled] == [tuple(r) for r in ref]
    # explicit strategy, several block counts (incl. one that leaves
    # some tiles nearly empty)
    for nb in (2, 7):
        got = sorted(
            knn_all_pairs(emb, k=3, strategy="tiled", n_blocks=nb).collect(),
            key=key,
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in ref], nb


def test_ann_oracle_float_margins(spark):
    """The ANN value oracles assume numpy and DuckDB agree after 6-dp
    rounding.  Two failure modes exist in principle: a hyperplane dot
    so close to 0 that the sign (bucket bit) flips on one engine, and
    a cosine landing within float-noise of a 6-dp rounding boundary.
    Assert both margins are comfortably wide on the test corpora so
    the binary hash gate can't fail nondeterministically across BLAS
    builds (ADVICE r2)."""
    import numpy as np

    from cdc_redshift_spark.operators.similarity import hyperplanes
    from cdc_redshift_spark.queries.dedup_q import EMB_PLANES, EMB_TABLES
    from cdc_redshift_spark.queries.similarity import DIM, LSH_PLANES, LSH_TABLES
    from cdc_redshift_spark.sources.tables import load_table

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb = load_table(spark, sf_dir, "embeddings")
        V = np.array(
            [np.asarray(r[0], dtype=np.float64) for r in emb.select("embedding").collect()]
        )
        planes = []
        for m, L in ((LSH_PLANES, LSH_TABLES), (EMB_PLANES, EMB_TABLES)):
            for t in range(L):
                planes.extend(hyperplanes(DIM, m, seed=7 + 101 * t))
        P = np.array(planes, dtype=np.float64)
        dots = V @ P.T
        # sign-flip margin: |dot| far above the ~1e-13 cross-engine
        # summation noise floor
        assert np.abs(dots).min() > 1e-6, np.abs(dots).min()

        n = np.sqrt(np.einsum("ij,ij->i", V, V))
        cos = (V @ V.T) / np.outer(n, n)
        iu = np.triu_indices(len(V), 1)
        frac = np.abs(np.mod(cos[iu] * 1e6, 1.0) - 0.5)
        # rounding-boundary margin: no pair cosine within 1e-7 of a
        # half-ulp-at-6dp boundary (noise floor ~1e-9)
        assert frac.min() > 1e-7, frac.min()


def test_minhash_frames_matches_column_formulation(spark, docs):
    """The Arrow-batched minhash pass (Python md5 + numpy LCG perms)
    must be numerically identical to the pure-Column formulation it
    replaced in the hot path — shingle hash lists (sorted, hash-level
    duplicates preserved) and all k signature minima."""
    from cdc_redshift_spark.operators.dedup import minhash_frames, minhash_signatures

    old = {r["id"]: (list(r["sh"]), list(r["sig"])) for r in minhash_signatures(docs).collect()}
    new = {r["id"]: (list(r["sh"]), list(r["sig"])) for r in minhash_frames(docs).collect()}
    assert old == new


def test_minhash_array_fallback_matches_bitmap_path(spark, docs):
    """Forcing the vocabulary over the bitmap cap exercises the
    unbounded-vocabulary fallback (slice-value band join +
    array_intersect verify); both paths must produce identical pairs."""
    fast = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.6).collect()
    }
    slow = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(
            docs, jaccard_threshold=0.6, bitmap_dict_max=1
        ).collect()
    }
    assert fast == slow


def test_minhash_array_fallback_under_codegen(spark, docs, wholestage_codegen):
    test_minhash_array_fallback_matches_bitmap_path(spark, docs)


def test_minhash_bucket_cap_drops_template_megabucket(spark):
    """With max_bucket_size set, pairs whose FIRST colliding band
    lands in an oversized bucket are dropped — identical template docs
    collide in every band, so band 0 (size 30 > cap 10) claims and
    drops all their pairs, while a genuine near-dup pair outside the
    mega-bucket survives.  Both the bitmap-GEMM path and the array
    fallback must implement the same rule."""
    template = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, template) for i in range(30)]
    rows += [
        (100, "a completely different passage about spark execution engines"),
        (101, "a completely different passage about spark execution engine"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for extra in ({}, {"bitmap_dict_max": 1}):  # bitmap path / fallback
        capped = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(
                df, jaccard_threshold=0.5, max_bucket_size=10, **extra
            ).collect()
        }
        assert (100, 101) in capped
        assert all(a >= 100 for a, _ in capped), extra
    # sanity: uncapped finds the full template clique
    uncapped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, jaccard_threshold=0.5).collect()
    }
    assert {(a, b) for a in range(30) for b in range(a + 1, 30)} <= uncapped


def test_minhash_bucket_cap_matches_duckdb_oracle(spark, docs):
    """First-band-decides semantics, pinned cross-engine: on a
    template-heavy corpus with a cap small enough to trim NATURAL
    buckets too (cap=8), the Spark pair set must equal the DuckDB
    `_capped_cand_cte` oracle bit-for-bit."""
    import duckdb
    import pandas as pd

    from cdc_redshift_spark.queries.dedup_q import _oracle_minhash

    template = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    base = docs.limit(120).select("doc_id", "text").toPandas()
    rows = list(base.itertuples(index=False, name=None)) + [
        (1_000_000 + i, template) for i in range(40)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(
            corpus, jaccard_threshold=0.6, max_bucket_size=8
        ).collect()
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {tuple(r) for r in con.execute(_oracle_minhash(cap=8)).fetchall()}
    assert got == want


def test_empty_inputs_yield_empty_results(spark, docs, emb):
    """Operators must tolerate empty inputs (a filter upstream can
    always produce zero rows) without planning errors."""
    from cdc_redshift_spark.operators.dedup import exact_dedup
    from cdc_redshift_spark.operators.similarity import ivf_topk

    no_docs = docs.where("doc_id < 0")
    no_emb = emb.where("vec_id < 0")
    assert minhash_lsh_pairs(no_docs, jaccard_threshold=0.6).count() == 0
    assert simhash_pairs(no_docs).count() == 0
    assert exact_dedup(no_docs).count() == 0
    assert rh_lsh_topk(no_emb, k=3, n_planes=4, n_tables=8, dim=64).count() == 0
    assert ivf_topk(no_emb, k=3, n_cells=8, n_probe=2).count() == 0


def test_minhash_frames_unicode_whitespace_parity(spark):
    """Java's \\s is ASCII-only while Python's is unicode-aware: a
    non-breaking space (U+00A0) must survive normalization identically
    in the Arrow pass and the Column formulation (and thus the DuckDB
    oracle)."""
    from cdc_redshift_spark.operators.dedup import minhash_frames, minhash_signatures

    rows = [
        (1, "hello world"),          # NBSP: NOT whitespace to Java
        (2, "hello world"),
        (3, "  tabs\tand\nnewlines  "),
        (4, " edge nbsp "),      # NBSP at edges: trim keeps it
        (5, "mixed   run"),
        # ASCII control chars at the edges: since SPARK-17299 trim
        # strips ONLY space, so \x01/\x1f must SURVIVE on both engines
        (6, "\x01hello\x1f"),
        (7, "hello"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old = {r["id"]: (list(r["sh"]), list(r["sig"])) for r in minhash_signatures(df).collect()}
    new = {r["id"]: (list(r["sh"]), list(r["sig"])) for r in minhash_frames(df).collect()}
    assert old == new
    # and NBSP genuinely distinguishes docs (it wasn't collapsed away)
    assert old[1][0] != old[2][0]
    assert old[6][0] != old[7][0]


def test_connected_components_chain_and_singletons(spark):
    """Min-label propagation handles multi-hop chains (diameter > 1)
    and leaves singletons as their own cluster."""
    from cdc_redshift_spark.operators.dedup import connected_components

    ids = spark.createDataFrame([(i,) for i in range(1, 9)], "id long")
    # chain 1-2-3-4-5 (diameter 4), pair 6-7, singleton 8
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(ids, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 6, 8: 8}


def test_contrastive_negatives_properties(spark, emb):
    from cdc_redshift_spark.operators.similarity import contrastive_negatives

    out = contrastive_negatives(emb, k_neg=4, n_shards=8).collect()
    rows = {(r.anchor_id, r.neg_id, r.j) for r in out}
    # deterministic: a second run is identical
    out2 = contrastive_negatives(emb, k_neg=4, n_shards=8).collect()
    assert rows == {(r.anchor_id, r.neg_id, r.j) for r in out2}
    # no self-pairs; per anchor: exactly min(k, sz-1) DISTINCT negatives
    per_anchor: dict = {}
    for a, n, j in rows:
        assert a != n
        assert 1 <= j <= 4
        per_anchor.setdefault(a, set()).add(n)
    n_anchors = emb.count()
    assert len(per_anchor) == n_anchors
    # shards here hold ~60+ vectors, so every anchor gets the full 4
    # distinct partners (without replacement — the ring-offset proof)
    assert all(len(negs) == 4 for negs in per_anchor.values())


def test_contrastive_negatives_small_shards(spark):
    from cdc_redshift_spark.operators.similarity import contrastive_negatives

    tiny = spark.createDataFrame([(i,) for i in range(7)], "vec_id long")
    out = contrastive_negatives(tiny, k_neg=4, n_shards=3).collect()
    per_anchor: dict = {}
    for r in out:
        assert r.anchor_id != r.neg_id
        per_anchor.setdefault(r.anchor_id, []).append(r.neg_id)
    for a, negs in per_anchor.items():
        assert len(negs) == len(set(negs))  # without replacement
        assert len(negs) <= 4
