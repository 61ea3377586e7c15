"""Prefix-filtered similarity join + incremental dedup properties.

The load-bearing guarantees:
- prefix filtering is EXACT — its output equals the brute-force
  cross-join definition (completeness: any pair with Jaccard >= tau
  shares a prefix token under any fixed global token order);
- the candidate join never degenerates into a cartesian /
  broadcast-nested-loop plan;
- incremental dedup against an index equals the from-scratch result
  restricted to the batch (the property that lets a 100 TB corpus be
  deduped once and extended per-batch).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_redshift_spark.operators.dedup import (
    incremental_exact_dedup,
    incremental_minhash_pairs,
    minhash_frames,
)
from cdc_redshift_spark.operators.simjoin import (
    jaccard_similarity_join,
    prefix_length,
)
from cdc_redshift_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = load_table(spark, SF_DIR, "documents").limit(200).cache()
    yield d
    d.unpersist()


def brute_pairs(spark, docs, tau):
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
            )
        ).alias("w"),
    )
    a = toks.select(F.col("id").alias("id_a"), F.col("w").alias("wa"))
    b = toks.select(F.col("id").alias("id_b"), F.col("w").alias("wb"))
    inter = F.size(F.array_intersect("wa", "wb"))
    jac = inter / (F.size("wa") + F.size("wb") - inter)
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .where(jac >= tau)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


@pytest.mark.parametrize("tau", [0.5, 0.8, 1.0])
def test_simjoin_equals_bruteforce(spark, docs, tau):
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_similarity_join(docs, tau=tau).collect()
    }
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in brute_pairs(spark, docs, tau).collect()
    }
    assert got == want
    assert want, "fixture must produce at least one qualifying pair"


@pytest.mark.parametrize("tau", [0.5, 0.8, 1.0])
def test_simjoin_equals_bruteforce_under_codegen(
    spark, docs, tau, wholestage_codegen
):
    test_simjoin_equals_bruteforce(spark, docs, tau)


def test_simjoin_rejects_bad_tau(spark, docs):
    for tau in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError):
            jaccard_similarity_join(docs, tau=tau)


def test_prefix_length_bounds():
    # p >= 1 always; tau=1 keeps exactly one token; tau->0 keeps all
    assert prefix_length(1, 0.9) == 1
    assert prefix_length(10, 1.0) == 1
    assert prefix_length(10, 0.9) == 2
    assert prefix_length(10, 0.5) == 6


def test_simjoin_plan_has_no_cartesian(spark, docs):
    plan = jaccard_similarity_join(docs, tau=0.9)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---- incremental dedup ----------------------------------------------------


def test_incremental_exact_matches_scratch(spark, docs):
    from cdc_redshift_spark.functions.text import fingerprint

    ex = docs.where(F.col("doc_id") % 3 != 0)
    ba = docs.where(F.col("doc_id") % 3 == 0)
    index = ex.select(fingerprint(F.col("text")).alias("fp"))
    out = incremental_exact_dedup(index, ba).cache()

    # every batch doc classified exactly once
    assert out.count() == ba.count()
    # dup_of_index rows are precisely the batch fps present in the index
    idx_fps = {r.fp for r in index.distinct().collect()}
    for r in out.collect():
        if r.fp in idx_fps:
            assert r.status == "dup_of_index"
        elif r.id != r.canonical_id:
            assert r.status == "dup_in_batch"
        else:
            assert r.status == "new"

    # idempotence: fold the new fps into the index -> rerun marks
    # EVERY batch doc as dup_of_index or dup_in_batch-of-an-accepted fp
    newly = out.where(F.col("status") == "new").select("fp")
    out2 = incremental_exact_dedup(index.unionByName(newly), ba)
    assert out2.where(F.col("status") != "dup_of_index").count() == 0


def test_incremental_minhash_matches_scratch(spark, docs):
    k, bands, thr = 32, 8, 0.5
    ex = docs.where(F.col("doc_id") % 3 != 0)
    ba = docs.where(F.col("doc_id") % 3 == 0)
    batch_ids = {r.doc_id for r in ba.select("doc_id").collect()}

    inc = incremental_minhash_pairs(
        minhash_frames(ex, k=k),
        minhash_frames(ba, k=k),
        k=k,
        bands=bands,
        jaccard_threshold=thr,
    )
    got = {
        frozenset((r.batch_id, r.match_id)) for r in inc.collect()
    }

    # from-scratch: run the SAME band-join over the whole corpus with
    # an empty "existing" side, keep pairs touching >= 1 batch doc
    all_frames = minhash_frames(docs, k=k)
    empty = all_frames.limit(0)
    full = incremental_minhash_pairs(
        empty, all_frames, k=k, bands=bands, jaccard_threshold=thr
    )
    want = {
        frozenset((r.batch_id, r.match_id))
        for r in full.collect()
        if r.batch_id in batch_ids or r.match_id in batch_ids
    }
    assert got == want
    assert want, "fixture must produce at least one incremental pair"

    # side labels are trustworthy
    for r in inc.collect():
        assert (r.match_side == "batch") == (r.match_id in batch_ids)


def test_incremental_minhash_matches_scratch_under_codegen(
    spark, docs, wholestage_codegen
):
    test_incremental_minhash_matches_scratch(spark, docs)


# ---------------------------------------------------------------------------
# containment join
# ---------------------------------------------------------------------------


def test_containment_finds_quote_inclusion(spark):
    from cdc_redshift_spark.operators.simjoin import containment_join

    quote = "alpha beta gamma delta epsilon zeta"
    page = (
        "intro words here now " + quote + " and much more trailing "
        "content that dilutes jaccard far below any useful threshold "
        "while the quote is fully contained inside this larger page"
    )
    rows = [(1, quote), (2, page), (3, "unrelated text with nothing shared")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_join(df, tau=0.8).collect()
    }
    # the quote's shingles all occur in the page -> containment 1.0
    assert got[(1, 2)] == 1.0
    # the DIRECTED reverse (page in quote) must NOT appear
    assert (2, 1) not in got
    assert all(a != 3 and b != 3 for a, b in got)


def test_containment_equals_brute_force_on_fixture(spark):
    from cdc_redshift_spark.operators.simjoin import (
        _shingle_sets,
        containment_join,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(200)
    tau = 0.6
    fast = {
        (r.id_a, r.id_b): r.containment
        for r in containment_join(docs, tau=tau).collect()
    }
    s = _shingle_sets(docs, "doc_id", "text", 3).where(F.size("toks") >= 1)
    a = s.select(F.col("id").alias("id_a"), F.col("toks").alias("ga"))
    b = s.select(F.col("id").alias("id_b"), F.col("toks").alias("gb"))
    brute = {
        (r.id_a, r.id_b): r.c
        for r in a.crossJoin(b)
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("ga", "gb")) / F.size("ga"), 6
            ).alias("c"),
        )
        .where(F.col("c") >= tau)
        .collect()
    }
    assert fast == brute and len(fast) > 0


def test_containment_equals_brute_force_under_codegen(
    spark, wholestage_codegen
):
    test_containment_equals_brute_force_on_fixture(spark)


def test_containment_short_docs_excluded(spark):
    from cdc_redshift_spark.operators.simjoin import containment_join

    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two"), (3, "a b c d e"), (4, "a b c d e")],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b)
        for r in containment_join(df, tau=0.9).collect()
    }
    # <3-token docs have no shingles and never pair; identical 5-token
    # docs contain each other in BOTH directions
    assert got == {(3, 4), (4, 3)}


def test_simjoin_exact_at_float_boundary_tau(spark):
    """Review r14: tau * sz can round a hair ABOVE the exact integer
    in doubles (0.55*100 == 55.00000000000001), which used to shorten
    the prefix by one and mis-prune the length filter — dropping
    qualifying pairs from a join documented as exact.  Adversarial
    construction: y ⊂ x with jaccard EXACTLY tau, and x's unshared
    tokens all globally rarer than the shared ones, so the pair is
    found only if the prefix really extends to the required length."""
    # prefix-length boundary: tau=0.55, x: 45 unique + 55 shared
    # tokens (sz=100), y: the 55 shared (J = 55/100 = 0.55 exactly).
    # x-only tokens have df=1 (rarest) and fill the first 45 prefix
    # slots; the required 46th slot is the first shared token.
    x = " ".join([f"x{i:02d}" for i in range(45)]
                 + [f"s{i:02d}" for i in range(55)])
    y = " ".join(f"s{i:02d}" for i in range(55))
    docs = spark.createDataFrame(
        [(1, x), (2, y)], "doc_id long, text string"
    )
    got = jaccard_similarity_join(docs, tau=0.55).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(1, 2, 0.55)]

    # length-filter boundary: tau=0.56, A = 56 shared ⊂ B (sz=100):
    # least/greatest = 56/100 = tau exactly; 0.56*100 rounds above 56
    a = " ".join(f"s{i:02d}" for i in range(56))
    b = " ".join([f"b{i:02d}" for i in range(44)]
                 + [f"s{i:02d}" for i in range(56)])
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    got = jaccard_similarity_join(docs, tau=0.56).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(1, 2, 0.56)]


def test_prefix_length_float_boundary():
    """prefix_length must not lose a slot when tau*sz rounds above
    the exact integer (the helper is the property-test oracle, so it
    must make the same rounding choice as the Column expression)."""
    assert prefix_length(100, 0.55) == 46  # 0.55*100 -> 55.000...01
    assert prefix_length(100, 0.56) == 45
    assert prefix_length(10, 0.9) == 2     # unchanged where exact
    assert prefix_length(200, 0.07) == 187  # 0.07*200 -> 14.000...002


def test_containment_rejects_degenerate_shingle_n(spark):
    """n=1 used to silently degenerate each doc's shingle set to its
    LAST token (the unconditional bigram zip_with); it must raise."""
    from cdc_redshift_spark.operators.simjoin import containment_join

    docs = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    for bad in (1, 0, -3):
        with pytest.raises(ValueError, match="shingle n"):
            containment_join(docs, tau=0.5, n=bad)
