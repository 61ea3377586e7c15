"""Semantics tests for the corpus-pipeline operators (decontamination,
repetition rules, stratified sampling).  Values are oracle-checked by
the driver gate; these pin the behavioral contracts on handcrafted
corpora."""

from pyspark.sql import functions as F

from cdc_redshift_spark.operators.corpus import (
    PPM,
    decontaminate,
    repetition_stats,
    stratified_sample,
)

EVAL_SENT = "the midterm exam answer key is seven eight nine ten"
BOILER = "copyright notice all rights reserved by the publisher anon"


def test_decontaminate_flags_verbatim_overlap(spark):
    train = spark.createDataFrame(
        [
            (1, f"some filler text then {EVAL_SENT} and a tail"),
            (2, "a completely clean training document with no overlap at all"),
            (3, f"prefix {BOILER} suffix words here"),  # boilerplate only
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        # the boilerplate line appears in ALL eval docs -> df cap drops it
        [(100 + i, f"{EVAL_SENT if i == 0 else 'unrelated eval doc ' + str(i)} {BOILER}") for i in range(4)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.contaminated_grams, r.eval_docs_hit)
        for r in decontaminate(train, ev, n=8, max_gram_df=2).collect()
    }
    # doc 1 shares the 10-token eval sentence => three 8-grams, 1 eval doc
    assert out[1] == (3, 1)
    # doc 2 is clean; doc 3 only matches the df-capped boilerplate
    assert 2 not in out and 3 not in out
    # without the cap, doc 3 is flagged (the cap is what protects it)
    uncapped = {r.doc_id for r in decontaminate(train, ev, n=8).collect()}
    assert 3 in uncapped


def test_repetition_stats_known_ratios(spark):
    df = spark.createDataFrame(
        [
            # 6 tokens: "a b a b a c" -> ttr 4/6? no: distinct {a,b,c}=3/6
            # top unigram a: 3/6; bigrams: [a b, b a, a b, b a, a c] -> 2/5
            (1, "a b a b a c"),
            # 3 identical lines of 1 token each
            (2, "x\nx\nx"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    r1 = out[1]
    assert r1.tokens == 6
    assert r1.ttr == 0.5
    assert r1.dup_line_frac == 0.0
    assert r1.top_unigram_frac == 0.5
    assert r1.top_bigram_frac == 0.4
    r2 = out[2]
    assert r2.dup_line_frac == round(2 / 3, 6)
    assert r2.ttr == round(1 / 3, 6)


def test_stratified_sample_nested_and_deterministic(spark):
    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "web").otherwise("code").alias("source"),
    )
    lo = stratified_sample(df, {"web": 100_000, "code": 0}, default_ppm=0)
    hi = stratified_sample(df, {"web": 300_000, "code": 0}, default_ppm=0)
    lo_ids = {r.doc_id for r in lo.collect()}
    hi_ids = {r.doc_id for r in hi.collect()}
    # nested: raising a rate strictly grows the sample
    assert lo_ids <= hi_ids
    # zero-rate stratum contributes nothing
    assert all(i % 2 == 0 for i in hi_ids)
    # rate approximately honored (2000 web docs, +-50% tolerance at 10%)
    assert 100 <= len(lo_ids) <= 300
    # deterministic: a second run is identical
    assert {r.doc_id for r in lo.collect()} == lo_ids
    # unknown strata use default_ppm
    other = stratified_sample(
        df.withColumn("source", F.lit("new")), {"web": PPM}, default_ppm=PPM
    )
    assert other.count() == 4000


def test_source_cap_exact_salted_and_nested(spark):
    from cdc_redshift_spark.operators.corpus import source_cap

    rows = [(i, "web" if i % 10 else "books") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    kept = source_cap(df, cap=50, salt=None)
    by_src = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # web has 450 docs -> capped at 50; books has 50 -> all kept
    assert by_src == {"web": 50, "books": 50}

    # salted two-phase form is EXACT (same kept set, any salt)
    plain_ids = {r["doc_id"] for r in kept.collect()}
    for salt in (2, 7):
        salted_ids = {
            r["doc_id"] for r in source_cap(df, cap=50, salt=salt).collect()
        }
        assert salted_ids == plain_ids, salt

    # nested: raising the cap keeps every previously selected row
    bigger = {r["doc_id"] for r in source_cap(df, cap=120).collect()}
    assert plain_ids < bigger

    # deterministic across invocations
    again = {r["doc_id"] for r in source_cap(df, cap=50).collect()}
    assert again == plain_ids

    import pytest as _pytest

    with _pytest.raises(ValueError):
        source_cap(df, cap=0)
    with _pytest.raises(ValueError):
        source_cap(df, cap=5, salt=1)


def test_word_ngram_hash_rows_parity(spark):
    """The Arrow fast path must emit EXACTLY the rows of the Column
    form explode(word_ngram_hashes(...)) — same normalize, window
    clamp, dedup, and md5-prefix hash."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.operators.corpus import (
        word_ngram_hash_rows,
        word_ngram_hashes,
    )
    from cdc_redshift_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    col_form = {
        (r["tid"], r["g"])
        for r in docs.select(
            F.col("doc_id").alias("tid"),
            F.explode(word_ngram_hashes(F.col("text"), 5)).alias("g"),
        ).collect()
    }
    arrow_form = {
        (r["tid"], r["g"])
        for r in word_ngram_hash_rows(docs, 5).collect()
    }
    assert col_form == arrow_form and len(col_form) > 0


def test_word_ngram_hash_rows_short_doc_clamp(spark):
    """Documents shorter than n tokens yield their whole token run as
    the single gram — both paths."""
    from cdc_redshift_spark.operators.corpus import word_ngram_hash_rows

    df = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
    rows = word_ngram_hash_rows(df, 8).collect()
    assert len(rows) == 1


def test_corpus_split_stability_under_growth(spark):
    """A document's split NEVER changes when the corpus grows — the
    hash-based (not row-number) property incremental corpora need."""
    from cdc_redshift_spark.operators.corpus import corpus_split

    ratios = {"train": 0.8, "val": 0.1, "test": 0.1}
    small = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    big = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    s_small = {r["doc_id"]: r["split"] for r in corpus_split(small, ratios).collect()}
    s_big = {r["doc_id"]: r["split"] for r in corpus_split(big, ratios).collect()}
    assert all(s_big[d] == s for d, s in s_small.items())
    # rough proportions on the big deal
    import collections

    c = collections.Counter(s_big.values())
    assert 0.7 < c["train"] / 1000 < 0.9
    # a different salt re-deals at least some assignments
    s_salt = {
        r["doc_id"]: r["split"]
        for r in corpus_split(big, ratios, salt="v2").collect()
    }
    assert any(s_salt[d] != s_big[d] for d in s_big)


def test_corpus_split_ratio_validation(spark):
    import pytest

    from cdc_redshift_spark.operators.corpus import corpus_split

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="sum to 1"):
        corpus_split(df, {"train": 0.5, "test": 0.1})


# ---------------------------------------------------------------------------
# round 7: leakage-safe split + budget select
# ---------------------------------------------------------------------------


def test_budget_select_equals_naive_prefix(spark):
    """The two-phase histogram plan must compute EXACTLY the naive
    global quality-desc prefix under the budget, including hash tie
    order inside the boundary quality value."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cdc_redshift_spark.operators.corpus import (
        corpus_budget_select,
        stable_hash60,
    )

    rows = [(i, float((i * 7) % 5) / 10.0, 10 + (i * 3) % 17) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, quality double, n_tokens long")
    for budget in (0, 37, 500, 1500, 10**9):
        got = {
            r.doc_id
            for r in corpus_budget_select(df, budget).collect()
        }
        tie = stable_hash60(
            F.concat(F.lit("budget:"), F.col("doc_id").cast("string"))
        )
        w = (
            Window.orderBy(
                F.col("quality").desc(), tie.asc(), F.col("doc_id").asc()
            ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        want = {
            r.doc_id
            for r in df.withColumn("c", F.sum("n_tokens").over(w))
            .where(F.col("c") <= budget)
            .collect()
        }
        assert got == want, budget
    import pytest

    with pytest.raises(ValueError, match="budget_tokens"):
        corpus_budget_select(df, -1)


def test_leakage_safe_split_with_minhash_pairs(spark):
    """End-to-end with REAL near-dup pairs: every minhash cluster
    lands whole in one split; singletons keep their plain per-doc
    assignment (grow-stability)."""
    from pyspark.sql import functions as F

    from cdc_redshift_spark.operators.corpus import (
        corpus_split,
        corpus_split_leakage_safe,
    )
    from cdc_redshift_spark.operators.dedup import minhash_lsh_pairs

    base = [
        (i, f"unique document number {i} with its own words {i * 17}")
        for i in range(40)
    ]
    dups = [
        (100 + i, "a shared near duplicate text body repeated verbatim here")
        for i in range(6)
    ]
    docs = spark.createDataFrame(base + dups, "doc_id long, text string")
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.9).select(
        F.col("id_a"), F.col("id_b")
    )
    ratios = {"train": 0.5, "val": 0.25, "test": 0.25}
    out = corpus_split_leakage_safe(docs, ratios, pairs)
    splits = {r.doc_id: r.split for r in out.collect()}
    assert len(splits) == 46
    dup_splits = {splits[100 + i] for i in range(6)}
    assert len(dup_splits) == 1, dup_splits
    # singleton docs keep exactly the plain per-doc hash assignment
    plain = {
        r.doc_id: r.split
        for r in corpus_split(docs, ratios).collect()
    }
    clustered = {p for r in pairs.collect() for p in (r.id_a, r.id_b)}
    for i in range(40):
        if i not in clustered:
            assert splits[i] == plain[i]


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------


def test_dsir_separates_target_vocab(spark):
    from cdc_redshift_spark.operators.corpus import dsir_logweights
    from pyspark.sql import functions as F

    # target docs speak "aa bb", raw-only docs speak "xx yy"; a fresh
    # target-speaking doc must outscore a raw-speaking one
    rows = (
        [(i, "aa bb aa bb aa", 1) for i in range(10)]
        + [(100 + i, "xx yy xx yy xx", 0) for i in range(10)]
        + [(900, "aa bb aa", 0), (901, "xx yy xx", 0)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt int")
    w = {
        r.doc_id: r.logw
        for r in dsir_logweights(df, F.col("tgt") == 1).collect()
    }
    assert len(w) == 22
    assert w[900] > w[901]


def test_dsir_gram_count_and_degenerate_docs(spark):
    from cdc_redshift_spark.operators.corpus import dsir_logweights
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a b c d", 1), (2, "", 0), (3, "solo", 0)],
        "doc_id long, text string, tgt int",
    )
    rows = {
        r.doc_id: r
        for r in dsir_logweights(df, F.col("tgt") == 1).collect()
    }
    # 4 unigrams + 3 bigrams
    assert rows[1].n_grams == 7
    assert rows[2].n_grams == 0 and rows[2].logw == 0.0
    # single token: 1 unigram, no bigrams
    assert rows[3].n_grams == 1


def test_lm_nll_prefers_fluent_text(spark):
    from cdc_redshift_spark.operators.corpus import ngram_lm_nll
    from pyspark.sql import functions as F

    # the LM trains on "the cat sat on the mat" prose; a doc of SEEN
    # bigrams must score lower nll than a doc of never-seen bigrams
    rows = (
        [(i, "the cat sat on the mat", 1) for i in range(10)]
        + [(900, "the cat sat", 0), (901, "zz qq ww", 0)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, tr int")
    out = {
        r.doc_id: r
        for r in ngram_lm_nll(df, F.col("tr") == 1).collect()
    }
    assert len(out) == 12
    assert out[900].nll < out[901].nll
    # 3 tokens -> 2 transitions
    assert out[900].n_trans == 2


def test_lm_nll_degenerate_docs(spark):
    from cdc_redshift_spark.operators.corpus import ngram_lm_nll
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a b", 1), (2, "", 0), (3, "solo", 0), (4, None, 0)],
        "doc_id long, text string, tr int",
    )
    rows = {
        r.doc_id: r
        for r in ngram_lm_nll(df, F.col("tr") == 1).collect()
    }
    assert rows[1].n_trans == 1
    for d in (2, 3, 4):  # <2 tokens: no transitions, nll 0
        assert rows[d].n_trans == 0 and rows[d].nll == 0.0


def test_temperature_mix_equals_naive_prefix(spark):
    """The bucket-histogram plan must equal the naive per-source
    hash-ordered running-sum prefix bit-for-bit."""
    from pyspark.sql import Window

    from cdc_redshift_spark.operators.corpus import (
        stable_hash60,
        temperature_mix,
    )

    rows = [
        (i, f"s{i % 3}", 10 + (i * 7) % 23) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = temperature_mix(df, 1500, n_buckets=16)
    got = {(r.doc_id, r.src_budget) for r in out.collect()}

    budgets = {r.source: r.src_budget for r in out.select("source", "src_budget").distinct().collect()}
    tie = stable_hash60(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy(tie.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = df.withColumn("__cum", F.sum("n_tokens").over(w))
    want = set()
    for r in naive.collect():
        b = budgets.get(r.source)
        if b is not None and r["__cum"] <= b:
            want.add((r.doc_id, b))
    assert got == want and len(got) > 0


def test_temperature_mix_upsamples_small_sources(spark):
    """alpha=0.5 must give the small source a LARGER share of the
    selection than its share of the corpus (the whole point of
    temperature smoothing)."""
    from cdc_redshift_spark.operators.corpus import temperature_mix

    rows = [(i, "big", 10) for i in range(900)] + [
        (1000 + i, "small", 10) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = temperature_mix(df, 5000).groupBy("source").count().collect()
    got = {r.source: r["count"] for r in out}
    # natural shares: 90% / 10%.  sqrt shares: 0.75 / 0.25
    assert got["small"] / (got["small"] + got["big"]) > 0.2


def test_temperature_mix_validation(spark):
    import pytest

    from cdc_redshift_spark.operators.corpus import temperature_mix

    df = spark.createDataFrame(
        [(1, "a", 5)], "doc_id long, source string, n_tokens long"
    )
    with pytest.raises(ValueError):
        temperature_mix(df, -1)
    with pytest.raises(ValueError):
        temperature_mix(df, 10, n_buckets=100)  # not a power of 2


def test_corpus_token_drift_oov_and_identity(spark, tmp_path):
    """corpus_token_drift: identical halves score psi 0 (every cell's
    p_ref == p_cur); a current-only token lands in the OOV cell and
    moves psi off zero; tokens absent from the reference half never
    enter the vocabulary.  doc_id 0..3 -> midpoint 1: ids {0,1} ref."""
    from cdc_redshift_spark.queries.corpus_q import q_corpus_token_drift

    rows = [
        # source "same": late half repeats the early half exactly
        (0, "alpha alpha beta", "en", "same", 15),
        (2, "alpha alpha beta", "en", "same", 15),
        # source "shift": "zeta" appears only in the late half -> OOV
        (1, "alpha alpha beta", "en", "shift", 15),
        (3, "alpha zeta zeta", "en", "shift", 14),
        # source "new": first seen in the late half -- must surface as
        # an all-OOV maximal-drift row, not vanish
        (3, "omega omega", "en", "new", 11),
        # a literal __oov__ corpus token must not collide with the
        # OOV bucket (spaced sentinel) or double-count its grid cell
        (0, "__oov__ alpha", "en", "lit", 13),
        (2, "__oov__ alpha", "en", "lit", 13),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["source"]: r
        for r in q_corpus_token_drift(spark, str(tmp_path)).collect()
    }
    assert out["same"]["psi"] == 0.0 and out["same"]["drift"] is False
    assert out["same"]["n_ref"] == 3 and out["same"]["n_cur"] == 3
    assert out["shift"]["psi"] > 0.0
    assert out["shift"]["n_ref"] == 3 and out["shift"]["n_cur"] == 3
    assert out["new"]["n_ref"] == 0 and out["new"]["n_cur"] == 2
    assert out["new"]["psi"] > 0.0
    # exact token totals prove the literal __oov__ cell counted once
    assert out["lit"]["n_ref"] == 2 and out["lit"]["n_cur"] == 2
    assert out["lit"]["psi"] == 0.0
