"""Corpus-level training-data operations: decontamination, repetition
quality rules, deterministic stratified sampling.

The reference has no corpus operators (its payloads are opaque SUPER
JSON — SURVEY §0); these are the LLM-training-pipeline extensions a
100 TB corpus actually needs before data reaches a tokenizer:

- :func:`decontaminate` — benchmark decontamination: flag training
  documents sharing any word n-gram with an eval/benchmark corpus
  (the GPT-3/PaLM-style 8-to-13-gram overlap rule).
- :func:`repetition_stats` — Gopher/MassiveText-style repetition
  signals (duplicate-line fraction, type-token ratio, top-unigram /
  top-bigram mass) used as quality filters.
- :func:`stratified_sample` — deterministic per-stratum Bernoulli
  sampling for training-mix construction; engine-stable hash, no RNG
  state, reproducible across runs and engines.

Everything is built-in-Column / DataFrame work (JVM codegen); the only
per-value computation is md5, which Spark and DuckDB evaluate
identically (same 60-bit prefix trick as operators/dedup.py
`token_hashes`), so every operator here carries a full value oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cdc_redshift_spark.functions.text import normalize_text, regex_words

#: Modulus for deterministic sampling buckets (rates in parts-per-million).
PPM = 1_000_000

#: Arrow fast paths flush output every ~this many rows (memory bound).
_FLUSH_ROWS = 200_000


def stable_hash60(col: Column) -> Column:
    """60-bit engine-stable hash: first 15 hex chars of md5 as int.

    Identical in DuckDB as ``('0x' || substr(md5(c), 1, 15))::BIGINT``
    — the same construction simhash's ``token_hashes`` uses, so
    sampling decisions and gram joins mirror bit-for-bit across
    engines (unlike xxhash64/murmur3, which are engine-specific).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def source_cap(
    df: DataFrame,
    cap: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: int | None = None,
) -> DataFrame:
    """Per-source document cap: keep at most ``cap`` rows per
    ``strata_col`` value, chosen by a deterministic engine-stable
    priority (``stable_hash60(id)``, ties broken by id).

    The domain-cap primitive of web-corpus pipelines (bounding any one
    domain's share of the training mix, as in MassiveText/RefinedWeb):
    hash-priority selection is an unbiased uniform draw per source, is
    reproducible across runs/engines/cluster sizes, and is NESTED —
    raising the cap keeps every previously selected row (the kept set
    is always the cap-smallest priorities).

    Scale: one window shuffle on ``strata_col``.  A dominant source
    (the exact case caps exist for) makes that window hot; ``salt``
    switches to the two-phase form — phase 1 keeps the per-(source,
    hash-salt) top-``cap``, phase 2 re-selects the top-``cap`` of the
    ≤ ``salt·cap`` survivors — exact (global top-K is contained in the
    union of per-bucket top-Ks) with task size bounded by rows/salt.
    """
    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    prio = stable_hash60(F.col(id_col).cast("string"))
    order = [prio.asc(), F.col(id_col).asc()]

    def top_cap(frame: DataFrame, parts: list[str]) -> DataFrame:
        w = Window.partitionBy(*parts).orderBy(*order)
        return (
            frame.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= cap)
            .drop("__rn")
        )

    if salt is not None:
        if salt <= 1:
            raise ValueError(f"salt must be > 1, got {salt}")
        df = (
            df.withColumn(
                "__salt",
                F.pmod(stable_hash60(F.concat(F.lit("s:"), F.col(id_col).cast("string"))), F.lit(salt)),
            )
            .transform(lambda d: top_cap(d, [strata_col, "__salt"]))
            .drop("__salt")
        )
    return top_cap(df, [strata_col])


def word_ngrams(text_col: Column, n: int, distinct: bool = True) -> Column:
    """Word n-gram array of the normalized text, all JVM-side: slice a
    window of n tokens at each position and re-join with single
    spaces.  Documents shorter than n tokens yield their whole token
    run as the single gram (mirrors the DuckDB ``list_slice`` clamp).
    """
    toks = F.split(normalize_text(text_col), " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.array_distinct(grams) if distinct else grams


def word_ngram_hashes(text_col: Column, n: int) -> Column:
    """60-bit hashes of the distinct word n-grams (decontamination
    join keys — 8 bytes shuffled per gram instead of ~8 words)."""
    return F.transform(word_ngrams(text_col, n), stable_hash60)


def word_ngram_hash_rows(
    df: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_id: str = "tid",
) -> DataFrame:
    """(id, g) rows of distinct word n-gram hashes — the Arrow fast
    path for ``explode(word_ngram_hashes(...))``.

    Produces EXACTLY the same rows (normalize → split → n-token window
    → md5-prefix 60-bit hash; parity pinned by tests/test_corpus_ops),
    measured ~5× faster at sf0.1: Spark evaluates higher-order array
    functions (transform + slice + concat_ws) interpreted per element,
    and profiling showed the gram-ARRAY construction — not hashing,
    not the join — dominating decontamination wall time (3.6 s of a
    5.8 s query).  mapInPandas streams Arrow batches with per-document
    state only, so the path scales like any narrow map.  The Column
    form stays canonical for composition and the oracles.

    Normalization is the shared JVM-parity mirror
    (``functions.text.py_normalize_text``); NULL text emits no rows
    (same as exploding a NULL gram array); output flushes every
    ~``_FLUSH_ROWS`` gram rows so worker memory is bounded regardless
    of Arrow batch size.
    """
    from cdc_redshift_spark.functions.text import py_normalize_text

    def gen(batches):
        import hashlib

        import pandas as pd

        ids: list = []
        hs: list = []
        for pdf in batches:
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = py_normalize_text(text).split(" ")
                top = max(len(toks) - n + 1, 1)
                seen = set()
                for i in range(top):
                    g = " ".join(toks[i : i + n])
                    if g not in seen:
                        seen.add(g)
                        ids.append(did)
                        hs.append(
                            int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                        )
                if len(ids) >= _FLUSH_ROWS:
                    yield pd.DataFrame({out_id: ids, "g": hs})
                    ids, hs = [], []
        if ids:
            yield pd.DataFrame({out_id: ids, "g": hs})

    idt = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        gen, f"{out_id} {idt}, g long"
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_gram_df: int | None = None,
) -> DataFrame:
    """Benchmark decontamination: per training document, the number of
    distinct word n-grams shared with the eval corpus and the number
    of eval documents hit.  A training doc appearing here at all is
    "contaminated" under the standard n-gram overlap rule; callers
    pick the drop threshold.

    Plan (inverted-index join — the ngram_jaccard shape):
      1. both corpora explode to (gram-hash, id) rows via the Arrow
         fast path (:func:`word_ngram_hash_rows` — same hashes as the
         Column form, ~5× cheaper to construct);
      2. optional ``max_gram_df`` drops eval grams appearing in more
         than that many eval docs (boilerplate headers/licenses —
         they'd otherwise be a skewed join key AND a false
         contamination signal);
      3. one hash-partitioned join on the 8-byte gram key.  The eval
         side is a benchmark corpus — typically MBs — so AQE
         broadcasts it and the "join" costs one scan of the train
         side; with a huge eval side the plan degrades to a plain
         shuffled hash join, still one shuffle per side.

    Scale: shuffled bytes are O(total distinct grams) × 8 bytes + ids;
    no pair stream (the per-(tid) aggregate runs on join output that
    is already distinct in (tid, g, eid)).
    """
    tg = word_ngram_hash_rows(
        train, n, id_col=id_col, text_col=text_col, out_id="tid"
    )
    eg = word_ngram_hash_rows(
        eval_df, n, id_col=id_col, text_col=text_col, out_id="eid"
    )
    if max_gram_df is not None:
        # gram document-frequency as ONE window over the gram key —
        # (eid, g) is already distinct (per-doc grams are deduped), so
        # count(*) per gram == count_distinct(eid).  Replaces the
        # aggregate + self-join form, which recomputed the whole eval
        # gram lineage twice and added a second shuffle.
        wg = Window.partitionBy("g")
        eg = (
            eg.withColumn("_df", F.count(F.lit(1)).over(wg))
            .where(F.col("_df") <= max_gram_df)
            .drop("_df")
        )
    return (
        tg.join(eg, "g")
        .groupBy("tid")
        .agg(
            F.count_distinct("g").alias("contaminated_grams"),
            F.count_distinct("eid").alias("eval_docs_hit"),
        )
        .select(
            F.col("tid").alias(id_col), "contaminated_grams", "eval_docs_hit"
        )
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition/quality signals (the Gopher rules a
    training pipeline filters on):

    - ``tokens``: whitespace token count of the normalized text;
    - ``ttr``: type-token ratio (distinct/total — low = repetitive);
    - ``dup_line_frac``: fraction of lines that are repeats of an
      earlier line (0 for single-line docs);
    - ``top_unigram_frac`` / ``top_bigram_frac``: share of all
      unigram/bigram occurrences taken by the most frequent one.

    ttr and dup_line_frac are pure Column expressions; the top-gram
    fractions need per-gram frequencies, so each n explodes to
    (id, gram) and aggregates — groupBy on (id, gram) then id, both
    hash-partitioned on id first, so at scale this is two narrow
    shuffles of gram-hash-sized rows, no skew beyond document length.
    All ratios round to 6 dp for engine parity (int/int division is
    exactly rounded in IEEE double on both engines).
    """
    norm = normalize_text(F.col(text_col))
    toks = F.split(norm, " ")
    lines = F.split(F.col(text_col), "\n")
    base = df.select(
        F.col(id_col),
        F.size(toks).alias("tokens"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("ttr"),
        F.round(
            (F.size(lines) - F.size(F.array_distinct(lines)))
            / F.size(lines),
            6,
        ).alias("dup_line_frac"),
    )

    def top_frac(n: int, out: str) -> DataFrame:
        grams = df.select(
            F.col(id_col),
            F.explode(word_ngrams(F.col(text_col), n, distinct=False)).alias("g"),
        )
        per_gram = grams.groupBy(id_col, "g").agg(F.count("*").alias("c"))
        return per_gram.groupBy(id_col).agg(
            F.round(F.max("c") / F.sum("c"), 6).alias(out)
        )

    return (
        base.join(top_frac(1, "top_unigram_frac"), id_col)
        .join(top_frac(2, "top_bigram_frac"), id_col)
    )


def stratified_sample(
    df: DataFrame,
    rates_ppm: dict[str, int],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_ppm: int = 0,
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample: keep a row iff
    ``stable_hash60(id) % 1e6 < rates_ppm[stratum]``.

    The training-mix primitive: rates are parts-per-million per
    stratum value (integer — no float thresholds to straddle), the
    hash is engine-stable and keyed on the row id, so the sample is
    reproducible across runs, engines, and cluster sizes, and a
    rate increase strictly grows the previous sample (nested samples
    — raising web 10% → 20% keeps every previously selected row).
    Strata absent from ``rates_ppm`` fall back to ``default_ppm``.

    Scale: a pure codegen filter on the scan — no shuffle, no RNG
    state, no seed coordination across executors.
    """
    rate = F.lit(default_ppm)
    for key, ppm in sorted(rates_ppm.items()):
        rate = F.when(F.col(strata_col) == key, F.lit(int(ppm))).otherwise(rate)
    bucket = F.pmod(stable_hash60(F.col(id_col).cast("string")), F.lit(PPM))
    return df.where(bucket < rate)


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into token-budget chunks with overlap —
    the context-window prep step of an LLM training pipeline.

    Tokens are whitespace words of the normalized text; chunk ``i``
    covers tokens ``[i*stride, i*stride + max_tokens)`` with
    ``stride = max_tokens - overlap``, so consecutive chunks share
    ``overlap`` tokens and every token is covered.  Documents at or
    under the budget yield exactly one chunk.

    Output: ``doc_id, chunk_id, chunk_text, n_tokens`` (one row per
    chunk).  All math is integer (ceil via ``(x + stride-1) / stride``
    on positive ints) and the explode is ``sequence`` + ``transform``
    inside whole-stage codegen — a pure scan-side flatMap, no shuffle,
    no Python.
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"need 0 <= overlap < max_tokens, got {overlap}/{max_tokens}"
        )
    from cdc_redshift_spark.functions.text import normalize_text

    stride = max_tokens - overlap
    toks = F.split(normalize_text(F.col(text_col)), " ")
    n = F.size(toks)
    nch = F.when(n <= max_tokens, F.lit(1)).otherwise(
        F.floor((n - max_tokens + stride - 1) / stride) + 1
    )
    chunk = F.explode(
        F.sequence(F.lit(0).cast("long"), nch.cast("long") - 1)
    ).alias("chunk_id")
    return (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"), chunk)
        .select(
            "doc_id",
            "chunk_id",
            F.array_join(
                F.slice(
                    "__toks",
                    (F.col("chunk_id") * stride + 1).cast("int"),
                    max_tokens,
                ),
                " ",
            ).alias("chunk_text"),
            F.size(
                F.slice(
                    "__toks",
                    (F.col("chunk_id") * stride + 1).cast("int"),
                    max_tokens,
                )
            )
            .cast("long")
            .alias("n_tokens"),
        )
    )


def pack_token_stream(
    df: DataFrame,
    budget: int,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concatenate-and-chop sequence packing: map every document to
    its position in fixed-``budget`` training sequences.

    The standard GPT-style packing: within a shard, documents are
    concatenated in deterministic (id) order into one token stream
    that is chopped into ``budget``-token sequences; documents may
    straddle sequence boundaries.  Output per doc: ``doc_id, shard,
    n_tokens, start_offset`` (token offset in the shard stream),
    ``seq_first, seq_last`` (the sequences the doc lands in) — the
    manifest a loader needs to materialize packed sequences.

    Sharding (``pmod(doc_id, n_shards)``) bounds the window: the
    cumulative-sum window runs per shard, so parallelism is
    ``n_shards`` regardless of corpus size — at 100 TB pick shards ≈
    output files.  One shuffle (the per-shard ordered window); all
    integer math.  ``pmod`` (not sign-following ``%``) keeps negative
    ids in ``[0, n_shards)`` — the same sharding discipline as
    ``stratified_sample`` / ``contrastive_negatives``; a non-numeric
    id column is rejected up front rather than silently sharding NULL.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    idt = df.schema[id_col].dataType.simpleString()
    if idt not in {"tinyint", "smallint", "int", "bigint"}:
        raise TypeError(
            f"pack_token_stream needs an integral {id_col!r} "
            f"(got {idt}); hash non-numeric ids to int64 first"
        )
    from pyspark.sql import Window

    from cdc_redshift_spark.functions.text import normalize_text

    d = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(normalize_text(F.col(text_col)), " "))
        .cast("long")
        .alias("n_tokens"),
    ).withColumn("shard", F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int"))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("__cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            (F.col("__cum") - F.col("n_tokens")).alias("start_offset"),
            F.floor((F.col("__cum") - F.col("n_tokens")) / budget).alias(
                "seq_first"
            ),
            F.floor((F.col("__cum") - 1) / budget).alias("seq_last"),
        )
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic weight-proportional sample of ``k`` documents,
    weight = token count (sample tokens, not documents — the mix
    knob for length-skewed corpora).

    Efraimidis–Spirakis A-ES (IPL 2006): priority ``u^(1/w)`` with
    ``u`` a deterministic per-doc uniform from the engine-stable
    60-bit hash of ``id:text`` — the top-``k`` priorities are exactly
    a weighted sample without replacement, reproducible across runs,
    engines and cluster sizes (no RNG state, same nested-sample
    property as :func:`stratified_sample`).

    Output: ``doc_id, n_tokens`` of the selected docs.  Plan: pure
    codegen scan + ``TakeOrderedAndProject`` (top-k never sorts the
    corpus); ties (identical priority) break on doc_id so the
    selected SET is engine-stable.
    """
    from cdc_redshift_spark.functions.text import normalize_text

    w = F.size(F.split(normalize_text(F.col(text_col)), " ")).cast("long")
    u = (
        stable_hash60(F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col(text_col)))
        + 1
    ) / F.lit(float(1 << 60))
    pri = F.pow(u, 1.0 / w)
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            w.alias("n_tokens"),
            pri.alias("__pri"),
        )
        .orderBy(F.col("__pri").desc(), F.col("doc_id"))
        .limit(k)
        .select("doc_id", "n_tokens")
    )


# ---------------------------------------------------------------------------
# BM25 keyword retrieval
# ---------------------------------------------------------------------------

def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-``k`` keyword retrieval over the corpus
    (Robertson & Zaragoza, FnT-IR 2009; the Lucene non-negative idf
    form ``ln(1 + (N - df + 0.5)/(df + 0.5))``).

    A training-data pipeline uses this as the sparse-retrieval
    baseline next to the ANN dense path (``operators/similarity.py``)
    — e.g. for decontamination triage or eval-set mining — so it gets
    the same engine treatment: everything JVM-side, one bounded
    shuffle per statistic, top-k via ``TakeOrderedAndProject``.

    Plan at 100 TB:

    - per-doc token arrays are a codegen projection (no shuffle);
    - corpus stats (N, avgdl) are ONE scalar aggregate broadcast back
      (the established 1-row crossJoin pattern);
    - term frequencies explode ONLY matching terms — the explode is
      filtered to the |Q| query terms BEFORE the groupBy, so the tf
      shuffle carries |matching postings| rows, not the corpus;
    - document frequencies are a ≤|Q|-row aggregate, broadcast into
      the scoring join;
    - the final top-k is a TakeOrderedAndProject (per-partition heads,
      no global sort).

    Output: ``id_col, score`` (6-dp, engine-stable), score desc /
    id asc, exactly ``k`` rows (fewer if the corpus has fewer
    scoring docs).
    """
    terms = sorted({t.lower() for t in query_terms if t and t.strip()})
    if not terms:
        raise ValueError(
            "bm25_topk: query_terms must contain at least one non-empty "
            f"term, got {query_terms!r}"
        )
    toks = regex_words(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("__toks"))
    lens = base.select(
        F.col(id_col), F.size("__toks").alias("__dl"),
        F.filter(
            "__toks", lambda t: t.isin(*terms) if len(terms) > 1 else t == terms[0]
        ).alias("__qt"),
    )
    stats = lens.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.avg("__dl").alias("__avgdl"),
    )
    tf = (
        lens.where(F.size("__qt") > 0)
        .select(F.col(id_col), "__dl", F.explode("__qt").alias("__t"))
        .groupBy(id_col, "__dl", "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    df_ = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    scored = (
        tf.join(F.broadcast(df_), "__t")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            F.log(
                F.lit(1.0)
                + (F.col("__n_docs") - F.col("__df") + F.lit(0.5))
                / (F.col("__df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "__s",
            F.col("__idf")
            * (F.col("__tf") * F.lit(k1 + 1.0))
            / (
                F.col("__tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("__dl") / F.col("__avgdl")
                )
            ),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("__s"), 6).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def corpus_split(
    df: DataFrame,
    ratios: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row gets a split
    label from the engine-stable 60-bit hash of ``salt || id`` taken
    mod :data:`PPM`, cut at the cumulative ratio boundaries (exact
    parts-per-million integer math — no RNG state, stable across
    runs, executors, and engines; changing ``salt`` re-deals the
    assignment without touching the data).

    Hash-based (not row-number-based) so the assignment of a document
    NEVER changes when other documents are added or removed — the
    property an incrementally-growing 100 TB corpus needs so that
    yesterday's eval docs don't silently migrate into today's train
    split.  Pure codegen projection: zero shuffles, zero joins.
    """
    if abs(sum(ratios.values()) - 1.0) > 1e-9:
        raise ValueError(f"ratios must sum to 1, got {ratios}")
    bucket = F.pmod(
        stable_hash60(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))),
        F.lit(PPM),
    )
    cum = 0
    expr = None
    *head, (last_name, _) = list(ratios.items())
    for name, frac in head:
        cum += int(round(frac * PPM))
        cond = bucket < F.lit(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(last_name) if expr is None else expr.otherwise(F.lit(last_name))
    return df.withColumn("split", expr)


def corpus_split_leakage_safe(
    df: DataFrame,
    ratios: dict[str, float],
    pairs: DataFrame,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """CLUSTER-AWARE train/val/test assignment: near-duplicate
    documents must land in the SAME split, or the eval set silently
    leaks into train through paraphrases the plain per-doc hash split
    (:func:`corpus_split`) cannot see — the classic contamination
    path in web-scale LLM corpora.

    ``pairs`` is any duplicate-pair edge list ``(id_a, id_b)`` — from
    :func:`~cdc_redshift_spark.operators.dedup.minhash_lsh_pairs`,
    the exact-fp generator, or simjoin.  Connected components elect
    each cluster's min-id representative, and the split hash is taken
    on the REPRESENTATIVE's id, so every member of a duplicate
    cluster inherits exactly one assignment; singletons degrade to
    the plain per-doc hash on their own id (their component is
    themselves), keeping the grow-stable property — adding documents
    never migrates an existing singleton's split, and joining a
    cluster moves a doc only if its cluster rep differs.

    Cost: the CC label-propagation loop (rounds = cluster diameter;
    near-dup clusters are shallow) + ONE key join to attach labels —
    everything else is the zero-shuffle hash projection.
    """
    from cdc_redshift_spark.operators.dedup import connected_components

    ids = df.select(F.col(id_col).alias("id"))
    comp = connected_components(ids, pairs)  # (id, cluster_id)
    labeled = corpus_split(
        comp.withColumnRenamed("cluster_id", "__rep"),
        ratios,
        id_col="__rep",
        salt=salt,
    ).select(F.col("id").alias(id_col), "split")
    return df.join(labeled, id_col)


def corpus_budget_select(
    df: DataFrame,
    budget_tokens: int,
    quality_col: str = "quality",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    salt: str = "budget",
) -> DataFrame:
    """Token-budgeted curation: keep the maximal QUALITY-DESC PREFIX
    of the corpus whose cumulative token count stays within
    ``budget_tokens`` — the fixed-compute-budget selection step of a
    training-data mix.  Tie order inside one quality value is the
    engine-stable 60-bit hash of ``salt || id`` (uniform, not
    id-biased), then the id itself; tokens are non-negative so the
    running total is monotone and "cumsum <= budget" IS the prefix.

    Scale design — NO global-order window: (1) per-quality-value
    token mass (one groupBy producing |distinct quality| rows),
    (2) the crossing value q* found on the collected tiny histogram,
    (3) every row with quality above q* passes outright, and ONLY
    the boundary bucket (quality == q*) runs an ordered running-sum
    window — partitioned to a single quality value, a sliver of the
    corpus.  Quantize continuous scores (e.g. ``round(q, 3)``)
    before calling to bound the histogram.  Output is bit-identical
    to the naive global sort + running sum (property-tested).
    """
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    hist = (
        df.groupBy(quality_col)
        .agg(F.sum(tokens_col).alias("__mass"))
        .orderBy(F.col(quality_col).desc())
        .collect()
    )
    cum = 0
    qstar = None
    remaining = 0
    for r in hist:
        mass = int(r["__mass"] or 0)
        if cum + mass <= budget_tokens:
            cum += mass
            continue
        qstar = r[quality_col]
        remaining = budget_tokens - cum
        break
    if qstar is None:  # whole corpus fits
        return df
    from pyspark.sql import Window

    above = df.where(F.col(quality_col) > F.lit(qstar))
    tie = stable_hash60(
        F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
    )
    w = (
        Window.partitionBy(quality_col)
        .orderBy(tie.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    boundary = (
        df.where(F.col(quality_col) == F.lit(qstar))
        .withColumn("__cum", F.sum(tokens_col).over(w))
        .where(F.col("__cum") <= F.lit(int(remaining)))
        .drop("__cum")
    )
    return above.unionByName(boundary)


def dsir_logweights(
    docs: DataFrame,
    target_flag: Column,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR hashed n-gram importance log-weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    arXiv:2302.03169): score every document by how much its unigram+
    bigram distribution looks like the TARGET slice of the corpus
    (rows where ``target_flag``) relative to the raw corpus —

        logw(doc) = sum_g ln p_target(b(g)) - ln p_raw(b(g))

    over hashed gram buckets ``b(g) = hash(g) mod n_buckets`` with
    add-``alpha`` smoothing.  Resampling by these weights is the
    standard cheap alternative to a trained quality classifier for
    steering a 100 TB crawl toward a target domain.

    Plan: gram explode -> ONE bucket-keyed count pass carrying both
    distributions (map-side combining, <= n_buckets rows) whose result
    is COLLECTED once at build time (bounded by n_buckets — the
    Misra-Gries precedent) and re-broadcast as a LOCAL frame onto the
    gram stream -> ONE per-doc sum.  The corpus-size scalars fold from
    the same collected rows into literals, so the explode subtree is
    evaluated exactly twice (count pass + scoring pass) and no
    BroadcastNestedLoopJoin stats nest remains (round-15-opt).  NOTE:
    the count pass therefore runs as a real Spark job at DataFrame-
    CONSTRUCTION time (the model table is frozen when this function is
    called, and explain-only callers pay one bounded count job); see
    also :func:`ngram_lm_nll`, which shares the discipline.
    Everything JVM-side; the engine-stable 60-bit hash makes bucket
    ids — and the 6-dp weights — mirror in DuckDB.

    Output: ``id_col, n_grams, logw`` (6 dp), one row per input doc
    (docs with no grams get ``n_grams = 0, logw = 0``).
    """
    from cdc_redshift_spark.functions.text import words

    toks = words(F.col(text_col))
    # bigrams via zip_with(t, tail(t)): O(n) per doc — a slice(t, i, 2)
    # inside transform re-slices the array per POSITION (O(n^2)/doc,
    # measured 5x slower; same trap as map element_at densification).
    # zip_with pads the shorter side with nulls, so the trailing
    # (t[n-1], null) pair concats to null and is filtered off.
    bigrams = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.when(
                b.isNotNull(), F.concat(a, F.lit(" "), b)
            ),
        ),
        lambda x: x.isNotNull(),
    )
    grams = (
        docs.select(
            F.col(id_col),
            target_flag.alias("__tgt"),
            F.explode(F.concat(toks, bigrams)).alias("__g"),
        )
        .where(F.col("__g") != "")
        .select(
            id_col,
            "__tgt",
            F.pmod(stable_hash60(F.col("__g")), F.lit(n_buckets)).alias(
                "__b"
            ),
        )
    )
    # ONE bucket-keyed aggregation carries both distributions (the
    # target count rides as a conditional sum).  The count table is
    # <= n_buckets rows by construction, so it is COLLECTED once and
    # re-broadcast as a LOCAL frame: left as a plan subtree it is
    # re-evaluated per consumer (scoring broadcast + corpus-size
    # scalars), which re-runs the full gram explode — a third corpus
    # pass the round-15-opt plan audit caught (3 Generate nodes under
    # a docstring claiming two).  The corpus-size scalars fold from
    # the same collected rows, so the explode subtree is now evaluated
    # exactly twice (count pass + scoring pass); driver memory is
    # bounded by n_buckets, the Misra-Gries bounded-collect precedent.
    cnts = grams.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__cs"),
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("__ct"),
    )
    cnt_rows = cnts.collect()
    # exact long sums — same values the old 1-row stats aggregate
    # computed; an empty gram stream leaves perdoc empty and the final
    # left join coalesces, exactly as before
    nt = sum(r["__ct"] for r in cnt_rows)
    ns = sum(r["__cs"] for r in cnt_rows)
    cnts_local = docs.sparkSession.createDataFrame(cnt_rows, cnts.schema)
    a, ab = F.lit(float(alpha)), F.lit(float(alpha) * n_buckets)
    ratio = grams.join(F.broadcast(cnts_local), "__b").select(
        id_col,
        (
            F.log(F.col("__ct") + a) - F.log(F.col("__cs") + a)
        ).alias("__r"),
    )
    perdoc = ratio.groupBy(id_col).agg(
        F.sum("__r").alias("__s"), F.count(F.lit(1)).alias("n_grams")
    )
    scored = perdoc.select(
        id_col,
        "n_grams",
        F.round(
            F.col("__s")
            + F.col("n_grams")
            * (F.log(F.lit(ns) + ab) - F.log(F.lit(nt) + ab)),
            6,
        ).alias("logw"),
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("logw", F.lit(0.0)).alias("logw"),
        )
    )


def ngram_lm_nll(
    docs: DataFrame,
    train_flag: Column,
    n_buckets: int = 4096,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style n-gram language-model fluency filter (Wenzek et al.
    2020, "CCNet: Extracting High Quality Monolingual Datasets from
    Web Crawl Data", LREC — the KenLM-perplexity step): train a
    hashed-bucket BIGRAM model with add-``alpha`` smoothing on the
    reference slice (rows where ``train_flag``), then score EVERY
    document by its average per-transition negative log-likelihood

        nll(doc) = avg_i [ ln(c1(b(w_{i-1})) + alpha*B)
                           - ln(c2(b(w_{i-1} w_i)) + alpha) ]

    (perplexity = e^nll).  Low nll = reads like the reference corpus;
    the standard absolute-fluency cut, complementary to
    :func:`dsir_logweights` (which ranks by RELATIVE domain match, not
    fluency under a single LM).

    Scale shape (same discipline as DSIR): the model is two
    bucket-count tables each <= ``n_buckets`` rows BY CONSTRUCTION
    regardless of corpus size — counted in ONE pass over the train
    slice, COLLECTED at build time (bounded; a real Spark job runs
    when this function is CALLED, freezing the model tables — see the
    dsir_logweights note) and re-broadcast as LOCAL frames; the
    transition stream is a narrow explode scored in place; the only
    shuffle is the per-doc average (map-side combined).  The
    engine-stable 60-bit hash makes bucket ids — and the 6-dp nll —
    mirror in DuckDB.

    Output: ``id_col, n_trans, nll`` (6 dp), one row per input doc
    (docs with < 2 non-empty tokens get ``n_trans = 0, nll = 0``).
    """
    from cdc_redshift_spark.functions.text import words

    toks = F.filter(words(F.col(text_col)), lambda x: x != F.lit(""))
    nxt = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    # (context word, bigram string) per POSITION via zip_with — the
    # O(n)/doc construction (slice-inside-transform is O(n^2)/doc, the
    # measured trap documented at dsir_logweights).  zip_with pads the
    # shorter side with nulls, so the trailing (w_n, null) pair maps
    # to a null struct and is filtered off.
    pairs = F.filter(
        F.zip_with(
            toks,
            nxt,
            lambda a, b: F.when(
                b.isNotNull(),
                F.struct(
                    a.alias("p"), F.concat(a, F.lit(" "), b).alias("g")
                ),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    b = F.lit(int(n_buckets))
    trans = docs.select(
        F.col(id_col),
        train_flag.alias("__tr"),
        F.explode(pairs).alias("__pr"),
    ).select(
        id_col,
        "__tr",
        F.pmod(stable_hash60(F.col("__pr.p")), b).alias("__bc"),
        F.pmod(stable_hash60(F.col("__pr.g")), b).alias("__bg"),
    )
    train = trans.where("__tr")
    # ONE pass over the train slice counts BOTH model tables: each
    # transition contributes a (kind, bucket) cell for its context
    # bucket and its bigram bucket, folded map-side to <= 2*n_buckets
    # rows, then the two tables are collected (bounded by n_buckets
    # each) and re-broadcast as LOCAL frames.  Built as two separate
    # groupBy subtrees they re-run the transition explode per table —
    # the third full corpus pass the round-15-opt plan audit caught
    # (same finding as dsir_logweights above).
    cells = (
        train.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("c").alias("__k"),
                        F.col("__bc").alias("__b"),
                    ),
                    F.struct(
                        F.lit("g").alias("__k"),
                        F.col("__bg").alias("__b"),
                    ),
                )
            ).alias("__cell")
        )
        .select(
            F.col("__cell.__k").alias("__k"),
            F.col("__cell.__b").alias("__b"),
        )
        .groupBy("__k", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    )
    spark = docs.sparkSession
    c1 = spark.createDataFrame(
        [(r["__b"], r["__c"]) for r in cells if r["__k"] == "c"],
        "__bc bigint, __c1 bigint",
    )
    c2 = spark.createDataFrame(
        [(r["__b"], r["__c"]) for r in cells if r["__k"] == "g"],
        "__bg bigint, __c2 bigint",
    )
    a, ab = F.lit(float(alpha)), F.lit(float(alpha) * n_buckets)
    perdoc = (
        trans.join(F.broadcast(c1), "__bc", "left")
        .join(F.broadcast(c2), "__bg", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trans"),
            F.round(
                F.avg(
                    F.log(F.coalesce("__c1", F.lit(0)) + ab)
                    - F.log(F.coalesce("__c2", F.lit(0)) + a)
                ),
                6,
            ).alias("nll"),
        )
    )
    return (
        docs.select(id_col)
        .join(perdoc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_trans", F.lit(0)).alias("n_trans"),
            F.coalesce("nll", F.lit(0.0)).alias("nll"),
        )
    )


def temperature_mix(
    df: DataFrame,
    budget_tokens: int,
    alpha: float = 0.5,
    source_col: str = "source",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    salt: str = "mix",
    n_buckets: int = 4096,
) -> DataFrame:
    """Temperature-scaled source mixing (the mBERT/XLM-R exponential-
    smoothing rule, Devlin et al. 2019 app. / Conneau & Lample 2019):
    allocate a global token budget across sources by

        q_s = m_s^alpha / sum_t m_t^alpha      (m_s = source token mass)

    — ``alpha = 1`` reproduces natural proportions, ``alpha -> 0``
    approaches uniform, the standard knob for up-sampling low-resource
    sources in a training mix — then keep, within each source, the
    deterministic hash-ordered document prefix whose cumulative tokens
    fit the source's budget ``b_s = floor(budget * round(q_s, 6))``.

    Cross-engine determinism: budgets derive from per-source masses
    through sqrt (IEEE-exact for the default ``alpha = 0.5``) and a
    6-dp share round that buffers summation-order ulp noise (the
    BM25/DSIR float discipline); selection order is the engine-stable
    60-bit hash of ``salt:id``, then id.

    Scale shape (NO whole-source window): docs hash into ``n_buckets``
    rank buckets; ONE (source, bucket) aggregate gives a tiny
    histogram; whole buckets below each source's crossing bucket pass
    outright and ONLY the boundary bucket (~1/``n_buckets`` of one
    source) runs the ordered running-sum window.  Output is
    bit-identical to the naive per-source ordered prefix (the oracle
    runs the naive form).

    Output: ``id_col, source_col, tokens_col, src_budget`` for the
    selected docs.
    """
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    import math

    shift = 60 - int(math.log2(n_buckets))
    if n_buckets << shift != 1 << 60:
        raise ValueError(
            f"n_buckets must be a power of 2 <= 2^60, got {n_buckets}"
        )
    tie = stable_hash60(
        F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
    )
    # bucket = the tie's HIGH bits, so bucket ascending IS tie
    # ascending coarsened — whole low buckets are a true prefix of
    # the per-source (tie, id) selection order
    bucket = F.shiftright(tie, shift)
    hist = (
        df.groupBy(F.col(source_col), bucket.alias("__bk"))
        .agg(F.sum(tokens_col).alias("__mass"))
        .collect()
    )
    masses: dict = {}
    per_bucket: dict = {}
    for r in hist:
        s = r[source_col]
        m = int(r["__mass"] or 0)
        masses[s] = masses.get(s, 0) + m
        per_bucket[(s, r["__bk"])] = m
    srcs = sorted(masses, key=str)
    weights = {
        s: (math.sqrt(masses[s]) if alpha == 0.5 else masses[s] ** alpha)
        for s in srcs
    }
    total_w = sum(weights[s] for s in srcs)
    from cdc_redshift_spark.functions.numeric import round_half_away

    budgets = {
        s: (
            int(
                math.floor(
                    budget_tokens
                    * round_half_away(weights[s] / total_w, 6)
                )
            )
            if total_w > 0
            else 0
        )
        for s in srcs
    }
    # per-source crossing bucket: whole buckets below it fit the
    # budget; the boundary bucket gets the remainder
    bstar: dict = {}
    remaining: dict = {}
    for s in srcs:
        cum = 0
        bstar[s] = n_buckets  # sentinel: every bucket fits
        for bk in range(n_buckets):
            m = per_bucket.get((s, bk), 0)
            if cum + m > budgets[s]:
                bstar[s] = bk
                remaining[s] = budgets[s] - cum
                break
            cum += m
    cuts = df.sparkSession.createDataFrame(
        [
            (s, budgets[s], bstar[s], remaining.get(s, 0))
            for s in srcs
        ],
        f"{source_col} string, src_budget long, __bstar int, __rem long",
    )
    base = df.select(
        id_col, source_col, tokens_col, bucket.alias("__bk"), tie.alias("__tie")
    ).join(F.broadcast(cuts), source_col)
    passed = base.where(F.col("__bk") < F.col("__bstar"))
    w = (
        Window.partitionBy(source_col)
        .orderBy(F.col("__tie").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    boundary = (
        base.where(F.col("__bk") == F.col("__bstar"))
        .withColumn("__cum", F.sum(tokens_col).over(w))
        .where(F.col("__cum") <= F.col("__rem"))
        .drop("__cum")
    )
    return passed.unionByName(boundary).select(
        id_col, source_col, tokens_col, "src_budget"
    )


# ---- BPE tokenizer induction ---------------------------------------------


def _bpe_word_types(
    docs: DataFrame, text_col: str
) -> DataFrame:
    """(word, wc, syms): distinct word TYPES with corpus frequency and
    their initial symbol sequence (characters + the Sennrich '</w>'
    end-of-word marker).  All pair statistics run over this vocab-sized
    frame — the classic BPE optimization that makes per-merge cost
    O(|vocab|), not O(|corpus|); only this one aggregation ever scans
    the corpus."""
    from cdc_redshift_spark.functions.text import words

    return (
        docs.select(F.explode(words(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .withColumn(
            "syms",
            F.concat(F.split(F.col("word"), ""), F.array(F.lit("</w>"))),
        )
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(left, right, cnt) — adjacent-symbol pair frequencies weighted
    by word count, via the zip_with(t, tail(t)) bigram pattern (O(n)
    per word; see dsir_logweights for the slice-in-transform trap)."""
    pairs = F.filter(
        F.zip_with(
            F.col("syms"),
            F.slice(
                F.col("syms"),
                2,
                F.greatest(F.size(F.col("syms")) - 1, F.lit(0)),
            ),
            lambda a, b: F.when(
                b.isNotNull(), F.struct(a.alias("l"), b.alias("r"))
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        vocab.select("wc", F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.l").alias("left"), F.col("p.r").alias("right")
        )
        .agg(F.sum("wc").alias("cnt"))
    )


def bpe_pair_counts(
    docs: DataFrame,
    k: int = 30,
    text_col: str = "text",
) -> DataFrame:
    """Top-k byte-pair merge candidates (Sennrich et al. 2016,
    arXiv:1508.07909 — the distributed inner step of BPE tokenizer
    training): adjacent-symbol pair frequencies over the
    character+'</w>' decomposition of the corpus vocabulary, ranked
    (cnt desc, left asc, right asc).

    Plan: ONE corpus scan folds words to types (map-side combined);
    everything after is vocab-sized.  TakeOrderedAndProject serves the
    top-k."""
    return (
        _pair_counts(_bpe_word_types(docs, text_col))
        .orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
        .limit(k)
    )
