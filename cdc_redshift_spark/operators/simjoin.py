"""Set-similarity join with prefix filtering (PPJoin family).

Training-data-pipeline extension (no counterpart in the reference,
which dedups CDC events by key only — SURVEY §2.7): find ALL document
pairs whose word-token-set Jaccard similarity clears a threshold,
without the O(N²) cross join.  The algorithm is the public
prefix-filtering construction (Chaudhuri/Ganti/Kaushik SSJoin,
ICDE'06; Xiao/Wang/Lin/Yu PPJoin, WWW'08): order every document's
distinct tokens by a fixed global order (rarest first), keep only the
first ``p = |s| - ceil(tau*|s|) + 1`` tokens as the *prefix*, and
equi-join documents on shared prefix tokens — any pair with
Jaccard >= tau MUST share at least one prefix token, so exact
verification of the (small) candidate set finds every qualifying
pair.  No sketching, no recall loss: the output is exact.

Scale design (100 TB corpus):
- token document frequencies: one groupBy shuffle on token (the
  vocabulary aggregate every text pipeline already materializes).
- rarest-first re-assembly: explode + df join + one groupBy shuffle
  on doc id; sorting each doc's tokens by (df, token) happens inside
  the aggregate via ``array_sort`` — no global sort.
- candidate join: one self-equi-join shuffled on PREFIX tokens only.
  Rarest-first ordering is the skew guard: a token appears in a
  prefix only when few rarer tokens exist in that doc, so hot
  (stopword-like) tokens are pushed into suffixes and never become
  join keys — bucket sizes are bounded by the df of *rare* tokens by
  construction, the property that makes prefix filtering the
  standard exact similarity join at corpus scale.
- verify: DISTINCT candidate pairs first (only ids ride the prefix
  join), then the token arrays join back once per pair and
  ``array_intersect`` runs once per pair (:func:`_verify`, the core
  the MinHash operators in ``operators/dedup.py`` share, planned
  under :func:`stable_verify_codegen`) — each pair is verified exactly
  once however many prefix tokens it shares.

Everything is built-in Column expressions; no Python runs per row.
"""

from __future__ import annotations

import math
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_redshift_spark.functions.text import normalize_text

#: an eager verify broadcasts its probe-side array table (both sides of
#: a self-join) up to this many rows, so the candidate stream never
#: shuffles carrying an array — this removed the 8x-replica spill knee
#: (131 s -> linear, SCALE.md).  Above it the verify falls back to
#: shuffle joins, the only shape that works when the array table itself
#: exceeds executor memory.
BROADCAST_VERIFY_MAX_ROWS = 300_000


@contextmanager
def stable_verify_codegen(spark: SparkSession):
    """Run the block with whole-stage codegen OFF, so the persists in
    it fix their cached plans without it; the session's setting is
    restored on exit.  Entered only by :func:`_verify`.

    Why: the fused verify region (candidate cache scan -> two broadcast
    hash joins -> array_intersect projection) generates a method large
    enough that its C2 compilation is a timing lottery on short stages.
    Measured interleaved in one session: walls of [16.2, 19.7, 35.8] s
    (another session: 7.0 / 227.6 s) with whole-stage codegen on,
    against a stable [7.6, 7.8] s with it off;
    ``-XX:-DontCompileHugeMethods`` did not close the gap.  Hashed
    verify shrank the region, but a fresh-process A/B still caught an
    incremental-minhash probe at 28.1 s against a 4.80 s guarded median
    (CHANGES.md), so the guard stays.  On a cluster where the verify
    stage runs minutes the compile amortizes and whole-stage codegen
    would be the faster mode.
    """
    key = "spark.sql.codegen.wholeStage"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


#: evidence hook (tools/dump_named_plans.py): when set to a list, each
#: EAGER call appends ("<op>", <formatted plan of the result frame,
#: captured after the materializing action>) — the runtime plan with
#: the persist barriers (InMemoryRelation) visible, which the lazy
#: eager=False dumps cannot show (VERDICT r15 "Next round" #6).  Never
#: set in query paths; capturing changes no computation.
PLAN_CAPTURE: list | None = None


def _capture_plan(label: str, df: DataFrame) -> None:
    if PLAN_CAPTURE is not None:
        PLAN_CAPTURE.append(
            (
                label,
                df._jdf.queryExecution().explainString(
                    df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                ),
            )
        )


def _pair_partitions(spark: SparkSession) -> int:
    """Shuffle width of a candidate-pair stream before its dedup: twice
    the session's cores.  Explicit because AQE coalesces the byte-small
    pair stream to a handful of partitions and would serialize the
    per-row-CPU-bound verify (measured 15 coalesced tasks crawling at
    257 s wall on a quiet host before the count was pinned)."""
    return spark.sparkContext.defaultParallelism * 2


def _rarest_first(
    toks: DataFrame, eager: bool
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """Order each set of an (id, toks) frame rarest first.

    Returns ``ordered`` — (id, sz, hs), plus ``toks`` unless the verify
    reads hashes — with every set's distinct tokens sorted by the global
    order (document frequency, ties broken lexicographically) and
    ``hs`` their xxhash64 hashes in that order; the (id, array) frame
    the verify reads; and the frames cached for the caller to release.

    Join keys built from ``hs`` are always safe: a hash collision only
    ADDS spurious candidate rows, which the filters and the exact verify
    reject.  Verifying on ``hs`` is exact iff xxhash64 is injective on
    the vocabulary, which the eager path PROVES with one aggregate over
    the (persisted, vocabulary-sized) df table — at 10^9-token
    vocabularies the 64-bit birthday probability is a few percent, so
    the check is not a formality.  On a collision, and on the lazy path
    that cannot run the check, the verify reads the exact string arrays.
    Why hash at all: ArrayIntersect on array<string> evaluates through
    its interpreted, per-element-boxing path (Spark emits primitive-
    specialized code only for primitive element types), measured at
    1 700-5 800 JVM-CPU-s per run at sf0.1; long arrays take the
    primitive path and are ~10x narrower in the verify broadcast.
    """
    # the df table is vocabulary-sized; at sf scale AQE broadcasts it,
    # at 100 TB it is an equi-join shuffled on token either way
    tok_df = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    caches = []
    hash_verify = False
    if eager:
        tok_df = tok_df.persist()
        caches.append(tok_df)
        chk = tok_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.xxhash64("tok")).alias("nh"),
        ).first()
        hash_verify = chk["n"] == chk["nh"]
    ordered = (
        toks.select("id", F.explode("toks").alias("tok"))
        .join(tok_df, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .withColumn("sz", F.size("toks"))
        .withColumn("hs", F.transform("toks", lambda t: F.xxhash64(t)))
    )
    if hash_verify:
        ordered = ordered.drop("toks")
    if eager:
        ordered = ordered.persist()
        caches.append(ordered)
    arrays = ordered.select("id", "hs" if hash_verify else "toks")
    return ordered, arrays, caches


def _verify(
    cand: DataFrame,
    arrays: DataFrame,
    eager: bool,
    probe_key: str = "id_a",
    match: DataFrame | None = None,
    broadcast: bool = True,
) -> tuple[DataFrame, list[DataFrame]]:
    """Score distinct candidate pairs by exact set overlap: the verify
    every similarity join here shares.

    ``arrays`` is an (id, array) frame joined to ``cand`` on
    ``probe_key``; ``match`` is the other side, a (keys..., array)
    frame joined on its keys, or None for a self-join of ``arrays`` on
    ``id_b``.  Returns ``cand``'s columns plus both array sizes
    (``__za``, ``__zb``) and their overlap (``__i``), and the frames
    cached for the caller to release.

    The arrays join back once per distinct pair, and the intersection
    is computed once into that small scored row, which eager calls
    cache: without the barrier Catalyst substitutes the
    alias back into the caller's pushed-down threshold and re-evaluates
    ``array_intersect`` 3-4x per pair (measured ~3x the verify wall on
    dense candidates).  Eager calls also cache the candidate ids, so
    the pair dedup and the verify joins run as separate stages, and,
    with ``broadcast``, broadcast the probe side (both sides of a
    self-join) when it holds at most BROADCAST_VERIFY_MAX_ROWS rows.
    Lazy calls keep the pure, recomputable plan.
    """
    iid, arr = arrays.columns
    a = arrays.select(F.col(iid).alias(probe_key), F.col(arr).alias("ta"))
    if match is None:
        b = arrays.select(F.col(iid).alias("id_b"), F.col(arr).alias("tb"))
    else:
        b = match.withColumnRenamed(match.columns[-1], "tb")
    b_keys = b.columns[:-1]

    def score(cand: DataFrame, a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            cand.join(a, probe_key)
            .join(b, b_keys)
            .select(
                *cand.columns,
                F.size("ta").alias("__za"),
                F.size("tb").alias("__zb"),
                F.size(F.array_intersect("ta", "tb")).alias("__i"),
            )
        )

    if not eager:
        return score(cand, a, b), []
    if broadcast and arrays.count() <= BROADCAST_VERIFY_MAX_ROWS:
        a = F.broadcast(a)
        if match is None:
            b = F.broadcast(b)
    # the guard's one site: persist() fixes a cached query's physical
    # plan, whole-stage codegen included, with or without AQE; the
    # action that later fills the cache does not re-decide it
    with stable_verify_codegen(cand.sparkSession):
        cand = cand.persist()
        scored = score(cand, a, b).persist()
    return scored, [cand, scored]


def _finish(
    out: DataFrame, eager: bool, label: str, caches: list[DataFrame]
) -> DataFrame:
    """Eager: materialize ``out`` with a localCheckpoint, hand its
    runtime plan to PLAN_CAPTURE and release ``caches``.  Lazy: ``out``
    as it is."""
    if not eager:
        return out
    ck = out.localCheckpoint(eager=True)
    _capture_plan(label, out)
    for df in caches:
        df.unpersist()
    return ck


def _token_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, toks) — distinct word tokens of the normalized text."""
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(F.split(normalize_text(F.col(text_col)), " ")).alias(
            "toks"
        ),
    )


def jaccard_similarity_join(
    df: DataFrame,
    tau: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    eager: bool = True,
) -> DataFrame:
    """All pairs (id_a < id_b) with token-set Jaccard >= ``tau``.

    Output: ``id_a, id_b, jaccard`` (rounded to 6 dp), exact — prefix
    filtering only prunes candidates, never results.

    The candidate join carries only ``(id, size, position, token)``
    rows; candidates are pruned by the PPJoin POSITIONAL filter before
    any array moves: for each pair the first shared prefix token (both
    token lists share one global order, so per-pair ``min`` positions
    land on the same token) bounds the overlap by
    ``min(sa - pa, sb - pb)``, and pairs below the required overlap
    ``ceil(tau*(sa+sb)/(1+tau))`` are dropped — the WWW'08 refinement
    over plain prefix filtering.  Survivors verify with
    ``array_intersect``; the token arrays join back ONCE per surviving
    pair.  On dense corpora (big near-dup clusters → pairs sharing
    many prefix tokens) candidate-first verify was measured 25×
    (204 s → 8 s at sf0.1, SCALE.md).

    ``eager`` caches the ordered-token frame for its uses, broadcasts
    it into the verify when the corpus has at most
    ``BROADCAST_VERIFY_MAX_ROWS`` docs, and releases every cache before
    returning (the result is localCheckpoint-ed); ``eager=False`` keeps
    the result lazy at the cost of recomputing the ordering per
    downstream action.
    """
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    ordered, arrays, caches = _rarest_first(
        _token_sets(df, id_col, text_col), eager
    )

    # candidate generation: ONLY (id, sz, pos, tok-hash) rides the
    # prefix join — pos (0-based rank in the rarest-first order, from
    # posexplode) feeds the positional filter below.  The prefix length
    # p = sz - ceil(tau*sz) + 1 stays >= 1 so single-token docs still
    # carry one prefix token; its -1e-9 slack mirrors alpha's (review
    # r14): float noise rounding an exact tau*sz integer boundary UP
    # would SHORTEN the prefix by one and silently drop qualifying pairs
    # from an exact join; erring low only lengthens the prefix by one
    # at exact boundaries
    p = F.greatest(
        F.lit(1),
        (F.col("sz") - F.ceil(F.lit(tau) * F.col("sz") - 1e-9) + 1).cast("int"),
    )
    pre = ordered.select(
        "id", "sz", F.posexplode(F.slice("hs", 1, p)).alias("pos", "tok")
    )
    a = pre.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("sa"),
        F.col("pos").alias("pa"),
        "tok",
    )
    b = pre.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("sb"),
        F.col("pos").alias("pb"),
        "tok",
    )
    # required overlap for Jaccard >= tau: |A∩B| >= tau/(1+tau)*(sa+sb).
    # The 1e-9 slack keeps float noise from rounding an exact integer
    # boundary UP (which would over-prune); erring low only admits a
    # few extra candidates for the verify to reject.
    alpha = F.ceil(
        F.lit(tau) / (1.0 + tau) * (F.col("sa") + F.col("sb")) - 1e-9
    )
    cand = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        # length filter: Jaccard >= tau forces min/max size >= tau.
        # Same -1e-9 slack: an exact-boundary pair (min = tau * max
        # exactly, e.g. 56/100 at tau=0.56) must survive the prune
        # even when the float product rounds a hair above the integer
        .where(
            F.least("sa", "sb")
            >= F.lit(tau) * F.greatest("sa", "sb") - 1e-9
        )
        # PPJoin positional filter, applied PER JOIN ROW so pruned
        # rows never reach the dedup shuffle.  Valid because for the
        # pair's FIRST shared prefix token t* (both lists share one
        # global order, so both per-pair position minima land on t*)
        # overlap <= min(sa - pa, sb - pb); the bound is antitone in
        # (pa, pb), so "some row passes" == "the t* row passes" — the
        # row-level filter keeps exactly the pairs the aggregated
        # filter would, while shrinking the shuffle below instead of
        # filtering after it.  (pa/pb 0-based from posexplode.)
        .where(
            F.least(F.col("sa") - F.col("pa"), F.col("sb") - F.col("pb"))
            >= alpha
        )
        .select("id_a", "id_b")
        # explicit candidate shuffle BEFORE the pair dedup: the prefix
        # join inherits the doc-aggregate's hash(id) partitioning,
        # which already satisfies the distinct's clustering, so without
        # this exchange Catalyst fuses explode + join + dedup + verify
        # into ONE stage whose parallelism is capped by the DOC
        # aggregate's partition count instead of the candidate volume,
        # the quantity that grows at 100 TB (same input measured 8.6 s
        # vs 279 s across runs, round-15-opt)
        .repartition(_pair_partitions(df.sparkSession), "id_a", "id_b")
        # a pair sharing several prefix tokens joins several times;
        # verify each pair ONCE
        .distinct()
    )
    scored, verify_caches = _verify(cand, arrays, eager)
    jac = F.col("__i") / (F.col("__za") + F.col("__zb") - F.col("__i"))
    out = (
        scored
        # threshold on the UNROUNDED value (the oracle does the same);
        # rounding is presentation only
        .where(jac >= tau)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )
    return _finish(out, eager, "jaccard_similarity_join", verify_caches + caches)


def prefix_length(sz: int, tau: float) -> int:
    """Prefix length for a set of ``sz`` tokens at threshold ``tau``
    (exposed for the completeness property test)."""
    # the same -1e-9 slack as the Column expression: the helper IS the
    # property-test oracle, so it must make the identical rounding
    # choice at exact tau*sz integer boundaries
    return max(1, sz - math.ceil(tau * sz - 1e-9) + 1)


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, toks) — distinct word ``n``-gram shingles of the
    normalized text (n=3 default).  Built with nested ``zip_with``
    over the token array and its shifted tails — O(len) per doc (a
    slice-inside-transform would re-slice per position, the measured
    O(len^2) trap) — then ``array_distinct``.  Docs with fewer than
    ``n`` tokens yield an empty array (callers filter them)."""
    if n < 2:
        # n=1 would silently degenerate: the unconditional first
        # bigram zip_with leaves only each doc's LAST token surviving
        # the completeness filter — wrong results, not an error
        raise ValueError(f"shingle n must be >= 2, got {n}")
    toks = F.split(normalize_text(F.col(text_col)), " ")

    def tail(k: int):
        return F.slice(
            toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0))
        )

    grams = F.zip_with(toks, tail(1), lambda a, b: F.concat_ws(" ", a, b))
    for k in range(2, n):
        # concat_ws skips nulls, so track completeness by word count
        grams = F.zip_with(
            grams, tail(k), lambda a, b: F.concat_ws(" ", a, b)
        )
    full = F.filter(
        grams,
        lambda g: F.size(F.split(g, " ")) == n,
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(full).alias("toks"),
    )


def containment_join(
    df: DataFrame,
    tau: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    eager: bool = True,
) -> DataFrame:
    """All DIRECTED pairs (id_a != id_b) where the fraction of doc A's
    shingles found in doc B clears ``tau``:
    ``|S(A) ∩ S(B)| / |S(A)| >= tau`` — the asymmetric doc-in-doc
    relation Jaccard misses (a paragraph quoted inside a much larger
    page has high containment but negligible Jaccard).  Word-set
    containment is degenerate on small shared vocabularies, so the
    unit is the ``n``-gram SHINGLE set (order-sensitive).

    Output: ``id_a, id_b, containment`` (6 dp), exact.

    Same prefix-filter machinery as :func:`jaccard_similarity_join`
    with the asymmetric construction: the PROBE side A keeps its
    rarest-first prefix of ``sa - ceil(tau*sa) + 1`` shingles (A's
    suffix alone cannot reach the required ``ceil(tau*sa)`` overlap),
    while the CONTAINER side B must index ALL its shingles — with no
    A-B size relation, no B-prefix is safe.  Rarest-first ordering
    still bounds the join buckets: an A-prefix shingle is a join key
    only when few rarer shingles exist in that doc.  Candidates pass
    the size gate ``sb >= ceil(tau*sa)`` and the positional bound
    ``min(sa - pa, sb - pb) >= ceil(tau*sa)`` (for the pair's first
    shared shingle in the global order, every shared shingle sits at
    or after it in BOTH ordered lists — the same antitone row-level
    argument as the Jaccard form), then verify ONCE with
    ``array_intersect``.  Shingles are n-word strings, so the checked
    hashed verify (:func:`_rarest_first`) matters more here than in the
    Jaccard form.
    """
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    toks = _shingle_sets(df, id_col, text_col, n).where(
        F.size("toks") >= 1
    )
    ordered, arrays, caches = _rarest_first(toks, eager)

    # probe side: prefix only; container side: every shingle
    alpha_a = F.ceil(F.lit(tau) * F.col("sz") - 1e-9).cast("int")
    a = ordered.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("sa"),
        alpha_a.alias("alpha"),
        F.posexplode(
            F.slice(
                "hs",
                1,
                F.greatest(
                    F.lit(1), (F.col("sz") - alpha_a + 1).cast("int")
                ),
            )
        ).alias("pa", "tok"),
    )
    b = ordered.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("sb"),
        F.posexplode("hs").alias("pb", "tok"),
    )
    cand = (
        a.join(b, "tok")
        .where(F.col("id_a") != F.col("id_b"))
        .where(F.col("sb") >= F.col("alpha"))
        .where(
            F.least(
                F.col("sa") - F.col("pa"), F.col("sb") - F.col("pb")
            )
            >= F.col("alpha")
        )
        .select("id_a", "id_b")
        # candidate shuffle before the dedup: same rationale as the
        # Jaccard form above
        .repartition(_pair_partitions(df.sparkSession), "id_a", "id_b")
        .distinct()
    )
    scored, verify_caches = _verify(cand, arrays, eager)
    cont = F.col("__i") / F.col("__za")
    out = scored.where(cont >= tau).select(
        "id_a", "id_b", F.round(cont, 6).alias("containment")
    )
    return _finish(out, eager, "containment_join", verify_caches + caches)
