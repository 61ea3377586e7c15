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
- verify: DISTINCT candidate pairs first (ids + sizes only ride the
  prefix join), then the token arrays join back once per pair and
  ``array_intersect`` runs under whole-stage codegen — each pair is
  verified exactly once however many prefix tokens it shares.

Everything is built-in Column expressions; no Python runs per row.
"""

from __future__ import annotations

import math
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_redshift_spark.functions.text import normalize_text


@contextmanager
def stable_verify_codegen(spark: SparkSession):
    """Materialize a candidate-verify pipeline under expression-codegen
    (whole-stage codegen OFF) for the duration of the block.

    Why (round-16 measurement): the fused verify region (candidate
    cache scan -> two broadcast hash joins -> array_intersect
    projection) generates a method large enough that its C2
    compilation is a TIMING LOTTERY on short stages — the same input
    measured interleaved in one session read walls of [16.2, 19.7,
    35.8] s (another session: 7.0 / 227.6 s; per-stage CPU 480 ->
    5 877 s on identical data) with whole-stage codegen on, versus a
    stable [7.6, 7.8] s with it off: small per-expression generated
    classes JIT reliably, the one huge method does not, and
    ``-XX:-DontCompileHugeMethods`` was measured NOT to close the gap
    (the compile itself is what loses the race on a short stage).
    Round 15 attacked the same lottery with the candidate exchange +
    persist barriers, which shrank but did not close it.

    Scale note: this is a SHORT-STAGE phenomenon.  On a cluster where
    the verify stage runs minutes, the compile amortizes and
    whole-stage codegen is the faster mode — set
    ``SPARK_GRAFT_VERIFY_WSCG=1`` there to keep it on; the local
    default favors the stable mode the bench can actually measure.
    Only the session conf is touched, and it is restored on exit; the
    lazy (``eager=False``) paths never enter this block, so their
    plans are untouched.
    """
    if os.environ.get("SPARK_GRAFT_VERIFY_WSCG") == "1":
        yield
        return
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
    broadcast_verify_max_rows: int = 300_000,
    num_partitions: int | None = None,
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

    When ``eager`` and the corpus is at most
    ``broadcast_verify_max_rows`` docs, BOTH verify joins broadcast
    the ordered-token frame: the surviving-pair stream (ids only)
    never shuffles carrying an array — this removed the 8×-replica
    spill knee (131 s → linear, SCALE.md).  Above the threshold the
    verify falls back to shuffle joins, the only shape that works when
    the token table itself exceeds executor memory.

    ``eager`` persists the ordered-token frame for its three uses and
    releases it before returning (the result is localCheckpoint-ed);
    ``eager=False`` keeps the result lazy at the cost of recomputing
    the ordering per downstream action.
    """
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    if num_partitions is None:
        # the candidate-verify tuning knob minhash_lsh_pairs already
        # exposes (ADVICE r15): default scales with the session's
        # cores; clusters verifying much larger candidate volumes
        # per stage pass an explicit count
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    toks = _token_sets(df, id_col, text_col)

    # Global token order: rarest first, ties broken lexicographically.
    # The df table is vocabulary-sized; at sf scale AQE broadcasts it,
    # at 100 TB it is an equi-join shuffled on token either way.
    tok_df = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )

    # 64-bit token hashes for the JOIN KEYS and (eager, checked) the
    # VERIFY (round 16).  Join-key hashing is unconditionally safe: a
    # hash collision only ADDS spurious candidate rows, which the
    # positional filter / exact verify reject — a real shared prefix
    # token always produces its matching row.  VERIFY hashing is exact
    # iff xxhash64 is injective on this corpus' vocabulary, which the
    # eager path PROVES with one aggregate over the (persisted,
    # vocabulary-sized) df table before relying on it — at 10^9-token
    # vocabularies the 64-bit birthday probability is a few percent,
    # so the check is not a formality; on collision (or on the lazy
    # path, which cannot run the check) the verify stays on the exact
    # string arrays.  Why hash at all: thread dumps of the slow mode
    # showed ArrayIntersect on array<string> evaluating through its
    # interpreted, per-element-boxing nullSafeEval path (Spark only
    # emits primitive-specialized code for primitive element types),
    # burning 1 700-5 800 JVM-CPU-s per run at sf0.1; long arrays take
    # the primitive path.  The hash arrays are also ~10x narrower in
    # the verify broadcast/shuffle (guide §2.3 "narrower types").
    hash_verify = False
    if eager:
        with stable_verify_codegen(df.sparkSession):
            tok_df = tok_df.persist()
            chk = tok_df.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct(F.xxhash64("tok")).alias("nh"),
            ).first()
        hash_verify = chk["n"] == chk["nh"]

    # Re-assemble each doc with tokens sorted rarest-first and slice
    # the prefix.  ceil/greatest keep p >= 1 so single-token docs
    # still carry one prefix token.
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
        .withColumn(
            "p",
            # the -1e-9 slack mirrors alpha's (review r14): float
            # noise rounding an exact tau*sz integer boundary UP
            # would SHORTEN the prefix by one and silently drop
            # qualifying pairs from an exact join; erring low only
            # lengthens the prefix by one at exact boundaries
            F.greatest(
                F.lit(1),
                (
                    F.col("sz")
                    - F.ceil(F.lit(tau) * F.col("sz") - 1e-9)
                    + 1
                ).cast("int"),
            ),
        )
        # token hashes in the SAME rarest-first order (see hash_verify)
        .withColumn("hs", F.transform("toks", lambda t: F.xxhash64(t)))
    )
    if hash_verify:
        # candidates and the verify read only hs: keep toks out of
        # the persisted frame
        ordered = ordered.drop("toks")
    if eager:
        # NOTE: persist() plans the cached subtree EAGERLY at this call
        # (CacheManager resolves executedPlan when the cache is
        # registered), so every persist in the eager path must sit
        # inside the stable_verify_codegen guard — wrapping only the
        # actions leaves the verify compiled as one huge whole-stage
        # method (observed: GeneratedIteratorForCodegenStage4 in the
        # cache-build thread dump of a 114 s run, round 16)
        with stable_verify_codegen(df.sparkSession):
            ordered = ordered.persist()

    # candidate generation: ONLY (id, sz, pos, tok-hash) rides the
    # prefix join — pos (0-based rank in the rarest-first order, from
    # posexplode) feeds the positional filter below; the 8-byte hashed
    # join key is collision-safe here (see hash_verify note)
    pre = ordered.select(
        "id",
        "sz",
        F.posexplode(F.slice("hs", 1, F.col("p"))).alias("pos", "tok"),
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
        .select("id_a", "id_b", "sa", "sb")
        # explicit candidate shuffle BEFORE the pair dedup (mirrors the
        # LSH array fallback in operators/dedup.py): the prefix join
        # inherits the doc-aggregate's hash(id) partitioning, which
        # already satisfies the distinct's clustering (id_a is a group
        # key), so without this exchange Catalyst fuses explode + join
        # + dedup + verify into ONE WholeStageCodegen region whose
        # generated method is large enough that JIT compilation becomes
        # a lottery (same input measured 8.6 s vs 279 s across runs,
        # round-15-opt) — and whose parallelism is capped by the DOC
        # aggregate's partition count instead of the candidate volume,
        # which is the quantity that grows at 100 TB.  The count is
        # EXPLICIT for the LSH-fallback reason: AQE coalesces the
        # byte-small pair stream to a handful of partitions and would
        # serialize the per-row-CPU-bound verify
        .repartition(num_partitions, F.col("id_a"), F.col("id_b"))
        # a pair sharing several prefix tokens joins several times;
        # verify each pair ONCE
        .distinct()
    )
    if eager:
        # materialize the deduped candidate ids (small rows) so the
        # pair-dedup aggregation and the verify joins become SEPARATE
        # codegen regions: fused, the single generated method is what
        # the JIT lottery above chokes on (the same input read 5 s
        # with this barrier vs 27 CPU-minutes fused, round-15-opt)
        with stable_verify_codegen(df.sparkSession):
            cand = cand.persist()

    # verify: token(-hash) arrays join back once per surviving pair.
    # Small corpora broadcast the array table so the pair stream never
    # shuffles carrying an array (the 8x-replica spill knee); huge
    # corpora fall back to shuffle joins.
    vcol = "hs" if hash_verify else "toks"
    ta = ordered.select(F.col("id").alias("id_a"), F.col(vcol).alias("ta"))
    tb = ordered.select(F.col("id").alias("id_b"), F.col(vcol).alias("tb"))
    if eager:
        with stable_verify_codegen(df.sparkSession):
            n_docs = ordered.count()
        if n_docs <= broadcast_verify_max_rows:
            ta, tb = F.broadcast(ta), F.broadcast(tb)
    # intersection computed EXACTLY ONCE into a small scored row
    # (ids + sizes + overlap), then thresholded ABOVE a cache barrier:
    # without the barrier Catalyst substitutes the alias back into the
    # pushed-down predicate and the filter + projection re-evaluate
    # array_intersect 3-4x per pair inside the join's codegen region —
    # measured ~3x the verify wall on dense candidates, and the larger
    # fused region is what re-opens the JIT-compile lottery this
    # operator's candidate shuffle exists to close (round-15-opt).
    # The cached rows are O(candidates) x ~40 bytes — the decide-on-
    # small-rows discipline; lazy callers keep the pure plan.
    scored = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            "sa",
            "sb",
            F.size(F.array_intersect("ta", "tb")).alias("__i"),
        )
    )
    if eager:
        # the VERIFY plan (cand cache -> 2 BHJ -> array_intersect) is
        # planned HERE by persist() — guard it (see ordered.persist)
        with stable_verify_codegen(df.sparkSession):
            scored = scored.persist()
    jac = F.col("__i") / (F.col("sa") + F.col("sb") - F.col("__i"))
    out = (
        scored
        # threshold on the UNROUNDED value (the oracle does the same);
        # rounding is presentation only
        .where(jac >= tau)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )
    if eager:
        # the checkpoint action plans + runs the candidate dedup and
        # verify stages — the JIT-lottery region the conf guards
        with stable_verify_codegen(df.sparkSession):
            ck = out.localCheckpoint(eager=True)
        _capture_plan("jaccard_similarity_join", out)
        out = ck
        scored.unpersist()
        cand.unpersist()
        ordered.unpersist()
        tok_df.unpersist()
    return out


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
    broadcast_verify_max_rows: int = 300_000,
    num_partitions: int | None = None,
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
    ``array_intersect``.
    """
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    if num_partitions is None:
        # same knob + default as jaccard_similarity_join
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    toks = _shingle_sets(df, id_col, text_col, n).where(
        F.size("toks") >= 1
    )

    tok_df = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # hashed join keys (always safe) + eager-checked hashed verify —
    # the Jaccard form's discipline, and a bigger win here: shingles
    # are n-word STRINGS, the type whose ArrayIntersect path is the
    # interpreted boxing one (see hash_verify note there)
    hash_verify = False
    if eager:
        with stable_verify_codegen(df.sparkSession):
            tok_df = tok_df.persist()
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
    if eager:
        # persist() plans eagerly — guard it (see the Jaccard form)
        with stable_verify_codegen(df.sparkSession):
            ordered = ordered.persist()

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
        .select("id_a", "id_b", "sa")
        # candidate shuffle before the dedup — same rationale (and same
        # measured JIT-lottery fix + explicit anti-coalescing count) as
        # the Jaccard form above
        .repartition(num_partitions, F.col("id_a"), F.col("id_b"))
        .distinct()
    )
    if eager:
        # candidate-id cache barrier between dedup and verify — same
        # codegen-region split as the Jaccard form above
        with stable_verify_codegen(df.sparkSession):
            cand = cand.persist()

    vcol = "hs" if hash_verify else "toks"
    ta = ordered.select(F.col("id").alias("id_a"), F.col(vcol).alias("ta"))
    tb = ordered.select(F.col("id").alias("id_b"), F.col(vcol).alias("tb"))
    if eager:
        with stable_verify_codegen(df.sparkSession):
            n_docs = ordered.count()
        if n_docs <= broadcast_verify_max_rows:
            ta, tb = F.broadcast(ta), F.broadcast(tb)
    # single-eval intersection + cache barrier before the threshold —
    # same rationale (and same measured re-evaluation cost) as the
    # Jaccard form above
    scored = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            "sa",
            F.size(F.array_intersect("ta", "tb")).alias("__i"),
        )
    )
    if eager:
        # guard: persist() plans the verify here (see the Jaccard form)
        with stable_verify_codegen(df.sparkSession):
            scored = scored.persist()
    cont = F.col("__i") / F.col("sa")
    out = (
        scored.where(cont >= tau)
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
    )
    if eager:
        # same JIT-lottery guard as the Jaccard form above
        with stable_verify_codegen(df.sparkSession):
            ck = out.localCheckpoint(eager=True)
        _capture_plan("containment_join", out)
        out = ck
        scored.unpersist()
        cand.unpersist()
        ordered.unpersist()
        tok_df.unpersist()
    return out
