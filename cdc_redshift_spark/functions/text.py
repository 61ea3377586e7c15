"""Text-analysis column builders: tokenization, quality, lang-ID, fingerprints.

All pure Column expressions over built-in pyspark.sql.functions — they
run JVM-side inside whole-stage codegen (no Python UDFs in the hot
path), so they scale to 100 TB document corpora at full Tungsten
throughput.  Each builder mirrors an exactly-equivalent DuckDB SQL
expression used by the query oracles.

The reference has no text operators (its payloads are opaque SUPER
JSON — SURVEY §0); these are the training-data-pipeline extensions.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# "BPE-ish" token pattern: letter runs, digit runs, single symbols.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny stopword profiles for the heuristic language ID.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "is", "to", "in"],
    "de": ["der", "die", "das", "und", "ist", "zu"],
    "fr": ["le", "la", "et", "les", "est", "une"],
    "es": ["el", "la", "y", "los", "es", "una"],
}

EN_STOPWORDS = STOPWORDS["en"]


def words(col: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(col), r"\s+")


def regex_words(col: Column) -> Column:
    """Lowercase alphanumeric-run tokenization — the BM25 / phrase-
    search tokenizer.  DuckDB mirror: :data:`DUCK_REGEX_WORDS`; a
    change to this regex must land in BOTH or Spark/oracle parity
    silently breaks."""
    return F.filter(F.split(F.lower(col), "[^a-z0-9]+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(col))


def bpe_token_count(col: Column) -> Column:
    """Sub-word-ish token count via the BPE-like regex."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))


def punct_ratio(col: Column) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    stripped = F.regexp_replace(col, r"[^A-Za-z0-9\s]", "")
    return (F.length(col) - F.length(stripped)) / F.length(col)


def digit_ratio(col: Column) -> Column:
    stripped = F.regexp_replace(col, r"[0-9]", "")
    return (F.length(col) - F.length(stripped)) / F.length(col)


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords (quality signal)."""
    sw = stopwords or EN_STOPWORDS
    arr = F.array(*[F.lit(s) for s in sw])
    toks = words(F.lower(col))
    hits = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return hits / F.size(toks)


def stopword_hits(col: Column, stopwords: list[str]) -> Column:
    """Count of stopword-matching tokens for one language profile."""
    arr = F.array(*[F.lit(s) for s in stopwords])
    toks = words(F.lower(col))
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def quality_score(col: Column) -> Column:
    """Heuristic document quality in [0, 1]:
    stopword presence + low punctuation + adequate length."""
    length_term = F.least(token_count(col) / F.lit(50.0), F.lit(1.0))
    return F.round(
        0.4 * stopword_ratio(col) + 0.3 * (1 - punct_ratio(col)) + 0.3 * length_term,
        6,
    )


def lang_id(col: Column) -> Column:
    """Heuristic language ID: argmax of per-language stopword hits,
    deterministic preference order en > de > fr > es, 'und'
    (undetermined) when no profile matches."""
    s = {lg: stopword_hits(col, sw) for lg, sw in STOPWORDS.items()}
    return (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]) & (s["en"] > 0),
            "en",
        )
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]) & (s["de"] > 0), "de")
        .when((s["fr"] >= s["es"]) & (s["fr"] > 0), "fr")
        .when(s["es"] > 0, "es")
        .otherwise("und")
    )


def normalize_text(col: Column) -> Column:
    """Canonical form for exact-dup detection: lowercase, collapse
    whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


# Java's \s is ASCII-only ([ \t\n\x0B\f\r]); Python's \s is
# unicode-aware — spell the class out so a non-breaking space behaves
# identically on both engines.  Spark's trim() (and DuckDB's) strips
# ONLY the space character since SPARK-17299 — NOT all chars <= 0x20 —
# so the mirror must strip(' ') alone.  This is THE canonical Python
# mirror of normalize_text; every Arrow fast path must use it (three
# drifting copies is how parity bugs are born).
_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")

#: Arrow fast paths flush output every this many documents, bounding
#: worker memory to O(flush × per-doc output) instead of a whole batch.
_FLUSH_DOCS = 1000


def py_normalize_text(s: str) -> str:
    """Python mirror of :func:`normalize_text`, character-exact with
    the JVM semantics (ASCII whitespace collapse, space-only trim,
    str.lower ≡ Java toLowerCase on ASCII; parity pinned by pytest)."""
    return _WS_RE.sub(" ", s.lower()).strip(" ")


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(col))


def winnow_fingerprints(col: Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing fingerprint set (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the rolling-hash scheme behind MOSS).

    Positional k-gram hashes of the normalized text (portable 28-bit
    md5 ints, see operators/dedup.py `exploded_shingle_hashes`), then each
    w-window's MINIMUM hash is selected; the distinct window minima
    are the document's fingerprint set.  Guarantees of the scheme: any
    shared substring of length ≥ k + w - 1 contributes at least one
    common fingerprint, and fingerprint density is ~2/(w+1).

    DO NOT use this array-lambda form on real data: Spark does not
    hoist loop-invariant subexpressions out of higher-order-function
    lambdas (the operators/dedup.py `exploded_shingle_hashes` lesson),
    so the normalization re-runs per position and the hash array
    re-inlines into every window slice — a measured ~100× blowup.  It
    exists as the executable spec the unit tests compare against;
    production is :func:`winnow_fingerprints_df`.
    """
    norm = normalize_text(col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.substring(norm, i, k))
    hs = F.transform(
        grams, lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long")
    )
    wpos = F.sequence(F.lit(1), F.greatest(F.size(hs) - F.lit(w - 1), F.lit(1)))
    wins = F.transform(wpos, lambda p: F.array_min(F.slice(hs, p, w)))
    return F.array_distinct(wins)


def winnow_fingerprints_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing at scale: (id, fps array<long>) per document — Arrow
    per-document path.

    Winnowing is embarrassingly parallel per document, so the right
    100 TB plan is a NARROW map: one Arrow batch in, per-doc rolling
    minima in Python, fingerprint sets out — zero shuffles (the window
    form below shuffles every gram position once).  Hashes are the
    same md5-prefix construction as the oracles, so output is
    bit-identical to :func:`winnow_fingerprints_df_window` (parity
    pinned by tests/test_winnow.py).  Per-doc state is O(doc length);
    output flushes every ``_FLUSH_DOCS`` documents so worker memory
    never holds a whole Arrow batch's fingerprints.  NULL text yields
    (id, []) — the window form's collect_set result.
    """

    def gen(batches):
        import hashlib

        import pandas as pd

        ids: list = []
        fps: list = []
        for pdf in batches:
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    ids.append(did)
                    fps.append([])
                    continue
                norm = py_normalize_text(text)
                npos = max(len(norm) - (k - 1), 1)
                hs = [
                    int(
                        hashlib.md5(norm[i : i + k].encode()).hexdigest()[:7],
                        16,
                    )
                    for i in range(npos)
                ]
                nstart = max(npos - (w - 1), 1)
                mins = {min(hs[s : s + w]) for s in range(nstart)}
                ids.append(did)
                fps.append(sorted(mins))
                if len(ids) >= _FLUSH_DOCS:
                    yield pd.DataFrame({"id": ids, "fps": fps})
                    ids, fps = [], []
        if ids:
            yield pd.DataFrame({"id": ids, "fps": fps})

    idt = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        gen, f"id {idt}, fps array<long>"
    )


def winnow_fingerprints_df_window(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Pure-JVM winnowing (the former default, kept as the no-Python
    fallback and the parity reference): normalize once per doc, explode
    gram positions, hash once per (doc, position) row, take each
    w-window's min with a sliding ROWS frame, keep valid window starts,
    and collect the distinct minima per doc.  ONE effective shuffle on
    id (window and groupBy share the key) — correct, but it shuffles
    every gram position where the Arrow path shuffles nothing.
    """
    normed = df.select(
        F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("__nt")
    )
    pos = normed.select(
        "id",
        "__nt",
        # gram count, carried as a scalar of the text length — cheaper
        # than recomputing it later with an unbounded count window
        F.greatest(F.length("__nt") - (k - 1), F.lit(1)).alias("__n"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("__nt") - (k - 1), F.lit(1)))
        ).alias("__i"),
    )
    hashed = pos.select(
        "id",
        "__i",
        "__n",
        F.conv(
            F.substring(F.md5(F.col("__nt").substr(F.col("__i"), F.lit(k))), 1, 7),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    wspec = (
        Window.partitionBy("id").orderBy("__i").rowsBetween(0, w - 1)
    )
    mins = hashed.select(
        "id",
        "__i",
        "__n",
        F.min("h").over(wspec).alias("wmin"),
    ).where(F.col("__i") <= F.greatest(F.col("__n") - (w - 1), F.lit(1)))
    return mins.groupBy("id").agg(F.collect_set("wmin").alias("fps"))


#: PII patterns for corpus redaction — conservative, precision-first
#: (an LLM training pipeline masks rather than drops).  All pure-regex
#: so redaction runs inside codegen at scan speed.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"(?:\+?\d{1,2}[ .-])?\(?\d{3}\)?[ .-]?\d{3}[ .-]\d{4}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}


def redact_pii(col: Column, kinds: list[str] | None = None) -> Column:
    """Mask PII spans with ``[KIND]`` tokens (chained regexp_replace —
    one codegen pass per pattern, no Python).  ``kinds=None`` means all
    patterns; an explicit empty list redacts nothing."""
    out = col
    for kind in list(PII_PATTERNS) if kinds is None else kinds:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return out


def pii_counts(col: Column, kinds: list[str] | None = None) -> Column:
    """struct of per-kind match counts — the audit signal a redaction
    pass reports alongside the masked text.  Each counted kind is one
    full-text regex pass, so pass ``kinds`` to count only what the
    report reads."""
    use = list(PII_PATTERNS) if kinds is None else kinds
    return F.struct(
        *[
            F.size(
                F.regexp_extract_all(col, F.lit(PII_PATTERNS[k]), F.lit(0))
            ).alias(k)
            for k in use
        ]
    )


# ---- DuckDB mirror fragments (kept adjacent so queries and oracles
# ---- evolve together; see queries/text_q.py)

DUCK_REGEX_WORDS = (
    "list_filter(regexp_split_to_array(lower({c}), '[^a-z0-9]+'),"
    " x -> x <> '')"
)
DUCK_TOKENS = r"string_split_regex(trim({c}), '\s+')"
DUCK_TOKEN_COUNT = r"len(string_split_regex(trim({c}), '\s+'))"
DUCK_BPE_COUNT = (
    r"len(regexp_extract_all({c}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))"
)
DUCK_PUNCT_RATIO = (
    r"(length({c}) - length(regexp_replace({c}, '[^A-Za-z0-9\s]', '', 'g')))"
    r" / length({c})"
)
DUCK_DIGIT_RATIO = (
    r"(length({c}) - length(regexp_replace({c}, '[0-9]', '', 'g'))) / length({c})"
)


def duck_stop_hits(c: str, stopwords: list[str]) -> str:
    lst = ", ".join(f"'{s}'" for s in stopwords)
    return (
        f"len(list_filter(string_split_regex(lower({c}), '\\s+'),"
        f" x -> list_contains([{lst}], x)))"
    )


def duck_stop_ratio(c: str, stopwords: list[str] | None = None) -> str:
    sw = stopwords or EN_STOPWORDS
    return (
        f"({duck_stop_hits(c, sw)}::DOUBLE"
        f" / len(string_split_regex(lower({c}), '\\s+')))"
    )
