"""Text-analysis operators for LLM-training-data pipelines (SURVEY.md §2.11):
language-ID, quality scoring, token counting, document fingerprinting.

Everything is built from JVM-side expressions over ``documents.text`` — no
Python in the hot path — so a 100 TB corpus scan is one codegen stage per
operator with full predicate/column pushdown to parquet.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import WS_CLASS, tokens

# Tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic. Deliberately deterministic and engine-portable.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "que", "en", "un", "est"),
    "de": ("der", "die", "das", "und", "zu", "in", "ist", "ein"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3", "he2", "wo3", "ta1"),
}

# BPE-ish pre-tokenizer: word pieces or single non-space punctuation.
# Whitespace is the explicit WS_CLASS set, not '\s': Java counts VT as
# whitespace but RE2 does not, so a '\s'-based negated class makes the
# two engines disagree on whether a VT is a punctuation piece.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9" + WS_CLASS[1:-1] + "]"


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count, char count, avg token length, punct count and
    a BPE-ish piece count per document."""
    toks = tokens(F.col(text_col))
    return df.withColumns(
        {
            "n_tokens": F.size(toks).cast("bigint"),
            "n_chars_m": F.length(F.col(text_col)).cast("bigint"),
            "n_punct": F.coalesce(
                F.size(F.split(F.col(text_col), "[^\\w" + WS_CLASS[1:-1] + "]"))
                - F.lit(1),
                F.lit(0),
            ).cast("bigint"),
            "n_bpe_pieces": F.coalesce(F.regexp_count(F.col(text_col), F.lit(BPE_ISH_PATTERN)), F.lit(0)).cast(
                "bigint"
            ),
        }
    ).withColumn(
        "avg_token_len",
        F.aggregate(
            tokens(F.col(text_col)), F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
        )
        / F.size(tokens(F.col(text_col))).cast("double"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score in [0,1]: length band + stopword ratio +
    alpha ratio, the usual pretraining-corpus filters.

    Deterministic double arithmetic; a quality gate at scale is just a
    pushed-down filter on this column.
    """
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks).cast("double")
    en_stop = F.array(*[F.lit(s) for s in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(toks, en_stop)).cast("double")
    len_band = (
        F.when((n_tok >= 20) & (n_tok <= 10000), F.lit(1.0))
        .when(n_tok >= 5, F.lit(0.5))
        .otherwise(F.lit(0.0))
    )
    stop_sig = F.least(n_stop / F.lit(4.0), F.lit(1.0))
    alpha_ratio = F.coalesce(
        F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]")).cast("double")
        / F.nullif(F.length(F.col(text_col)).cast("double"), F.lit(0.0)),
        F.lit(0.0),
    )
    return df.withColumn(
        "quality", (len_band * F.lit(0.4) + stop_sig * F.lit(0.3) + alpha_ratio * F.lit(0.3))
    )


def quality_score_sql() -> str:
    """DuckDB twin of :func:`quality_score`'s ``quality``, over the columns
    ``text`` and ``toks`` (``tokens_sql`` of the text)."""
    stops = list(LANG_STOPWORDS["en"])
    return f"""((CASE WHEN len(toks) >= 20 AND len(toks) <= 10000 THEN 1.0
         WHEN len(toks) >= 5 THEN 0.5 ELSE 0.0 END) * 0.4
  + least(CAST(len(list_intersect(toks, {stops!r})) AS DOUBLE) / 4.0, 1.0) * 0.3
  + coalesce(CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
               / nullif(CAST(length(text) AS DOUBLE), 0.0), 0.0) * 0.3)"""


def lang_scores(text_col: Column) -> dict[str, Column]:
    """Per-language stopword-hit score (distinct-token overlap count)."""
    toks = F.array_distinct(tokens(text_col))
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(s) for s in words]))).cast("int")
        for lang, words in LANG_STOPWORDS.items()
    }


def predict_lang(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Language-ID heuristic: argmax stopword score, ties broken by language
    code order (deterministic)."""
    scores = lang_scores(F.col(text_col))
    pairs = F.array(
        *[F.struct(scores[lang].alias("s"), F.lit(lang).alias("l")) for lang in sorted(scores)]
    )
    # Deterministic argmax: strict fold, strict > keeps the alphabetically
    # first language on ties.
    best = F.aggregate(
        pairs,
        F.struct(F.lit(-1).alias("s"), F.lit("~").alias("l")),
        lambda acc, p: F.when(p["s"] > acc["s"], p).otherwise(acc),
    )
    return df.withColumn(out_col, best["l"])


FINGERPRINT_MOD = 1_000_003  # prime


def fingerprint(text_col: Column, length: int = 64, mod: int = FINGERPRINT_MOD) -> Column:
    """Polynomial rolling hash over the first ``length`` chars
    (acc·31 + ascii(c)) mod p — a portable document fingerprint.

    Oracle twin: :func:`fingerprint_sql`. Strict left fold → identical in
    both engines; values stay < p·31+255 ≪ 2^63 so ANSI-safe.
    """
    head = F.substring(text_col, 1, length)
    idx = F.sequence(F.lit(1), F.length(head))
    return F.aggregate(
        idx,
        F.lit(0).cast("bigint"),
        lambda acc, i: (acc * F.lit(31) + F.ascii(head.substr(i, F.lit(1)))) % F.lit(mod),
    )


def fingerprint_sql(text_sql: str, length: int = 64, mod: int = FINGERPRINT_MOD) -> str:
    # NULL-in-NULL-out, matching Spark's aggregate-over-NULL-sequence:
    # without the CASE, DuckDB's range(1, NULL) is the EMPTY list and the
    # reduce returns 0 — colliding a missing document with the
    # empty-string fingerprint and silently diverging from the Spark twin.
    head = f"substr({text_sql}, 1, {length})"
    return (
        f"CASE WHEN {text_sql} IS NULL THEN NULL ELSE "
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(1, len({head}) + 1), i -> ascii(substr({head}, i, 1)))), "
        f"(acc, c) -> (acc * 31 + c) % {mod}) END"
    )


GOPHER_MIN_WORDS = 30
GOPHER_WLEN_LO = 3.8
GOPHER_WLEN_HI = 5.0
GOPHER_STOP_FRAC = 0.03


def gopher_flags(df: DataFrame, text_col: str = "text", toks_col: str | None = None) -> DataFrame:
    """Gopher/C4-style per-doc rule flags (short / word-length band /
    low-stopword). Integer sums + one IEEE double division per rule —
    engine-portable and a pure map-side projection at any scale.

    ``toks_col`` (r13, queued fix #9): the rule expressions reference
    the token array five times, and projection collapse re-inlines the
    fold+regex tokenizer into each — the expensive codegen stage run
    5× per row. Callers that pin a pre-tokenized array
    (``session.pin``) pass its column name here and the flags become
    cheap array reads."""
    toks = F.col(toks_col) if toks_col else tokens(F.col(text_col))
    n_words = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    mwl = sum_len.cast("double") / n_words.cast("double")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS["en"])))
    stopfrac = n_stop.cast("double") / n_words.cast("double")
    return df.withColumns(
        {
            "flag_short": n_words < GOPHER_MIN_WORDS,
            "flag_wordlen": (mwl < GOPHER_WLEN_LO) | (mwl > GOPHER_WLEN_HI),
            "flag_lowstop": stopfrac < GOPHER_STOP_FRAC,
        }
    )
