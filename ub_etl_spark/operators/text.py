"""Text-analysis operators: tokenize, tf-idf, language-ID, quality, fingerprint.

North-star LLM-pipeline surface (BASELINE.json).  Everything is built from
JVM-side expressions (split/explode/aggregate/regexp) — no Python UDFs in
the hot path, so whole-stage codegen covers the full pipeline and the
operators scale linearly with the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny deterministic stopword lists per language for the n-gram/stopword
# language-ID heuristic.  Public common-word lists; order matters only for
# tie-breaking (first match wins).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
    "de": ("der", "die", "und", "das", "von", "zu", "den", "mit", "ist", "ein"),
    "zh": ("de5", "shi4", "bu4", "le5", "zai4", "you3", "wo3", "ta1", "zhe4", "men5"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (array<string>)."""
    return F.split(text, r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-approximating token count as ONE codegen expression.

    A regex proxy for subword tokenizers: each maximal alphanumeric run of
    length L counts ceil(L/4) pieces, punctuation counts itself.  The piece
    count is a greedy regexp_count('[A-Za-z0-9]{1,4}') — the greedy matcher
    consumes 4 chars per match, so a run of L yields exactly ceil(L/4)
    matches.  No HOF, no explode, no shuffle: a per-row projection that
    stays inside whole-stage codegen at any corpus size.
    """
    word_pieces = F.regexp_count(text, F.lit(r"[A-Za-z0-9]{1,4}"))
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    return (word_pieces + punct).cast("bigint")


def fingerprint(text: Column) -> Column:
    """Canonical document fingerprint: md5 of case/whitespace-normalized text
    (content-hash dedup key; md5 is available in both Spark and DuckDB so the
    operator is oracle-checkable)."""
    normalized = F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))
    return F.md5(normalized)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + a composite score in [0,1].

    Heuristics mirror public LLM-corpus filters (length, punctuation ratio,
    stopword ratio, mean token length).
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(t).cast("double")
    en_stop = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(en_stop, F.lower(x)))).cast("double")
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", "")).cast("double")
    return df.select(
        "*",
        n_tok.cast("bigint").alias("n_tokens"),
        (n_chars / n_tok).alias("mean_token_len"),
        (n_stop / n_tok).alias("stopword_ratio"),
        (n_punct / n_chars).alias("punct_ratio"),
    )


def lang_id(text: Column) -> Column:
    """Argmax language by stopword hits; deterministic tie-break by the
    fixed language order; 'und' when no stopword hits at all."""
    toks = tokens(F.lower(text))
    scores = []
    for lang, words in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        scores.append((lang, F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))))
    best = F.lit("und")
    best_score = F.lit(0)
    # iterate in reverse so that earlier languages win ties
    for lang, sc in reversed(scores):
        best = F.when(sc >= best_score, F.lit(lang)).otherwise(best)
        best_score = F.greatest(sc, best_score)
    return F.when(best_score > 0, best).otherwise(F.lit("und"))
