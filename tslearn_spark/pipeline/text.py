"""Text-analysis operators: language ID, quality scoring, token counts,
document fingerprints.

All pure SQL expressions (JVM-side, codegen) — no Python in the hot
path.  Each is a map-only projection over the documents table, so cost
is one scan regardless of corpus size; the per-language aggregates are
single hash aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tslearn_spark.pipeline.dedup import DOC_WORK, tokens_col
from tslearn_spark.session import size_tasks

# Tiny per-language stopword marker sets (top function words).  Public
# knowledge; the oracle SQL uses the identical lists.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sich"],
    "fr": ["le", "la", "les", "et", "des", "est", "dans", "que", "pour", "une"],
    "es": ["el", "la", "los", "las", "es", "en", "un", "una", "por", "para"],
}


def _stopword_hits(lang: str, toks: str = "toks") -> Column:
    lst = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + ")"
    return F.expr(f"size(filter({toks}, t -> array_contains({lst}, t)))")


def language_cols(text_col: str = "text") -> tuple[Column, Column]:
    """(pred_lang, score) as self-contained column expressions over the
    raw text — the fusable form of language_id (r14: lets callers fold
    all text operators into ONE map-only projection; codegen
    subexpression elimination dedups the repeated hit counts)."""
    toks = f"filter(split(lower({text_col}), '[^a-z0-9]+'), t -> t != '')"
    hits = {lang: _stopword_hits(lang, toks) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    pred = F.when(best <= 0, F.lit("unknown"))
    for la in STOPWORDS:  # first language reaching the max wins (stable order)
        pred = pred.when(hits[la] == best, F.lit(la))
    return pred, best


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax over per-language stopword hit counts.

    (doc_id, pred_lang, score).  Unknown when no stopword hits.
    """
    pred, best = language_cols(text_col)
    return docs.select(
        "doc_id", pred.alias("pred_lang"), best.alias("score"))


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score per document.

    Features follow the usual pretraining-data filters: length, mean word
    length, punctuation ratio, stopword ratio, uppercase ratio, digit
    ratio — all closed-form SQL.
    """
    return size_tasks(docs, DOC_WORK).select("doc_id", *quality_cols(text_col))


def quality_cols(text_col: str = "text") -> list[Column]:
    """The quality_scores feature columns as expressions (r14: fusable
    into one projection with the other text operators)."""
    t = text_col
    toks = tokens_col(text_col)
    en_stop = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + ")"
    return [
        F.length(t).alias("n_chars_q"),
        F.size(toks).alias("n_words"),
        (F.length(t) / F.greatest(F.size(toks), F.lit(1))).alias("mean_word_len"),
        (
            F.length(F.regexp_replace(t, "[^.,;:!?]", "")) / F.greatest(F.length(t), F.lit(1))
        ).alias("punct_ratio"),
        (
            F.length(F.regexp_replace(t, "[^A-Z]", "")) / F.greatest(F.length(t), F.lit(1))
        ).alias("upper_ratio"),
        (
            F.length(F.regexp_replace(t, "[^0-9]", "")) / F.greatest(F.length(t), F.lit(1))
        ).alias("digit_ratio"),
        (
            F.size(F.expr(
                f"filter(filter(split(lower({t}), '[^a-z0-9]+'), t -> t != ''), "
                f"t -> array_contains({en_stop}, t))"
            )) / F.greatest(F.size(toks), F.lit(1))
        ).alias("stopword_ratio"),
    ]


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc token statistics: whitespace words + BPE-ish subword count.

    The 'bpe_ish' count approximates subword tokenization with a regex
    over character classes (letters runs, digit runs, punctuation singles)
    plus a length/4 correction for long words — deterministic and cheap.
    """
    words = tokens_col(text_col)
    return docs.select(
        "doc_id",
        F.size(words).alias("n_words"),
        *token_count_cols(text_col),
    )


def token_count_cols(text_col: str = "text") -> list[Column]:
    """(n_ws_tokens, n_subwords) as expressions (r14: fusable)."""
    t = text_col
    return [
        F.size(F.expr(f"filter(split({t}, '\\\\s+'), x -> x != '')")).alias("n_ws_tokens"),
        # every word contributes ceil(len/4) subword pieces (BPE-ish)
        F.expr(
            f"aggregate(filter(split(lower({t}), '[^a-z0-9]+'), x -> x != ''), "
            f"0L, (a, w) -> a + cast(ceil(length(w) / 4.0) as long))"
        ).alias("n_subwords"),
    ]


def document_fingerprints(docs: DataFrame, text_col: str = "text",
                          window: int = 8) -> DataFrame:
    """Winnowing-style fingerprint: min rolling hash over char n-grams.

    (doc_id, fingerprint) — the minimum md5-derived hash over all
    character n-grams of length ``window``; documents sharing a
    fingerprint are near-dup candidates.  Pure SQL.
    """
    return size_tasks(docs, DOC_WORK).select(
        "doc_id", fingerprint_col(text_col, window))


def fingerprint_col(text_col: str = "text", window: int = 8) -> Column:
    """The winnowing fingerprint as an expression (r14: fusable)."""
    t = text_col
    return F.expr(
        f"""
        array_min(transform(
          sequence(0, greatest(length({t}) - {window}, 0)),
          i -> cast(conv(substring(md5(substring({t}, i + 1, {window})), 1, 15),
                    16, 10) as bigint)
        ))
        """
    ).alias("fingerprint")
