"""Text-analysis operators for training-data curation: language ID,
quality scoring, token counting, document fingerprinting.

All hot-path math is Spark SQL expressions (JVM, codegen).  Ratios are
kept as integer pairs wherever a downstream filter needs exactness; the
one emitted float (quality score) is a fixed-form expression with an
exact DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_extraction_spark.functions.text import hash60, stopword_hits, tokens

# language marker tokens: tiny per-language stopword sets (heuristic n-gram
# language ID in the classic Cavnar-Trenkle spirit, reduced to word unigrams
# so both engines compute it identically)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "nicht"],
    "fr": ["le", "la", "les", "et", "des"],
    "es": ["el", "los", "las", "una", "para"],
}


def quality_score_col(text_col: str) -> Column:
    """Heuristic quality score in [0, 100], integer (engine-exact).

    score = min(40, n_tokens) + min(30, 100*distinct/total tokens * 0.3)
          + min(30, 100*stopword_hits/total * 3)   — all integer division
    Mirrors the usual length / lexical-diversity / stopword-ratio trio used
    in web-corpus quality filters, quantized so both engines agree exactly.
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    d = F.size(F.array_distinct(toks))
    s = stopword_hits(toks)
    return (
        F.least(F.lit(40).cast("long"), n.cast("long"))
        + F.least(
            F.lit(30).cast("long"),
            F.floor((d * 30).cast("double") / F.greatest(n, F.lit(1))).cast("long"),
        )
        + F.least(
            F.lit(30).cast("long"),
            F.floor((s * 300).cast("double") / F.greatest(n, F.lit(1))).cast("long"),
        )
    ).cast("long")


def quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_tokens: int = 10,
    min_score: int = 50,
) -> DataFrame:
    """C4-style document gate: compose the curation signals into a keep/drop
    decision with machine-readable reasons.

    Rules (each contributes a reason tag when violated):
      too_short    — fewer than ``min_tokens`` whitespace tokens
      low_quality  — quality_score_col below ``min_score``
      und_lang     — zero hits across every language marker set (lang_id
                     would emit 'und')
    keep = no reasons.  Reasons are emitted as a comma-joined string in a
    fixed order, so the row is hashable and engine-comparable (arrays are
    not sortable by the driver's canonicalizer).  Pure JVM expressions,
    no shuffle — the gate runs at scan speed and the keep predicate
    pushes down when used as a filter.
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    all_markers = sorted({m for ms in LANG_MARKERS.values() for m in ms})
    marker_hits = F.size(F.filter(toks, lambda t: t.isin(all_markers)))
    reasons = F.concat_ws(
        ",",
        F.when(n < min_tokens, F.lit("too_short")),
        F.when(quality_score_col(text_col) < min_score, F.lit("low_quality")),
        F.when(marker_hits == 0, F.lit("und_lang")),
    )
    return df.select(
        F.col(id_col),
        (reasons == "").alias("keep"),
        reasons.alias("drop_reasons"),
    )


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-token language ID: argmax over per-language hit counts.

    Deterministic tie-break: language list order (en, de, fr, es); docs
    with zero hits -> 'und'.
    """
    toks = tokens(F.col(text_col))

    def _hits(markers):
        # NB: a default-arg lambda (lambda t, l=markers: ...) breaks here —
        # PySpark treats a 2-parameter lambda as (element, index).
        ms = list(markers)
        return F.size(F.filter(toks, lambda t: t.isin(ms)))

    hits = {lang: _hits(markers) for lang, markers in LANG_MARKERS.items()}
    # fold in reverse declaration order with strict >, so earlier languages
    # win ties; zero hits everywhere -> 'und'
    expr_lang, expr_hits = F.lit("und"), F.lit(0)
    for lang in reversed(list(LANG_MARKERS)):
        better = (hits[lang] >= F.lit(1)) & (hits[lang] >= expr_hits)
        expr_lang = F.when(better, F.lit(lang)).otherwise(expr_lang)
        expr_hits = F.when(better, hits[lang]).otherwise(expr_hits)
    return df.select(
        F.col(id_col),
        expr_lang.alias("pred_lang"),
        expr_hits.alias("marker_hits"),
    )


def fingerprint_winnow(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 5, window: int = 4
) -> DataFrame:
    """Winnowing fingerprint (Schleimer et al., SIGMOD 2003): the set of
    per-window minimum k-gram hashes — standard near-dup sketch for code/
    text corpora.  Pure higher-order expressions; no UDF.

    Output: (id, winnow_prints array<long> — distinct, unsorted set).

    Uses ALL k-grams in position order (winnowing is order-sensitive —
    deduplicating grams would change window composition).
    """
    from pdf_extraction_spark.functions.text import let_bound, word_ngrams_all

    # The gram-hash array must be evaluated ONCE: the per-window min reads
    # it O(n_windows) times, and CollapseProject would inline a "separate
    # projection" right back into every reference (quadratic md5 recompute).
    # let_bound pins it as a lambda variable.
    def winnow(hashes):
        n_windows = F.greatest(F.size(hashes) - window + 1, F.lit(0))
        prints = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n_windows - 1),
                lambda w: F.array_min(F.slice(hashes, w + 1, window)),
            )
        )
        return (
            F.when(F.size(hashes) >= window, prints)
            .otherwise(
                F.when(F.size(hashes) > 0, F.array(F.array_min(hashes))).otherwise(
                    F.array().cast("array<long>")
                )
            )
        )

    hashed = F.transform(word_ngrams_all(tokens(F.col(text_col)), k), hash60)
    return df.select(
        F.col(id_col), let_bound(hashed, winnow).alias("winnow_prints")
    )


# GPT-2-style BPE pre-tokenizer pattern, made engine-portable: the real
# GPT-2 pattern ends in `\s+(?!\S)` (lookahead), which RE2 cannot run —
# this lookahead-free variant keeps the branch ORDER (contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs,
# whitespace runs) so Java regex (Spark) and RE2 (DuckDB), both
# leftmost-first on alternation, tokenize identically.  The punctuation
# class includes the apostrophe, exactly as GPT-2's does — a stray `'`
# (possessive plural "dogs'", "rock 'n' roll") lands in the punctuation
# run, while true contractions still win via the earlier branch.
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token counts under BPE-style pre-tokenization —
    the unit LLM token budgets are denominated in (whitespace counting
    underestimates code/punctuation-heavy text badly).

    Output: (id, n_pieces — all regex pieces incl. whitespace runs,
    n_bpe_tokens — non-whitespace pieces, n_ws_tokens — plain whitespace
    tokens for comparison).  Pure JVM regex, scan-local, no shuffle.
    """
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_RE), 0)

    def stats(ts):
        non_ws = F.filter(ts, lambda t: ~t.rlike(r"^\s+$"))
        return F.struct(
            F.size(ts).cast("long").alias("n_pieces"),
            F.size(non_ws).cast("long").alias("n_bpe_tokens"),
        )

    from pdf_extraction_spark.functions.text import let_bound

    st = let_bound(toks, stats)
    return df.select(
        F.col(id_col),
        st["n_pieces"].alias("n_pieces"),
        st["n_bpe_tokens"].alias("n_bpe_tokens"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_ws_tokens"),
    )


# PII patterns — chosen to parse identically under Java regex (Spark) and
# RE2 (DuckDB): character classes + bounded quantifiers only, no
# backreferences, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}-\d{3}-\d{4}"


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Detect + redact simple PII (emails, NANP-style phone numbers) —
    the standard pre-training scrub pass.

    Per-row JVM regex (no UDF, no shuffle): counts via ``regexp_count``
    and redaction via two ``regexp_replace`` passes (emails first, so a
    phone-looking substring inside an address is already gone).  Output:
    (id, n_emails, n_phones, scrubbed_text).
    """
    email_n = F.regexp_count(F.col(text_col), F.lit(EMAIL_RE))
    scrub1 = F.regexp_replace(F.col(text_col), EMAIL_RE, "[EMAIL]")
    return df.select(
        F.col(id_col),
        email_n.cast("long").alias("n_emails"),
        F.regexp_count(scrub1, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace(scrub1, PHONE_RE, "[PHONE]").alias("scrubbed_text"),
    )
