"""Text-analysis column functions for training-data curation.

All JVM-side expressions (no Python in the hot path): language-ID
(marker-token heuristic), quality scoring (length/stopword/uppercase
ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting (normalized-vocabulary digest; a rolling-hash variant lives
in kernel/dedup.py for the non-SQL path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker vocabularies for the n-gram/marker language heuristic. Deliberately
# tiny and deterministic; real deployments swap in per-language stopword
# tables — the *plan shape* (argmax over marker-set hit counts) is the point.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "code": ("spark", "batch", "stream", "query"),
    "data": ("join", "merge", "sort", "table"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in")

TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"  # BPE-ish: runs of letters / digits / single punct


def words(text: Column) -> Column:
    return F.split(F.lower(text), " ")


def marker_hits(text: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(words(text), lambda w: w.isin(*markers)))


def lang_id(text: Column) -> Column:
    """Marker-count argmax; zero hits → 'unknown'; ties resolve to the
    alphabetically SMALLEST language (deterministic, and what the loop
    below and test_text_functions pin — a tie is a real signal conflict,
    and any oracle twin must replicate this exact tie-break).

    Expressed as a greatest-of CASE so it stays one codegen'd projection.
    """
    hits = {lang: marker_hits(text, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    result = F.lit("unknown")
    # iterate reversed-sorted so earlier (alphabetically smaller) lang wins ties
    for lang in sorted(hits, reverse=True):
        result = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(result)
    return result


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.filter(words(text), lambda w: w != ""))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish regex token count (letters runs + digit runs + punct chars)."""
    return F.regexp_count(F.lower(text), F.lit(TOKEN_REGEX))


def stopword_ratio(text: Column) -> Column:
    n = token_count_ws(text)
    return F.when(n > 0, marker_hits(text, STOPWORDS) / n).otherwise(F.lit(0.0))


def mean_word_len(text: Column) -> Column:
    w = F.filter(words(text), lambda x: x != "")
    total = F.aggregate(F.transform(w, F.length), F.lit(0), lambda acc, x: acc + x)
    return F.when(F.size(w) > 0, total / F.size(w)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic (Gopher/C4-style signals):

      0.25·(length in [16,512] tokens) + 0.25·(mean word len in [3,10])
    + 0.25·(stopword ratio ≥ 0.01)     + 0.25·(non-empty alpha content)
    """
    n = token_count_ws(text)
    mwl = mean_word_len(text)
    has_alpha = F.regexp_count(F.lower(text), F.lit("[a-z]")) > 0
    return (
        F.when((n >= 16) & (n <= 512), 0.25).otherwise(0.0)
        + F.when((mwl >= 3.0) & (mwl <= 10.0), 0.25).otherwise(0.0)
        + F.when(stopword_ratio(text) >= 0.01, 0.25).otherwise(0.0)
        + F.when(has_alpha, 0.25).otherwise(0.0)
    )


# Gopher rule-set stopwords (Rae et al. 2021, Appendix A.1.1 — the fixed
# 8-word list the "≥ 2 distinct stopwords" gate checks, distinct from the
# frequency-style STOPWORDS above).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_gates(text: Column) -> dict[str, Column]:
    """The Gopher quality rule set (Rae et al. 2021, Appendix A.1.1) as
    named boolean gate columns + the conjunctive ``keep``.

    The subset applicable to a line-less corpus: word count in
    [50, 100,000]; mean word length in [3, 10]; hash/ellipsis
    symbol-to-word ratio ≤ 0.1; ≥ 80% of words contain an alphabetic
    character; ≥ 2 distinct stopwords from the paper's 8-word list;
    duplicated-3-gram fraction ≤ 0.2 (the repetition gate
    family, collapsed to the engine's ``repetition_score``). Every gate is
    a JVM array/regexp expression — one codegen'd projection, no Python.
    """
    w = F.filter(words(text), lambda x: x != "")
    n = F.size(w)
    alpha_words = F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
    symbols = F.regexp_count(F.lower(text), F.lit("#|\\.\\.\\.")) + F.regexp_count(
        text, F.lit("…")
    )
    distinct_stop = F.size(
        F.array_distinct(F.filter(w, lambda x: x.isin(*GOPHER_STOPWORDS)))
    )
    # bind once: each call expands to a full filter+transform+aggregate
    # lambda chain over the word array, and codegen's subexpression
    # elimination does not reliably merge duplicated higher-order trees
    mwl = mean_word_len(text)
    gates = {
        "g_word_count": (n >= 50) & (n <= 100_000),
        "g_mean_word_len": (mwl >= 3.0) & (mwl <= 10.0),
        "g_symbol_ratio": F.when(
            n > 0, symbols.cast("double") / n.cast("double") <= 0.1
        ).otherwise(F.lit(False)),
        "g_alpha_words": F.when(
            n > 0,
            alpha_words.cast("double") / n.cast("double") >= 0.8,
        ).otherwise(F.lit(False)),
        "g_stopwords": distinct_stop >= 2,
        "g_repetition": repetition_score(text, 3) <= 0.2,
    }
    keep = F.lit(True)
    for g in gates.values():
        keep = keep & g
    return {**gates, "keep": keep}


def vocab_fingerprint(text: Column) -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    lowercase vocabulary. Stable under token reordering — pairs with
    exact_dedup for shuffled-boilerplate detection."""
    vocab = F.array_sort(F.array_distinct(F.filter(words(text), lambda w: w != "")))
    return F.md5(F.concat_ws(" ", vocab))


# --- PII scrubbing (training-data curation stage) ---------------------------
# Patterns deliberately restricted to syntax shared by Java regex (Spark) and
# RE2 (DuckDB) — no lookaround — so the oracle can restate them verbatim.
EMAIL_REGEX = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PHONE_REGEX = "\\b\\d{3}-\\d{4}\\b"


def scrub_pii(text: Column) -> Column:
    """Redact e-mail addresses and phone-shaped numbers ([EMAIL]/[PHONE]).

    E-mails first: the phone pattern is digit-anchored and cannot match
    inside an already-redacted token, making the two passes order-safe."""
    no_email = F.regexp_replace(text, EMAIL_REGEX, "[EMAIL]")
    return F.regexp_replace(no_email, PHONE_REGEX, "[PHONE]")


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) — redaction accounting that MATCHES the actual
    replacements: phones are counted on the email-redacted intermediate,
    exactly as ``scrub_pii`` sees them. Counting both on the raw text would
    diverge when the patterns overlap (e.g. '555-1234@mail.com' is one
    e-mail redaction, not an e-mail plus a phone)."""
    no_email = F.regexp_replace(text, EMAIL_REGEX, "[EMAIL]")
    return (
        F.regexp_count(text, F.lit(EMAIL_REGEX)),
        F.regexp_count(no_email, F.lit(PHONE_REGEX)),
    )


def repetition_score(text: Column, n: int = 3) -> Column:
    """Gopher-style intra-document repetition: 1 − distinct/total n-grams.

    0.0 = no repeated n-grams, → 1.0 as the doc degenerates into repeated
    boilerplate. The standard repetition quality gate for pretraining data
    (duplicated-line/ngram fraction filters). JVM-side array expressions.
    """
    from ..operators.dedup import ngram_tokens

    # total uses the SAME empty-filtered word basis as ngram_tokens (extra
    # spaces are not tokens), so distinct ≤ total always holds and the
    # DuckDB twins (text_repetition, gopher_gates) split the same way
    total = F.greatest(
        F.size(F.filter(words(text), lambda w: w != "")) - (n - 1), F.lit(0)
    )
    distinct = F.size(ngram_tokens(text, n))
    return F.when(
        total > 0, F.lit(1.0) - distinct.cast("double") / total.cast("double")
    ).otherwise(F.lit(0.0))
