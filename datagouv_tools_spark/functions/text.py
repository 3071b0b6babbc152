"""Text-analysis column expressions for document pipelines
(driver north-star ops: token counting, quality scoring, language-ID,
fingerprinting). All JVM-side built-ins — the hot path over 100 TB of
documents never leaves codegen; no Python UDFs.

Every function here has an exactly-mirrorable ANSI-SQL form (DuckDB)
so the correctness gate can oracle-check it; see queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "token_count",
    "distinct_token_ratio",
    "stopword_hits",
    "stopword_ratio",
    "quality_score",
    "lang_id",
    "fingerprint_md5",
    "bpe_ish_token_count",
    "STOPWORDS",
]

#: Tiny per-language stopword lists for the n-gram/stopword heuristic
#: language-ID. Deliberately small + frozen: the guess formula is part
#: of the engine's contract (oracle-checked), not a model.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "du", "des", "en"),
    "de": ("der", "die", "das", "und", "ein", "eine", "zu", "mit", "von", "ist"),
    "es": ("el", "la", "los", "de", "y", "un", "una", "del", "en", "es"),
}


#: Explicit whitespace class used by EVERY tokenizer/normalizer here and
#: mirrored verbatim in the SQL oracles. Java's default `\s` is
#: [ \t\n\x0B\f\r] while RE2's (DuckDB) is [\t\n\f\r ] — no vertical
#: tab — so a bare `\s` silently diverges on \x0B-bearing text and
#: skews every token-derived metric. Pinning the class makes both
#: engines split identically on any input.
WS = "[ \\t\\r\\n\\f\\x0B]"
#: The same class for DuckDB SQL (identical escape syntax in RE2).
SQL_WS = "[ \\t\\r\\n\\f\\x0B]"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokens, lowercased, empties dropped. No trim():
    Spark trim strips only ASCII space while DuckDB's strips Unicode
    whitespace (NBSP!), and the empty-token filter makes it redundant.
    SQL mirror: list_filter(string_split_regex(lower(x), SQL_WS+'+'), t -> t != '')"""
    return F.filter(
        F.split(F.lower(_c(col)), WS + "+"), lambda t: t != ""
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("bigint")


def word_bigrams(ts: Column) -> Column:
    """Adjacent word bigrams of a token array, joined with one space.
    Empty array below two tokens. SQL mirror:
    ``list_transform(generate_series(1, len(ts) - 1),
    i -> ts[i] || ' ' || ts[i + 1])``.

    Built as ``zip_with`` over two slices, NOT ``transform`` +
    ``element_at(ts, i)``: when ``ts`` is itself an expression (the
    tokenizer), Catalyst inlines it into every element_at call, so the
    indexed form re-tokenizes the whole document per bigram — O(L²)
    per doc (measured 15 s → 1.4 s on the sf0.1 LM query). The slices
    evaluate ``ts`` twice per ROW, then the lambda touches only
    materialized arrays."""
    n = F.size(ts)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(ts, 1, n - F.lit(1)),
            F.slice(ts, 2, n - F.lit(1)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_pair_structs(ts: Column) -> Column:
    """Adjacent word pairs of a token array as ``struct<x,y>`` — the
    graph-edge form of :func:`word_bigrams`. Consumers that need the
    endpoints (the token-graph queries) should explode THIS, not the
    space-joined string: concat-then-split_part paid two string
    rebuilds per bigram occurrence (measured 1.4 → 0.7 s warm on the
    sf0.1 edge build). Same zip_with-over-slices discipline — see
    :func:`word_bigrams` for why ``transform`` + element_at is O(L²)
    here."""
    n = F.size(ts)
    ln = F.greatest(n - F.lit(1), F.lit(0))
    return F.zip_with(
        F.slice(ts, 1, ln),
        F.slice(ts, 2, ln),
        lambda a, b: F.struct(a.alias("x"), b.alias("y")),
    )


def distinct_token_ratio(col: Column | str) -> Column:
    """|distinct tokens| / |tokens| — low values indicate repetitive,
    low-quality text. NULL on empty."""
    t = tokens(col)
    n = F.size(t)
    return F.when(n > 0, F.size(F.array_distinct(t)).cast("double") / n.cast("double"))


def stopword_hits(col: Column | str, lang: str = "en") -> Column:
    """Number of tokens that are stopwords of ``lang`` (with
    multiplicity). SQL mirror: len(list_filter(tokens, t -> t IN (...)))."""
    stop = STOPWORDS[lang]
    return F.size(F.filter(tokens(col), lambda t: t.isin(*stop))).cast("bigint")


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    n = token_count(col)
    return F.when(n > 0, stopword_hits(col, lang).cast("double") / n.cast("double"))


def quality_score(col: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic:
    0.5·distinct_token_ratio + 0.3·min(tokens,100)/100 + 0.2·stopword_en_ratio·5 (capped at 0.2).
    Low for empty/repetitive/stopword-free text."""
    n = token_count(col)
    dr = F.coalesce(distinct_token_ratio(col), F.lit(0.0))
    swr = F.coalesce(stopword_ratio(col, "en"), F.lit(0.0))
    length_term = F.least(n.cast("double"), F.lit(100.0)) / F.lit(100.0)
    stop_term = F.least(swr * F.lit(5.0), F.lit(1.0))
    return dr * 0.5 + length_term * 0.3 + stop_term * 0.2


def lang_id(col: Column | str) -> Column:
    """Stopword-ratio language guess: the language with the highest
    hit ratio, ties broken in fixed order en>fr>de>es, 'und' when no
    stopwords hit at all."""
    ratios = {lang: F.coalesce(stopword_ratio(col, lang), F.lit(0.0)) for lang in STOPWORDS}
    best = F.greatest(*ratios.values())
    expr = F.lit("und")
    # build the when-chain in reverse priority so earlier langs win ties
    for lang in reversed(list(STOPWORDS)):
        expr = F.when((best > 0) & (ratios[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint_md5(col: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized, lowercased
    text — the exact-dedup key that survives formatting noise.
    SQL mirror: md5(trim(regexp_replace(lower(x), SQL_WS+'+', ' ', 'g'), ' ')).

    Normalization order matters cross-engine: collapse the pinned
    whitespace class FIRST, then btrim the single space char — both
    engines agree on those two ops, whereas bare trim() diverges
    (DuckDB strips Unicode whitespace, Spark only ASCII space)."""
    normalized = F.btrim(
        F.regexp_replace(F.lower(_c(col)), WS + "+", " "), F.lit(" ")
    )
    return F.md5(normalized)


def bpe_ish_token_count(col: Column | str) -> Column:
    """Subword-ish token count: splits on whitespace AND on
    letter/digit/punctuation boundaries (a cheap BPE proxy for token
    budgeting). SQL-mirrorable via the same regex."""
    c = F.lower(_c(col))  # no trim: empties are filtered anyway
    pieces = F.split(
        F.regexp_replace(c, "([0-9]+|[^ \\t\\r\\n\\f\\x0Ba-z0-9]+)", r" $1 "), WS + "+"
    )
    return F.size(F.filter(pieces, lambda t: t != "")).cast("bigint")


def winnow_fingerprints(
    col: Column | str, k: int = 5, window: int = 4, gram_hash: str = "xxhash64"
) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS scheme): hash every k-char gram of the
    normalized text, slide a window of ``window`` hashes, keep each
    window's minimum, dedupe. Guarantees any match of length
    >= window + k - 1 shares a fingerprint, at ~2/(window+1) sampling
    density.

    Pure JVM built-ins (gram hash + transform/slice/array_min): no UDF,
    no shuffle — per-row work, linear in document length. The natural
    pre-filter for pair generation: candidates = docs sharing a
    fingerprint (explode + self-join on fingerprint).

    ``gram_hash="md5"`` swaps xxhash64 for the cross-engine 60-bit md5
    hash (functions/xhash.py) so a SQL oracle recomputes the exact
    fingerprint set.
    """
    from datagouv_tools_spark.functions.xhash import token_hash_expr

    c = _c(col)
    norm = F.btrim(F.regexp_replace(F.lower(c), WS + "+", " "), F.lit(" "))
    n = F.length(norm)
    # greatest-guards keep the degenerate short-doc case at one
    # gram/window (rpad is NOT usable here: it truncates longer input)
    n_grams = F.greatest(n - (k - 1), F.lit(1))
    gram_idx = F.sequence(F.lit(1), n_grams)
    hashes = F.transform(
        gram_idx, lambda i: token_hash_expr(F.substr(norm, i, F.lit(k)), gram_hash)
    )
    # Sliding-window min as a zip_with(least) chain over `window`
    # shifted slices. NOT transform(i -> array_min(slice(hashes, i, w))):
    # Catalyst inlines `hashes` into the lambda body, so that form
    # re-evaluates the full O(n) hash array per window — O(n²)
    # interpreted ops per document (measured 58 s for 60 ×300-char docs;
    # this form is ~1 s). Here `hashes` is evaluated `window` times
    # total: O(n·w).
    n_windows = F.greatest(n_grams - (window - 1), F.lit(1))
    mins = F.slice(hashes, 1, n_windows)
    for j in range(1, window):
        mins = F.zip_with(
            mins, F.slice(hashes, j + 1, n_windows), lambda a, b: F.least(a, b)
        )
    return F.array_distinct(mins)
