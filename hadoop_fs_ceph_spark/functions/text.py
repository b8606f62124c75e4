"""Text primitives: tokenization, portable string hashing, shingling,
quality heuristics, language-ID scoring.

The builders an oracle needs (``poly_hash``, ``lang_scores``,
``token_hashes``, ``hashed_shingles``) have SQL-fragment twins (``sql_*``),
so those declared queries and their DuckDB oracles are generated from one
place.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MOD = 1_000_000_007  # fold modulus: acc*31 + cp stays far below 2^63


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization — the canonical token stream."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def word_tokens_regex(text: Column | str) -> Column:
    """BPE-ish regex tokenization: lowercase word pieces + digits."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != "")


def poly_hash(s: Column, mod: int = MOD) -> Column:
    """Portable polynomial hash of a string: fold (acc*31 + codepoint) % mod.

    Evaluates identically in DuckDB via ``sql_poly_hash`` — the oracle tier
    of content hashing. Production tier: ``F.xxhash64(s)``.
    """
    chars = F.split(s, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % F.lit(mod),
    )


def sql_poly_hash(expr: str, mod: int = MOD) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * 31 + b) % {mod})"
    )


def shingles(tok: Column, n: int = 3) -> Column:
    """n-word shingles from a token array (empty when fewer than n tokens)."""
    return F.when(
        F.size(tok) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tok) - (n - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(tok, i + k) for k in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic (deterministic, embedded — a real deployment would load real
# frequency tables; the operator shape is what matters here).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "value", "table"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "pour", "dans", "sur"),
    "zh": ("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"),
}


def lang_scores(tok: Column) -> dict[str, Column]:
    """Stopword-overlap score per language over distinct tokens."""
    uniq = F.array_distinct(tok)
    return {
        lang: F.size(F.array_intersect(uniq, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_STOPWORDS.items()
    }


def sql_lang_score(tok_expr: str, lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"len(list_intersect(list_distinct({tok_expr}), [{words}]))"


def token_hashes(tok: Column) -> Column:
    """Per-token polynomial hashes — the char-level fold runs ONCE per
    token; all shingle/minhash machinery above works on these ints."""
    return F.transform(tok, lambda s: poly_hash(s))


def sql_token_hashes(tok_expr: str) -> str:
    return f"list_transform({tok_expr}, s -> {sql_poly_hash('s')})"


def hashed_shingles(th: Column, n: int = 3, mod: int = MOD) -> Column:
    """n-gram shingle hashes combined from token hashes: 3 integer ops
    per shingle instead of re-folding every character of the (tripled)
    shingle text. h = ((h1*131 + h2) % mod * 131 + h3) % mod."""

    def combine(i: Column) -> Column:
        acc = F.element_at(th, i)
        for k in range(1, n):
            acc = (acc * 131 + F.element_at(th, i + k)) % F.lit(mod)
        return acc

    return F.when(
        F.size(th) >= n,
        F.transform(F.sequence(F.lit(1), F.size(th) - (n - 1)), combine),
    ).otherwise(F.array().cast("array<long>"))


def sql_hashed_shingles(th_expr: str, n: int = 3, mod: int = MOD) -> str:
    acc = f"{th_expr}[i]"
    for k in range(1, n):
        acc = f"(({acc}) * 131 + {th_expr}[i + {k}]) % {mod}"
    return (
        f"CASE WHEN len({th_expr}) >= {n} THEN "
        f"list_transform(generate_series(1, len({th_expr}) - {n - 1}), i -> {acc}) "
        f"ELSE [] END"
    )
