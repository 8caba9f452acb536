"""Text-analysis column functions (SURVEY.md §2.5): pure JVM
expressions, so they run inside whole-stage codegen. Each rule's
oracle twin (``sql_*``, SQL text in and out) sits beside it; plans
stage token and gram lists under a name and pass the name."""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions.num import quantize, sql_quantize

# Whitespace is Java's \s spelled out (RE2's \s lacks U+000B): every
# whitespace regex on either engine builds from WS, never from \s.
_WS_CHARS = r" \t\n\x0B\f\r"
WS = f"[{_WS_CHARS}]"

# GPT-style pre-tokenizer pieces: letter runs, digits, other non-spaces
SUBWORD = rf"[a-z]+|[0-9]|[^a-z0-9{_WS_CHARS}]"
PUNCT = "[.,!?;:]"

# Deterministic stopword sets for the language-ID heuristic and
# quality scoring. Tiny on purpose: they broadcast as literals inside
# the expression tree.
STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")

LANG_STOPWORDS = {
    "en": ("the", "a", "and", "of"),
    "fr": ("le", "la", "et", "de"),
    "es": ("el", "la", "y", "de"),
    "de": ("der", "die", "und", "von"),
    "zh": ("de", "le", "shi", "he"),
}

# The quality gate: ≥ MIN_TOKENS tokens, stopword ratio ≤
# MAX_STOPWORD_RATIO and a duplicate-trigram fraction (Gopher's
# repetition rule, Rae et al. 2021) ≤ MAX_DUP_TRIGRAM_FRAC.
MIN_TOKENS = 20
MAX_STOPWORD_RATIO = 0.5
MAX_DUP_TRIGRAM_FRAC = 0.2

# PII (pattern, mark) rules in application order — IPs before phones,
# so a dotted digit run becomes one [IP] — in the regex subset Java
# and RE2 evaluate identically.
PII_RULES = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    (r"\+?\d[\d().\- ]{6,}\d", "[PHONE]"),
)


def _squeezed(col: Column) -> Column:  # WS runs → one space, trimmed
    return F.trim(F.regexp_replace(col, WS + "+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokenization: collapse runs, trim, split."""
    return F.split(_squeezed(col), " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters in a fixed punctuation class."""
    stripped = F.regexp_replace(col, PUNCT, "")
    return (F.length(col) - F.length(stripped)) / F.length(col)


def _count_in(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def stopword_ratio(toks: Column) -> Column:
    """Fraction of the token array ``toks`` that are stopwords."""
    return _count_in(toks, STOPWORDS) / F.size(toks)


def avg_word_len(toks: Column) -> Column:
    """Mean character length of the token array ``toks``."""
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    return total / F.size(toks)


def lang_score(col: Column, lang: str) -> Column:
    """Count of tokens in the language's stopword set."""
    return _count_in(tokens(col), LANG_STOPWORDS[lang])


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase
    text (preprocessing normalize + hash)."""
    return F.md5(F.lower(_squeezed(col)).cast("binary"))


def redact_pii(col: Column) -> Column:
    return reduce(lambda c, rule: F.regexp_replace(c, *rule), PII_RULES, col)


def word_shingles(tokens_col: Column, n: int = 3) -> Column:
    """Array of word n-grams from a PRE-MATERIALIZED token array
    column (never inline tokens() here: lambda bodies get no
    common-subexpression elimination, so the split would re-run per
    gram). Empty when the doc has fewer than n tokens — guarded
    because Spark's sequence(1, k) DESCENDS when k < 1."""
    k = F.size(tokens_col) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", *[F.element_at(tokens_col, i + j)
                                     for j in range(n)]),
    )
    return F.when(k >= 1, grams).otherwise(F.array().cast("array<string>"))


def window_count(n: Column, width: int, step: int) -> Column:
    """How many ``width``-token windows at stride ``step`` cover ``n`` tokens:
    1 if n ≤ width, else ceil((n − width) / step) + 1 (window_slice i < count)."""
    return F.when(n <= width, F.lit(1)).otherwise(
        F.floor((n - width + step - 1) / F.lit(float(step))).cast("int") + 1)


def window_slice(toks: Column, i: Column | int, width: int, step: int) -> Column:
    """Window ``i`` of the token array ``toks`` (or of any array)."""
    return F.slice(toks, i * step + 1, width)


def dup_trigram_frac(grams: Column) -> Column:
    """Quantized share of the staged ``grams`` repeating an earlier
    gram of the doc; NULL when there is no gram."""
    return quantize((F.size(grams) - F.size(F.array_distinct(grams)))
                    / F.size(grams), 10000)


def _gate_tests(n, sw, rep, ge, le) -> list:
    """The gate's tests on the given signals, in the build's order."""
    tests = ((n, ge, MIN_TOKENS), (sw, le, MAX_STOPWORD_RATIO),
             (rep, le, MAX_DUP_TRIGRAM_FRAC))
    return [cmp(x, bound) for x, cmp, bound in tests if x is not None]


def quality_gate(n: Column | None = None, sw: Column | None = None,
                 rep: Column | None = None) -> Column:
    """True when every given signal passes the quality gate."""
    return reduce(operator.and_, _gate_tests(n, sw, rep, operator.ge, operator.le))


# ---- oracle-SQL text builders (identical semantics) ----

def _sql_squeezed(text: str) -> str:
    return f"trim(regexp_replace({text}, '{WS}+', ' ', 'g'))"


def sql_tokens(text: str) -> str:
    return f"string_split({_sql_squeezed(text)}, ' ')"


def sql_token_count(text: str) -> str:
    return f"len({sql_tokens(text)})"


def sql_punct_ratio(text: str) -> str:
    return (f"(length({text}) - length(regexp_replace({text}, '{PUNCT}', '', 'g')))"
            f" / length({text})::DOUBLE")


def sql_avg_word_len(t: str) -> str:
    return f"list_sum(list_transform({t}, x -> length(x)::DOUBLE)) / len({t})"


def sql_fingerprint(text: str) -> str:
    return f"md5(lower({_sql_squeezed(text)}))"


def _sql_count_in(t: str, words: tuple[str, ...]) -> str:
    return f"len(list_filter({t}, x -> x IN ({', '.join(repr(w) for w in words)})))"


def sql_stopword_ratio(t: str) -> str:
    return f"{_sql_count_in(t, STOPWORDS)} / len({t})::DOUBLE"


def sql_lang_score(t: str, lang: str) -> str:
    return _sql_count_in(t, LANG_STOPWORDS[lang])


def sql_redact_pii(text: str) -> str:
    return reduce(lambda s, rule: f"regexp_replace({s}, '{rule[0]}', '{rule[1]}', 'g')",
                  PII_RULES, text)


def sql_word_shingles(t: str, n: int = 3) -> str:
    # the CASE gives a NULL token list the empty list Spark gives it
    gram = " || ' ' || ".join(f"{t}[i+{j}]" if j else f"{t}[i]" for j in range(n))
    return (f"CASE WHEN len({t}) >= {n} THEN list_transform("
            f"range(1, len({t}) - {n - 2}), i -> {gram}) ELSE [] END")


def sql_window_count(n: str, width: int, step: int) -> str:
    # stage as a column: DuckDB 1.0.0 unnests range(0, col) faster than range(0, expr)
    return (f"CASE WHEN {n} <= {width} THEN 1 ELSE CAST(floor(({n} - {width} + "
            f"{step} - 1) / {step}e0) AS INT) + 1 END")


def sql_window_slice(t: str, i: str, width: int, step: int) -> str:
    return f"list_slice({t}, {i} * {step} + 1, {i} * {step} + {width})"


def sql_dup_trigram_frac(g: str) -> str:
    # in a WHERE, g's 3 reads re-run unless g comes from a MATERIALIZED CTE
    return sql_quantize(f"(len({g}) - len(list_distinct({g}))) / len({g})::DOUBLE", 10000)


def sql_quality_gate(n: str | None = None, sw: str | None = None,
                     rep: str | None = None) -> str:
    return "(" + " AND ".join(_gate_tests(
        n, sw, rep, lambda x, b: f"{x} >= {b!r}", lambda x, b: f"{x} <= {b!r}")) + ")"
