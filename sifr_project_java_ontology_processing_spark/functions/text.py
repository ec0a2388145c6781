"""Column-level text/string functions (SURVEY.md §2.8) — pure built-ins.

Every function here compiles to whole-stage-codegen'd Catalyst
expressions; none of them is a Python UDF. Each cites the reference
method whose semantics it re-expresses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# CUI shape (reference: cuis/CUIOntologyDelegateImpl.java:132)
CUI_PATTERN = "^C[0-9]{7}$"

# ICD-10 compact-code normalization pattern
# (reference: cli/generation/EHealth2017DictionaryToSkos.java:36,264-271)
_CODE_RX = r"^([A-Z][0-9]{2})([0-9]{1,2})$"


def normalize_code(code: Column) -> Column:
    """F1 — insert the dot in compact ICD-10 codes: ``A011`` → ``A01.1``.

    Reference: EHealth2017DictionaryToSkos.java:264-271 (only rewrites
    when the pattern fully matches; everything else passes through).
    """
    return F.regexp_replace(code, _CODE_RX, r"$1.$2")


def strip_xsd_type(lit: Column) -> Column:
    """P5 — ``lit^^xsd:type`` → ``lit`` (CUIOntologyDelegateImpl.java:31-39)."""
    return F.split(lit, r"\^\^").getItem(0)


def parse_lang_literal(lit: Column) -> tuple[Column, Column]:
    """P6 — ``"label"@fr`` → (label, lang), lang defaulting to ``en``.

    Reference: CUIOntologyDelegateImpl.java:145-151,169-175 (pattern :23).
    Returns (value_col, lang_col).
    """
    value = F.when(
        lit.rlike('^"[^"]*"@[a-z][a-z]$'), F.regexp_extract(lit, '^"([^"]*)"@', 1)
    ).otherwise(lit)
    lang = F.when(
        lit.rlike('^"[^"]*"@[a-z][a-z]$'),
        F.regexp_extract(lit, '@([a-z][a-z])$', 1),
    ).otherwise(F.lit("en"))
    return value, lang


# Character.isUpperCase for the Latin-1 range the reference's labels use:
# A-Z plus accented uppercase À-Ö and Ø-Þ (skipping × U+00D7).
_UPPER_CLASS = r"[^A-ZÀ-ÖØ-Þ]"


def uppercase_ratio(label: Column) -> Column:
    """F3 — fraction of uppercase LETTERS over total length
    (EHealth2017DictionaryToSkos.java:405-416: ``Character.isUpperCase``
    count / length). Digits, punctuation and spaces are NOT uppercase —
    'vitamin B12' scores 1/11, not 5/11.
    """
    return F.length(F.regexp_replace(label, _UPPER_CLASS, "")) / F.length(label)


def norm_eq(a: Column, b: Column) -> Column:
    """F4 — case/trim-insensitive equality (CUIOntologyDelegateImpl.java:153-156)."""
    return F.lower(F.trim(a)) == F.lower(F.trim(b))


def camelcase_split(label: Column) -> Column:
    """F2 — CamelCase → space-separated lowercase with the reference's
    domain fix-ups (OWLOntologyCleaner.java:140-149): ``" d l c o"`` →
    ``" DLCO"``, roman-numeral re-uppercase, French elision ``" l "`` → ``" l'"``.
    """
    out = F.regexp_replace(label, r"([a-z0-9])([A-Z])", r"$1 $2")
    out = F.lower(out)
    out = F.regexp_replace(out, r" d l c o", " DLCO")
    # roman numerals back to uppercase (Java regex replacements lack \U,
    # so enumerate the small closed set the reference cares about)
    for rn in ("ii", "iii", "iv", "vi", "vii", "viii", "ix", "xi", "xii"):
        out = F.regexp_replace(out, rf"\b{rn}\b", rn.upper())
    out = F.regexp_replace(out, r" l ", " l'")
    return out


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization with empty-token removal — portable to the
    DuckDB oracle (``list_filter(regexp_split_to_array(..))``)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def word_count(text: Column) -> Column:
    return F.size(ws_tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: splits on whitespace AND punctuation
    boundaries, then counts ~4-char chunks of long words — a cheap,
    deterministic stand-in for a BPE tokenizer's token count."""
    words = F.filter(F.split(text, r"[^A-Za-z0-9]+"), lambda t: t != "")
    return F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("int"),
    )
