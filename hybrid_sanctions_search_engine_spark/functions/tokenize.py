"""Tokenization — reference-parity noise-stripping tokenizer + fast index tokenizer.

Two tokenizers, used for different surfaces:

* ``strip_noise_and_tokenize`` — from-scratch re-implementation of the
  reference normalization tokenizer (behaviour studied at
  ``/root/reference/src/ai_service/layers/normalization/processors/token_processor.py:32-185``
  and verified byte-identical in ``tests/test_normalize_parity.py``).  Used by
  the name-normalization / hybrid-gating pipeline.  The stop-word list is a
  *parameter* (the reference treats it as config data); ``DEFAULT_STOPWORDS``
  ships a compact multilingual set.

* ``spark_index_tokens`` — pure Column expression (JVM-side, whole-stage
  codegen, zero Python) used by the inverted-index build and the BM25 oracle
  queries: lowercase → split on non-alphanumeric runs → drop empties.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .normalize import normalize_text

# Full stop-word dictionary, ported as data from the reference's
# data/dicts/stopwords.py STOP_ALL (functions/stopwords_data.py, 1,888
# lowercased entries) — P8 complete; callers may still pass their own set
# (the reference treats it as config data).
from .stopwords_data import STOP_ALL as DEFAULT_STOPWORDS

# Exclusion regexes applied to the lowercased token (reference behaviour:
# smart_filter_patterns.EXCLUSION_PATTERNS, re.match + IGNORECASE).
EXCLUSION_PATTERNS: list[str] = [
    r"^[^\w\s]+$",
    r"^(оплата|платеж|платіж|перевод|счет|квитанция|документ)$",
    r"^[a-f0-9]{16,}$",
    r"^[a-z]{2,3}\d{6,}$",
    r"^\d+[a-z]{2,}$",
    r"^(iban|bic|swift|cor|correspondent)$",
    r"^\d{1,2}:\d{2}(:\d{2})?$",
    r"^\d{1,2}\s*[чh]\s*\d{1,2}\s*[хмm]?$",
    r"^\d+\.\d+$",
    r"^(за|на|від|до|для|про|щодо|стосовно)$",
    r"^(послуги|товар|товари|продукт|продукти)$",
    r"^(робота|роботи|консультація|консультації)$",
    r"^(payment|transfer|invoice|receipt|document)$",
    r"^(services|goods|products|items|work)$",
    r"^(сьогодні|вчора|позавчора|завтра|післязавтра|сегодня|вчера|позавчера|"
    r"послезавтра|today|yesterday|tomorrow)$",
]
_EXCLUSION_RES = [re.compile(p, re.IGNORECASE) for p in EXCLUSION_PATTERNS]

_TRANSLIT = str.maketrans({"ё": "е", "Ё": "Е", "ß": "ss", "ẞ": "SS"})
_WS_RE = re.compile(r"\s+")
_EDGE_SPECIALS = "ªº°§¶†‡•‰′″‴※"
_EDGE_TRANS = {ord(c): " " for c in _EDGE_SPECIALS}
# Keep word chars, whitespace, . - ' ’ , ; and Cyrillic/Greek/Latin-extended
# blocks; everything else becomes a space. (preserve_names=True charset.)
_CLEANUP_RE = re.compile(
    r"[^\w\s.\-'’,;Ѐ-ӿͰ-ϿĀ-ſƀ-ɏḀ-ỿ]"
)
_CLEANUP_RESTRICTED_RE = re.compile(
    r"[^\w\sЀ-ӿͰ-ϿĀ-ſƀ-ɏḀ-ỿ]"
)
_INITIALS_WITH_REST_RE = re.compile(
    r"^((?:[A-Za-zА-Яа-яІЇЄҐіїєґ]\.){2,})([A-Za-zА-Яа-яІЇЄҐіїєґ].*)$"
)
_INITIALS_ONLY_RE = re.compile(r"^((?:[A-Za-zА-Яа-яІЇЄҐіїєґ]\.){2,})$")
_INITIAL_RE = re.compile(r"[A-Za-zА-Яа-яІЇЄҐіїєґ]\.")
_PUNCT_SPLIT_RE = re.compile(r"([,|;])")
_APOS_SPLIT_RE = re.compile(r"['\-]")


def _split_compound_initials(token: str) -> list[str]:
    m = _INITIALS_WITH_REST_RE.match(token)
    if m:
        parts = _INITIAL_RE.findall(m.group(1))
        if m.group(2):
            parts.append(m.group(2))
        return parts
    m = _INITIALS_ONLY_RE.match(token)
    if m:
        return _INITIAL_RE.findall(m.group(1))
    return [token]


def strip_noise_and_tokenize(
    text: str | None,
    *,
    remove_stop_words: bool = True,
    preserve_names: bool = True,
    stop_words: frozenset[str] | set[str] | None = None,
) -> tuple[list[str], list[str]]:
    """Normalize + tokenize one string → (tokens, quoted_segments).

    Chain: unicode normalize → basic transliterate (ё/ß) → whitespace collapse
    → edge-special removal → charset cleanup → whitespace split → compound
    initials split → punctuation split → stop-word filter → exclusion-pattern
    filter → quoted-segment extraction → raw-text fallback when empty.
    """
    if not isinstance(text, str) or not text.strip():
        return [], []
    effective_stops = (
        (stop_words if stop_words is not None else DEFAULT_STOPWORDS)
        if remove_stop_words
        else frozenset()
    )

    cleaned = normalize_text(text)
    cleaned = cleaned.translate(_TRANSLIT)
    cleaned = _WS_RE.sub(" ", cleaned.strip())
    cleaned = _WS_RE.sub(" ", cleaned.translate(_EDGE_TRANS)).strip()
    charset_re = _CLEANUP_RE if preserve_names else _CLEANUP_RESTRICTED_RE
    cleaned = _WS_RE.sub(" ", charset_re.sub(" ", cleaned)).strip()

    tokens: list[str] = []
    for token in cleaned.split():
        if preserve_names:
            for sub in _split_compound_initials(token):
                for final in _PUNCT_SPLIT_RE.split(sub):
                    final = final.strip()
                    if final:
                        tokens.append(final)
        else:
            for sub in _APOS_SPLIT_RE.split(token):
                sub = sub.strip()
                if sub:
                    tokens.append(sub)

    filtered: list[str] = []
    for token in tokens:
        low = token.lower()
        if remove_stop_words and low in effective_stops:
            continue
        if any(r.match(low) for r in _EXCLUSION_RES):
            continue
        filtered.append(token)

    result: list[str] = []
    quoted_segments: list[str] = []
    i = 0
    while i < len(filtered):
        token = filtered[i]
        if token.startswith("'"):
            if token.endswith("'") and len(token) > 1:
                quoted = [token[1:-1]]
            else:
                quoted = [token[1:]]
                i += 1
                while i < len(filtered) and not filtered[i].endswith("'"):
                    quoted.append(filtered[i])
                    i += 1
                if i < len(filtered) and filtered[i].endswith("'"):
                    quoted.append(filtered[i][:-1])
            parts = [p for p in quoted if p]
            if parts:
                quoted_segments.append(" ".join(parts))
                result.extend(parts)
        else:
            result.append(token)
        i += 1

    if not result and text.strip():
        if remove_stop_words:
            if any(t.lower() not in effective_stops for t in text.strip().split()):
                result = [text.strip()]
        else:
            result = [text.strip()]
    return result, quoted_segments


# --------------------------------------------------------------------------
# Fast index tokenizer — pure Column expressions (JVM, codegen, SQL-mirrorable)
# --------------------------------------------------------------------------

INDEX_TOKEN_SPLIT_RE = r"[^\p{L}\p{N}]+"
# Python `re` has no \p classes; [\W_] with UNICODE is the same token class
# (word chars minus underscore) for the query strings we tokenize driver-side
_PY_INDEX_SPLIT_RE = re.compile(r"[\W_]+", re.UNICODE)


def py_index_tokens(text: str) -> list[str]:
    """Driver-side (Python) twin of ``spark_index_tokens`` for query strings."""
    return [t for t in _PY_INDEX_SPLIT_RE.split(text.lower()) if t]


def spark_index_tokens(col: Column) -> Column:
    """lower → split on non-letter/digit runs (Unicode classes; identical
    semantics in Java regex and DuckDB RE2) → drop empty tokens."""
    return F.filter(F.split(F.lower(col), INDEX_TOKEN_SPLIT_RE), lambda t: t != "")
