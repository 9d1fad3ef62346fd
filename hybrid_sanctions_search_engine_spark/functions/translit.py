"""Table-driven Cyrillic↔Latin transliteration (F12) + name-role helpers.

Re-derivation of the reference's variant-generation language layer
(``/root/reference/src/ai_service/layers/variants/templates/transliteration.py:8-140``
semantics; ``role_tagger_service``/``gender_rules``/``diminutive_resolver``
essentials as compact heuristics).  Pure functions + pandas drivers for use
inside Arrow UDFs; the full morphology engine (pymorphy3) is not available in
this environment, so ``to_nominative`` degrades to suffix heuristics and is
clearly marked.
"""

from __future__ import annotations


CYR2LAT: dict[str, str] = {
    "а": "a", "б": "b", "в": "v", "г": "g", "д": "d", "е": "e", "ё": "e",
    "ж": "zh", "з": "z", "и": "i", "й": "y", "к": "k", "л": "l", "м": "m",
    "н": "n", "о": "o", "п": "p", "р": "r", "с": "s", "т": "t", "у": "u",
    "ф": "f", "х": "kh", "ц": "ts", "ч": "ch", "ш": "sh", "щ": "shch",
    "ъ": "", "ы": "y", "ь": "", "э": "e", "ю": "yu", "я": "ya",
    "і": "i", "ї": "i", "є": "e", "ґ": "g",
}

LAT2CYR: dict[str, str] = {
    "shch": "щ", "zh": "ж", "kh": "х", "ts": "ц", "ch": "ч", "sh": "ш",
    "yu": "ю", "ya": "я",
    "a": "а", "b": "б", "v": "в", "g": "г", "d": "д", "e": "е", "z": "з",
    "i": "и", "y": "й", "k": "к", "l": "л", "m": "м", "n": "н", "o": "о",
    "p": "п", "r": "р", "s": "с", "t": "т", "u": "у", "f": "ф",
}
_LAT_KEYS_BY_LEN = sorted(LAT2CYR, key=len, reverse=True)


def to_latin(text: str) -> str:
    """Cyrillic → Latin, per-char table, case-preserving (x → Kh etc.)."""
    out = []
    for ch in text:
        low = ch.lower()
        mapped = CYR2LAT.get(low)
        if mapped is None:
            out.append(ch)
        elif ch.isupper() and mapped:
            out.append(mapped.capitalize())
        else:
            out.append(mapped)
    return "".join(out)


def to_cyrillic(text: str) -> str:
    """Latin → Cyrillic, longest-match-first multigraph scan."""
    low = text.lower()
    out = []
    i = 0
    while i < len(low):
        for key in _LAT_KEYS_BY_LEN:
            if low.startswith(key, i):
                ch = LAT2CYR[key]
                out.append(ch.upper() if text[i].isupper() else ch)
                i += len(key)
                break
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


PATRONYMIC_TRANSLIT_SWAPS = [
    ("ovich", "ovych"),
    ("evich", "evych"),
    ("ovna", "ivna"),
    ("evna", "ivna"),
]


def translit_variants(name: str) -> list[str]:
    """Transliteration variants of a name (title-cased; patronymic-suffix
    alternates for Cyrillic names), deduplicated, deterministic order."""
    variants: list[str] = []
    if any("Ѐ" <= c <= "ӿ" for c in name):
        base = to_latin(name)
        title = " ".join(w.capitalize() for w in base.split())
        if title:
            variants.append(title)
            low = title.lower()
            for old, new in PATRONYMIC_TRANSLIT_SWAPS:
                if old in low:
                    swapped = " ".join(
                        w.capitalize() for w in low.replace(old, new).split()
                    )
                    variants.append(swapped)
    elif name and all(ord(c) < 0x0400 for c in name if c.isalpha()):
        cyr = to_cyrillic(name)
        if cyr and cyr != name:
            variants.append(cyr)
    seen: set[str] = set()
    out = []
    for v in variants:
        if v not in seen:
            seen.add(v)
            out.append(v)
    return out


# --------------------------------------------------------------------------
# Role tagging (F8 essentials): initial / patronymic / surname / given
# --------------------------------------------------------------------------

# single source of truth: the full F8 tables live in functions.morphology
# (a drifting local copy classified the same token differently per call site)
from .morphology import PATRONYMIC_SUFFIXES, SURNAME_SUFFIXES  # noqa: F401


def tag_role(token: str) -> str:
    """Classify a name token: initial | patronymic | surname | given.

    Backed by the full F8 tables in ``functions.morphology`` (dictionary
    given names, complete patronymic paradigm, gender-aware surname
    suffixes) — validated end-to-end by tests/test_golden_cases.py."""
    from . import morphology as M

    if len(token) <= 2 and token.endswith("."):
        return "initial"
    low = token.lower().rstrip(".")
    if M.is_patronymic(token) or any(low.endswith(s) for s in PATRONYMIC_SUFFIXES):
        return "patronymic"
    if low in M._GIVEN_RU or low in M._GIVEN_UK:
        return "given"
    if M.is_surname_like(token) or any(low.endswith(s) for s in SURNAME_SUFFIXES):
        return "surname"
    return "given"


def resolve_diminutive(token: str) -> str:
    """Ваня → Иван (case restored to title) — full reference dictionaries
    (2,062 RU + 710 UK entries, functions/names_data.py)."""
    from .names_data import DIMINUTIVES_RU, DIMINUTIVES_UK

    low = token.lower()
    canon = DIMINUTIVES_RU.get(low) or DIMINUTIVES_UK.get(low)
    if canon is None or canon == low:
        return token
    return canon.capitalize() if token[:1].isupper() else canon


def gender_variants(surname: str) -> list[str]:
    """Masculine↔feminine surname forms (both directions), excluding self —
    full F10 pairing incl. invariable suffixes (functions.morphology)."""
    from . import morphology as M

    out = []
    for g in ("female", "male"):
        v = M.surname_gender_variant(surname, g)
        if v != surname and v not in out:
            out.append(v)
    return out


# F11 essentials: ordered person-name reconstruction from role-tagged tokens
_ROLE_ORDER = {"given": 0, "patronymic": 1, "surname": 2, "initial": 0, "other": 3}


def assemble_name(tokens: list[str], roles: list[str] | None = None) -> str:
    """Reassemble a person name in canonical order (given, patronymic,
    surname) with title case, preserving hyphenated-surname and initial
    punctuation — the reference's name_assembler essentials
    (``layers/normalization/name_assembler.py``, behaviour essentials)."""
    if roles is None:
        roles = [tag_role(t) for t in tokens]
    ordered = sorted(
        zip(tokens, roles), key=lambda tr: _ROLE_ORDER.get(tr[1], 3)
    )

    def title(token: str) -> str:
        if token.endswith(".") and len(token) <= 3:  # initial
            return token[:1].upper() + token[1:]
        return "-".join(
            part[:1].upper() + part[1:].lower() if part else part
            for part in token.split("-")
        )

    return " ".join(title(t) for t, _ in ordered)
