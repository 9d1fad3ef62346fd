"""Unicode text normalization — the engine's per-row invariant surface.

Re-implements, from scratch, the *empirical* semantics of the reference
pipeline's Unicode layer (studied at
``/root/reference/src/ai_service/layers/unicode/unicode_service.py:295-394``
and probed at runtime — the comments in that file do not always match the
code, e.g. U+2019/U+2018 are NOT remapped and ``:`` maps to ``"`` because of
dict-literal key collisions; we reproduce observed behaviour, byte-identical,
verified by `tests/test_normalize_parity.py` against the reference module).

Design for Spark: every public function has
  * a pure-Python per-string form (``normalize_text``) used by tests, and
  * a pandas-Series form (``normalize_series``) used inside Arrow pandas
    UDFs — vectorized fast path (regex mask for already-normalized ASCII
    rows), per-row C-level fallbacks (``str.translate`` / ``unicodedata``)
    only for rows that need them. No row-at-a-time Python UDFs anywhere.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd

# --------------------------------------------------------------------------
# Character tables (data, derived from observed reference behaviour)
# --------------------------------------------------------------------------

# Complex-character replacement map (reference `character_mapping`, empirical:
# the final dict after Python literal key collisions).  unicode_service.py:22-97
CHAR_MAP: dict[str, str] = {
    "'": "'",          # U+0027 identity (collision artifact, kept for parity)
    "ʼ": "'",     # modifier letter apostrophe
    "`": "'",          # grave accent used as apostrophe
    "´": "'",     # acute accent used as apostrophe
    # NB: the reference's U+201C/U+201D entries collapse into one inert
    # multi-char dict key (string-literal concatenation artifact), so smart
    # double quotes are NOT remapped — observed behaviour, kept for parity.
    "«": '"', "»": '"',      # « »
    "–": "-", "—": "-", "−": "-",  # – — −
    "ё": "е", "Ё": "е",       # ё Ё → е
    "á": "a", "à": "a", "â": "a", "ã": "a", "ä": "a", "å": "a",
    "é": "e", "è": "e", "ê": "e", "ë": "e",
    "í": "i", "ì": "i", "î": "i", "ï": "i",
    "ó": "o", "ò": "o", "ô": "o", "õ": "o", "ö": "o",
    "ú": "u", "ù": "u", "û": "u", "ü": "u",
    "ý": "y", "ÿ": "y",
    "ß": "ss",
    "Ä": "A", "Ö": "O", "Ü": "U",
    "ç": "c",
}
_CHAR_MAP_TRANS = str.maketrans(CHAR_MAP)
_CHAR_MAP_KEYS = set(CHAR_MAP)

# Cyrillic→Latin visually-identical homoglyph pairs. unicode_service.py:104-122
HOMOGLYPH_CYR2LAT: dict[str, str] = {
    "а": "a", "А": "A", "е": "e", "Е": "E",
    "о": "o", "О": "O", "р": "p", "Р": "P",
    "с": "c", "С": "C", "х": "x", "Х": "X",
    "у": "y", "У": "Y", "і": "i", "І": "I",
    "ј": "j", "Ј": "J", "к": "k", "К": "K",
    "м": "m", "М": "M", "н": "n", "Н": "N",
    "т": "t", "Т": "T",
}
HOMOGLYPH_LAT2CYR: dict[str, str] = {v: k for k, v in HOMOGLYPH_CYR2LAT.items()}
_CYR2LAT_TRANS = str.maketrans(HOMOGLYPH_CYR2LAT)
_LAT2CYR_TRANS = str.maketrans(HOMOGLYPH_LAT2CYR)

INVISIBLE_CHARS = (
    "​‌‍﻿‎‏‪‫‬‭‮⁠"
)

# Combining marks stripped on the main path (U+0300–U+034F minus the five
# codepoints the reference's table omits). unicode_service.py:508-675
_COMBINING_STRIP = set(range(0x0300, 0x0350)) - {0x0304, 0x0305, 0x030D, 0x030E, 0x0310}
_COMBINING_TRANS = {cp: None for cp in _COMBINING_STRIP}
_COMBINING_RE = re.compile("[" + "".join(chr(c) for c in sorted(_COMBINING_STRIP)) + "]")

# cp1252 control-byte recovery (reference's first fixes block; its second,
# cp1251 block is dead code — sequential replace leaves no \x8x bytes).
# unicode_service.py:126-205
_CP1252_FIXES: dict[int, str] = {
    0x80: "€", 0x81: "", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ", 0x89: "‰",
    0x8A: "Š", 0x8B: "‹", 0x8C: "Œ", 0x8D: "", 0x8E: "Ž",
    0x8F: "", 0x90: "", 0x91: "", 0x92: "", 0x93: '"', 0x94: '"',
    0x95: "•", 0x96: "–", 0x97: "—", 0x98: "˜", 0x99: "™",
    0x9A: "š", 0x9B: "›", 0x9C: "œ", 0x9D: "", 0x9E: "ž",
    0x9F: "Ÿ",
}
_CP1252_TRANS = {k: v for k, v in _CP1252_FIXES.items()}

# Partial UTF-8-as-cp1252 mojibake recovery, applied to the *original* text
# when full recovery is rejected.  Pair list extracted empirically from the
# reference (dict-literal collisions resolved: bare "Ñ" → "я" wins, making
# every later two-char "Ñ?" key unreachable).  unicode_service.py:224-272
_PARTIAL_FIXES: list[tuple[str, str]] = [
    ("Ð¡", "С"),          # С
    ("Ðµ", "е"),          # е
    ("Ñ€", "р"),          # р
    ("Ð³", "г"),          # г
    ("Ð¸", "и"),          # и
    ("Ð¹", "й"),          # й
    ("Ð˜", "И"),          # И
    ("Ð²", "в"),          # в
    ("Ð°", "а"),          # а
    ("Ð½", "н"),          # н
    ("Ð¾", "о"),          # о
    ("Ñ", "я"),                # я  (collision winner; consumes all Ñ)
    ("Ñ‚", "т"),          # unreachable after bare-Ñ replace
    ("Ñƒ", "у"),
    ("Ñ„", "ф"),
    ("Ñ…", "х"),
    ("Ñ†", "ц"),
    ("Ñ‡", "ч"),
    ("Ñˆ", "ш"),
    ("Ñ‰", "щ"),
    ("ÑŠ", "ъ"),
    ("Ñ‹", "ы"),
    ("ÑŒ", "ь"),
    ("ÑŽ", "ю"),
]

_CYRILLIC_LETTER_RE = re.compile(r"[а-яёіїєґ]", re.IGNORECASE)
_LATIN_LETTER_RE = re.compile(r"[a-z]", re.IGNORECASE)
_CYR_COUNT_RE = re.compile(r"[а-яёіїєґА-ЯЁІЇЄҐ]")
_LAT_COUNT_RE = re.compile(r"[a-zA-Z]")
_CTRL_BYTE_RE = re.compile(r"[\x80-\x9f]")
_MULTI_WS_RE = re.compile(r"\s{2,}")

# Vectorized fast path: a row is trivially idempotent if it is ASCII printable
# without uppercase, control bytes, or chars from CHAR_MAP, already stripped
# and single-spaced.  (Subset of the reference's idempotency early-exit.)
_FAST_IDEMPOTENT_RE = re.compile(r"[a-z0-9 !#$%&()*+,\-./;<=>?@\[\]^_{|}~]*")


def _is_problematic_mixed_script(text: str) -> bool:
    """Turkish+Cyrillic or Greek+Cyrillic combos skip combining-strip.

    unicode_service.py:462-483
    """
    if not text or len(text) < 2:
        return False
    has_turkish = any(c in "İıĞğŞş" for c in text)
    has_cyr = any("Ѐ" <= c <= "ӿ" for c in text)
    if has_turkish and has_cyr:
        return True
    has_greek = any("Ͱ" <= c <= "Ͽ" or "ἀ" <= c <= "῿" for c in text)
    return has_greek and has_cyr


def _attempt_encoding_recovery(text: str) -> str:
    """cp1252 control-byte fix, else partial mojibake fix on the original."""
    recovered = text.translate(_CP1252_TRANS) if _CTRL_BYTE_RE.search(text) else text
    if recovered != text:
        score = 2 * len(_CYRILLIC_LETTER_RE.findall(recovered)) + len(
            _LATIN_LETTER_RE.findall(recovered)
        )
        if score > 0:
            return recovered
    if "Ð" in text or "Ñ" in text:
        partial = text
        for old, new in _PARTIAL_FIXES:
            partial = partial.replace(old, new)
        if partial != text and _CYRILLIC_LETTER_RE.search(partial):
            return partial
    return text


def fold_homoglyphs(text: str) -> tuple[str, int]:
    """Fold mixed-script homoglyphs toward the dominant alphabet.

    unicode_service.py:403-460 — counts Cyrillic vs Latin letters; converts
    the minority script's visually-identical chars to the majority script.
    """
    if not text:
        return text, 0
    cyr = len(_CYR_COUNT_RE.findall(text))
    lat = len(_LAT_COUNT_RE.findall(text))
    if cyr > lat:
        folded = text.translate(_LAT2CYR_TRANS)
    elif lat > cyr:
        folded = text.translate(_CYR2LAT_TRANS)
    else:
        return text, 0
    n = sum(1 for a, b in zip(text, folded) if a != b)
    return folded, n


def _strip_combining(text: str) -> str:
    return text.translate(_COMBINING_TRANS)


def _is_idempotent(text: str) -> bool:
    """The reference's early-exit predicate. unicode_service.py:313-327"""
    if any(c in _CHAR_MAP_KEYS for c in text):
        return False
    if _MULTI_WS_RE.search(text) or text != text.strip():
        return False
    if any(c in text for c in INVISIBLE_CHARS):
        return False
    if any(c.isupper() for c in text):
        return False
    return text == unicodedata.normalize("NFC", text) or text == unicodedata.normalize(
        "NFKC", text
    )


def normalize_text(text: str | None, normalize_homoglyphs: bool = False) -> str:
    """Normalize one string; byte-identical to the reference chain.

    Order of operations (unicode_service.py:295-394): idempotency early-exit →
    encoding recovery → optional homoglyph fold → complex-char replace → NFC →
    combining-accent strip (skipped for problematic mixed script) → NFC.
    Case folding / ASCII folding / final cleanup are intentionally absent
    (disabled in the reference).
    """
    if not text:
        return "" if text is None else text
    if _is_idempotent(text):
        return text
    text = _attempt_encoding_recovery(text)
    if normalize_homoglyphs:
        text, _ = fold_homoglyphs(text)
    text = text.translate(_CHAR_MAP_TRANS)
    text = unicodedata.normalize("NFC", text)
    if not _is_problematic_mixed_script(text):
        text = _strip_combining(text)
        text = unicodedata.normalize("NFC", text)
    return text


# --------------------------------------------------------------------------
# AC canonicalizer + language helpers (high_recall_ac_generator.py:142-181)
# --------------------------------------------------------------------------

_AC_APOSTROPHE_RE = re.compile(r"['`]")
_AC_HYPHEN_RE = re.compile(r"[−–—]")
_WS_RE = re.compile(r"\s+")


def normalize_for_ac(text: str | None) -> str:
    """Index-side canonicalizer: NFKC → apostrophe/hyphen unify → space
    collapse → normalize_text with homoglyph folding → trim."""
    if not text:
        return ""
    text = unicodedata.normalize("NFKC", text)
    text = _AC_APOSTROPHE_RE.sub("'", text)
    text = _AC_HYPHEN_RE.sub("-", text)
    text = _WS_RE.sub(" ", text)
    text = normalize_text(text, normalize_homoglyphs=True)
    return text.strip()


def casefold_by_language(text: str, language: str) -> str:
    """lower() for ru/uk, casefold() otherwise. high_recall_ac_generator.py:173-181"""
    return text.lower() if language in ("ru", "uk") else text.casefold()


def detect_script(text: str) -> str:
    """cyrillic / latin / mixed / unknown by letter ratio (>0.7 / <0.3)."""
    if not text:
        return "unknown"
    cyr = sum(1 for c in text if "Ѐ" <= c <= "ӿ")
    lat = sum(1 for c in text if "A" <= c <= "Z" or "a" <= c <= "z")
    total = cyr + lat
    if total == 0:
        return "unknown"
    ratio = cyr / total
    if ratio > 0.7:
        return "cyrillic"
    if ratio < 0.3:
        return "latin"
    return "mixed"


def detect_language(text: str) -> str:
    """ru / uk / en / mixed via script + Ukrainian markers."""
    script = detect_script(text)
    if script == "latin":
        return "en"
    if script == "cyrillic":
        low = text.lower()
        if any(m in low for m in ("ї", "є", "і", "ґ", "йо", "ич")):
            return "uk"
        return "ru"
    return "mixed"


# --------------------------------------------------------------------------
# pandas-Series vectorized drivers (used inside Arrow pandas UDFs)
# --------------------------------------------------------------------------

def normalize_series(s: pd.Series, normalize_homoglyphs: bool = False) -> pd.Series:
    """Vectorized normalize: regex fast path passes trivially-clean rows
    through untouched; only the remainder runs the full per-string chain."""
    s = s.fillna("")
    fast = s.str.fullmatch(_FAST_IDEMPOTENT_RE) & ~s.str.contains(
        _MULTI_WS_RE, regex=True
    ) & (s.str.strip() == s)
    out = s.copy()
    slow_idx = s.index[~fast]
    if len(slow_idx):
        out.loc[slow_idx] = s.loc[slow_idx].map(
            lambda t: normalize_text(t, normalize_homoglyphs=normalize_homoglyphs)
        )
    return out


def detect_language_series(s: pd.Series) -> pd.Series:
    return s.fillna("").map(detect_language)
