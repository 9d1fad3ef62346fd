"""Smart pre-filter — the reference pipeline's L2 gate as Column expressions.

The reference's smart filter decides whether a text plausibly contains a
screenable name/org before running the expensive layers
(``/root/reference/src/ai_service/layers/smart_filter/smart_filter_service.py``,
behaviour essentials).  Spark-native: a deterministic confidence in [0,1]
from cheap surface signals, SQL-mirrorable for the DuckDB oracle:

    confidence = 0.4·has_capitalized_pair   (two adjacent Title-case words)
               + 0.25·has_id                (8-12 digit run / passport shape)
               + 0.2·has_date               (any supported date format)
               + 0.15·has_quoted            ("..." or «...» segment)

``should_process`` = confidence ≥ threshold (default 0.3); texts failing the
gate short-circuit the pipeline (the reference's early-exit "filtered"
response, ``unified_orchestrator.py:1018-1022``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Title-case word pair across Latin or Cyrillic scripts
_CAP_PAIR_RE = r"[A-ZА-ЯЁІЇЄҐ][a-zа-яёіїєґ'’\-]+\s+[A-ZА-ЯЁІЇЄҐ][a-zа-яёіїєґ'’\-]+"
_ID_RE = r"(\d{8,12}|[A-Z]{2}\d{6})"
_DATE_RE = r"(\d{4}-\d{2}-\d{2}|\d{2}\.\d{2}\.\d{4}|\d{1,2}/\d{1,2}/\d{4})"
_QUOTED_RE = '("[^"]+"|«[^»]+»)'

W_CAP_PAIR = 0.4
W_ID = 0.25
W_DATE = 0.2
W_QUOTED = 0.15
DEFAULT_THRESHOLD = 0.3


def _has(text_col: Column, pattern: str) -> Column:
    return (F.regexp_count(text_col, F.lit(pattern)) > 0).cast("double")


def smartfilter_confidence_col(text_col: Column) -> Column:
    return (
        _has(text_col, _CAP_PAIR_RE) * W_CAP_PAIR
        + _has(text_col, _ID_RE) * W_ID
        + _has(text_col, _DATE_RE) * W_DATE
        + _has(text_col, _QUOTED_RE) * W_QUOTED
    )


def smartfilter_oracle_sql(expr: str = "text") -> str:
    """DuckDB mirror of ``smartfilter_confidence_col``."""
    def has(p: str) -> str:
        esc = p.replace("'", "''")
        return f"(CASE WHEN regexp_matches({expr}, '{esc}') THEN 1.0 ELSE 0.0 END)"

    return (
        f"{has(_CAP_PAIR_RE)} * {W_CAP_PAIR} + {has(_ID_RE)} * {W_ID} + "
        f"{has(_DATE_RE)} * {W_DATE} + {has(_QUOTED_RE)} * {W_QUOTED}"
    )
