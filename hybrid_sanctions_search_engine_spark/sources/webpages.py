"""Common-Crawl-style web-page ingestion: the engine's input table shape.

The corpus contract (SURVEY.md §2 input row) is an Iceberg/parquet table
``(url string, warc_ts timestamp, html binary, text string, lang string)``;
the index builds over extracted text with a per-row invariant: **byte-
identical extracted text per url** across runs and engines.

Design: the extraction is a FIXED, documented spec implemented as a chain
of JVM ``regexp_replace``/``replace`` Column expressions — fully inside
whole-stage codegen, deterministic, and exactly reproducible in ANSI SQL
(the DuckDB oracle mirrors the same chain; the driver's correctness gate
hashes both sides).  A production deployment facing malformed real-world
HTML would swap in an Arrow pandas UDF around a real HTML5 parser — the
schema, the invariant, and every downstream operator stay unchanged; only
the extraction expression is replaced.  The spec:

  1. decode the ``html`` binary as UTF-8
  2. drop ``<script>…</script>`` and ``<style>…</style>`` blocks
     (case-insensitive, non-greedy, dot-matches-newline)
  3. drop ``<!-- … -->`` comments
  4. replace every remaining ``<…>`` tag with a single space
  5. decode the fixed entity set &lt; &gt; &quot; &#39; &nbsp; and
     (last) &amp;
  6. collapse whitespace runs to one space and trim

Synthetic pages for tests/benchmarks are generated DETERMINISTICALLY from
the harness ``documents`` table (seeded layout per doc_id) — no external
data, per the driver instruction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WEBPAGE_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

# step 2-4 patterns (Java regex; (?is) = case-insensitive + dotall)
_SCRIPT_RE = r"(?is)<script\b[^>]*>.*?</script>"
_STYLE_RE = r"(?is)<style\b[^>]*>.*?</style>"
_COMMENT_RE = r"(?s)<!--.*?-->"
_TAG_RE = r"<[^>]*>"
# step 5: fixed entity map, order matters (&amp; last so &amp;lt; decodes
# to the literal string "&lt;", exactly like a single-pass entity decoder)
_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def extract_text_col(html_col: Column) -> Column:
    """The documented extraction spec as one JVM Column expression
    (regex chain — no UDF, stays in codegen, pushes through Catalyst)."""
    s = html_col.cast("string")  # binary → UTF-8
    s = F.regexp_replace(s, _SCRIPT_RE, " ")
    s = F.regexp_replace(s, _STYLE_RE, " ")
    s = F.regexp_replace(s, _COMMENT_RE, " ")
    s = F.regexp_replace(s, _TAG_RE, " ")
    for ent, ch in _ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return s


def extract_text_sql(html_expr: str) -> str:
    """The identical chain in ANSI SQL (DuckDB syntax) — the oracle twin of
    ``extract_text_col``; both run against the same parquet bytes."""
    s = f"CAST({html_expr} AS VARCHAR)"
    for pat in (
        r"(?is)<script\b[^>]*>.*?</script>",
        r"(?is)<style\b[^>]*>.*?</style>",
        r"(?s)<!--.*?-->",
        r"<[^>]*>",
    ):
        esc = pat.replace("'", "''")
        s = f"regexp_replace({s}, '{esc}', ' ', 'g')"
    for ent, ch in _ENTITIES:
        e, c = ent.replace("'", "''"), ch.replace("'", "''")
        s = f"replace({s}, '{e}', '{c}')"
    return f"trim(regexp_replace({s}, '\\s+', ' ', 'g'))"


def py_extract_text(html_bytes: bytes) -> str:
    """Pure-Python twin of the spec — the independent per-row invariant
    oracle for tests (byte-identical output per url is asserted against
    BOTH the Spark expression and this function)."""
    import re

    s = html_bytes.decode("utf-8", errors="replace")
    s = re.sub(r"(?is)<script\b[^>]*>.*?</script>", " ", s)
    s = re.sub(r"(?is)<style\b[^>]*>.*?</style>", " ", s)
    s = re.sub(r"(?s)<!--.*?-->", " ", s)
    s = re.sub(r"<[^>]*>", " ", s)
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return re.sub(r"\s+", " ", s).strip()


def synth_webpages(
    docs: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """Deterministic Common-Crawl-style pages from the harness documents
    table: each doc's text is wrapped in a seeded HTML layout (title chrome,
    a script/style block to strip, entity-encoded ampersands, boilerplate
    chosen by doc_id) so extraction is non-trivial but exactly invertible
    per the spec.  Pure Column exprs — the generator itself is part of the
    deterministic contract (same input table ⇒ byte-identical pages)."""
    variant = F.pmod(F.col("doc_id"), F.lit(3))
    body = F.replace(F.col(text_col), F.lit("&"), F.lit("&amp;"))
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p { color: #000; }</style>"),
        F.lit("<script>var trap = '<p>not text</p>';</script></head><body>"),
        F.when(variant == 0, F.lit("<div class=\"nav\">home &gt; docs</div>"))
        .when(variant == 1, F.lit("<!-- boilerplate banner -->"))
        .otherwise(F.lit("<header>corpus &amp; archive</header>")),
        F.lit("<p>"),
        body,
        F.lit("</p></body></html>"),
    )
    return docs.select(
        F.concat(F.lit("https://corpus.example/doc/"), F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(
            F.from_unixtime(F.lit(1_600_000_000) + F.col("doc_id"))
        ).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.col(text_col).alias("text"),
        F.col(lang_col).alias("lang"),
    )


def webpages_to_documents(
    pages: DataFrame, detect_lang: bool = False
) -> DataFrame:
    """Ingest the web-page table into the engine's documents shape:
    ``doc_id`` = xxhash64(url) (stable, collision-checked at build by the
    indexer's per-shard manifests), ``text`` = the extraction spec over the
    stored bytes, ``n_chars`` recomputed from the extracted text.  This is
    the scan the index build runs over at 10^12 rows — one narrow
    projection, no shuffle, extraction inside codegen.

    ``detect_lang=True`` fills null/empty ``lang`` values from the
    reference-parity config-driven detector
    (``functions.langdetect.with_language``, pure JVM, codegen-sized) over
    the EXTRACTED text — crawl metadata frequently lacks or mislabels the
    language; non-empty stored values are trusted and kept.  Write (or
    persist) the ingested table before running further analytics over the
    filled ``lang`` column: stacking more expressions on top collapses the
    extract chain + the detector's count regexes into one generated method
    and trips the JVM's 64 KB limit (graceful interpreted fallback, but
    slow) — the production pipeline writes the documents table here
    anyway."""
    docs = pages.select(
        F.xxhash64(F.col("url")).alias("doc_id"),
        extract_text_col(F.col("html")).alias("text"),
        F.col("lang"),
        F.lit("web").alias("source"),
    ).withColumn("n_chars", F.length("text"))
    if detect_lang:
        from ..functions.langdetect import with_language

        docs = (
            with_language(docs, text_col="text", out_col="_ld")
            .withColumn(
                "lang",
                F.when(
                    F.col("lang").isNull() | (F.col("lang") == ""),
                    F.col("_ld.language"),
                ).otherwise(F.col("lang")),
            )
            .drop("_ld")
        )
    return docs
