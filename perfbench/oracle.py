"""Independent BM25 oracle (DuckDB over the generated tokens) and the result
checks the benchmark runs after its timed phase.

Scores use Lucene BM25 (k1=1.2, b=0.75):
    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    score   = sum_t idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
Both sides are rounded with floor(x * 1e4 + 0.5) / 1e4 and ranked by
(score desc, doc asc); a doc tied with the k-th score is accepted at any of
the tied ranks.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from corpus import Corpus

K1 = 1.2
B = 0.75


def rnd(x: float) -> float:
    return math.floor(x * 1e4 + 0.5) / 1e4


class Bm25Oracle:
    """Scores queries over one or more *sides*.  Each side is scored under
    its own corpus statistics (the engine's base ∪ delta overlay keeps the
    best score per doc across sides, and the sides' doc ids are disjoint);
    a single side holding every corpus is the fully compacted index."""

    def __init__(self, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{temp_dir}'")
        self.con.execute("SET threads TO 2")
        self._sides: dict[str, tuple[int, float]] = {}

    def add_side(self, name: str, corpora: list[Corpus]) -> None:
        doc_ids, terms = [], []
        n_docs = total = 0
        for c in corpora:
            for d, toks in zip(c.doc_ids.tolist(), c.tokens):
                doc_ids.extend([d] * len(toks))
                terms.extend(toks)
                total += len(toks)
            n_docs += len(c.tokens)
        tok = pd.DataFrame({"doc_id": doc_ids, "term": terms})
        self.con.register("tok_in", tok)
        self.con.execute(
            f"CREATE OR REPLACE TABLE post_{name} AS "
            "SELECT term, doc_id, count(*)::INTEGER AS tf FROM tok_in GROUP BY term, doc_id"
        )
        self.con.execute(
            f"CREATE OR REPLACE TABLE dl_{name} AS "
            "SELECT doc_id, count(*)::DOUBLE AS dl FROM tok_in GROUP BY doc_id"
        )
        self.con.execute(
            f"CREATE OR REPLACE TABLE df_{name} AS "
            f"SELECT term, count(*)::DOUBLE AS df FROM post_{name} GROUP BY term"
        )
        self.con.unregister("tok_in")
        self._sides[name] = (n_docs, total / n_docs)

    def topk(self, queries: list[tuple[int, str]], sides: list[str], k: int) -> dict[int, list[tuple[int, float]]]:
        """→ {query_id: [(doc_id, rounded score), ...]} ranked, holding the
        top k plus every doc tied with the k-th score."""
        qt = pd.DataFrame(
            [(qid, t) for qid, text in queries for t in dict.fromkeys(text.split())],
            columns=["qid", "term"],
        )
        self.con.register("qterms", qt)
        parts = []
        for s in sides:
            n, avgdl = self._sides[s]
            parts.append(
                f"""SELECT q.qid, p.doc_id,
                       sum(ln(1 + ({n} - f.df + 0.5) / (f.df + 0.5))
                           * p.tf * ({K1} + 1)
                           / (p.tf + {K1} * (1 - {B} + {B} * l.dl / {avgdl!r}))) AS score
                    FROM qterms q
                    JOIN post_{s} p ON p.term = q.term
                    JOIN df_{s} f ON f.term = q.term
                    JOIN dl_{s} l ON l.doc_id = p.doc_id
                    GROUP BY q.qid, p.doc_id"""
            )
        sql = f"""
            WITH s AS ({" UNION ALL ".join(parts)}),
            r AS (
                SELECT qid, doc_id, floor(score * 1e4 + 0.5) / 1e4 AS rs,
                       row_number() OVER (PARTITION BY qid ORDER BY floor(score * 1e4 + 0.5) / 1e4 DESC, doc_id) AS rn
                FROM s
            ),
            kth AS (SELECT qid, min(rs) AS ks FROM r WHERE rn <= {k} GROUP BY qid)
            SELECT r.qid, r.doc_id, r.rs FROM r JOIN kth USING (qid)
            WHERE r.rs >= kth.ks ORDER BY r.qid, r.rn
        """
        out: dict[int, list[tuple[int, float]]] = {qid: [] for qid, _ in queries}
        for qid, doc, rs in self.con.execute(sql).fetchall():
            out[qid].append((doc, rs))
        self.con.unregister("qterms")
        return out

    def close(self) -> None:
        self.con.close()


def check_topk(got: list[tuple[int, float]], want: list[tuple[int, float]], k: int) -> str | None:
    """``got``: the engine's ranked (doc, score) rows; ``want``: the oracle's
    ranked rows with ties.  → None when they agree, else a reason."""
    got_r = [(d, rnd(s)) for d, s in got]
    want_scores = [s for _, s in want[:k]]
    if [s for _, s in got_r] != want_scores:
        return f"scores {[s for _, s in got_r]} != oracle {want_scores}"
    allowed = dict(want)
    if len({d for d, _ in got_r}) != len(got_r):
        return "duplicate doc in result"
    for d, s in got_r:
        if allowed.get(d) != s:
            return f"doc {d} score {s} not in oracle top-{k} (with ties)"
    return None


def check_parity(single: list[tuple[int, float]], batch: list[tuple[int, float]]) -> str | None:
    """search(q) must equal q's rows of search_many at 9 decimals."""
    a = [(i, d, round(s, 9)) for i, (d, s) in enumerate(single)]
    b = [(i, d, round(s, 9)) for i, (d, s) in enumerate(batch)]
    return None if a == b else f"single {a[:3]}... != batch {b[:3]}..."
