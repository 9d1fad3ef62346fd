"""Workload definitions: corpus shape and the seeded query stream of each.

Both workloads are closed loops with one client.  The engine receives only
the parquet files and query strings built here.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

import corpus as C

BATCH_QUERIES = 100
TOP_K = 10


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    vocab: int
    # vocabulary ranks clean query terms are drawn from
    term_lo: int
    term_hi: int
    # share of each batch whose terms are all replaced by 1-edit typos
    typo_share: float
    # single search() calls per cycle, drawn from the cycle's batch:
    # typo'd (escalating) ones, then clean ones
    singles_escalated: int = 0
    singles_clean: int = 0
    # nominal wall of one cycle on the reference box: a run does
    # round(--seconds / cycle_s) cycles, so every run does the same work
    cycle_s: float = 12.0
    # ingest cycle: new docs per landed file (0 = read-only workload)
    delta_docs: int = 0


WORKLOADS = {
    w.name: w
    for w in (
        # vocabulary above the 50k driver-expansion cap; half of each batch
        # is typo'd tail terms, so Spark-side fuzzy expansion, fuzzy scoring
        # and the IVF probe are on the critical path
        Workload(
            name="screen_escalate",
            n_docs=2500,
            vocab=60_000,
            term_lo=30_000,
            term_hi=60_000,
            typo_share=0.5,
            singles_escalated=2,
        ),
        # head-term batches under the cap (expansion in RAM, fuzzy scoring
        # fused into the AC job, nothing escalates) served beside streamed
        # delta ingest, then compaction and a plan reload
        Workload(
            name="ingest_overlay",
            n_docs=2500,
            vocab=30_000,
            term_lo=10,
            term_hi=400,
            typo_share=0.0,
            singles_clean=1,
            cycle_s=15.0,
            delta_docs=200,
        ),
    )
}


def chunk_bits_for(n_docs: int) -> int:
    """Chunk size giving ~8 doc chunks, so the batched scorer runs the
    same number of doc groups (8) as bench.py's sf0.1 corpus."""
    bits = 6
    while (n_docs >> bits) > 8:
        bits += 1
    return bits


class QueryStream:
    """Seeded source of 100-query batches (and the probe terms of ingest
    cycles).  ``batch(c)`` is the same for the same seed and cycle ``c``."""

    def __init__(self, wl: Workload, vocab: list[str], seed: int):
        self.wl = wl
        self.vocab = vocab
        self.vocab_set = set(vocab)
        self.seed = seed

    def batch(self, cycle: int) -> tuple[list[tuple[int, str]], set[int]]:
        """→ (queries, ids of the typo'd queries)."""
        rng = np.random.default_rng([self.seed, 1, cycle])
        n_typo = int(round(BATCH_QUERIES * self.wl.typo_share))
        typo_ids = {int(x) for x in rng.choice(BATCH_QUERIES, size=n_typo, replace=False)}
        queries = []
        for i in range(BATCH_QUERIES):
            ranks = C.pick_terms(rng, self.wl.term_lo, self.wl.term_hi, 2 + int(rng.integers(0, 2)))
            terms = [self.vocab[r] for r in ranks]
            if i in typo_ids:
                terms = [C.one_edit_typo(rng, t, self.vocab_set) for t in terms]
            queries.append((cycle * 1000 + i, " ".join(terms)))
        return queries, {cycle * 1000 + i for i in typo_ids}

    def singles(self, cycle: int, queries: list[tuple[int, str]], typo_ids: set[int]) -> list[tuple[int, str]]:
        """Escalated singles first, then clean ones, drawn from the batch."""
        rng = np.random.default_rng([self.seed, 2, cycle])
        esc = [q for q in queries if q[0] in typo_ids]
        clean = [q for q in queries if q[0] not in typo_ids]
        pick = []
        for pool, n in ((esc, self.wl.singles_escalated), (clean, self.wl.singles_clean)):
            for j in rng.choice(len(pool), size=min(n, len(pool)), replace=False):
                pick.append(pool[int(j)])
        return pick

    def delta(self, cycle: int, first_doc_id: int) -> tuple[C.Corpus, str, int]:
        """New docs for ingest cycle ``cycle`` → (corpus, probe term, planted
        doc id).  The probe term is a fresh pseudo-word that occurs in no
        other doc of the base or any delta."""
        rng = np.random.default_rng([self.seed, 3, cycle])
        docs = C.make_corpus(rng, self.vocab, self.wl.delta_docs, first_doc_id=first_doc_id, cover=False)
        # "zq" never occurs in a syllable word, so the probe is out of
        # every generated vocabulary
        probe = f"{C.make_vocab(rng, 1)[0]}zq{C.LETTERS[cycle % 26]}{C.LETTERS[cycle // 26 % 26]}"
        planted = int(rng.integers(0, self.wl.delta_docs))
        docs.tokens[planted].append(probe)
        return docs, probe, int(docs.doc_ids[planted])
