"""Seeded corpus and query generator for the benchmark workloads.

Everything here is plain numpy/Python: the engine only ever sees the parquet
files and query strings these functions produce.  Words are lowercase ASCII
pseudo-words built from consonant/vowel syllables, so the engine's index
tokenizer (lower-case, split on non-letter/digit runs) maps every generated
word to itself and the oracle can score the generated tokens directly.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

CONSONANTS = "bcdfghjklmnprstvz"
VOWELS = "aeiou"
LETTERS = "abcdefghijklmnopqrstuvwxyz"
# Zipf-drawn tokens per doc
DOC_LEN = (8, 24)


@dataclass
class Corpus:
    """A generated corpus: ``tokens[i]`` is doc ``doc_ids[i]``'s token list."""

    doc_ids: np.ndarray
    tokens: list[list[str]]

    @property
    def texts(self) -> list[str]:
        return [" ".join(t) for t in self.tokens]


def make_vocab(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct syllable pseudo-words of 2-4 syllables (4-8 letters).

    A syllable is consonant+vowel or vowel+consonant, so words start with
    any of 170 two-letter prefixes and the fuzzy expansion's 2-char prefix
    buckets stay balanced (no single bucket holds a large share)."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        m = (n - len(out)) * 2
        n_syl = rng.integers(2, 5, size=m)
        cv = rng.integers(0, 2, size=(m, 4))
        cs = rng.integers(0, len(CONSONANTS), size=(m, 4))
        vs = rng.integers(0, len(VOWELS), size=(m, 4))
        for i in range(m):
            w = "".join(
                CONSONANTS[cs[i, j]] + VOWELS[vs[i, j]]
                if cv[i, j]
                else VOWELS[vs[i, j]] + CONSONANTS[cs[i, j]]
                for j in range(n_syl[i])
            )
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def zipf_probs(n: int) -> np.ndarray:
    """Zipf(1) over ranks 1..n."""
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64)
    return p / p.sum()


def make_corpus(
    rng: np.random.Generator,
    vocab: list[str],
    n_docs: int,
    first_doc_id: int = 0,
    cover: bool = True,
) -> Corpus:
    """Docs of DOC_LEN Zipf-drawn tokens (rank = vocab index).

    ``cover=True`` additionally places every vocabulary word once, spread
    round-robin over the docs, so the realized dictionary is exactly
    ``vocab`` — the workloads depend on which side of the driver-expansion
    cap the dictionary falls."""
    v = len(vocab)
    lens = rng.integers(DOC_LEN[0], DOC_LEN[1] + 1, size=n_docs)
    draws = rng.choice(v, size=int(lens.sum()), p=zipf_probs(v))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    words = np.asarray(vocab, dtype=object)
    tokens = [list(words[draws[bounds[i]:bounds[i + 1]]]) for i in range(n_docs)]
    if cover:
        perm = rng.permutation(v)
        for j, w in enumerate(perm):
            tokens[j % n_docs].append(vocab[w])
    return Corpus(
        doc_ids=np.arange(first_doc_id, first_doc_id + n_docs, dtype=np.int64),
        tokens=tokens,
    )


def write_docs(corpus: Corpus, path: str, n_files: int = 4) -> None:
    """Write the corpus as ``n_files`` parquet files in the column layout the
    engine's delta stream expects (doc_id, text, lang, source, n_chars)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    texts = corpus.texts
    n = len(texts)
    step = -(-n // n_files)
    for f in range(n_files):
        lo, hi = f * step, min(n, (f + 1) * step)
        if lo >= hi:
            break
        chunk = texts[lo:hi]
        table = pa.table(
            {
                "doc_id": pa.array(corpus.doc_ids[lo:hi], pa.int64()),
                "text": pa.array(chunk, pa.string()),
                "lang": pa.array(["en"] * (hi - lo), pa.string()),
                "source": pa.array(["bench"] * (hi - lo), pa.string()),
                "n_chars": pa.array([len(t) for t in chunk], pa.int64()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


def one_edit_typo(rng: np.random.Generator, word: str, vocab_set: set[str]) -> str:
    """An out-of-vocabulary word at edit distance 1 from ``word`` that keeps
    its first two letters, so the fuzzy expansion's prefix bucket still
    reaches ``word``."""
    for _ in range(1000):
        op = int(rng.integers(0, 3))
        pos = int(rng.integers(2, len(word) + (1 if op == 1 else 0)))
        c = LETTERS[int(rng.integers(0, 26))]
        if op == 0:
            t = word[:pos] + c + word[pos + 1:]
        elif op == 1:
            t = word[:pos] + c + word[pos:]
        else:
            t = word[:pos] + word[pos + 1:]
        if t != word and len(t) >= 3 and t not in vocab_set:
            return t
    raise RuntimeError(f"no out-of-vocabulary typo found for {word!r}")


def prefix_bucket_max(vocab: list[str]) -> int:
    """Size of the largest 2-char prefix bucket (the driver expansion scans
    one bucket per query term)."""
    counts: dict[str, int] = {}
    for w in vocab:
        counts[w[:2]] = counts.get(w[:2], 0) + 1
    return max(counts.values())


def pick_terms(rng: np.random.Generator, lo: int, hi: int, n: int) -> list[int]:
    """``n`` distinct vocabulary ranks from ``[lo, hi)``."""
    return [int(x) for x in rng.choice(np.arange(lo, hi), size=n, replace=False)]
