"""Batched msearch ladder (`search_many`) ≡ per-query `search()`.

The batched path runs the whole query set through the adaptive ladder in a
bounded number of Spark jobs (one AC batch, one fuzzy expansion + one fuzzy
scoring, one vector batch); per-query semantics must be IDENTICAL to the
sequential ladder — same stage formulas, same gating, same boosts, same
tie-breaks.
"""

from __future__ import annotations

import os

import pytest

from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
from hybrid_sanctions_search_engine_spark.operators.pq import write_ivf_pq_index
from hybrid_sanctions_search_engine_spark.operators.similarity import (
    write_ivf_index,
    write_lsh_index,
    write_lsh_multiband_index,
)
from hybrid_sanctions_search_engine_spark.operators.sq import write_ivf_sq8_index
from hybrid_sanctions_search_engine_spark.plans.hybrid import (
    HybridSearchPlan,
    SearchOpts,
)

DIM = 64

QUERIES = [
    (1, "spark query join window"),   # strong AC — no escalation
    (2, "sparc"),                     # typo — AC empty, full ladder
    (3, "zzzqqq"),                    # nothing lexical — vector only
    (4, "sраrk query"),               # homoglyph-mixed (Cyrillic а/р)
    (5, "merge sort"),                # ordinary
]


@pytest.fixture(scope="module")
def corpus(spark, sf_smoke_dir):
    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    rows = [
        (r["doc_id"], pseudo_embedding(r["text"], DIM))
        for r in docs.select("doc_id", "text").limit(200).collect()
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return docs, emb


def _assert_parity(plan, opts):
    batched, meta = plan.search_many(QUERIES, opts)
    got = {}
    for r in batched.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9))
        )
    for qid, text in QUERIES:
        res, trace = plan.search(text, opts)
        want = [
            (i + 1, r["doc_id"], round(r["score"], 9))
            for i, r in enumerate(res.collect())
        ]
        assert sorted(got.get(qid, [])) == want, (qid, text)
        hybrid = next(t for t in trace if t.stage == "HYBRID")
        assert meta[qid]["escalated"] == hybrid.meta["escalated"], qid
        assert (
            meta[qid]["vector_fallback_used"]
            == hybrid.meta["vector_fallback_used"]
        ), qid


def test_search_many_parity_bruteforce(spark, corpus):
    docs, emb = corpus
    plan = HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM)
    _assert_parity(plan, SearchOpts(top_k=8))


def test_search_many_parity_no_rerank_with_anchor(spark, corpus):
    """Anchor boosts flow through the batched driver-side path identically
    (rerank off isolates the anchor multiplication)."""
    docs, emb = corpus
    plan = HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM)
    opts = SearchOpts(top_k=8, rapidfuzz_rerank=False)
    anchored = [(9, "zzzqqq 1995-06-24")]
    batched, _ = plan.search_many(anchored, opts)
    got = sorted(
        (r["doc_id"], round(r["score"], 9)) for r in batched.collect()
    )
    res, _ = plan.search(anchored[0][1], opts)
    want = sorted((r["doc_id"], round(r["score"], 9)) for r in res.collect())
    assert got == want


def test_search_many_parity_index_backed(spark, sf_smoke_dir, corpus, tmp_path):
    """Index-backed batched ladder (AC via batch_topk_indexed, fuzzy via the
    weighted chunk-group scorer) ≡ the per-query index-backed ladder."""
    from hybrid_sanctions_search_engine_spark.sources.index_io import build_index

    docs, emb = corpus
    index_dir = str(tmp_path / "hb_idx")
    build_index(docs, index_dir, n_shards=4, chunk_bits=7)
    plan = HybridSearchPlan(
        docs, embeddings=emb, embedding_dim=DIM, index_dir=index_dir
    )
    _assert_parity(plan, SearchOpts(top_k=8))


def test_search_many_empty_and_unknown(spark, corpus, tmp_path):
    from hybrid_sanctions_search_engine_spark.streaming.incremental import (
        fold_delta_embeddings,
    )

    docs, emb = corpus
    plan = HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM)
    res, meta = plan.search_many([], SearchOpts(top_k=5))
    assert res.count() == 0 and meta == {}
    # an unknown layout name is a ValueError everywhere the registry is
    # consulted — never a KeyError from a lookup table
    path = str(tmp_path / "ivf_unknown")
    write_ivf_index(emb, path, n_centroids=4, iters=4)
    with pytest.raises(ValueError, match="bogus"):
        HybridSearchPlan(
            docs, embeddings=emb, embedding_dim=DIM,
            ann_index_dir=path, ann_kind="bogus",
        )
    with pytest.raises(ValueError, match="bogus"):
        fold_delta_embeddings(spark, path, emb.limit(3), kind="bogus")


# writer arguments + plan dials per layout; the batched vector stage of
# each must match the per-query probe path (candidate selection
# bit-identical, exact re-rank cosines at 9 decimals)
ANN_LAYOUTS = {
    "ivf": (write_ivf_index, dict(n_centroids=8, iters=8), dict(ann_n_probe=3)),
    "ivf_pq": (
        write_ivf_pq_index, dict(n_centroids=8, m=16, iters=8),
        dict(ann_n_probe=3, ann_refine=4),
    ),
    "ivf_sq8": (
        write_ivf_sq8_index, dict(n_centroids=8, iters=8),
        dict(ann_n_probe=3, ann_refine=4),
    ),
    "lsh": (
        write_lsh_index, dict(dim=DIM, n_planes=16), dict(ann_max_hamming=6)
    ),
    "lsh_mb": (
        write_lsh_multiband_index, dict(dim=DIM, n_bands=8, band_bits=8), {}
    ),
}


@pytest.mark.parametrize("kind", list(ANN_LAYOUTS))
def test_search_many_parity_ann(spark, corpus, tmp_path, kind):
    """ANN-backed batched vector stage ≡ the per-query probe, every layout."""
    write, write_args, dials = ANN_LAYOUTS[kind]
    docs, emb = corpus
    path = str(tmp_path / kind)
    write(emb, path, **write_args)
    plan = HybridSearchPlan(
        docs, embeddings=emb, embedding_dim=DIM,
        ann_index_dir=path, ann_kind=kind, **dials,
    )
    _assert_parity(plan, SearchOpts(top_k=8))


def test_search_many_no_escalation_skips_vector(spark, corpus, tmp_path):
    """A batch where every query clears the AC threshold must not run (or
    block on) the vector stage at all — the non-speculative future is never
    created and no vector_ms lands in the trace; with an ANN index the
    SPECULATIVE future is abandoned and its job group cancelled instead of
    gating the batch's return on a full ANN probe (round-5 review fixes)."""
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        write_ivf_index,
    )

    docs, emb = corpus
    strong = [(1, "spark query join window"), (2, "merge sort"),
              (3, "customer order data")]
    ann_path = str(tmp_path / "ivf_noesc")
    write_ivf_index(emb, ann_path, n_centroids=4, iters=6)
    plans = [
        HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM),
        HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM,
                         ann_index_dir=ann_path, ann_kind="ivf"),
    ]
    try:
        for plan in plans:
            batched, meta = plan.search_many(strong, SearchOpts(top_k=5))
            rows = batched.collect()
            assert rows
            assert not any(m["escalated"] for m in meta.values())
            assert "vector_ms" not in plan.last_batch_trace, (
                plan.ann_index_dir, plan.last_batch_trace,
            )
            # parity with the sequential ladder still holds on the fast path
            for qid, text in strong:
                res, _ = plan.search(text, SearchOpts(top_k=5))
                want = [(i + 1, r["doc_id"], round(r["score"], 9))
                        for i, r in enumerate(res.collect())]
                got = sorted(
                    (r["rank"], r["doc_id"], round(r["score"], 9))
                    for r in rows if r["query_id"] == qid
                )
                assert got == want, (qid, text)
    finally:
        for plan in plans:
            plan.close()


def test_search_many_parity_rerank_off_no_anchors(spark, corpus, tmp_path):
    """The rerank-free fast path (no fuzz rerank, no anchors in any query
    → the batched vector stage skips the doc-text join) must stay
    result-identical to the sequential ladder."""
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        write_ivf_index,
    )

    docs, emb = corpus
    path = str(tmp_path / "ivf_fastpath")
    write_ivf_index(emb, path, n_centroids=4, iters=6)
    plan = HybridSearchPlan(
        docs, embeddings=emb, embedding_dim=DIM,
        ann_index_dir=path, ann_kind="ivf", ann_n_probe=4,
    )
    opts = SearchOpts(top_k=6, rapidfuzz_rerank=False)
    try:
        _assert_parity(plan, opts)
    finally:
        plan.close()


def test_driver_expansion_twin_of_spark_path(spark, corpus):
    """The in-RAM dictionary fast path (round 6) must produce EXACTLY the
    Spark prefix-join expansion's rows — same candidates, same caps, same
    weights to the last bit — or single/batch parity would silently drift
    whenever a plan crosses the driver_expansion_max_terms threshold."""
    docs, emb = corpus
    plan = HybridSearchPlan(docs)
    try:
        opts = SearchOpts()
        qids = [q for q, _ in QUERIES]
        qtext = dict(QUERIES)
        fast = plan._expand_terms_batch(qids, qtext, opts)
        assert plan._driver_dictionary() is not None  # fast path exercised
        plan.driver_expansion_max_terms = 0  # force the Spark path
        plan._driver_dict = ...
        slow = plan._expand_terms_batch(qids, qtext, opts)
        as_set = lambda rows: {
            (r["query_id"], r["term"], r["term_weight"]) for r in rows
        }
        assert as_set(fast) == as_set(slow)
        assert fast  # non-trivial comparison
    finally:
        plan.close()


def test_search_many_parity_min_should_match(spark, corpus):
    """opts.min_should_match="75%" flows through both ladders identically:
    the AC stage (base scorer and, in delta tests elsewhere, the overlay)
    pre-filters under-matched docs in search() and search_many() the same
    way, so batch ≡ single holds with the dial engaged."""
    docs, emb = corpus
    plan = HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM)
    try:
        _assert_parity(
            plan, SearchOpts(top_k=5, min_should_match="75%")
        )
    finally:
        plan.close()


def test_search_many_parity_threshold(spark, corpus):
    """opts.threshold (P2 final filter, reference _process_results) applies
    BEFORE the top-k cut and identically in both ladders; results below it
    never surface."""
    docs, emb = corpus
    plan = HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM)
    try:
        opts = SearchOpts(top_k=5, threshold=0.9)
        _assert_parity(plan, opts)
        batched, _ = plan.search_many(QUERIES, opts)
        assert all(r["score"] >= 0.9 for r in batched.collect())
        # sanity: the dial actually bites vs threshold-off
        off, _ = plan.search_many(QUERIES, SearchOpts(top_k=5))
        assert any(r["score"] < 0.9 for r in off.collect())
    finally:
        plan.close()
