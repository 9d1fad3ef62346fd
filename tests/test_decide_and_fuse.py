"""Stage-4 gating + fusion (`decide_and_fuse`) as plain driver code.

`search()` and `search_many()` both hand their k-bounded stage rows to
this one function, so its rules are pinned here without Spark: the vector
gate, the cosine and anchor post-boosts, weighted fusion with the shared
bonus, the threshold and the top-k cut.
"""

from __future__ import annotations

import pytest

from hybrid_sanctions_search_engine_spark.plans.hybrid import (
    SearchOpts,
    decide_and_fuse,
    escalates,
)


def vec(doc, score, cos=None, mult=1.0):
    return {
        "doc_id": doc,
        "score": score,
        "cos_sim": score if cos is None else cos,
        "anchor_mult": mult,
    }


OPTS = SearchOpts(top_k=10, enable_cosine_boost=False)


def test_escalation_gate():
    opts = SearchOpts(escalation_threshold=0.6)
    assert escalates([], opts)
    assert escalates([(1, 0.59)], opts)
    assert not escalates([(1, 0.6), (2, 0.1)], opts)
    assert not escalates([], SearchOpts(enable_escalation=False))


def test_empty_ac_fuses_vector_at_weight_one():
    top, used = decide_and_fuse([], [], [vec(7, 0.4), vec(8, 0.3)], OPTS)
    assert used
    assert top == [(7, 0.4), (8, 0.3)]


def test_fuzzy_hits_count_as_lexical_for_the_weight():
    # AC empty (gate opens) but fuzzy found doc 1: vector weight stays 0.4
    top, used = decide_and_fuse([], [(1, 2.0)], [vec(7, 0.5)], OPTS)
    assert used
    assert dict(top) == pytest.approx({1: 2.0 * 0.6, 7: 0.5 * 0.4})


def test_weak_ac_gate_uses_pre_boost_score():
    # 0.29 < weak_ac_threshold 0.3 opens the gate; 0.31 does not, and the
    # vector side (0.4 ≤ 1.5 × 0.31) cannot open it either
    top, used = decide_and_fuse([(1, 0.29)], [], [vec(7, 0.4)], OPTS)
    assert used and 7 in dict(top)
    top, used = decide_and_fuse([(1, 0.31)], [], [vec(7, 0.4)], OPTS)
    assert not used and top == [(1, 0.31)]


def test_vector_better_gate_uses_pre_boost_score():
    # best vector 0.9 vs 1.5 × AC 0.5 = 0.75 → opens
    top, used = decide_and_fuse([(1, 0.5)], [], [vec(7, 0.9)], OPTS)
    assert used
    # 0.7 ≤ 0.75 → rejected, even though the cosine boost (×1.3) and a
    # 1.32 anchor multiplier would lift it past 0.75: the gate sees the
    # pre-boost score
    opts = SearchOpts(top_k=10)
    top, used = decide_and_fuse(
        [(1, 0.5)], [], [vec(7, 0.7, cos=0.71, mult=1.32)], opts
    )
    assert not used and top == [(1, 0.5)]


def test_rejected_gate_returns_lexical_only():
    opts = SearchOpts(top_k=10, enable_vector_fallback=False)
    top, used = decide_and_fuse([], [(2, 1.5)], [vec(7, 0.9)], opts)
    assert not used and top == [(2, 1.5)]
    top, used = decide_and_fuse([(1, 0.1)], [], [], OPTS)
    assert not used and top == [(1, 0.1)]


def test_cosine_and_anchor_boosts():
    opts = SearchOpts(top_k=10)
    top, used = decide_and_fuse(
        [],
        [],
        [vec(1, 0.8), vec(2, 0.6), vec(3, 0.4), vec(4, 0.4, mult=1.2 * 1.1)],
        opts,
    )
    assert used
    assert dict(top) == pytest.approx(
        {1: 0.8 * 1.3, 2: 0.6 * 1.1, 3: 0.4, 4: 0.4 * (1.2 * 1.1)}
    )


def test_boost_keys_on_cosine_not_reranked_score():
    # the fuzz rerank raised score to 0.84, but the raw cosine 0.6 is in
    # the ×1.1 band, not the ×1.3 one
    top, _ = decide_and_fuse([], [], [vec(1, 0.84, cos=0.6)], SearchOpts())
    assert top == [(1, pytest.approx(0.84 * 1.1))]


def test_shared_hit_bonus():
    top, used = decide_and_fuse([(1, 0.2)], [], [vec(1, 0.5), vec(2, 0.5)], OPTS)
    assert used
    got = dict(top)
    assert got[1] == pytest.approx(0.2 * 0.6 + 0.5 * 0.4 + 0.1)
    assert got[2] == pytest.approx(0.5 * 0.4)


def test_lexical_keep_best_across_ac_and_fuzzy():
    top, _ = decide_and_fuse([(1, 0.9), (2, 0.7)], [(1, 0.8), (2, 1.2)], [], OPTS)
    assert top == [(2, 1.2), (1, 0.9)]


def test_threshold_applies_before_top_k():
    opts = SearchOpts(top_k=2, threshold=0.5)
    lexical = [(1, 0.9), (2, 0.45), (3, 0.6), (4, 0.2)]
    top, _ = decide_and_fuse(lexical, [], [], opts)
    # k results that all qualify — not a top-2 that was then filtered
    assert top == [(1, 0.9), (3, 0.6)]
    top, _ = decide_and_fuse(lexical, [], [], SearchOpts(top_k=3, threshold=0.7))
    assert top == [(1, 0.9)]


def test_ties_break_by_doc_id():
    top, _ = decide_and_fuse(
        [(9, 1.0), (3, 1.0), (5, 2.0), (4, 1.0)], [], [], SearchOpts(top_k=3)
    )
    assert top == [(5, 2.0), (3, 1.0), (4, 1.0)]
