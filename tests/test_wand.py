from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from splade_spark.index.codec import encode_groups, quantize_weights
from splade_spark.query.wand import _score_query_in_shard


def _term_blocks(docs, weights, scale, block_size):
    """One term's docID-sorted posting list, encoded as a single (shard,
    term) group → the kernel's (firsts, lasts, block_max, block rows)."""
    docs = np.asarray(docs, dtype=np.int64)
    zero = np.zeros(len(docs), dtype=np.int64)
    g = encode_groups(
        zero, zero, docs, quantize_weights(np.asarray(weights), scale),
        block_size=block_size,
    )
    rows = list(zip(g["first_doc"], g["n"], g["doc_bytes"], g["w_bytes"]))
    return g["first_doc"], g["last_doc"], g["block_max"].astype(np.int64), rows


def _brute(posting_sets: dict[int, dict[int, int]], qtfs: dict[int, int], k, theta0):
    """posting_sets: term -> {doc: qweight_int}; exact integer scores."""
    scores: dict[int, int] = {}
    for t, plist in posting_sets.items():
        qtf = qtfs.get(t, 0)
        for d, q in plist.items():
            scores[d] = scores.get(d, 0) + qtf * q
    items = [(d, s) for d, s in scores.items() if s > theta0]
    items.sort(key=lambda x: (-x[1], x[0]))
    return items[:k]


@given(
    st.integers(min_value=1, max_value=4),  # n terms
    st.integers(min_value=1, max_value=15),  # k
    st.integers(min_value=0, max_value=3),  # theta0
    st.randoms(use_true_random=False),
)
@settings(max_examples=120, deadline=None)
def test_wand_kernel_matches_brute_force(n_terms, k, theta0, rnd):
    scale = 255.0 / 20.0
    posting_sets, qtfs, terms = {}, {}, []
    for t in range(n_terms):
        n_docs = rnd.randint(1, 300)
        docs = sorted(rnd.sample(range(0, 1000), n_docs))
        weights = [rnd.uniform(0.01, 20.0) for _ in docs]
        qtf = rnd.randint(1, 3)
        qtfs[t] = qtf
        terms.append((t, qtf, *_term_blocks(docs, weights, scale, 16)))
        q_int = np.rint(np.array(weights) * scale).clip(0, 255).astype(int)
        posting_sets[t] = dict(zip(docs, q_int.tolist()))

    got_d, got_s = _score_query_in_shard(terms, k, theta0, prune=True)
    exact_d, exact_s = _score_query_in_shard(terms, k, theta0, prune=False)
    expected = _brute(posting_sets, qtfs, k, theta0)
    assert list(zip(got_d.tolist(), got_s.tolist())) == expected
    assert list(zip(exact_d.tolist(), exact_s.tolist())) == expected


def test_wand_kernel_empty():
    d, s = _score_query_in_shard([], 10, 0, prune=True)
    assert len(d) == 0 and len(s) == 0


def test_decode_cache_eviction_identical():
    """Results are identical with a byte-budgeted LRU forced to evict on
    every block (budget ~one block) vs the default budget, which holds
    every decoded block here — eviction only costs a re-decode (VERDICT
    r05 #2)."""
    from splade_spark.query.wand import _BlockCache

    rnd = __import__("random").Random(7)
    scale = 255.0 / 20.0
    terms = []
    for t in range(4):
        docs = sorted(rnd.sample(range(0, 2000), 400))
        weights = [rnd.uniform(0.01, 20.0) for _ in docs]
        terms.append((t, 2, *_term_blocks(docs, weights, scale, 16)))

    ref = _BlockCache()  # default 1 GiB budget: never evicts on this fixture
    tiny = _BlockCache(budget=1)  # evicts down to a single entry every put
    d0, s0 = _score_query_in_shard(terms, 25, 0, prune=True, decoded=ref)
    d1, s1 = _score_query_in_shard(terms, 25, 0, prune=True, decoded=tiny)
    assert d0.tolist() == d1.tolist() and s0.tolist() == s1.tolist()
    assert len(tiny.data) <= 1  # the budget actually forced eviction
    assert len(ref.data) > 1 and ref.nbytes <= ref.budget  # no eviction


def test_block_cache_budget_accounting():
    from splade_spark.query.wand import _BlockCache

    c = _BlockCache(budget=3 * 16 * 2 * 8)  # room for ~3 (16+16)-int64 blocks
    blk = (np.arange(16, dtype=np.int64), np.arange(16, dtype=np.int64))
    for i in range(10):
        c.put(("t", i), blk)
    assert len(c.data) == 3
    assert c.get(("t", 9)) is not None  # most recent survives
    assert c.get(("t", 0)) is None  # oldest evicted
