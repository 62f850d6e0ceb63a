"""Hypothesis property tests for the numpy kernels (no Spark).

Complements the fixture-parity tests (which pin EXACT reference
artifacts) with randomized structural properties: batch kernels must
equal their per-doc references on arbitrary inputs, and the register
transport must roundtrip losslessly at every density.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from cuda_selection_criteria_spark.sketchlib.batch import (
    cardinalities,
    decode_registers,
    encode_registers_sparse,
    hll_batch,
    hll_cards_encode_batch,
    register_histograms,
    superminhash_batch,
    union_histograms,
)
from cuda_selection_criteria_spark.sketchlib.hashes import (
    shingle_hashes,
    shingle_hashes_batch,
)
from cuda_selection_criteria_spark.sketchlib.hll import ertl_mle_batch, hll_build
from cuda_selection_criteria_spark.sketchlib.smh import superminhash

_texts = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
        max_size=120,
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=25, deadline=None)
@given(_texts, st.sampled_from([4, 9, 16]))
def test_batch_shingling_equals_per_doc(texts, k):
    items, didx = shingle_hashes_batch(texts, k)
    for i, t in enumerate(texts):
        assert np.array_equal(np.sort(shingle_hashes(t, k)), items[didx == i])


_item_sets = st.lists(
    st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=60),
    min_size=1,
    max_size=8,
)


@settings(max_examples=25, deadline=None)
@given(_item_sets, st.sampled_from([4, 16, 64]))
def test_smh_batch_equals_per_doc(sets, m):
    sets = [np.unique(np.array(s, dtype=np.uint64)) for s in sets]
    counts = np.array([s.size for s in sets], dtype=np.int64)
    items = (
        np.concatenate([s for s in sets if s.size])
        if counts.sum()
        else np.empty(0, dtype=np.uint64)
    )
    didx = np.repeat(np.arange(len(sets), dtype=np.int64), counts)
    sigs = superminhash_batch(items, didx, len(sets), m)
    for i, s in enumerate(sets):
        if s.size:
            assert np.array_equal(sigs[i], superminhash(s, m)), i


@settings(max_examples=25, deadline=None)
@given(_item_sets, st.sampled_from([6, 8]))
def test_hll_fused_equals_per_doc(sets, p):
    sets = [np.unique(np.array(s, dtype=np.uint64)) for s in sets]
    counts = np.array([s.size for s in sets], dtype=np.int64)
    items = (
        np.concatenate([s for s in sets if s.size])
        if counts.sum()
        else np.empty(0, dtype=np.uint64)
    )
    didx = np.repeat(np.arange(len(sets), dtype=np.int64), counts)
    regs = hll_batch(items, didx, len(sets), p)
    for i, s in enumerate(sets):
        assert np.array_equal(regs[i], hll_build(s, p)), i
    cards, blobs = hll_cards_encode_batch(items, didx, len(sets), p, doc_chunk=3)
    np.testing.assert_array_equal(cards, cardinalities(regs, p))
    np.testing.assert_array_equal(decode_registers(blobs, p), regs)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=0, max_value=256),
    st.sampled_from([6, 8]),
    st.randoms(use_true_random=False),
)
def test_register_roundtrip_any_density(nnz, p, rnd):
    m = 1 << p
    nnz = min(nnz, m)
    regs = np.zeros((1, m), dtype=np.uint8)
    idx = rnd.sample(range(m), nnz)
    for i in idx:
        regs[0, i] = rnd.randint(1, 60)
    blobs = encode_registers_sparse(regs)
    assert len(blobs[0]) <= m  # never larger than dense
    np.testing.assert_array_equal(decode_registers(blobs, p), regs)


def _register_pool(p: int, rng: np.random.Generator) -> list[bytes]:
    """Encoded register files of every density: empty, sparse, just
    under and over the sparse/dense crossover, and full."""
    m = 1 << p
    crossover = (m - 4) // 3
    sizes = [0, 0, 1, 2, m // 64, m // 10, m // 10, crossover - 1, crossover + 1, m // 2, m]
    regs = np.zeros((len(sizes) * 3, m), dtype=np.uint8)
    for i, nnz in enumerate(sizes * 3):
        idx = rng.choice(m, size=nnz, replace=False)
        regs[i, idx] = rng.integers(1, 66 - p, size=idx.size)
    return encode_registers_sparse(regs)


@pytest.mark.parametrize("p", [8, 14])
@pytest.mark.parametrize("n_pairs", [1, 257, 513])
def test_union_histograms_equal_dense_register_max(p, n_pairs):
    rng = np.random.default_rng(1000 * p + n_pairs)
    pool = _register_pool(p, rng)
    m = 1 << p
    assert {len(b) == m for b in pool} == {True, False}  # both layouts
    assert min(len(b) for b in pool) == 4  # an empty document (nnz 0)
    ia = rng.integers(0, len(pool), n_pairs)
    ib = rng.integers(0, len(pool), n_pairs)
    ib[: n_pairs // 4] = ia[: n_pairs // 4]  # a document paired with itself
    ia[0] = ib[0] = 0  # empty with empty
    a = [pool[i] for i in ia]
    b = [pool[i] for i in ib]
    want = register_histograms(np.maximum(decode_registers(a, p), decode_registers(b, p)))
    got = union_histograms(a, b, p)
    np.testing.assert_array_equal(got, want)
    np.testing.assert_array_equal(ertl_mle_batch(got, p), ertl_mle_batch(want, p))


def test_union_histograms_empty_batch():
    assert union_histograms([], [], 14).shape == (0, 64)
