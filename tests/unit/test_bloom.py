"""Bloom layer invariants (SURVEY.md §5.1): zero false negatives ever,
FPR within 2× of the design target at 1e5 keys."""

from __future__ import annotations

import numpy as np

from gpse.seen import _bloom_set, _bloom_test


def test_no_false_negatives_1e5():
    rng = np.random.default_rng(42)
    keys = rng.integers(-(2**63), 2**63 - 1, size=100_000, dtype=np.int64)
    nbits = 1 << int(np.ceil(np.log2(len(keys) * 12)))
    bits = _bloom_set(keys, nbits, 6)
    assert _bloom_test(keys, nbits, 6, bits).all()


def test_fpr_within_2x_target():
    rng = np.random.default_rng(7)
    keys = rng.integers(-(2**63), 2**63 - 1, size=100_000, dtype=np.int64)
    nbits = 1 << int(np.ceil(np.log2(len(keys) * 12)))
    bits = _bloom_set(keys, nbits, 6)
    probe = rng.integers(-(2**63), 2**63 - 1, size=100_000, dtype=np.int64)
    probe = np.setdiff1d(probe, keys)
    fpr = _bloom_test(probe, nbits, 6, bits).mean()
    # k=6, m/n in [12,24) → theoretical FPR ≤ (1-e^(-6n/m))^6 ≈ 0.004
    assert fpr < 0.008, fpr


def test_empty_bloom_rejects_everything():
    bits = np.zeros(1024 // 8, dtype=np.uint8)
    keys = np.arange(1000, dtype=np.int64)
    assert not _bloom_test(keys, 1024, 6, bits).any()
