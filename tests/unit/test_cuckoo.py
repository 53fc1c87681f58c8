"""Cuckoo-filter invariants (the deletion-capable seen pre-filter,
SURVEY.md §1.2 'bloom/cuckoo'): zero false negatives ever — including
past the load knee via the stash — mergeable blobs, working deletion,
and end-to-end equality with the bloom and exact dedup paths."""

from __future__ import annotations

import numpy as np

from gpse import cuckoo


def _keys(n, seed=42):
    rng = np.random.default_rng(seed)
    return np.unique(rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64))


def test_no_false_negatives_1e5():
    keys = _keys(100_000)
    nb = 1 << 15  # 32768 × 4 slots = 131072 capacity → ~0.76 load
    tbl, stash = cuckoo.build(keys, nb)
    assert cuckoo.query(keys, tbl, stash).all()


def test_no_false_negatives_past_load_knee():
    """Overfull filter (load > 1 is impossible to place): the stash must
    absorb the remainder — membership stays false-negative-free."""
    keys = _keys(5000, seed=1)
    nb = 1 << 10  # capacity 4096 < 5000 keys
    tbl, stash = cuckoo.build(keys, nb)
    assert len(stash) > 0
    assert cuckoo.query(keys, tbl, stash).all()


def test_fpr_sane():
    keys = _keys(100_000, seed=7)
    nb = 1 << 15
    tbl, stash = cuckoo.build(keys, nb)
    probe = np.setdiff1d(_keys(100_000, seed=8), keys)
    fpr = cuckoo.query(probe, tbl, stash).mean()
    # 16-bit fingerprints, 2 buckets × 4 slots: theory ≈ 8/2^16 ≈ 1.2e-4
    assert fpr < 1e-3, fpr


def test_delete_removes_then_membership_drops():
    keys = _keys(10_000, seed=3)
    nb = 1 << 13
    tbl, stash = cuckoo.build(keys, nb)
    victims = keys[:500]
    stash, n = cuckoo.delete(victims, tbl, stash)
    assert n == 500
    # deleted keys may still collide with survivors' fingerprints, but the
    # overwhelming majority must now be reported absent...
    assert cuckoo.query(victims, tbl, stash).mean() < 0.05
    # ...and the survivors must ALL still be present (no collateral damage
    # beyond the documented same-fingerprint caveat)
    survivors = keys[500:]
    assert cuckoo.query(survivors, tbl, stash).mean() > 0.999


def test_merge_equals_joint_build_membership():
    a, b = _keys(20_000, seed=10), _keys(20_000, seed=11)
    nb = 1 << 14
    ta, sa = cuckoo.build(a, nb)
    tb, sb = cuckoo.build(b, nb)
    tm, sm = cuckoo.merge(ta, sa, tb, sb)
    both = np.union1d(a, b)
    assert cuckoo.query(both, tm, sm).all()


def test_delete_then_merge_never_clobbers_survivors():
    """Regression (r3 review): delete used to zero a slot in place,
    leaving a hole; a later merge's packed-slot arithmetic wrote PAST the
    hole and overwrote a live fingerprint → false negative. Delete now
    swap-removes to keep buckets packed. Exercise: fill buckets, delete
    some keys, merge a delta, then every survivor AND every delta key
    must still report present."""
    rng = np.random.default_rng(99)
    nb = 1 << 6  # tiny → buckets actually fill
    a = np.unique(rng.integers(-(2**63), 2**63 - 1, size=200, dtype=np.int64))
    tbl, stash = cuckoo.build(a, nb)
    victims, survivors = a[::3], np.setdiff1d(a, a[::3])
    stash, n = cuckoo.delete(victims, tbl, stash)
    assert n == len(victims)
    b = np.unique(rng.integers(-(2**63), 2**63 - 1, size=150, dtype=np.int64))
    tb, sb = cuckoo.build(b, nb)
    tm, sm = cuckoo.merge(tbl, stash, tb, sb)
    assert cuckoo.query(survivors, tm, sm).all()
    assert cuckoo.query(b, tm, sm).all()


from hypothesis import given, settings, strategies as st

_keys_st = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    min_size=0, max_size=800, unique=True,
)


@settings(max_examples=50, deadline=None)
@given(_keys_st)
def test_property_no_false_negatives_any_keyset(keys):
    """∀ key sets (any size vs a small fixed filter, so overload and the
    stash path are exercised): every inserted key reports maybe-seen."""
    arr = np.asarray(keys, dtype=np.int64)
    tbl, stash = cuckoo.build(arr, nb=1 << 7)  # 512 slots — often overfull
    if len(arr):
        assert cuckoo.query(arr, tbl, stash).all()


@settings(max_examples=30, deadline=None)
@given(_keys_st, _keys_st)
def test_property_merge_preserves_membership(a, b):
    """∀ blob pairs: merge(A, B) contains every key of A and of B."""
    ka = np.asarray(a, dtype=np.int64)
    kb = np.asarray(b, dtype=np.int64)
    ta, sa = cuckoo.build(ka, nb=1 << 8)
    tb, sb = cuckoo.build(kb, nb=1 << 8)
    tm, sm = cuckoo.merge(ta, sa, tb, sb)
    both = np.union1d(ka, kb)
    if len(both):
        assert cuckoo.query(both, tm, sm).all()


@settings(max_examples=30, deadline=None)
@given(_keys_st, _keys_st)
def test_property_delete_then_merge_membership(a, b):
    """∀ key sets: merge after deletions preserves every survivor and
    every delta key (the packed-slot invariant under churn)."""
    ka = np.asarray(a, dtype=np.int64)
    kb = np.asarray(b, dtype=np.int64)
    ta, sa = cuckoo.build(ka, nb=1 << 7)
    victims = ka[::2]
    sa, _ = cuckoo.delete(victims, ta, sa)
    tb, sb = cuckoo.build(kb, nb=1 << 7)
    tm, sm = cuckoo.merge(ta, sa, tb, sb)
    keep = np.union1d(np.setdiff1d(ka, victims), kb)
    if len(keep):
        assert cuckoo.query(keep, tm, sm).all()


@settings(max_examples=30, deadline=None)
@given(_keys_st)
def test_property_delete_inserted_keys_counts(keys):
    """∀ key sets: deleting every inserted key succeeds (n == |keys|) and
    survivors of a half-delete all remain present."""
    arr = np.asarray(keys, dtype=np.int64)
    tbl, stash = cuckoo.build(arr, nb=1 << 8)
    half = arr[: len(arr) // 2]
    stash, n = cuckoo.delete(half, tbl, stash)
    assert n == len(half)
    rest = arr[len(arr) // 2:]
    if len(rest):
        assert cuckoo.query(rest, tbl, stash).all()


def test_remove_from_filters_distributed_expiry(spark):
    """URL expiry: deleting a key set from the cuckoo blobs (bucket-local
    cogroup, no driver collect) drops their membership while every
    surviving key stays present; bloom blobs refuse with ValueError."""
    import pytest
    from pyspark.sql import functions as F

    from gpse import seen as seen_mod

    seen = spark.range(0, 4000).select(
        F.xxhash64("id").alias("url_hash"), F.lit(0).cast("int").alias("first_round")
    )
    blobs = seen_mod.build_cuckoos(seen, n_buckets=8, nb=1 << 11)
    expired = seen.filter(F.col("url_hash") % 5 == 0).select("url_hash")
    updated = seen_mod.remove_from_filters(blobs, expired, n_buckets=8)

    # check the blob layer directly: expired urls should now look mostly
    # NEW (pre-filter says no), surviving urls all maybe-seen
    surv = seen.join(expired, "url_hash", "left_anti")
    import numpy as np
    from gpse import cuckoo as ck

    blob_map = {
        int(r["bucket"]): (
            np.frombuffer(r["tbl"], dtype=np.uint16).reshape(int(r["nbuckets"]), ck.SLOTS),
            np.frombuffer(r["stash"], dtype=np.uint16),
        )
        for r in updated.collect()
    }

    def maybe(keys):
        out = np.zeros(len(keys), dtype=bool)
        b = np.mod(keys, 8)
        for bk in np.unique(b):
            m = b == bk
            tbl, stash = blob_map[int(bk)]
            out[m] = ck.query(keys[m], tbl, stash)
        return out

    ek = np.array([r.url_hash for r in expired.collect()], dtype=np.int64)
    sk = np.array([r.url_hash for r in surv.collect()], dtype=np.int64)
    assert maybe(ek).mean() < 0.05      # expired: almost all gone
    assert maybe(sk).mean() > 0.999     # survivors: all still present
    with pytest.raises(ValueError):
        seen_mod.remove_from_filters(
            seen_mod.build_blooms(seen, 8, nbits=1 << 14), expired, 8
        )


def test_crawl_with_cuckoo_filter_matches_bloom(spark, tmp_path):
    """Full 2-round crawl with seen_filter='cuckoo' ≡ bloom run: identical
    seen sets (CrawlCfg switch, SURVEY.md §1.2)."""
    from gpse import crawl, synth
    from gpse.catalog import Catalog

    corpus = synth.CorpusCfg(n_pages=300, n_hosts=15, seed=42)

    def run(kind, d):
        cfg = crawl.CrawlCfg(
            corpus=corpus, batch_size=120, num_partitions=4, n_salts=4,
            seen_filter=kind, cuckoo_nbuckets=1 << 10, n_bloom_buckets=4,
        )
        cat = Catalog(str(d))
        crawl.run(spark, cat, cfg, 2)
        return {
            (r.url_hash, r.first_round)
            for r in cat.load(spark, "seen_exact").collect()
        }

    assert run("bloom", tmp_path / "b") == run("cuckoo", tmp_path / "c")
