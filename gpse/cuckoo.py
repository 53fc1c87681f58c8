"""Cuckoo-filter blobs: the deletion-capable alternative to the bloom
pre-filter (SURVEY.md §1.2 names "bloom/cuckoo"; VERDICT r02 'missing' #3).

Same contract as the bloom blobs (gpse/seen.py): a per-bucket byte blob,
false positives allowed, false negatives IMPOSSIBLE (property-tested).
What cuckoo adds over bloom is `delete` — a crawl that expires URLs
(re-crawl windows, robots flips) can remove keys from the pre-filter
instead of rebuilding it.

Standard partial-key cuckoo filter [Fan et al., CoNEXT'14 public design]:
`nb` buckets (power of two) × `SLOTS` slots of 16-bit fingerprints;
a key's two candidate buckets are i1 = h(key) & (nb-1) and
i2 = i1 XOR (h(fp) & (nb-1)) — the XOR trick makes the pair recoverable
from (bucket, fp) alone, which is what makes `merge` (re-insert a delta
blob's entries into the carried blob) and `delete` possible.

Construction is numpy-vectorized in two bulk passes (place everything that
fits at i1, then at i2 — a grouped cumcount fill per pass), then a bounded
eviction loop over the small remainder; keys whose eviction walk exhausts
land in an exact fingerprint STASH, so no insert is ever dropped → no
false negatives ever, even past the load knee. All blobs built with the
same (nb, SLOTS) are mergeable, mirroring the fixed-nbits bloom contract.
"""

from __future__ import annotations

import numpy as np

SLOTS = 4
FP_BITS = 16
MAX_KICKS = 500

_C1 = np.uint64(0xFF51AFD7ED558CCD)
_C2 = np.uint64(0xC4CEB9FE1A85EC53)


def _mix(x: np.ndarray) -> np.ndarray:
    z = (x ^ (x >> np.uint64(33))) * _C1
    z = (z ^ (z >> np.uint64(33))) * _C2
    return z ^ (z >> np.uint64(33))


def _fp_and_buckets(keys: np.ndarray, nb: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(fingerprint, i1, i2) per key; fp is 16-bit nonzero."""
    h = _mix(keys.astype(np.uint64))
    fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)
    mask = np.uint64(nb - 1)
    i1 = (h & mask).astype(np.int64)
    i2 = (i1 ^ (_mix(fp.astype(np.uint64)) & mask).astype(np.int64))
    return fp, i1, i2


def _alt_bucket(bucket: np.ndarray, fp: np.ndarray, nb: int) -> np.ndarray:
    mask = np.uint64(nb - 1)
    return bucket ^ (_mix(fp.astype(np.uint64)) & mask).astype(np.int64)


def _bulk_place(table: np.ndarray, occ: np.ndarray, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
    """Place as many (idx_k, fp_k) as fit in their bucket (vectorized
    grouped-cumcount fill). Mutates table/occ; returns the placed mask."""
    order = np.argsort(idx, kind="stable")
    si, sf = idx[order], fp[order]
    # cumcount within each run of equal bucket ids
    first = np.r_[True, si[1:] != si[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(len(si)), 0))
    cum = np.arange(len(si)) - run_start
    slot = occ[si] + cum
    ok = slot < SLOTS
    table[si[ok], slot[ok]] = sf[ok]
    np.add.at(occ, si[ok], 1)
    placed = np.zeros(len(idx), dtype=bool)
    placed[order] = ok
    return placed


def _evict_insert(table: np.ndarray, fp: int, start_bucket: int, stash: list[int]) -> None:
    """Bounded eviction walk for one fingerprint (shared by build and
    merge): fill the lowest free slot, else rotate victims through the
    alternate-bucket hop; exhausted walks land in the exact stash, so no
    insert is ever dropped."""
    nb = table.shape[0]
    cur_fp, cur_b = fp, start_bucket
    for kick in range(MAX_KICKS):
        free = np.flatnonzero(table[cur_b] == 0)
        if len(free):
            table[cur_b, free[0]] = cur_fp
            return
        # deterministic eviction: rotate the victim slot by kick count
        s = kick % SLOTS
        victim = table[cur_b, s]
        table[cur_b, s] = cur_fp
        cur_fp = victim
        cur_b = int(_alt_bucket(np.array([cur_b]), np.array([cur_fp], dtype=np.uint16), nb)[0])
    stash.append(int(cur_fp))


def build(keys: np.ndarray, nb: int) -> tuple[np.ndarray, np.ndarray]:
    """Build a cuckoo filter over int64 keys → (table[nb, SLOTS] uint16,
    stash uint16 array). `nb` must be a power of two (mergeability: all
    blobs of a bucket family share one nb).

    Invariant: every bucket's occupied slots are PACKED low-first — the
    bulk passes fill contiguously from empty, the eviction walk fills the
    lowest free slot or replaces an occupied one, and delete() swap-
    removes. _bulk_place's occ+cumcount slot arithmetic relies on it."""
    assert nb & (nb - 1) == 0, "nb must be a power of two"
    table = np.zeros((nb, SLOTS), dtype=np.uint16)
    occ = np.zeros(nb, dtype=np.int64)
    if len(keys) == 0:
        return table, np.zeros(0, dtype=np.uint16)
    fp, i1, i2 = _fp_and_buckets(keys.astype(np.int64), nb)
    placed = _bulk_place(table, occ, i1, fp)
    rem = ~placed
    if rem.any():
        placed2 = _bulk_place(table, occ, i2[rem], fp[rem])
        rem_idx = np.flatnonzero(rem)[~placed2]
    else:
        rem_idx = np.zeros(0, dtype=np.int64)
    stash: list[int] = []
    for k in rem_idx:  # bounded eviction walk over the small remainder
        _evict_insert(table, fp[k], int(i1[k]), stash)
    return table, np.asarray(stash, dtype=np.uint16)


def query(keys: np.ndarray, table: np.ndarray, stash: np.ndarray) -> np.ndarray:
    """maybe-seen mask: fp present in either candidate bucket or the stash.
    Zero false negatives for any inserted key (insert never drops)."""
    nb = table.shape[0]
    fp, i1, i2 = _fp_and_buckets(keys.astype(np.int64), nb)
    hit = (table[i1] == fp[:, None]).any(axis=1) | (table[i2] == fp[:, None]).any(axis=1)
    if len(stash):
        hit |= np.isin(fp, stash)
    return hit


def delete(keys: np.ndarray, table: np.ndarray, stash: np.ndarray) -> tuple[np.ndarray, int]:
    """Remove ONE fingerprint occurrence per key (bucket i1, then i2, then
    stash). Returns (new_stash, n_deleted). Only delete keys known to have
    been inserted — the standard cuckoo caveat: deleting a never-inserted
    key whose fingerprint collides would evict someone else's entry."""
    nb = table.shape[0]
    fp, i1, i2 = _fp_and_buckets(keys.astype(np.int64), nb)
    stash_list = stash.tolist()
    n = 0
    for k in range(len(keys)):
        hit = False
        for b in (i1[k], i2[k]):
            s = np.flatnonzero(table[b] == fp[k])
            if len(s):
                # SWAP-REMOVE to keep the bucket's occupied slots packed
                # low-first (the invariant _bulk_place's occ+cumcount slot
                # arithmetic depends on): move the last occupied slot's
                # fingerprint into the vacated slot. Zeroing in place
                # would leave a hole a later merge() writes past,
                # clobbering a live fingerprint → false negatives.
                occ_slots = np.flatnonzero(table[b] != 0)
                last = occ_slots[-1]
                table[b, s[0]] = table[b, last]
                table[b, last] = 0
                hit = True
                break
        if not hit and int(fp[k]) in stash_list:
            stash_list.remove(int(fp[k]))
            hit = True
        n += int(hit)
    return np.asarray(stash_list, dtype=np.uint16), n


def merge(
    table_a: np.ndarray, stash_a: np.ndarray,
    table_b: np.ndarray, stash_b: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Fold blob B's entries into blob A (the incremental per-round merge,
    like the blooms' OR). B's (bucket, fp) pairs re-insert with candidate
    buckets {j, j XOR h(fp)} — recoverable thanks to partial-key cuckoo —
    so the merge needs no original keys. A table entry that fits in
    neither bucket takes the eviction walk and, if that exhausts, goes to
    the stash. B's stash is appended to A's stash as is (a stashed fp has
    no bucket to re-insert into). Same (nb, SLOTS) required on both
    sides."""
    assert table_a.shape == table_b.shape
    nb = table_a.shape[0]
    table = table_a.copy()
    occ = (table != 0).sum(axis=1).astype(np.int64)
    bj, sj = np.nonzero(table_b)
    fps = table_b[bj, sj]
    stash: list[int] = stash_a.tolist()
    alt = _alt_bucket(bj.astype(np.int64), fps, nb)
    placed = _bulk_place(table, occ, bj.astype(np.int64), fps)
    rem = ~placed
    if rem.any():
        placed2 = _bulk_place(table, occ, alt[rem], fps[rem])
        rem_i = np.flatnonzero(rem)[~placed2]
    else:
        rem_i = np.zeros(0, dtype=np.int64)
    for k in rem_i:
        _evict_insert(table, fps[k], int(bj[k]), stash)
    stash.extend(int(x) for x in stash_b)
    return table, np.asarray(stash, dtype=np.uint16)
