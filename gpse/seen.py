"""URL-seen set: partitioned bloom pre-filter + exact anti-join (D3).

Capability parity: north_star — "a partitioned bloom/cuckoo-filter URL-seen
set keyed by canonicalized URL hash". Two physical layers (SURVEY.md §1.2):

  * ``seen_exact(url_hash, first_round)`` — ground truth, hash-partitioned
    on url_hash; dedup correctness is asserted ONLY on this layer.
  * per-bucket bloom blobs — a cheap pre-filter so that at 10^10-URL scale
    the expensive shuffled anti-join only sees candidates the bloom cannot
    rule out. Bloom false positives cost one extra probe; false negatives
    are impossible (property-tested), so correctness never depends on it.

At sandbox scale both paths run; at cluster scale the bloom blobs (a few
MB per bucket) broadcast to every executor while seen_exact stays sharded.

PySpark 4.1.2 exposes no df.stat.bloomFilter (verified), so blobs are built
with applyInPandas over groupBy(pmod(url_hash, P)) — numpy bitsets, double
hashing (Kirsch–Mitzenmacher) over splitmix64.
"""

from __future__ import annotations

import logging
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

_log = logging.getLogger(__name__)

SEEN_SCHEMA = "url_hash long, first_round int"
BLOOM_SCHEMA = "bucket int, nbits long, nhashes int, bits binary"
# cuckoo blobs (gpse/cuckoo.py): nb buckets × 4 slots of 16-bit
# fingerprints + an exact-fp stash; deletion-capable, mergeable at fixed nb
CUCKOO_SCHEMA = "bucket int, nbuckets long, tbl binary, stash binary"

_C1 = np.uint64(0xFF51AFD7ED558CCD)
_C2 = np.uint64(0xC4CEB9FE1A85EC53)


def _h2(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Two independent 64-bit hashes per key (double hashing base)."""
    x = keys.astype(np.uint64)
    z = (x ^ (x >> np.uint64(33))) * _C1
    z = (z ^ (z >> np.uint64(33))) * _C2
    h1 = z ^ (z >> np.uint64(33))
    h2 = (h1 ^ x) * _C1 | np.uint64(1)  # odd → full-period stride
    return h1, h2


def _bloom_set(keys: np.ndarray, nbits: int, nhashes: int) -> np.ndarray:
    bits = np.zeros(nbits // 8, dtype=np.uint8)
    h1, h2 = _h2(keys)
    for i in range(nhashes):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(nbits)
        np.bitwise_or.at(bits, (idx >> np.uint64(3)).astype(np.int64), np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))
    return bits


def _bloom_test(keys: np.ndarray, nbits: int, nhashes: int, bits: np.ndarray) -> np.ndarray:
    maybe = np.ones(len(keys), dtype=bool)
    h1, h2 = _h2(keys)
    for i in range(nhashes):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(nbits)
        got = (bits[(idx >> np.uint64(3)).astype(np.int64)] >> (idx & np.uint64(7)).astype(np.uint8)) & np.uint8(1)
        maybe &= got.astype(bool)
    return maybe


def build_blooms(
    seen: DataFrame, n_buckets: int = 32, nbits: int | None = None,
    bits_per_key: int = 12, n_hashes: int = 6,
) -> DataFrame:
    """One bloom blob per url_hash bucket.

    With nbits=None each blob is sized from its actual key count (one-shot
    build). With a fixed nbits the blobs are OR-mergeable across rounds —
    the incremental path (merge_blooms) that keeps the per-round cost
    O(new URLs), not O(seen set): at 10^10 URLs a full rebuild per round
    would dominate the round. Size the fixed nbits from an HLL estimate of
    the target frontier (approx_count_distinct, SURVEY.md §2.4)."""

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf["url_hash"].to_numpy(dtype=np.int64)
        nb = nbits or (1 << max(13, int(np.ceil(np.log2(max(len(keys), 1) * bits_per_key)))))
        bits = _bloom_set(keys, nb, n_hashes)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "nbits": [nb],
                "nhashes": [n_hashes],
                "bits": [bits.tobytes()],
            }
        )

    return (
        seen.withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int"))
        .groupBy("bucket")
        .applyInPandas(make, schema=BLOOM_SCHEMA)
    )


def build_cuckoos(seen: DataFrame, n_buckets: int = 32, nb: int = 1 << 18) -> DataFrame:
    """One cuckoo-filter blob per url_hash bucket (the deletion-capable
    seen pre-filter; same bucketing as the blooms so the probe paths are
    shared). `nb` (power of two) fixes each blob's bucket count so blobs
    stay mergeable across rounds — the analogue of the blooms' fixed
    nbits. Default 2^18 × 4 slots ≈ 1M fingerprints per blob at 2 MiB."""
    from gpse import cuckoo

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf["url_hash"].to_numpy(dtype=np.int64)
        tbl, stash = cuckoo.build(keys, nb)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "nbuckets": [nb],
                "tbl": [tbl.tobytes()],
                "stash": [stash.tobytes()],
            }
        )

    return (
        seen.withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int"))
        .groupBy("bucket")
        .applyInPandas(make, schema=CUCKOO_SCHEMA)
    )


def merge_cuckoos(old: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold per-bucket cuckoo blobs (the incremental per-round merge — the
    cuckoo analogue of the blooms' OR; gpse/cuckoo.py re-inserts the delta
    blob's (bucket, fp) entries, recoverable via the XOR trick)."""
    from gpse import cuckoo

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        nb = int(pdf["nbuckets"].iloc[0])
        tbl, stash = None, None
        for _, r in pdf.iterrows():
            t = np.frombuffer(r["tbl"], dtype=np.uint16).reshape(nb, cuckoo.SLOTS)
            s = np.frombuffer(r["stash"], dtype=np.uint16)
            if tbl is None:
                tbl, stash = t.copy(), s.copy()
            else:
                tbl, stash = cuckoo.merge(tbl, stash, t, s)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "nbuckets": [nb],
                "tbl": [tbl.tobytes()],
                "stash": [stash.tobytes()],
            }
        )

    return old.unionByName(delta).groupBy("bucket").applyInPandas(fold, schema=CUCKOO_SCHEMA)


def is_cuckoo_blobs(blobs: DataFrame) -> bool:
    return "tbl" in blobs.columns


def remove_from_filters(blobs: DataFrame, keys: DataFrame, n_buckets: int) -> DataFrame:
    """URL-expiry over the cuckoo pre-filter (the capability the cuckoo
    option exists for): delete `keys` (a DataFrame with `url_hash`) from
    the per-bucket blobs, DISTRIBUTED — keys cogroup with their bucket's
    blob on pmod(url_hash, P), each task deletes its bucket's keys
    in-place and emits the updated blob. No driver collect of either side.

    Only delete keys that were actually inserted (the standard cuckoo
    caveat — gpse/cuckoo.py); the companion exact-layer expiry is a plain
    left_anti on seen_exact, so correctness never depends on this blob
    surgery. Bloom blobs cannot delete → ValueError (rebuild instead)."""
    if not is_cuckoo_blobs(blobs):
        raise ValueError(
            "bloom blobs do not support deletion — rebuild via build_blooms, "
            "or use CrawlCfg.seen_filter='cuckoo'"
        )
    from gpse import cuckoo as _ck

    kb = keys.select(
        "url_hash", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int").alias("bucket")
    )

    def drop(key, kdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        if bdf.empty:
            return pd.DataFrame(columns=["bucket", "nbuckets", "tbl", "stash"])
        nb = int(bdf["nbuckets"].iloc[0])
        # several blob rows per bucket can exist mid-merge (same shape
        # _dedup_bucket_probe handles): fold them FIRST so no row's
        # fingerprints are silently dropped, then delete from the fold
        tbl, stash = None, None
        for _, r in bdf.iterrows():
            t = np.frombuffer(r["tbl"], dtype=np.uint16).reshape(nb, _ck.SLOTS)
            s = np.frombuffer(r["stash"], dtype=np.uint16)
            if tbl is None:
                tbl, stash = t.copy(), s.copy()
            else:
                tbl, stash = _ck.merge(tbl, stash, t, s)
        if not kdf.empty:
            stash, _ = _ck.delete(kdf["url_hash"].to_numpy(dtype=np.int64), tbl, stash)
        return pd.DataFrame(
            {
                "bucket": [int(bdf["bucket"].iloc[0])],
                "nbuckets": [nb],
                "tbl": [tbl.tobytes()],
                "stash": [stash.tobytes()],
            }
        )

    return (
        kb.groupBy("bucket")
        .cogroup(blobs.groupBy("bucket"))
        .applyInPandas(drop, CUCKOO_SCHEMA)
    )


def build_filters(
    seen: DataFrame, n_buckets: int, kind: str = "bloom",
    nbits: int | None = None, cuckoo_nb: int = 1 << 18,
) -> DataFrame:
    """Build the configured seen pre-filter family (CrawlCfg.seen_filter)."""
    if kind == "cuckoo":
        return build_cuckoos(seen, n_buckets, nb=cuckoo_nb)
    return build_blooms(seen, n_buckets, nbits=nbits)


def merge_filters(old: DataFrame, delta: DataFrame) -> DataFrame:
    if is_cuckoo_blobs(old):
        return merge_cuckoos(old, delta)
    return merge_blooms(old, delta)


def merge_blooms(old: DataFrame, delta: DataFrame) -> DataFrame:
    """OR-merge two fixed-nbits blob sets by bucket (the incremental
    seen-bloom update — tiny: one row per bucket)."""

    def orred(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        for blob in pdf["bits"]:
            arr = np.frombuffer(blob, dtype=np.uint8)
            acc = arr.copy() if acc is None else (acc | arr)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "nbits": [int(pdf["nbits"].iloc[0])],
                "nhashes": [int(pdf["nhashes"].iloc[0])],
                "bits": [acc.tobytes()],
            }
        )

    return old.unionByName(delta).groupBy("bucket").applyInPandas(orred, schema=BLOOM_SCHEMA)


def dedup_new_urls(
    candidates: DataFrame,
    seen: DataFrame,
    blooms: DataFrame | None = None,
    n_buckets: int = 32,
    max_broadcast_bytes: int = 64 << 20,
    blob_bytes_hint: int | None = None,
) -> DataFrame:
    """Truly-new URLs: candidates ∖ seen_exact (north_star dedup).

    Plan shape (SURVEY.md §3.1 step 6):
      1. in-batch exact dedup — groupBy(url_hash[, url]) with min() over
         every attribute column (partial+final hash agg, map-side
         combined). min(), NOT dropDuplicates: a URL discovered from many
         sources must keep a DETERMINISTIC (depth, src) — dropDuplicates
         keeps an arbitrary partition-layout-dependent row, which would
         leak into priority=depth and break the north_rule's
         partition-count-independent crawl ordering;
      2. optional bloom pre-filter, two physical strategies switched on
         total blob size (SCALE.md: at the 10^10-URL design point the
         blobs total ~15 GB — too big for one broadcast variable):
           a. blobs ≤ max_broadcast_bytes — collect + SparkContext
              broadcast captured in the UDF closure, shipped once per
              executor. (Never join the blob column onto candidate rows:
              a 1 MiB blob × millions of rows re-materializes per row and
              pushes terabytes through the shuffle/Arrow boundary —
              measured fatal at a 2M-URL frontier.)
           b. blobs > max_broadcast_bytes — BUCKET-LOCAL probe: cogroup
              candidates with blooms on bucket = pmod(url_hash, P); each
              task receives one bucket's candidates AND only that
              bucket's blob. One slim shuffle of candidates, no driver
              collect, no full-blob-set copy anywhere.
         Definitely-new rows skip the anti-join either way.
      3. exact left-anti join on url_hash for the maybe-seen remainder —
         on the same key seen_exact is sharded by.
    """
    # Group by url_hash ALONE (r6): url_hash is the engine-wide URL
    # identity, so `url` folds into the min-attributes (all equal within a
    # group modulo the accepted 1e-8 collision contract). Two wins over
    # the old repartition(url_hash) + groupBy(url_hash, url) form:
    # (a) the hash-agg runs PARTIAL map-side before its exchange, so the
    # shuffle moves ~unique candidates instead of every exploded link row
    # (links repeat heavily across pages — measured ~4x fewer shuffled
    # rows on the bench round's 6M-link explode); (b) the agg's own
    # exchange IS HashPartitioning(url_hash), which the downstream
    # anti-join reuses — still exactly ONE candidate-side shuffle for the
    # whole dedup subtree (plan-pinned in tests/unit/test_plans.py).
    if "url_hash" in candidates.columns:
        keys = ["url_hash"]
    else:
        keys = ["url"]
    attrs = [c for c in candidates.columns if c not in keys]
    if attrs:
        cand = (
            candidates.groupBy(*keys)
            .agg(*[F.min(c).alias(c) for c in attrs])
            .select(*candidates.columns)
        )
    else:
        cand = candidates.dropDuplicates(keys)
    if blooms is None:
        return cand.join(_seen_build(seen), "url_hash", "left_anti")

    # Fixed-nbits blobs have a statically known total (buckets × nbits/8):
    # the caller passes it as a hint so path selection costs ZERO Spark
    # jobs. Only variable-size blob sets pay the measuring aggregate.
    if blob_bytes_hint is not None:
        total_bytes = blob_bytes_hint
    else:
        sz = (
            F.length("tbl") + F.length("stash")
            if is_cuckoo_blobs(blooms)
            else F.length("bits")
        )
        total_bytes = blooms.agg(F.sum(sz).alias("b")).collect()[0]["b"] or 0
    # name the physical probe path once per call (VERDICT r05 #6): the
    # broadcast→cogroup flip is a silent plan change at the 64 MiB blob
    # boundary; this DEBUG line makes bench artifacts self-explaining
    _log.debug(
        "seen pre-filter probe path: %s (blob_bytes=%d, threshold=%d)",
        "bucket-local cogroup" if total_bytes > max_broadcast_bytes else "driver-broadcast",
        total_bytes,
        max_broadcast_bytes,
    )
    if total_bytes > max_broadcast_bytes:
        return _dedup_bucket_probe(cand, seen, blooms, n_buckets)

    spark = candidates.sparkSession
    cuckoo_kind = is_cuckoo_blobs(blooms)
    if cuckoo_kind:
        from gpse import cuckoo as _ck

        blob_map = {
            int(r["bucket"]): (
                np.frombuffer(r["tbl"], dtype=np.uint16).reshape(
                    int(r["nbuckets"]), _ck.SLOTS
                ),
                np.frombuffer(r["stash"], dtype=np.uint16),
            )
            for r in blooms.collect()
        }
    else:
        blob_map = {
            int(r["bucket"]): (
                int(r["nbits"]),
                int(r["nhashes"]),
                np.frombuffer(r["bits"], dtype=np.uint8),
            )
            for r in blooms.collect()
        }
    bc = spark.sparkContext.broadcast(blob_map)

    @pandas_udf(BooleanType())
    def maybe_seen(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        if cuckoo_kind:
            from gpse import cuckoo as ck
        blobs = bc.value
        for uh in it:
            keys = uh.to_numpy(dtype=np.int64)
            out = np.ones(len(keys), dtype=bool)
            buckets = np.mod(keys, n_buckets)  # numpy mod == Spark pmod sign
            for b in np.unique(buckets):
                m = buckets == b
                entry = blobs.get(int(b))
                if entry is None:
                    out[m] = False  # empty bucket filter → definitely new
                elif cuckoo_kind:
                    out[m] = ck.query(keys[m], entry[0], entry[1])
                else:
                    out[m] = _bloom_test(keys[m], entry[0], entry[1], entry[2])
            yield pd.Series(out, dtype=bool)

    c = cand.withColumn("_maybe", maybe_seen(F.col("url_hash")))
    return _split_on_maybe(c, seen)


def _seen_build(seen: DataFrame) -> DataFrame:
    """The anti-join's build side: slim url_hash keys, hinted SHUFFLE_HASH
    (r6). Sort-merge sorts BOTH sides; a shuffled hash join builds a
    LongHashedRelation per partition from the 8-byte keys instead (~16 B/
    key — at the 10^10 design point with production shuffle partitioning
    that is tens of MB per task, well inside executor memory) and streams
    the candidates unsorted. Measured on the bench round's probe+anti
    stage; result set identical (join semantics unchanged)."""
    return seen.select("url_hash").hint("shuffle_hash")


def _split_on_maybe(c: DataFrame, seen: DataFrame) -> DataFrame:
    """definitely-new ∪ (maybe-seen ∖ seen_exact) — in ONE pass (r6).

    The old form filtered `c` into two branches and unioned them, which
    executed the whole candidate subtree (pages-delta scan → explode →
    hash → min-agg → pre-filter probe) TWICE — measured as ~half the
    'dedup + frontier commit' stage wall at every core count (guide
    §1.2: don't compute things twice). The single left-outer join against
    the marked seen build evaluates the subtree once; the filter keeps a
    row iff the pre-filter said definitely-new OR the exact layer has no
    match — exactly the old union's membership. (A definitely-new row
    can never match seen_exact — the filters have no false negatives, a
    property pinned in tests/unit/test_bloom.py — so row multiplicity is
    unchanged too.) The seen build side and its SHUFFLE_HASH hint are
    the same; the agg's url_hash partitioning still feeds the join with
    no extra candidate exchange."""
    marked = _seen_build(seen).withColumn("_in_seen", F.lit(True))
    j = c.join(marked, "url_hash", "left")
    return j.filter(~F.col("_maybe") | F.col("_in_seen").isNull()).drop(
        "_maybe", "_in_seen"
    )


def _dedup_bucket_probe(
    cand: DataFrame, seen: DataFrame, blooms: DataFrame, n_buckets: int
) -> DataFrame:
    """Bucket-local bloom probe (the 10^10-scale path promised in
    SCALE.md): candidates cogroup with the blob table on the bucket key,
    so each task probes its bucket's candidates against ONLY that
    bucket's blob. No driver collect, no broadcast of the full blob set;
    one shuffle of slim candidate rows keyed the same way the blobs are
    built (pmod(url_hash, P))."""
    from pyspark.sql.types import StructField, StructType

    out_schema = StructType(
        list(cand.schema.fields) + [StructField("_maybe", BooleanType())]
    )
    cand_cols = list(cand.columns)
    cand_b = cand.withColumn(
        "_bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int")
    )

    def probe(key, cdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        out = cdf[cand_cols].copy()
        keys = cdf["url_hash"].to_numpy(dtype=np.int64)
        maybe = np.zeros(len(keys), dtype=bool)
        # several blob rows per bucket can exist mid-merge: a key is
        # maybe-seen if ANY blob reports it (OR keeps zero false negatives)
        if "tbl" in bdf.columns:  # cuckoo blobs
            from gpse import cuckoo as ck

            for _, r in bdf.iterrows():
                tbl = np.frombuffer(r["tbl"], dtype=np.uint16).reshape(
                    int(r["nbuckets"]), ck.SLOTS
                )
                maybe |= ck.query(keys, tbl, np.frombuffer(r["stash"], dtype=np.uint16))
        else:
            for _, r in bdf.iterrows():
                bits = np.frombuffer(r["bits"], dtype=np.uint8)
                maybe |= _bloom_test(keys, int(r["nbits"]), int(r["nhashes"]), bits)
        out["_maybe"] = maybe
        return out

    probed = (
        cand_b.groupBy("_bucket")
        .cogroup(blooms.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
    )
    return _split_on_maybe(probed, seen)
