"""seen.dedup_new_urls: the result rests on seen_exact alone.

The pre-filter blobs are maintained per round but never decide a dedup
result: handed blobs that miss seen keys, and a seen_exact that holds a
key twice, the dedup still returns candidates ∖ seen, one row per key."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gpse import seen as seen_mod


def _keyed(df):
    return df.select(
        F.xxhash64("id").alias("url_hash"), F.lit(0).cast("int").alias("first_round")
    )


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_dedup_ignores_filters_that_miss_seen_keys(spark, kind):
    seen_ids = range(0, 3000)
    cand_ids = range(1500, 5000)
    dup_id = 2500  # committed twice, and absent from the filters
    seen = _keyed(spark.range(0, 3000)).unionByName(_keyed(spark.range(dup_id, dup_id + 1)))
    # filters over only the first 2,000 seen keys: ids 2000..2999 are
    # seen but "definitely new" to the filters
    blobs = seen_mod.build_filters(
        _keyed(spark.range(0, 2000)), 8, kind=kind, nbits=1 << 16, cuckoo_nb=1 << 12
    )
    cand = spark.range(1500, 5000).select(
        F.concat(F.lit("http://h/p/"), F.col("id")).alias("url"),
        F.xxhash64("id").alias("url_hash"),
        F.lit(1).cast("int").alias("depth"),
        F.lit(0).cast("long").alias("src_url_hash"),
    )
    hash_of = {
        r.id: r.h
        for r in spark.range(0, 5000).select("id", F.xxhash64("id").alias("h")).collect()
    }
    want = {hash_of[i] for i in cand_ids} - {hash_of[i] for i in seen_ids}

    got = [r.url_hash for r in seen_mod.dedup_new_urls(cand, seen, blobs, 8).collect()]

    assert len(got) == len(set(got))
    assert set(got) == want
    assert len(want) == 2000
