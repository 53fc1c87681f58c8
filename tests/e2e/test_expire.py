"""End-to-end URL-expiry workflow (VERDICT r03 #5).

crawl → expire_urls → keep crawling: expired URLs that a later page links
to again are re-fetched EXACTLY once more; never-relinked expired URLs
stay gone; non-expired URLs are never re-fetched; the whole flow is
resume-safe (restart between expiry and the next round ≡ straight run).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from gpse import crawl, synth
from gpse.catalog import Catalog

CORPUS = synth.CorpusCfg(n_pages=400, n_hosts=25, seed=42)


def _cfg(seen_filter: str = "cuckoo") -> crawl.CrawlCfg:
    return crawl.CrawlCfg(
        corpus=CORPUS,
        batch_size=150,
        num_partitions=4,
        n_salts=4,
        seen_filter=seen_filter,
        cuckoo_nbuckets=1 << 12,
    )


def _expired_keys(spark, cat):
    """Every 3rd fetched URL — a deterministic sample of CRAWLED pages."""
    return (
        cat.load(spark, "pages")
        .filter(F.col("status") == 200)
        .select("url_hash")
        .distinct()
        .filter(F.pmod("url_hash", F.lit(3)) == 0)
    )


def _run_expire_scenario(spark, base_dir, seen_filter, restart: bool):
    cfg = _cfg(seen_filter)
    cat = Catalog(base_dir)
    crawl.run(spark, cat, cfg, 3)
    expired = _expired_keys(spark, cat)
    n_exp = expired.count()
    assert n_exp > 5

    res = crawl.expire_urls(spark, cat, cfg, expired)
    assert res["n_expired"] == n_exp
    # the three layers no longer know the keys
    assert (
        cat.load(spark, "seen_exact")
        .join(expired, "url_hash", "left_semi")
        .count()
        == 0
    )
    assert (
        cat.load(spark, "frontier")
        .join(expired, "url_hash", "left_semi")
        .count()
        == 0
    )

    if restart:
        cat = Catalog(base_dir)  # fresh manifest object = process restart
    crawl.resume(spark, cat, cfg, 2)
    return cat, expired


def _check_exactly_once(spark, cat, expired):
    seen = cat.load(spark, "seen_exact")
    assert seen.count() == seen.select("url_hash").distinct().count()
    counts = (
        cat.load(spark, "pages")
        .filter(F.col("status") == 200)
        .groupBy("url_hash")
        .count()
    )
    refetched = counts.filter(F.col("count") == 2)
    # every double-fetch is an expired key; nothing is ever fetched 3+
    assert counts.filter(F.col("count") > 2).count() == 0
    assert (
        refetched.join(expired, "url_hash", "left_anti").count() == 0
    ), "a non-expired URL was re-fetched"
    n_refetched = refetched.count()
    assert n_refetched > 0, "no expired URL was re-linked — test vacuous"
    # re-fetched keys are back in seen (re-discovered in a post-expiry round)
    assert (
        refetched.join(seen, "url_hash", "left_semi").count() == n_refetched
    )
    return n_refetched


def test_expire_recrawl_exactly_once_cuckoo(spark, tmp_path):
    cat, expired = _run_expire_scenario(
        spark, str(tmp_path / "cuckoo"), "cuckoo", restart=False
    )
    _check_exactly_once(spark, cat, expired)


def test_expire_resume_equivalence(spark, tmp_path):
    """Restart between expiry and the next round ≡ straight-through run:
    identical final seen sets and identical per-URL fetch counts."""
    cat_a, exp_a = _run_expire_scenario(
        spark, str(tmp_path / "straight"), "cuckoo", restart=False
    )
    cat_b, exp_b = _run_expire_scenario(
        spark, str(tmp_path / "restarted"), "cuckoo", restart=True
    )
    sa = {
        (r.url_hash, r.first_round)
        for r in cat_a.load(spark, "seen_exact").collect()
    }
    sb = {
        (r.url_hash, r.first_round)
        for r in cat_b.load(spark, "seen_exact").collect()
    }
    assert sa == sb
    ca = sorted(
        (r.url_hash, r["count"])
        for r in cat_a.load(spark, "pages").groupBy("url_hash").count().collect()
    )
    cb = sorted(
        (r.url_hash, r["count"])
        for r in cat_b.load(spark, "pages").groupBy("url_hash").count().collect()
    )
    assert ca == cb


def test_expire_bloom_rebuild_path(spark, tmp_path):
    """Bloom filters can't delete — expire_urls rebuilds them from the
    surviving seen set; behavior afterwards is identical (exactly-once)."""
    cat, expired = _run_expire_scenario(
        spark, str(tmp_path / "bloom"), "bloom", restart=False
    )
    _check_exactly_once(spark, cat, expired)


def test_expire_requires_inserted_keys_only_for_blob_surgery(spark, tmp_path):
    """Expiring keys that were NEVER crawled must be a no-op on every
    layer (and must not corrupt the cuckoo blobs for resident keys)."""
    cfg = _cfg("cuckoo")
    cat = Catalog(str(tmp_path / "noop"))
    crawl.run(spark, cat, cfg, 2)
    before = {
        (r.url_hash, r.first_round)
        for r in cat.load(spark, "seen_exact").collect()
    }
    bogus = spark.range(0, 50).select(
        (F.xxhash64("id") + F.lit(1)).alias("url_hash")
    ).join(
        cat.load(spark, "seen_exact"), "url_hash", "left_anti"
    )
    res = crawl.expire_urls(spark, cat, cfg, bogus)
    assert res["n_expired"] == 0
    after = {
        (r.url_hash, r.first_round)
        for r in cat.load(spark, "seen_exact").collect()
    }
    assert before == after
    # the crawl continues undisturbed: no URL ever fetched twice
    crawl.resume(spark, cat, cfg, 1)
    counts = cat.load(spark, "pages").groupBy("url_hash").count()
    assert counts.filter(F.col("count") > 1).count() == 0


def test_expire_without_seen_exact_raises_key_error(spark, tmp_path):
    """A catalog with no seen_exact table surfaces the catalog's KeyError,
    not an error from releasing caches that were never created."""
    cat = Catalog(str(tmp_path / "empty"))
    keys = spark.range(0, 5).select(F.xxhash64("id").alias("url_hash"))
    with pytest.raises(KeyError, match="seen_exact"):
        crawl.expire_urls(spark, cat, _cfg("cuckoo"), keys)
