"""End-to-end crawl equivalence (SURVEY.md §5.3; north_rule criteria).

* identical final seen set + batch ordering across partitioning levels
  (the partition-count-independence that makes local[8] ≡ local[32]);
* 3-rounds-straight ≡ 2 rounds + resume + 1 round (checkpoint-resume);
* politeness budget + robots denial actually enforced;
* seen-set growth monotone, no duplicate url_hash ever.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from gpse import crawl, synth
from gpse.catalog import Catalog

CORPUS = synth.CorpusCfg(n_pages=400, n_hosts=25, seed=42)


def _cfg(num_partitions: int, use_bloom: bool = True) -> crawl.CrawlCfg:
    return crawl.CrawlCfg(
        corpus=CORPUS,
        batch_size=150,
        num_partitions=num_partitions,
        n_salts=4,
        use_bloom=use_bloom,
    )


def _seen_set(spark, cat):
    return {
        (r.url_hash, r.first_round)
        for r in cat.load(spark, "seen_exact").collect()
    }


@pytest.fixture(scope="module")
def baseline(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("crawl_base")
    cat = Catalog(str(d))
    stats = crawl.run(spark, cat, _cfg(4), 3)
    return cat, stats


def test_rounds_progress(spark, baseline):
    cat, stats = baseline
    assert [s["round"] for s in stats] == [0, 1, 2]
    assert stats[0]["n_scheduled"] > 0
    assert stats[-1]["n_new_urls"] > 0


def test_seen_unique_and_monotone(spark, baseline):
    cat, _ = baseline
    seen = cat.load(spark, "seen_exact")
    assert seen.count() == seen.select("url_hash").distinct().count()
    n0 = cat.load(spark, "seen_exact", round=0).count()
    n1 = cat.load(spark, "seen_exact", round=1).count()
    n2 = cat.load(spark, "seen_exact", round=2).count()
    assert n0 <= n1 <= n2


def test_partition_count_independence(spark, baseline, tmp_path):
    """Same seeds+budget at different parallelism → identical seen set and
    identical scheduled ordering (north_rule's two-cluster-size criterion,
    correctness half)."""
    cat_a, _ = baseline
    cat_b = Catalog(str(tmp_path / "b"))
    crawl.run(spark, cat_b, _cfg(17, use_bloom=False), 3)
    assert _seen_set(spark, cat_a) == _seen_set(spark, cat_b)
    # pages fetched (the executed batches) identical too, in total order
    pa = sorted(r.url for r in cat_a.load(spark, "pages").select("url").collect())
    pb = sorted(r.url for r in cat_b.load(spark, "pages").select("url").collect())
    assert pa == pb


def test_resume_equivalence(spark, baseline, tmp_path):
    """kill after round 1 + resume ≡ uninterrupted 3 rounds."""
    cat_a, _ = baseline
    d = str(tmp_path / "resumed")
    cat_b = Catalog(d)
    crawl.run(spark, cat_b, _cfg(4), 2)
    # "restart": fresh Catalog object over the same directory
    cat_b2 = Catalog(d)
    assert crawl.last_complete_round(cat_b2) == 1
    crawl.resume(spark, cat_b2, _cfg(4), 1)
    assert _seen_set(spark, cat_a) == _seen_set(spark, cat_b2)
    assert (
        cat_a.load(spark, "pages").count() == cat_b2.load(spark, "pages").count()
    )


def test_compaction_interleaved_resume_equivalence(spark, baseline, tmp_path):
    """Catalog maintenance mid-crawl (the steady-state bench loop's shape:
    compact the slim append-chain tables, expire superseded bloom
    snapshots) must not perturb the crawl: 2 rounds + compact/expire +
    restart + resume ≡ uninterrupted 3 rounds (VERDICT r02 #2)."""
    cat_a, _ = baseline
    d = str(tmp_path / "compacted")
    cat_b = Catalog(d)
    crawl.run(spark, cat_b, _cfg(4), 2)
    cat_b.compact(spark, "frontier")
    cat_b.compact(spark, "seen_exact")
    cat_b.expire_snapshots("seen_bloom", keep_last=1)
    cat_b2 = Catalog(d)  # "restart"
    assert crawl.last_complete_round(cat_b2) == 1
    crawl.resume(spark, cat_b2, _cfg(4), 1)
    assert _seen_set(spark, cat_a) == _seen_set(spark, cat_b2)
    assert (
        cat_a.load(spark, "pages").count() == cat_b2.load(spark, "pages").count()
    )


def test_wall_clock_pacing_run_matches_simulated(spark, baseline, tmp_path):
    """fetch_pacing='wall' (real sleeps to each fetch's politeness
    due-time, compressed 1000x for the test) must change TIMING only:
    the crawl's seen set and pages are identical to the simulated run."""
    cat_a, _ = baseline
    cat_w = Catalog(str(tmp_path / "wall"))
    cfg = _cfg(4)
    cfg.fetch_pacing = "wall"
    cfg.fetch_time_scale = 0.001
    crawl.run(spark, cat_w, cfg, 3)
    assert _seen_set(spark, cat_a) == _seen_set(spark, cat_w)
    assert (
        cat_a.load(spark, "pages").count() == cat_w.load(spark, "pages").count()
    )


def test_politeness_budget_enforced(spark, baseline):
    cat, _ = baseline
    policy = cat.load(spark, "host_policy").select("host", "budget_per_round")
    pages = cat.load(spark, "pages").withColumn(
        "host", F.lower(F.parse_url("url", F.lit("HOST")))
    )
    # per round each host fetches ≤ budget: pages/host ≤ 3 rounds × budget
    per_host = pages.groupBy("host").count().join(policy, "host")
    bad = per_host.filter(F.col("count") > 3 * F.col("budget_per_round")).count()
    assert bad == 0


def test_robots_private_never_fetched_from_disallowing_hosts(spark, baseline):
    cat, _ = baseline
    policy = cat.load(spark, "host_policy")
    deny_private = policy.filter(
        F.array_contains(F.coalesce("disallow", F.array()), "/private/")
    ).select("host")
    pages = cat.load(spark, "pages").withColumn(
        "host", F.lower(F.parse_url("url", F.lit("HOST")))
    )
    fetched_private = pages.filter(F.col("url").contains("/private/")).join(
        deny_private, "host", "left_semi"
    )
    assert fetched_private.count() == 0


def test_metrics_emitted_per_partition_per_round(spark, baseline):
    cat, stats = baseline
    m = cat.load(spark, "metrics")
    assert {r.round for r in m.select("round").distinct().collect()} == {0, 1, 2}
    assert m.filter(F.col("n_fetched") <= 0).count() == 0
    # the df.observe counters (accumulated during the pages write, zero
    # extra scans) must agree with the per-partition metrics table's sums
    per_round = {
        r["round"]: (r["nf"], r["ok"], r["b"])
        for r in m.groupBy("round")
        .agg(
            F.sum("n_fetched").alias("nf"),
            F.sum("n_ok").alias("ok"),
            F.sum("bytes_in").alias("b"),
        )
        .collect()
    }
    for s in stats:
        o = s["observed"]
        assert per_round[s["round"]] == (o["n_fetched"], o["n_ok"], o["bytes_in"])


def test_bloom_matches_exact_dedup(spark, baseline, tmp_path):
    """use_bloom on/off must yield the same seen set (bloom is a pre-filter,
    never a correctness dependency)."""
    cat_a, _ = baseline  # bloom on
    cat_c = Catalog(str(tmp_path / "nobloom"))
    crawl.run(spark, cat_c, _cfg(4, use_bloom=False), 3)
    assert _seen_set(spark, cat_a) == _seen_set(spark, cat_c)


def test_crash_midround_resume_is_idempotent(spark, baseline, tmp_path):
    """Crash AFTER round 1's pages/frontier/seen commits but BEFORE its
    metrics completion marker: resume must roll the partial commits back
    and re-run round 1, landing bit-identical to the uninterrupted run —
    no duplicated pages, no duplicate url_hash in seen_exact."""
    cat_a, _ = baseline  # uninterrupted 3 rounds
    d = str(tmp_path / "crashed")
    cat_b = Catalog(d)
    crawl.run(spark, cat_b, _cfg(4), 2)
    # simulate the crash: drop ONLY round 1's metrics commit, keeping the
    # partial pages@1 / frontier@2 / seen@2 / bloom@2 commits in place
    cat_b.prune(lambda s: not (s.table == "metrics" and s.round == 1))
    cat_b2 = Catalog(d)  # "restart"
    assert crawl.last_complete_round(cat_b2) == 0
    crawl.resume(spark, cat_b2, _cfg(4), 2)  # re-run round 1, then round 2
    seen = cat_b2.load(spark, "seen_exact")
    assert seen.count() == seen.select("url_hash").distinct().count()
    assert _seen_set(spark, cat_a) == _seen_set(spark, cat_b2)
    assert cat_a.load(spark, "pages").count() == cat_b2.load(spark, "pages").count()


def test_discovery_attributes_partition_independent(spark):
    """A URL discovered from several sources must keep the SAME (depth,
    src_url_hash) — the min over all discoveries — at any partitioning
    (the determinism ADVICE r01 flagged: dropDuplicates kept an arbitrary
    row)."""
    from gpse import seen as seen_mod

    rows = [
        ("http://h1.example/p/9", 1001, 3, 300),
        ("http://h1.example/p/9", 1001, 1, 200),
        ("http://h1.example/p/9", 1001, 1, 50),
        ("http://h1.example/p/7", 1002, 2, 10),
    ]
    schema = "url string, url_hash long, depth int, src_url_hash long"
    empty_seen = spark.createDataFrame([], "url_hash long, first_round int")
    got = {}
    for parts in (1, 3, 7):
        cand = spark.createDataFrame(rows, schema).repartition(parts)
        out = seen_mod.dedup_new_urls(cand, empty_seen).collect()
        got[parts] = sorted((r.url, r.depth, r.src_url_hash) for r in out)
    assert got[1] == got[3] == got[7]
    assert got[1] == [
        ("http://h1.example/p/7", 2, 10),
        ("http://h1.example/p/9", 1, 50),
    ]


def test_bucket_local_bloom_probe_matches(spark, baseline, tmp_path):
    """Force the bucket-local probe path (broadcast threshold 0) for a full
    crawl: the seen set must be identical to the broadcast-probe baseline."""
    cat_a, _ = baseline
    cat_d = Catalog(str(tmp_path / "bucketprobe"))
    cfg = _cfg(4)
    cfg.bloom_broadcast_max_bytes = 0
    crawl.run(spark, cat_d, cfg, 3)
    assert _seen_set(spark, cat_a) == _seen_set(spark, cat_d)


def test_parquet_origin_detects_unique_captures_once(spark, tmp_path, monkeypatch):
    """An undetected corpus_unique_captures is a property of the origin:
    a multi-round crawl over a parquet origin runs the detection job once,
    not once per round."""
    import numpy as np
    import pandas as pd

    from gpse import fetch

    ids = np.arange(CORPUS.n_pages, dtype=np.uint64)
    origin = str(tmp_path / "origin")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "url": synth.url_of(ids, CORPUS),
                "warc_ts": pd.to_datetime(synth.warc_ts_us(ids, CORPUS), unit="us"),
                "html": synth.html_for(ids, CORPUS),
            }
        ),
        "url string, warc_ts timestamp, html binary",
    ).write.parquet(origin)

    calls = []
    detect = fetch.detect_unique_captures

    def counting_detect(bodies):
        calls.append(bodies)
        return detect(bodies)

    monkeypatch.setattr(fetch, "detect_unique_captures", counting_detect)
    cfg = _cfg(4)
    cfg.corpus_bodies_path = origin
    assert cfg.corpus_unique_captures is None
    stats = crawl.run(spark, Catalog(str(tmp_path / "cat")), cfg, 2)
    assert len(calls) == 1
    assert all(s["n_scheduled"] > 0 for s in stats)
