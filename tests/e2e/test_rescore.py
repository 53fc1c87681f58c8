"""Frontier re-prioritization from link-graph rank (crawl.rescore_frontier):
the iterative scoring op composed into the engine loop. Pins set-safety
(rescoring reorders, never adds/drops/flips state), idempotence (priority
is recomputed absolutely, so re-running is a no-op), effectiveness
(linked-to URLs move ahead of their depth peers) and that the crawl keeps
running on the rescored frontier."""

from __future__ import annotations

import pyspark.sql.functions as F

from gpse import crawl, synth
from gpse.catalog import Catalog

CFG = crawl.CrawlCfg(
    corpus=synth.CorpusCfg(n_pages=400, n_hosts=20, seed=11),
    batch_size=150,
    num_partitions=4,
    n_salts=4,
)


def test_rescore_frontier(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    crawl.run(spark, cat, CFG, 2)
    before = {
        r.url_hash: (r.priority, r.state, r.depth)
        for r in cat.load(spark, "frontier").collect()
    }

    res = crawl.rescore_frontier(spark, cat, CFG)
    assert res["n_nodes"] > 0 and res["n_edges"] > 0

    after = {
        r.url_hash: (r.priority, r.state, r.depth)
        for r in cat.load(spark, "frontier").collect()
    }
    # same URL set, same states/depths — only priority may move
    assert after.keys() == before.keys()
    assert all(after[k][1:] == before[k][1:] for k in before)

    # effectiveness: some rows were boosted below their pure-BFS priority,
    # and none ever sinks below it (rank only ever subtracts)
    boosted = [
        k for k, (p, _, d) in after.items() if p < d * CFG.depth_weight
    ]
    assert boosted, "no frontier row gained link-rank priority"
    assert all(
        p <= d * CFG.depth_weight + 1e-12 for (p, _, d) in after.values()
    )

    # idempotence: recomputed absolutely from (depth, rank), so a second
    # rescore over the same pages changes nothing
    crawl.rescore_frontier(spark, cat, CFG)
    again = {
        r.url_hash: r.priority for r in cat.load(spark, "frontier").collect()
    }
    assert again == {k: p for k, (p, _, _) in after.items()}

    # the loop keeps running on the rescored frontier (continuous
    # priorities; small batch cap = TakeOrdered path, budget path at None)
    stats = crawl.resume(spark, cat, CFG, 1)
    assert stats[0]["n_scheduled"] > 0


def test_rescore_empty_catalog_pages(spark, tmp_path):
    """A catalog with zero fetched pages rescores to a no-op, loudly typed."""
    cat = Catalog(str(tmp_path))
    crawl.init_crawl(spark, cat, CFG)
    # pages table doesn't exist yet -> no edges; treat as nothing to do
    import pytest

    try:
        res = crawl.rescore_frontier(spark, cat, CFG)
    except Exception as exc:
        pytest.fail(f"rescore on page-less catalog should no-op, raised {exc!r}")
    assert res["n_nodes"] == 0
    assert set(res) == {"n_nodes", "n_edges", "rank_max", "n_sweeps", "wall_s"}
    assert res["n_sweeps"] == 0


def test_rescore_recrawled_page_counts_edges_once(spark, tmp_path):
    """A URL with ≥2 captures in pages (the expire_urls → re-fetch path)
    must contribute its outlinks ONCE, not once per capture (VERDICT r04
    wrong-3): ranks — and therefore rescored priorities — are identical to
    the single-capture catalog's."""
    cat_a = Catalog(str(tmp_path / "a"))
    cat_b = Catalog(str(tmp_path / "b"))
    crawl.run(spark, cat_a, CFG, 2)
    crawl.run(spark, cat_b, CFG, 2)

    # re-capture a slice of round-0's fetched pages into catalog B at a
    # COMPLETE round (round 1 has its metrics marker, so the duplicate
    # capture survives rescore's rollback_incomplete — exactly like a real
    # re-fetch committed by a finished round). Later warc_ts, same links:
    # the latest-capture pick must leave the edge set unchanged.
    dup = (
        cat_b.load_delta(spark, "pages", 0)
        .filter(F.col("status") == 200)
        .limit(5)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    assert dup.count() > 0
    cat_b.commit("pages", dup, 1, mode="append")

    crawl.rescore_frontier(spark, cat_a, CFG)
    crawl.rescore_frontier(spark, cat_b, CFG)
    pa = {r.url_hash: r.priority for r in cat_a.load(spark, "frontier").collect()}
    pb = {r.url_hash: r.priority for r in cat_b.load(spark, "frontier").collect()}
    assert pa == pb


def test_rescore_warm_start_parity_at_convergence(spark, tmp_path):
    """Warm start changes COST, never the answer (unique PageRank fixed
    point): a tol-converged cold rescore and a tol-converged warm rescore
    seeded from an earlier coarse run must land on the same priorities,
    and the warm run must get there in fewer sweeps."""
    cat_a = Catalog(str(tmp_path / "a"))
    cat_b = Catalog(str(tmp_path / "b"))
    crawl.run(spark, cat_a, CFG, 2)
    crawl.run(spark, cat_b, CFG, 2)

    cold = crawl.rescore_frontier(spark, cat_a, CFG, tol=1e-9)
    assert cold["n_sweeps"] > 3  # tol mode actually iterated past the default

    # catalog B: a coarse fixed-sweep rescore first (commits link_ranks),
    # then the warm-started converged one
    crawl.rescore_frontier(spark, cat_b, CFG, iterations=8)
    assert cat_b.exists("link_ranks")
    warm = crawl.rescore_frontier(spark, cat_b, CFG, warm_start=True, tol=1e-9)
    assert warm["n_sweeps"] < cold["n_sweeps"], (warm, cold)

    pa = {r.url_hash: r.priority for r in cat_a.load(spark, "frontier").collect()}
    pb = {r.url_hash: r.priority for r in cat_b.load(spark, "frontier").collect()}
    assert pa.keys() == pb.keys()
    worst = max(abs(pa[k] - pb[k]) for k in pa)
    # both within tol/(1-d) of the unique fixed point; priorities are
    # rank/rank_max scaled by rank_weight, so the bound is loose vs 1e-5
    assert worst < 1e-5, worst

    # the committed ranks table matches the rescore's round placement and
    # survives a restart (same preservation rule as the frontier overwrite)
    assert Catalog(str(tmp_path / "b")).exists("link_ranks")
