"""Physical-plan discipline (SURVEY.md §4): the optimizations the 100 TB
design depends on must be visible in `.explain` — pushdown, pruning,
broadcast strategies, whole-stage codegen, Arrow-only Python. These tests
pin the PLANS, not the results, so a regression that silently de-optimizes
a path fails loudly."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df, extended=False) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("extended" if extended else "formatted")
    return buf.getvalue()


def test_filter_pushdown_and_column_pruning(spark):
    from gpse.queries import q_filter_project

    p = plan_of(q_filter_project(spark, SF))
    assert "PushedFilters: [" in p and "GreaterThanOrEqual(l_quantity,30.0)" in p, p
    # projection needs 5 columns — ReadSchema must not include the rest
    rs = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_returnflag" not in rs and "l_shipdate" not in rs, rs


def test_broadcast_join_strategy(spark):
    from gpse.queries import q_broadcast_chain

    p = plan_of(q_broadcast_chain(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_partial_final_aggregation_and_codegen(spark):
    from gpse.queries import q_pricing_summary

    df = q_pricing_summary(spark, SF)
    p = plan_of(df)
    assert p.count("HashAggregate") >= 2  # partial + final (map-side combine)
    assert "partial_sum" in p
    # codegen spans only appear on the executed (AQE-final) plan
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in executed  # '*(n)' = WholeStageCodegen span markers


def test_no_row_at_a_time_python_anywhere(spark):
    """Every Python stage must be Arrow-vectorized: ArrowEvalPython /
    MapInPandas / FlatMapGroupsInPandas — never BatchEvalPython."""
    import __spark_entry__ as e

    for name, fn in e.queries().items():
        if name in ("crawl_round",):  # runs a full loop; covered below
            continue
        try:
            p = plan_of(fn(spark, SF))
        except Exception:
            continue  # plan-only test; execution issues are other tests' job
        assert "BatchEvalPython" not in p, f"{name} uses row-at-a-time Python"


def test_fetch_from_corpus_no_html_shuffle(spark):
    """The html-bearing side must reach the parser without any Exchange:
    scheduled side broadcasts; origin files stream in place."""
    from gpse import fetch as fetch_mod
    from gpse import frontier, robots, synth

    cfg = synth.CorpusCfg(n_pages=200, n_hosts=10, seed=42)
    pol = robots.build_host_policy(synth.gen_robots(spark, cfg))
    f0 = frontier.from_seeds(spark, synth.seed_urls(cfg), 4)
    sched, _, _, _ = frontier.schedule_batch(f0, pol, None, 4)
    bodies = synth.gen_pages(spark, cfg, 2).select("url", "warc_ts", "html")
    p = plan_of(fetch_mod.fetch_from_corpus(sched, bodies, 4))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_fetch_from_corpus_large_batch_no_driver_broadcast(spark):
    """Above the broadcast threshold the scheduled batch must NOT be
    broadcast into the html join — the fetch join becomes a shuffled hash
    join (slim side as build), so no driver-side batch build exists
    (VERDICT r02 #1). On a real cluster the origin is bucketed by url →
    storage-partitioned, no html shuffle at all."""
    from gpse import fetch as fetch_mod
    from gpse import synth

    cfg = synth.CorpusCfg(n_pages=200, n_hosts=10, seed=42)
    # a bare scheduled batch (no scheduler subtree, whose own intentional
    # host-policy broadcast would show up in the plan text): the only
    # joins in this plan are fetch_from_corpus's own
    sched = spark.createDataFrame(
        [
            (0, f"http://h1.example/p/{i}", i + 1, "h1.example", 0, 0.0, 0, None, "queued", 0)
            for i in range(50)
        ],
        "round int, url string, url_hash long, host string, salt smallint, "
        "priority double, depth int, src_url_hash long, state string, crawl_delay_ms long",
    )
    bodies = synth.gen_pages(spark, cfg, 2).select("url", "warc_ts", "html")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable auto-broadcast so the assertion sees the explicit
        # strategy choice, not a size-based rescue of a bad plan
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p = plan_of(
            fetch_mod.fetch_from_corpus(sched, bodies, 4, max_broadcast_bytes=0)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "ShuffledHashJoin" in p, p
    assert "BroadcastHashJoin" not in p, p
    assert "BroadcastExchange" not in p, p


def test_python_datasource_pushdown_visible_in_plan(spark):
    """The custom Python DataSource's pushFilters must surface as
    PushedFilters on its BatchScan — the same pushdown discipline the
    parquet scans are pinned to, on the from-scratch source."""
    from gpse.datasource import SynthWebDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SynthWebDataSource)
    df = (
        spark.read.format("gpse_synth")
        .option("n_pages", 200)
        .option("partitions", 2)
        .load()
        .filter((F.col("page_id") >= 50) & (F.col("page_id") < 90))
    )
    p = plan_of(df)
    assert "BatchScan gpse_synth" in p, p
    assert "GreaterThanOrEqual(page_id,50)" in p, p
    assert "LessThan(page_id,90)" in p, p


def test_anti_join_dedup_plan(spark):
    from gpse.queries import q_anti_join

    p = plan_of(q_anti_join(spark, SF))
    assert "LeftAnti" in p


def test_topk_is_take_ordered(spark):
    from gpse.queries import q_topk_global

    p = plan_of(q_topk_global(spark, SF))
    assert "TakeOrderedAndProject" in p  # no full global sort for top-k


def test_simhash_pairs_banded_equi_join(spark):
    """64-bit simhash near-pairs must go through the block equi-join
    (pigeonhole banding), never a cross/nested-loop join (VERDICT r01)."""
    from gpse.pipeline import q_dedup_simhash_pairs

    p = plan_of(q_dedup_simhash_pairs(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_similarity_lsh_banded_equi_join(spark):
    """Hyperplane-LSH candidates must come from (table, bucket) equi-joins,
    and the pair explosion must not carry embeddings (slim id join, then
    rescoring joins by id)."""
    from gpse.pipeline import q_similarity_lsh

    p = plan_of(q_similarity_lsh(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_dedup_new_urls_single_candidate_exchange(spark):
    """The candidate side of dedup_new_urls must shuffle exactly once: the
    min-agg's own exchange (hashpartitioning on url_hash) feeds the
    left-anti join too, so no second Exchange appears between the
    aggregate and the join — and the agg must run PARTIAL map-side (r6:
    the shuffle moves ~unique candidates, not every exploded link row)."""
    from gpse import seen as seen_mod
    from gpse.crawl import CrawlCfg

    cand = (
        spark.range(0, 1000)
        .select(
            F.concat(F.lit("http://h/"), F.col("id")).alias("url"),
            F.xxhash64(F.concat(F.lit("http://h/"), F.col("id"))).alias("url_hash"),
            (F.col("id") % 3).cast("int").alias("depth"),
            F.lit(7).cast("long").alias("src_url_hash"),
        )
    )
    seen = spark.range(0, 100).select(F.xxhash64(F.col("id")).alias("url_hash"))
    # handed the seen pre-filter blobs the way perfbench's traced round
    # still passes them, the dedup plan is the same: no filter probe
    cfg = CrawlCfg()
    blooms = seen_mod.build_filters(
        seen, cfg.n_bloom_buckets, kind=cfg.seen_filter,
        nbits=cfg.bloom_bits, cuckoo_nb=cfg.cuckoo_nbuckets,
    )
    for out in (
        seen_mod.dedup_new_urls(cand, seen),
        seen_mod.dedup_new_urls(
            cand, seen, blooms, cfg.n_bloom_buckets, cfg.bloom_broadcast_max_bytes,
            blob_bytes_hint=cfg.n_bloom_buckets * (cfg.bloom_bits // 8),
        ),
    ):
        p = plan_of(out)
        # exchanges: one for the candidate agg, one for the seen side — and
        # none between the HashAggregate pair and the anti-join
        n_exchanges = p.count("Exchange hashpartitioning")
        assert n_exchanges <= 2, p
        assert "partial_min" in p, p  # map-side combine before the exchange
        assert "LeftAnti" in p, p
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
