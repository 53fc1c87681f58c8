"""Batch cap: for an explicit batch_size the scheduler must pick EXACTLY the
first k rows of the total order (priority, url_hash) — including when k
falls inside a priority tie group (the seed round is one giant tie group)
and for continuous post-rescore priorities with a cap above 100k — and
defer precisely the rest."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gpse import frontier as frontier_mod


def _frontier(spark, n, priority):
    return spark.range(0, n).select(
        F.lit(0).alias("round"),
        F.concat(F.lit("http://h"), (F.col("id") % 5).cast("string"),
                 F.lit(".example/p/"), F.col("id").cast("string")).alias("url"),
        F.xxhash64(F.col("id")).alias("url_hash"),
        F.concat(F.lit("h"), (F.col("id") % 5).cast("string"),
                 F.lit(".example")).alias("host"),
        (F.col("id") % 4).cast("smallint").alias("salt"),
        priority.alias("priority"),
        (F.col("id") % 3).cast("int").alias("depth"),
        F.lit(None).cast("long").alias("src_url_hash"),
        F.lit("queued").alias("state"),
    )


def _policy(spark):
    hosts = [(f"h{i}.example", None, None, 0, 10_000_000) for i in range(5)]
    return spark.createDataFrame(
        hosts,
        "host string, disallow array<string>, allow array<string>, "
        "crawl_delay_ms long, budget_per_round int",
    )


def _priority(kind):
    if kind == "tied":
        # three uneven tie groups (0.0 dominates, like a seed round)
        return (
            F.when(F.col("id") % 6 < 4, 0.0)
            .when(F.col("id") % 6 == 4, 1.0)
            .otherwise(2.0)
        )
    # continuous post-rescore-like scores: 50,000 distinct values, with ties
    return F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(50_000)) / 100.0


@pytest.mark.parametrize(
    "n,k,kind",
    [
        # the 700th row falls inside the 800-row priority-0.0 group
        (1200, 700, "tied"),
        (130_000, 100_500, "continuous"),
    ],
    ids=["k_inside_tie_group", "continuous_k_over_100k"],
)
def test_cap_matches_sort_oracle(spark, n, k, kind):
    fr = _frontier(spark, n, _priority(kind))
    order = sorted(
        (r.priority, r.url_hash, r.url)
        for r in fr.select("priority", "url_hash", "url").collect()
    )
    sched, denied, deferred, cl = frontier_mod.schedule_batch(
        fr, _policy(spark), k, 4
    )
    try:
        got = [r.url for r in sched.select("url").collect()]
        assert len(got) == k
        assert set(got) == {u for _, _, u in order[:k]}
        got_def = [r.url for r in deferred.select("url").collect()]
        assert len(got_def) == n - k
        assert set(got_def) == {u for _, _, u in order[k:]}
        assert denied.count() == 0
    finally:
        cl()


def _live_operators(plan) -> list[str]:
    """Class names of the physical operators `plan` would execute. A cached
    relation is a leaf here: the plan it was built from (which `explain`
    prints beneath it) is not run again, so it is not descended into."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [plan.plan()]
    else:
        seq = plan.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    return [name] + [n for kid in kids for n in _live_operators(kid)]


def test_deferred_reuses_cached_top_k(spark):
    """Once the capped batch is cached, the `deferred` overflow anti-join
    must read the persisted top-k, not run TakeOrderedAndProject again."""
    fr = _frontier(spark, 5000, _priority("tied"))
    sched, _, deferred, cl = frontier_mod.schedule_batch(fr, _policy(spark), 500, 4)
    try:
        sched.persist()
        assert sched.count() == 500
        ops = _live_operators(deferred._jdf.queryExecution().executedPlan())
        assert "InMemoryTableScanExec" in ops, ops
        assert not [o for o in ops if o.startswith("TakeOrderedAndProject")], ops
        assert deferred.count() == 4500
    finally:
        sched.unpersist()
        cl()
