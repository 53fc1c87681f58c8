"""Priority-band head pruning (frontier._split_head, VERDICT r04 #3): the
budget window must sort only the per-host schedulable HEAD, with selection
EXACTLY identical to the unbanded full-window pipeline — including hosts
whose head bands contain robots-denied rows (denied rows free budget
slots, so the band counts must be of ALLOWED rows) and post-rescore
fractional/negative priorities."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gpse import frontier as frontier_mod


def _frontier(spark, n=3000, n_hosts=6):
    # host h0 is the zipf head: half the rows; bands 0..4 per host via
    # depth; fractional priorities mimic a post-rescore frontier
    return spark.range(0, n).select(
        F.lit(0).alias("round"),
        F.concat(
            F.lit("http://h"),
            F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % n_hosts).cast("string"),
            F.lit(".example/"),
            F.when(F.col("id") % 7 == 0, F.lit("private/")).otherwise(F.lit("p/")),
            F.col("id").cast("string"),
        ).alias("url"),
        F.xxhash64(F.col("id")).alias("url_hash"),
        F.concat(
            F.lit("h"),
            F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % n_hosts).cast("string"),
            F.lit(".example"),
        ).alias("host"),
        (F.col("id") % 4).cast("smallint").alias("salt"),
        # band = depth in 0..4, fractional rescore offset within the band
        (
            (F.col("id") % 5).cast("double")
            - (F.pmod(F.xxhash64("id"), F.lit(1000)) / F.lit(10000.0))
        ).alias("priority"),
        (F.col("id") % 5).cast("int").alias("depth"),
        F.lit(None).cast("long").alias("src_url_hash"),
        F.lit("queued").alias("state"),
    )


def _policy(spark, n_hosts=6, budget=40):
    # h1/h3 carry a real Disallow rule (so their /private/ rows are denied
    # and must not count toward band saturation); h5 missing from the
    # policy entirely (DEFAULT_BUDGET path)
    rows = [
        (
            f"h{i}.example",
            ["/private/"] if i in (1, 3) else None,
            None,
            0,
            budget,
        )
        for i in range(n_hosts - 1)
    ]
    return spark.createDataFrame(
        rows,
        "host string, disallow array<string>, allow array<string>, "
        "crawl_delay_ms long, budget_per_round int",
    )


def _run(spark, band_pruning, batch_size=None):
    fr, pol = _frontier(spark), _policy(spark)
    sched, denied, deferred, cl = frontier_mod.schedule_batch(
        fr, pol, batch_size, 4, band_pruning=band_pruning
    )
    try:
        return (
            sorted(r.url for r in sched.collect()),
            sorted(r.url for r in denied.collect()),
            sorted(r.url for r in deferred.collect()),
        )
    finally:
        cl()


@pytest.mark.parametrize("batch_size", [None, 150])
def test_banded_selection_identical_to_full_window(spark, batch_size):
    got = _run(spark, True, batch_size)
    want = _run(spark, False, batch_size)
    assert got[0] == want[0], "scheduled sets differ"
    assert got[1] == want[1], "denied sets differ"
    assert got[2] == want[2], "deferred sets differ"
    assert len(got[0]) > 0 and len(got[1]) > 0 and len(got[2]) > 0


def test_head_is_small_and_tail_skips_window(spark):
    """The zipf-head host's saturated bands must land in the tail: window
    input (head) ≈ O(Σ budgets + boundary band), far below the queue."""
    fr, pol = _frontier(spark), _policy(spark)
    q = fr.filter(F.col("state") == "queued")
    j = q.join(
        F.broadcast(
            pol.select("*", frontier_mod._policy_has_wild().alias("_has_wild"))
        ),
        "host",
        "left",
    )
    al = frontier_mod._with_allowed(j).filter(F.col("allowed"))
    auto, boundary, tail, cleanup = frontier_mod._split_head(al)
    try:
        n_q = q.count()
        n_head = (auto.count() if auto is not None else 0) + (
            boundary.count() if boundary is not None else 0
        )
        n_tail = tail.count() if tail is not None else 0
        n_denied = n_q - n_head - n_tail
        assert n_head + n_tail + n_denied == n_q
        # h0 holds ~1500 rows across 5 bands at budget 40: its head is the
        # first band only — the overall head must be a small fraction
        assert n_head < n_q / 2, (n_head, n_q)
        # head (auto + boundary) covers every budget: each host's head
        # holds ≥ min(budget, its allowed rows)
        head = auto.unionByName(boundary.drop("_m")) if auto is not None else boundary.drop("_m")
        per_host = {
            r["host"]: r["n"]
            for r in head.groupBy("host").agg(F.count("*").alias("n")).collect()
        }
        assert all(v >= 40 for h, v in per_host.items() if h != "h5.example")
    finally:
        cleanup()


def test_band_split_handles_empty_queue(spark):
    fr, pol = _frontier(spark, n=0), _policy(spark)
    sched, denied, deferred, cl = frontier_mod.schedule_batch(fr, pol, None, 4)
    try:
        assert sched.count() == 0 and denied.count() == 0 and deferred.count() == 0
    finally:
        cl()
