"""Crawl-round driver loop: run_round / run / resume (SURVEY.md §3.1-3.2).

Capability parity: north_star — "Each crawl round is a Spark job …
checkpoint-resumable crawl rounds … resumes exactly from any round's
snapshot checkpoint". One round = one batch job over the catalog's tables:

    frontier(R) → schedule_batch → mapInPandas fetch → parse_extract
    → explode links → dedup vs seen (exact anti-join)
    → commit pages/seen/frontier(R+1)/metrics + manifest

Commit order makes the metrics commit the round's completion marker: a
crash mid-round leaves the manifest without round R's metrics, and
`resume` (1) rolls back any of round R's partial commits from the
manifest (`rollback_incomplete` — without this the re-run would chain
onto the partial appends and duplicate pages/frontier/seen rows), then
(2) re-runs the round, whose commits are re-derived from the same
deterministic inputs.

Determinism (north_rule "matching crawl ordering and final URL-seen set"):
the scheduled batch is picked by the total order (priority, url_hash), so
runs at local[8] and local[32] produce identical seen sets and identical
batch ordering (tested in tests/e2e).
"""

from __future__ import annotations

import logging
import time
from contextlib import contextmanager
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpse import fetch as fetch_mod
from gpse import frontier as frontier_mod
from gpse import metrics as metrics_mod
from gpse import robots as robots_mod
from gpse import seen as seen_mod
from gpse import synth
from gpse.catalog import Catalog
from gpse.extract import parse_extract

_log = logging.getLogger(__name__)


@dataclass
class CrawlCfg:
    corpus: synth.CorpusCfg = field(default_factory=synth.CorpusCfg)
    # None = budget-bounded round, no global top-k (the production shape).
    batch_size: int | None = 2000
    n_salts: int = 8
    num_partitions: int = 32
    n_bloom_buckets: int = 32
    bloom_bits: int = 1 << 20   # fixed per-bucket bits → OR-mergeable blobs
    use_bloom: bool = True
    # filter family: 'bloom' (default; smallest blobs) or 'cuckoo'
    # (deletion-capable — gpse/cuckoo.py; same contract). The blobs are
    # built, merged per round and expired; the dedup does not read them.
    seen_filter: str = "bloom"
    # fixed per-blob buckets → mergeable (2^18 × 4 slots × 2 B per blob)
    cuckoo_nbuckets: int = 1 << 18
    # fetch pacing (synthetic-origin path): 'simulated' stamps the
    # politeness clock without sleeping (deterministic, benchable);
    # 'wall' additionally sleeps each fetch to its due-time (live crawls).
    # time_scale compresses the wall clock (tests: 'wall' semantics at
    # milliseconds instead of real crawl delays)
    fetch_pacing: str = "simulated"
    fetch_time_scale: float = 1.0
    # no effect: the dedup no longer probes the blobs. Kept because
    # perfbench/crawlbench.py reads it; goes with ROADMAP direction 1
    bloom_broadcast_max_bytes: int = 64 << 20
    depth_weight: float = 1.0
    max_depth: int = 100
    corpus_bodies_path: str | None = None  # parquet-backed origin (bench path)
    # None = auto-detect; True when the origin is known single-capture
    # (skips the max-ts selection and its detection job entirely)
    corpus_unique_captures: bool | None = None
    # scheduled batches estimated beyond this stop broadcasting into the
    # corpus fetch join and switch to a shuffled hash join (gpse/fetch.py)
    fetch_broadcast_max_bytes: int = 512 << 20
    # per-host priority-band head pruning in the scheduler (the budget
    # window sorts O(head) instead of O(queue); selection is exactly
    # identical — frontier._split_head). Off switch exists for A/B only.
    band_pruning: bool = True
    # r6: the round's short-lived caches (robots-evaluated queue, windowed
    # boundary, scheduled batch, new-frontier part) skip columnar-cache
    # compression by default — they are read 2–4 times and released within
    # the round, so the codec build is pure CPU (measured ~1–2 s/round).
    # Memory-constrained deployments (the cached queue is O(queue) slim
    # rows, ~2x larger uncompressed) set True to keep Spark's default.
    cache_compressed: bool = False


def _policy_any_wild(spark, cat: Catalog, policy: DataFrame) -> bool:
    """True when some host in `policy` has a '*'/'$' robots rule — the flag
    that picks schedule_batch's robots plan shape (one tiny O(policy) job)."""
    return bool(policy.filter(frontier_mod._policy_has_wild()).limit(1).count())


def init_crawl(spark: SparkSession, cat: Catalog, cfg: CrawlCfg, seeds=None) -> None:
    """Round 0 state: seeds → frontier + seen + seen_bloom, robots → policy."""
    seeds = seeds if seeds is not None else synth.seed_urls(cfg.corpus)
    f0 = frontier_mod.from_seeds(spark, seeds, cfg.n_salts).persist()
    cat.commit("frontier", f0, 0, mode="append")
    seen0 = f0.select("url_hash", F.lit(0).cast("int").alias("first_round"))
    cat.commit("seen_exact", seen0, 0, mode="append")
    if cfg.use_bloom:
        blooms0 = seen_mod.build_filters(
            seen0, cfg.n_bloom_buckets, kind=cfg.seen_filter,
            nbits=cfg.bloom_bits, cuckoo_nb=cfg.cuckoo_nbuckets,
        )
        cat.commit("seen_bloom", blooms0, 0, mode="overwrite")
    f0.unpersist()
    policy = robots_mod.build_host_policy(synth.gen_robots(spark, cfg.corpus))
    cat.commit("host_policy", policy, 0, mode="overwrite")


@contextmanager
def _t(label: str, sink: dict | None = None):
    """Per-action wall timing: logged at DEBUG on the `gpse.crawl` logger
    (perf triage) and recorded into `sink` when given (bench stage
    breakdowns)."""
    t0 = time.time()
    yield
    dt = time.time() - t0
    if sink is not None:
        sink[label] = round(sink.get(label, 0.0) + dt, 3)
    _log.debug("%s: %.1fs", label, dt)


def run_round(spark: SparkSession, cat: Catalog, cfg: CrawlCfg, round_n: int) -> dict:
    """Execute crawl round `round_n`; returns the round's summary metrics
    (including a per-stage wall breakdown, `stage_s`)."""
    t0 = time.time()
    stages: dict = {}
    fr = cat.load(spark, "frontier", round_n).filter(F.col("round") == round_n)
    policy = cat.load(spark, "host_policy")
    seen = cat.load(spark, "seen_exact", round_n)

    # The slim scheduled batch feeds several consumers (fetch's broadcast
    # sides, the tie probe, metrics) that would each re-run the whole
    # robots+budget window pipeline — persist it once for the round.
    # The whole scheduler build + batch materialization sits INSIDE the
    # timer (the band-head split's count agg and the robots+budget window
    # all run at sched.count()), so stage_s attribution stays trustworthy
    # (VERDICT r03). The exact count doubles as the fetch join's sizing
    # hint.
    from pyspark import StorageLevel

    with _t("schedule + persist", stages):
        sched, denied, deferred0, sched_cleanup = frontier_mod.schedule_batch(
            fr, policy, cfg.batch_size, cfg.num_partitions,
            band_pruning=cfg.band_pruning,
            any_wild=_policy_any_wild(spark, cat, policy),
            compress_cache=cfg.cache_compressed,
        )
        with frontier_mod.uncompressed_cache(spark, not cfg.cache_compressed):
            sched = sched.persist(StorageLevel.MEMORY_AND_DISK)
        n_sched_rows = sched.count()
    if cfg.corpus_bodies_path:
        bodies = spark.read.parquet(cfg.corpus_bodies_path)
        # None detects per call; run/resume resolve it once per crawl
        fetched = fetch_mod.fetch_from_corpus(
            sched, bodies, cfg.num_partitions, cfg.corpus_unique_captures,
            max_broadcast_bytes=cfg.fetch_broadcast_max_bytes,
            batch_rows_hint=n_sched_rows,
        )
    else:
        fetched = fetch_mod.fetch(
            sched, cfg.corpus, pacing=cfg.fetch_pacing,
            time_scale=cfg.fetch_time_scale,
        )
    # The round's fetch log IS the pages table (extended schema: the
    # input_hint columns url/warc_ts/html/text/lang first, then engine
    # lineage columns). ONE full materialization per round — every later
    # stage re-reads this commit column-pruned (load_delta), so `html`
    # never sits in a wide persist and never travels again. This is the
    # plan shape that survives 100 TB: write once, prune thereafter.
    #
    # lang rides the extraction batch (r6): the text is already in Python
    # inside parse_extract's mapInArrow, where lang-ID is one dict probe
    # per token — vs the interpreted JVM HOF pipeline (5 filter lambdas
    # per row; higher-order functions don't codegen), which cost as much
    # as the whole HTML parse at 32 cores (bench_extra pages_stages:
    # ~3.2 s marginal). Values are EXACTLY textfuncs.lang_id's
    # (parity-pinned in tests/unit/test_extract.py).
    parsed = parse_extract(fetched, with_lang=True)
    log = parsed.select(
        "url",
        "warc_ts",
        "html",
        "text",
        "lang",
        "status",
        "url_hash",
        "host",
        "depth",
        "src_url_hash",
        "links",
        F.size("links").alias("n_links"),
        F.length("text").alias("text_len"),
        "bytes",
        "partition_id",
        "sched_offset_ms",
    )
    # free global counters: accumulated by df.observe DURING the write
    # action itself (zero extra scans); cross-checked against the
    # per-partition metrics table below
    log, obs = metrics_mod.observe_fetch(log)
    with _t("pages commit (fetch+parse+extract+write)", stages):
        cat.commit("pages", log, round_n, mode="append")
    observed = obs.get
    pl = cat.load_delta(spark, "pages", round_n)

    # candidate URLs: explode outlinks (already canonical from extractor).
    # Pruned read: url_hash, depth, links only — html/text untouched.
    cands = (
        pl.select(
            F.col("url_hash").alias("src_url_hash"),
            (F.col("depth") + 1).alias("depth"),
            F.explode("links").alias("url"),
        )
        .filter(F.col("depth") <= cfg.max_depth)
        .withColumn("url_hash", F.xxhash64("url"))
    )
    # dedup_new_urls reduces per-URL attributes deterministically (min depth,
    # min src_url_hash) BEFORE the seen anti-join — a url discovered from
    # several sources keeps a partition-layout-independent (depth, src)
    new_urls = seen_mod.dedup_new_urls(cands, seen)

    # carry-over: budget/batch-overflow rows stay queued — re-enqueued for
    # round+1 with priority intact (D2 'budget_deferred'; a priority queue
    # that drops overflow is wrong). The scheduler emits them from the same
    # window pipeline that enforced the budget.
    deferred = deferred0.withColumn("round", F.lit(round_n + 1).cast("int"))

    with frontier_mod.uncompressed_cache(spark, not cfg.cache_compressed):
        new_part = frontier_mod.from_candidates(
            new_urls, round_n + 1, cfg.n_salts, cfg.depth_weight
        ).persist()  # slim (no html); seen/bloom deltas come from this only
    # n_new rides the frontier write as an Observation (accumulated during
    # the commit action itself) instead of a separate count job — one less
    # per-round driver job (serial at every core count; r5 scaling work)
    from pyspark.sql import Observation

    obs_new = Observation()
    # cluster the written generation by priority so row-group min/max
    # stats line up with the scheduler's priority bands (cheap per-task
    # sort of slim rows; lets a band-predicate scan prune at file level)
    next_frontier = (
        new_part.observe(obs_new, F.count(F.lit(1)).alias("n"))
        .unionByName(deferred)
        .sortWithinPartitions("priority")
    )
    try:
        # seen delta covers ONLY genuinely-new URLs — deferred rows were
        # recorded in seen_exact when first discovered
        new_seen = new_part.select(
            "url_hash", F.lit(round_n + 1).cast("int").alias("first_round")
        )
        with _t("dedup + frontier commit", stages):
            cat.commit("frontier", next_frontier, round_n + 1, mode="append")
        with _t("seen commit", stages):
            cat.commit("seen_exact", new_seen, round_n + 1, mode="append")
        if cfg.use_bloom:
            # incremental: O(new URLs) delta blobs folded into the carried
            # blobs (bloom OR / cuckoo re-insert — never a full rebuild)
            blooms = cat.load(spark, "seen_bloom", round_n)
            delta = seen_mod.build_filters(
                new_seen, cfg.n_bloom_buckets, kind=cfg.seen_filter,
                nbits=cfg.bloom_bits, cuckoo_nb=cfg.cuckoo_nbuckets,
            )
            with _t("bloom delta+merge commit", stages):
                cat.commit(
                    "seen_bloom",
                    seen_mod.merge_filters(blooms, delta),
                    round_n + 1,
                    mode="overwrite",
                )

        # per-partition metrics are ≤ num_partitions rows: aggregate once,
        # collect, commit the local rows (a trivial write) and sum in the
        # driver — no second scan of the metrics table
        with _t("metrics agg+commit", stages):
            # the collect IS the metrics scan (pruned pages-delta agg) —
            # time it with the commit so stage_s accounts for it
            mlocal = metrics_mod.round_metrics(pl, round_n).collect()
            cat.commit(
                "metrics",
                spark.createDataFrame(mlocal, metrics_mod.METRICS_SCHEMA),
                round_n,
                mode="append",
            )
        n_fetched = sum(r["n_fetched"] for r in mlocal)
        with _t("n_new count", stages):
            n_new = int(obs_new.get["n"])  # observed during the frontier commit
    finally:
        new_part.unpersist()
        sched.unpersist()
        sched_cleanup()

    wall = time.time() - t0
    return {
        "round": round_n,
        "n_scheduled": n_fetched,
        "n_new_urls": n_new,
        "observed": observed,  # df.observe counters from the pages write
        "stage_s": stages,
        "wall_s": wall,
        "urls_per_s": (n_fetched / wall) if wall > 0 else 0.0,
    }


def last_complete_round(cat: Catalog) -> int | None:
    """Highest round whose metrics commit (the completion marker) exists."""
    return cat.latest_round("metrics")


def rollback_incomplete(cat: Catalog) -> int:
    """Discard snapshots from a partially committed round so re-running it
    is exactly idempotent. A crash between the pages/frontier/seen commits
    and the metrics completion marker would otherwise leave those append
    commits chained in the manifest, and the re-run would duplicate round-R
    pages and round-R+1 frontier/seen rows.

    After a complete round R the valid manifest state is: pages/metrics
    snapshots at rounds ≤ R, frontier/seen_exact/seen_bloom at rounds
    ≤ R+1 (init writes them at round 0 before any metrics exist — that is
    the L=-1 case). Everything beyond is a partial round: drop it."""
    last = last_complete_round(cat)
    lim = -1 if last is None else last
    return cat.prune(
        lambda s: s.round <= (lim if s.table in ("pages", "metrics") else lim + 1)
    )


def expire_urls(
    spark: SparkSession,
    cat: Catalog,
    cfg: CrawlCfg,
    keys: DataFrame,
    round_n: int | None = None,
) -> dict:
    """Expire URLs from the crawl's memory so they become crawlable again
    (re-crawl windows, robots flips — the workflow the deletion-capable
    cuckoo filter exists for; VERDICT r03 #5). `keys` is a DataFrame with
    an `url_hash` column. After this, the engine behaves as if those URLs
    were never discovered: the next time a page links to one, it is
    scheduled and fetched exactly once more.

    Three layers, committed in this order:
      1. `seen_exact`  — overwrite with `seen ∖ keys` (plain left_anti;
         the layer correctness depends on).
      2. `frontier`    — overwrite with `frontier ∖ keys`, so a key that
         was still QUEUED (deferred) can't be fetched from the stale queue
         entry AND re-enqueued on rediscovery (a duplicate fetch).
      3. `seen_bloom`  — cuckoo blobs: distributed delete via
         seen.remove_from_filters, restricted to keys ∩ seen_exact
         (deleting a never-inserted key could evict a colliding resident
         fingerprint — a false negative, which the filter contract
         forbids). Bloom blobs can't delete: rebuilt from the surviving
         seen set (O(seen) — documented cost of choosing bloom; pick
         seen_filter='cuckoo' where expiry is hot).

    Crash-consistency (resume-safe without a two-table transaction): the
    dedup reads only `seen_exact`, so a stale filter blob never changes a
    round's result. A blob that still CONTAINS an expired key (the crash
    fell before layer 3, and a re-run's keys ∩ seen_exact no longer holds
    it) is a false positive, which the filter contract allows. The
    commits use round_n = last_complete_round + 1 (default), which
    rollback_incomplete preserves across restarts.

    Returns {"n_expired", "n_remaining", "wall_s"}; cost is O(expired) +
    O(pre-filter maintenance), never O(pages).
    """
    t0 = time.time()
    if round_n is None:
        last = last_complete_round(cat)
        round_n = 0 if last is None else last + 1
    k = keys.select("url_hash").dropDuplicates(["url_hash"]).persist()
    k_ins = None
    try:
        seen = cat.load(spark, "seen_exact")
        # inserted ∩ expired — computed BEFORE the overwrite (needed for
        # the cuckoo delete's only-inserted-keys precondition)
        k_ins = k.join(seen.select("url_hash"), "url_hash", "left_semi").persist()
        n_expired = k_ins.count()
        remaining = seen.join(k, "url_hash", "left_anti")
        # n_remaining rides the overwrite as an Observation (r6, VERDICT
        # r05 #5): the old post-commit count() re-scanned the freshly
        # written seen set — an O(seen) job per expiry call for a return
        # field (120 GB at the 10^10 design point)
        from pyspark.sql import Observation

        obs_rem = Observation()
        remaining = remaining.observe(obs_rem, F.count(F.lit(1)).alias("n"))
        cat.commit("seen_exact", remaining, round_n, mode="overwrite")
        n_remaining = int(obs_rem.get["n"])

        fr = cat.load(spark, "frontier")
        cat.commit(
            "frontier", fr.join(k, "url_hash", "left_anti"), round_n,
            mode="overwrite",
        )

        if cfg.use_bloom and cat.exists("seen_bloom"):
            blobs = cat.load(spark, "seen_bloom")
            if seen_mod.is_cuckoo_blobs(blobs):
                upd = seen_mod.remove_from_filters(
                    blobs, k_ins, cfg.n_bloom_buckets
                )
            else:
                upd = seen_mod.build_filters(
                    cat.load(spark, "seen_exact"), cfg.n_bloom_buckets,
                    kind="bloom", nbits=cfg.bloom_bits,
                )
            cat.commit("seen_bloom", upd, round_n, mode="overwrite")
    finally:
        if k_ins is not None:
            k_ins.unpersist()
        k.unpersist()
    return {
        "n_expired": int(n_expired),
        "n_remaining": int(n_remaining),
        "wall_s": round(time.time() - t0, 3),
    }


def rescore_frontier(
    spark: SparkSession,
    cat: Catalog,
    cfg: CrawlCfg,
    iterations: int = 3,
    damping: float = 0.85,
    rank_weight: float = 0.5,
    round_n: int | None = None,
    warm_start: bool = False,
    tol: float | None = None,
    max_sweeps: int = 100,
) -> dict:
    """Re-prioritize the queued frontier from the crawled link graph —
    the prioritized-crawl maintenance op (the `link_pagerank` query's
    iterative scoring composed into the engine loop): URLs that many
    crawled pages link to move ahead of their BFS-depth peers.

    PageRank over edges (page.url_hash → xxhash64(outlink)) from the
    fetched pages, `iterations` power steps (each ONE shuffle: ranks ⋈
    edges by src, hash-agg contributions by dst — same plan shape as
    q_link_pagerank, gpse/queries.py). Dangling nodes leak their mass to
    the teleport term (the standard simplification; ordering, not mass
    conservation, is what priority needs). Frontier priority is then
    RECOMPUTED absolutely — depth·depth_weight − rank_weight·rank/max(rank)
    — so the op is idempotent: re-running it (or resuming across it)
    yields the same priorities, never a double-applied adjustment.

    Explicitly OPT-IN: the default loop keeps priority = depth·weight so
    the north_rule's deterministic crawl ordering stays bit-stable; after
    a rescore, priorities are continuous, which is still a total order
    with url_hash as tiebreak. Rank sums are float aggregations; values are
    rounded to 9 dp (like the oracle-checked query) so partition-order
    ULP noise cannot flip a priority comparison.

    Commits one frontier overwrite snapshot at round_n =
    last_complete_round + 1 (default), which — like expire_urls's commits —
    rollback_incomplete PRESERVES across restarts (valid manifest state
    after a complete round R keeps frontier snapshots at rounds ≤ R+1);
    idempotence is what makes a post-crash re-run harmless, not rollback.
    Partial commits from a crashed LATER round are a different matter: the
    rescore must not fold a round-(last+2) frontier append (uncommitted
    work — no metrics marker) into an overwrite that rollback would then
    preserve, so rollback_incomplete runs FIRST (cheap, driver-side
    manifest prune; ADVICE r04). Cost: O(edges)·sweeps + one frontier
    rewrite — an inter-round maintenance job, not part of the round loop
    at scale. Returns {"n_nodes","n_edges","rank_max","n_sweeps","wall_s"}.

    Convergence + warm start (VERDICT r04 next-round #9): with
    `tol` set, power steps run until max|Δrank| ≤ tol (one slim join+agg
    per sweep on the localCheckpoint'd ranks — lineage stays flat) up to
    `max_sweeps`, failing loudly on non-convergence like the components
    loop; `iterations` is ignored. Each rescore commits the converged
    ranks as the slim `link_ranks` table (nid, rank — overwrite at the
    same round_n), and `warm_start=True` initializes the next rescore
    from it (nodes absent from the previous graph start at 1/n). PageRank
    has a UNIQUE fixed point (damping < 1 makes the operator a
    contraction), so the warm start changes COST, never the answer: after
    an incremental crawl most nodes sit near the fixed point already and
    the loop converges in a few sweeps instead of O(log(1/tol)/log(1/d))
    — the O(new edges)-ish refresh the 100 TB maintenance cadence needs.
    Cold/warm parity at convergence is pinned in tests/e2e/test_rescore.py.
    """
    t0 = time.time()
    rollback_incomplete(cat)
    if round_n is None:
        last = last_complete_round(cat)
        round_n = 0 if last is None else last + 1
    if not cat.exists("pages"):  # nothing crawled yet: no graph, no-op
        return {"n_nodes": 0, "n_edges": 0, "rank_max": 0.0,
                "n_sweeps": 0, "wall_s": round(time.time() - t0, 3)}
    pages = cat.load(spark, "pages").filter(F.col("status") == 200)
    # ONE edge set per URL, not per capture (VERDICT r04 wrong-3): after
    # expire_urls a re-linked URL is fetched again, so pages legitimately
    # holds ≥2 captures of one url_hash — exploding them all would count
    # that page's outlinks once PER CAPTURE, inflating deg and its
    # contributions. Latest capture wins (one hash-agg, no window);
    # equal-warc_ts captures carry identical links (the fetch is a
    # deterministic function of the url), so the max_by tie-break cannot
    # affect the edge set.
    latest = pages.groupBy("url_hash").agg(
        F.max_by("links", "warc_ts").alias("links")
    )
    edges = (
        latest.select(F.col("url_hash").alias("src"), F.explode("links").alias("u"))
        .select("src", F.xxhash64("u").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    e = edges.join(deg, "src").persist()
    nodes = (
        e.select(F.col("src").alias("nid"))
        .union(e.select(F.col("dst").alias("nid")))
        .distinct()
        .persist()
    )
    ranks_p = None  # persisted handle, released in finally (ADVICE r04)
    try:
        n_nodes = nodes.count()
        n_edges = e.count()
        if n_nodes == 0:
            return {"n_nodes": 0, "n_edges": 0, "rank_max": 0.0,
                    "n_sweeps": 0, "wall_s": round(time.time() - t0, 3)}
        if warm_start and tol is None:
            import warnings

            warnings.warn(
                "rescore_frontier: warm_start without tol runs FIXED "
                "iterations from the previous link_ranks seed — the "
                "committed priorities then depend on history, violating "
                "the 'warm start changes COST, never the answer' contract "
                "(which holds only at convergence). Set tol.",
                stacklevel=2,
            )
        if warm_start and cat.exists("link_ranks"):
            prev = cat.load(spark, "link_ranks").select(
                "nid", F.col("rank").alias("_prev")
            )
            ranks = nodes.join(prev, "nid", "left").select(
                "nid", F.coalesce("_prev", F.lit(1.0 / n_nodes)).alias("rank")
            )
        else:
            ranks = nodes.select("nid", F.lit(1.0 / n_nodes).alias("rank"))
        if tol is not None:
            # convergence mode needs each sweep materialized anyway (for
            # the delta agg), and checkpointing keeps the iterative
            # lineage flat — same discipline as gpse/components.py
            ranks = ranks.localCheckpoint()
        n_sweeps = 0
        delta = None  # defined before the loop: max_sweeps=0 must raise
        # the intended RuntimeError below, not NameError (ADVICE r05)
        for _ in range(max_sweeps if tol is not None else iterations):
            contrib = (
                e.join(ranks.withColumnRenamed("nid", "src"), "src")
                .groupBy("dst")
                .agg(F.sum(F.col("rank") / F.col("deg")).alias("c"))
            )
            new_ranks = nodes.join(
                contrib.withColumnRenamed("dst", "nid"), "nid", "left"
            ).select(
                "nid",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping) * F.coalesce("c", F.lit(0.0))
                ).alias("rank"),
            )
            n_sweeps += 1
            if tol is None:
                ranks = new_ranks
                continue
            new_ranks = new_ranks.localCheckpoint()
            delta = (
                ranks.withColumnRenamed("rank", "_r0")
                .join(new_ranks, "nid")
                .agg(F.max(F.abs(F.col("rank") - F.col("_r0"))).alias("d"))
                .collect()[0]["d"]
            )
            ranks = new_ranks
            if delta is not None and delta <= tol:
                break
        else:
            if tol is not None:
                raise RuntimeError(
                    f"rescore_frontier: no fixed point within {max_sweeps} "
                    f"sweeps at tol={tol} (last delta={delta}) — PageRank "
                    "with damping<1 must converge; this is a bug or a "
                    "pathological tol"
                )
        ranks_p = ranks.select("nid", F.round("rank", 9).alias("rank")).persist()
        rank_max = ranks_p.agg(F.max("rank")).collect()[0][0] or 1.0
        # converged ranks become the next warm start's seed (slim table;
        # overwrite at the same preserved round_n — crash between this and
        # the frontier commit is harmless: the re-run recomputes both)
        cat.commit("link_ranks", ranks_p, round_n, mode="overwrite")
        fr = cat.load(spark, "frontier")
        rescored = (
            fr.join(
                ranks_p.select(F.col("nid").alias("url_hash"), "rank"),
                "url_hash",
                "left",
            )
            .withColumn(
                "priority",
                F.round(
                    F.col("depth").cast("double") * F.lit(cfg.depth_weight)
                    - F.lit(rank_weight)
                    * F.coalesce(F.col("rank"), F.lit(0.0))
                    / F.lit(float(rank_max)),
                    9,
                ),
            )
            .drop("rank")
        )
        cat.commit("frontier", rescored, round_n, mode="overwrite")
    finally:
        if ranks_p is not None:
            ranks_p.unpersist()
        nodes.unpersist()
        e.unpersist()
    return {
        "n_nodes": int(n_nodes),
        "n_edges": int(n_edges),
        "rank_max": float(rank_max),
        "n_sweeps": int(n_sweeps),
        "wall_s": round(time.time() - t0, 3),
    }


def _resolve_origin(spark: SparkSession, cfg: CrawlCfg) -> CrawlCfg:
    """`cfg` with an undetected `corpus_unique_captures` resolved once for
    the whole crawl: it is a property of the origin, not of any round, so
    the multi-round loop must not re-run the detection job per round."""
    if cfg.corpus_bodies_path and cfg.corpus_unique_captures is None:
        bodies = spark.read.parquet(cfg.corpus_bodies_path)
        cfg = replace(
            cfg, corpus_unique_captures=fetch_mod.detect_unique_captures(bodies)
        )
    return cfg


def run(
    spark: SparkSession,
    cat: Catalog,
    cfg: CrawlCfg,
    n_rounds: int,
    seeds=None,
) -> list[dict]:
    """Fresh crawl: init + n_rounds."""
    init_crawl(spark, cat, cfg, seeds)
    cfg = _resolve_origin(spark, cfg)
    return [run_round(spark, cat, cfg, r) for r in range(n_rounds)]


def resume(spark: SparkSession, cat: Catalog, cfg: CrawlCfg, n_more_rounds: int) -> list[dict]:
    """Continue from the last complete round's snapshot checkpoint —
    bit-identical to an uninterrupted run, even when the previous process
    crashed mid-round after some of that round's commits (tested in
    tests/e2e: partial-commit manifests are rolled back first)."""
    rollback_incomplete(cat)
    last = last_complete_round(cat)
    start = 0 if last is None else last + 1
    cfg = _resolve_origin(spark, cfg)
    return [run_round(spark, cat, cfg, r) for r in range(start, start + n_more_rounds)]
