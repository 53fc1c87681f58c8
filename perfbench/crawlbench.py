"""The crawl workload, backlog_loop.

Untraced passes call ``crawl.run_round`` and the maintenance operations
as a user would. The traced pass calls the layers run_round is made of,
in its order, forcing each layer's output before the next one runs; the
fetch join and HTML extraction, which Spark fuses into the pages write,
are split off with noop-sink prefixes of that write.
"""

from __future__ import annotations

import os
import shutil
import time
from urllib.parse import urlsplit

from pyspark import StorageLevel
from pyspark.sql import Observation
from pyspark.sql import functions as F

from gpse import crawl, fetch, frontier, metrics, robots, seen
from gpse.extract import parse_extract

from perfbench import eventlog, inputs, procstat
from perfbench.harness import CORES, WORK, Run, layer_metrics, layer_resources, median
from perfbench.inputs import CrawlShape
from perfbench.tracing import Tracer

EXPIRE_MODULUS = 29  # backlog_loop expires the seen URLs with url_hash ≡ 0 (mod 29)


# ---------------------------------------------------------------------------
# catalog file accounting
# ---------------------------------------------------------------------------

def catalog_files(base: str) -> dict[str, int]:
    """{path: bytes} of the catalog's data files (the manifest excluded:
    it is rewritten on every commit and holds wall-clock timestamps)."""
    out = {}
    for d, _, names in os.walk(base):
        for n in names:
            if not n.startswith("_manifest"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def new_bytes_by_table(base: str, before: dict[str, int]) -> dict[str, int]:
    """Bytes of files created since `before`, keyed by table directory."""
    out: dict[str, int] = {}
    for p, n in catalog_files(base).items():
        if p not in before:
            table = os.path.relpath(p, base).split(os.sep, 1)[0]
            out[table] = out.get(table, 0) + n
    return out


# ---------------------------------------------------------------------------
# the traced round: run_round's layers, one at a time
# ---------------------------------------------------------------------------

_LOG_COLS = (
    "url", "warc_ts", "html", "text", "lang", "status", "url_hash", "host",
    "depth", "src_url_hash", "links",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_round(spark, cat, cfg, r: int, tr: Tracer) -> dict:
    """One crawl round through gpse's layer functions in run_round's
    order; returns run_round's counts plus the per-layer counts."""
    fr = cat.load(spark, "frontier", r).filter(F.col("round") == r)
    policy = cat.load(spark, "host_policy")
    seen_df = cat.load(spark, "seen_exact", r)
    counts: dict = {}

    with tr.span("frontier", "schedule"):
        # run_round's plan: the robots shape is picked (and memoised per
        # policy snapshot) by the same call
        sched, _denied, deferred0, sched_cleanup = frontier.schedule_batch(
            fr, policy, cfg.batch_size, cfg.num_partitions,
            band_pruning=cfg.band_pruning,
            any_wild=crawl._policy_any_wild(spark, cat, policy),
            compress_cache=cfg.cache_compressed,
        )
        with frontier.uncompressed_cache(spark, not cfg.cache_compressed):
            sched = sched.persist(StorageLevel.MEMORY_AND_DISK)
        n_sched_rows = sched.count()
    new_part = None
    try:
        bodies = spark.read.parquet(cfg.corpus_bodies_path)
        fetched = fetch.fetch_from_corpus(
            sched, bodies, cfg.num_partitions, cfg.corpus_unique_captures,
            max_broadcast_bytes=cfg.fetch_broadcast_max_bytes,
            batch_rows_hint=n_sched_rows,
        )
        # noop-sink prefixes of the pages write: fetch alone, then
        # fetch + extract; the full write follows
        obs_f = Observation()
        with tr.span("fetch", "join"):
            _noop(fetched.observe(obs_f, F.count(F.lit(1)).alias("n"),
                                  F.sum((F.col("status") == 200).cast("long")).alias("ok")))
        counts["fetched"], counts["ok"] = int(obs_f.get["n"]), int(obs_f.get["ok"] or 0)
        parsed = parse_extract(fetched, with_lang=True)
        obs_x = Observation()
        with tr.span("extract", "parse"):
            _noop(parsed.observe(obs_x, F.sum(F.size("links")).alias("links")))
        counts["links_out"] = int(obs_x.get["links"] or 0)
        log = parsed.select(
            *_LOG_COLS,
            F.size("links").alias("n_links"),
            F.length("text").alias("text_len"),
            "bytes", "partition_id", "sched_offset_ms",
        )
        log, _obs = metrics.observe_fetch(log)
        with tr.span("catalog", "pages_write"):
            cat.commit("pages", log, r, mode="append")
        pl = cat.load_delta(spark, "pages", r)

        cands = (
            pl.select(
                F.col("url_hash").alias("src_url_hash"),
                (F.col("depth") + 1).alias("depth"),
                F.explode("links").alias("url"),
            )
            .filter(F.col("depth") <= cfg.max_depth)
            .withColumn("url_hash", F.xxhash64("url"))
        )
        blooms = cat.load(spark, "seen_bloom", r)
        new_urls = seen.dedup_new_urls(
            cands, seen_df, blooms, cfg.n_bloom_buckets, cfg.bloom_broadcast_max_bytes,
            blob_bytes_hint=cfg.n_bloom_buckets * (cfg.bloom_bits // 8),
        )
        deferred = deferred0.withColumn("round", F.lit(r + 1).cast("int"))
        with tr.span("seen", "dedup"):
            with frontier.uncompressed_cache(spark, not cfg.cache_compressed):
                new_part = frontier.from_candidates(
                    new_urls, r + 1, cfg.n_salts, cfg.depth_weight
                ).persist()
            n_new = new_part.count()
        next_frontier = new_part.unionByName(deferred).sortWithinPartitions("priority")
        with tr.span("catalog", "frontier_commit"):
            cat.commit("frontier", next_frontier, r + 1, mode="append")
        new_seen = new_part.select("url_hash", F.lit(r + 1).cast("int").alias("first_round"))
        with tr.span("catalog", "seen_commit"):
            cat.commit("seen_exact", new_seen, r + 1, mode="append")
        with tr.span("seen", "filter_merge"):
            delta = seen.build_filters(
                new_seen, cfg.n_bloom_buckets, kind=cfg.seen_filter,
                nbits=cfg.bloom_bits, cuckoo_nb=cfg.cuckoo_nbuckets,
            )
            cat.commit("seen_bloom", seen.merge_filters(blooms, delta), r + 1, mode="overwrite")
        with tr.span("metrics", "agg_commit"):
            mlocal = metrics.round_metrics(pl, r).collect()
            cat.commit(
                "metrics", spark.createDataFrame(mlocal, metrics.METRICS_SCHEMA), r, mode="append"
            )
    finally:
        if new_part is not None:
            new_part.unpersist()
        sched.unpersist()
        sched_cleanup()
    return {
        "n_scheduled": sum(m["n_fetched"] for m in mlocal),
        "n_new_urls": int(n_new),
        "counts": counts,
    }


# ---------------------------------------------------------------------------
# maintenance between rounds, and expiry
# ---------------------------------------------------------------------------

def maintenance(spark, cat, cfg, tr: Tracer) -> dict:
    """Compaction of the append chains, filter snapshot expiry, rescore."""
    with tr.span("catalog", "compact"):
        cat.compact(spark, "frontier")
        cat.compact(spark, "seen_exact")
        cat.expire_snapshots("seen_bloom")
    with tr.span("crawl", "rescore"):
        info = crawl.rescore_frontier(spark, cat, cfg)
    return {"rescore_edges": info["n_edges"]}


def expire(spark, cat, cfg, tr: Tracer) -> dict:
    """Expire about 1/EXPIRE_MODULUS of the seen URLs."""
    keys = cat.load(spark, "seen_exact").filter(
        F.pmod(F.col("url_hash"), F.lit(EXPIRE_MODULUS)) == 0
    )
    with tr.span("crawl", "expire"):
        info = crawl.expire_urls(spark, cat, cfg, keys)
    return {"expired": info["n_expired"]}


# ---------------------------------------------------------------------------
# output checks (untimed)
# ---------------------------------------------------------------------------

def check_round(spark, cat, r: int, budget: int, n_new: int) -> tuple[dict, list[str]]:
    """Check round r right after it committed. Every queued row is
    scheduled (in the pages delta), deferred (carried into the next
    generation) or denied, never two of these; robots allows exactly the
    scheduled and deferred rows; no host exceeds its budget; the next
    generation holds the deferred rows plus the round's new URLs."""
    queued = cat.load(spark, "frontier", r).filter(F.col("round") == r)
    pages = cat.load_delta(spark, "pages", r)
    nxt = cat.load_delta(spark, "frontier", r + 1).select("url_hash")
    q = (
        queued.select("url_hash", "url", "host")
        .join(pages.select("url_hash").withColumn("s", F.lit(True)), "url_hash", "left")
        .join(nxt.withColumn("d", F.lit(True)), "url_hash", "left")
        .toPandas()
    )
    s, d = q["s"].notna(), q["d"].notna()
    n = {
        "queued": len(q), "scheduled": int(s.sum()), "deferred": int(d.sum()),
        "denied": int((~s & ~d).sum()),
        "candidates": pages.select(F.explode("links").alias("u")).select(F.xxhash64("u")).distinct().count(),
    }
    n_pages, n_next = pages.count(), nxt.count()
    pol = {
        row["host"]: (list(row["disallow"] or []), list(row["allow"] or []))
        for row in cat.load(spark, "host_policy").select("host", "disallow", "allow").collect()
    }
    robots_bad = sum(
        robots.path_allowed(urlsplit(url).path or "/", *pol.get(host, ([], []))) != kept
        for url, host, kept in zip(q["url"], q["host"], s | d)
    )
    per_host = q[s].groupby("host").size()
    checks = [
        (not q["url_hash"].duplicated().any(), "queued url_hash not unique"),
        (not (s & d).any(), f"{int((s & d).sum())} rows both scheduled and deferred"),
        (n_pages == n["scheduled"], f"{n_pages} pages but {n['scheduled']} of them queued"),
        (robots_bad == 0, f"{robots_bad} rows whose robots verdict disagrees with the schedule"),
        (per_host.max() <= budget if len(per_host) else True, f"a host fetched {per_host.max()} > budget {budget}"),
        (n_next == n["deferred"] + n_new, f"next generation {n_next} != deferred {n['deferred']} + new {n_new}"),
    ]
    return n, [f"round {r}: {msg}" for ok, msg in checks if not ok]


def digest(spark, cat, rounds: list[dict]) -> dict:
    """Per-seed digest: round counts plus an order-insensitive hash of the
    seen set and of the fetched URLs."""
    def h(df):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("url_hash").alias("nd"),
            F.sum(F.pmod(F.xxhash64("url_hash"), F.lit(2**31 - 1))).alias("h"),
        ).first()
        return int(row["n"]), int(row["nd"]), int(row["h"] or 0)

    seen_n, seen_nd, seen_h = h(cat.load(spark, "seen_exact"))
    pages_n, pages_nd, pages_h = h(cat.load(spark, "pages"))
    return {
        "rounds": [[x["n_scheduled"], x["n_new_urls"]] for x in rounds],
        "seen": [seen_n, seen_nd, seen_h],
        "pages": [pages_n, pages_nd, pages_h],
    }


def digest_failures(d: dict) -> list[str]:
    fails = []
    if d["seen"][0] != d["seen"][1]:
        fails.append(f"seen_exact not unique on url_hash: {d['seen'][0]} rows, {d['seen'][1]} keys")
    if d["pages"][0] != d["pages"][1]:
        fails.append(f"a URL was fetched twice: {d['pages'][0]} pages, {d['pages'][1]} URLs")
    return fails


# ---------------------------------------------------------------------------
# the workloads
# ---------------------------------------------------------------------------

# all priorities tied (the seed-crawl shape), tight budgets: most of the
# queue is deferred every round and seen ≫ candidates
SHAPE = CrawlShape(frontier=40_000, corpus_pages=100_000, hosts=1_333, bands=1, budget=16, partitions=8)
N_ROUNDS = 2  # round 0, maintenance, round 1, expiry


def crawl_pass(run: Run, cfg, i: int, tr: Tracer | None = None, checks: bool = False) -> dict:
    """One pass on a fresh catalog: init (set-up), then the workload's
    timed operations. With a tracer, rounds go layer by layer."""
    spark = run.spark
    base = os.path.join(run.dir, f"cat-{i}")
    t = time.perf_counter()
    cat = inputs.init_catalog(spark, base, SHAPE, cfg)
    init_s = time.perf_counter() - t
    before = catalog_files(base)
    rounds, round_s, maint_s, counts, cpu = [], [], [], [], 0.0
    for r in range(N_ROUNDS):
        c0, t0 = run.cpu_s(), time.perf_counter()
        res = traced_round(spark, cat, cfg, r, tr) if tr is not None else crawl.run_round(spark, cat, cfg, r)
        round_s.append(time.perf_counter() - t0)
        cpu += run.cpu_s() - c0
        run.attempted += 1
        rounds.append({"n_scheduled": res["n_scheduled"], "n_new_urls": res["n_new_urls"]})
        counts.append(res.get("counts", {}))
        if checks:
            n, fails = check_round(spark, cat, r, SHAPE.budget, res["n_new_urls"])
            run.check(fails, 6)
            counts[-1].update(n)
        op = maintenance if r < N_ROUNDS - 1 else expire
        c0, t0 = run.cpu_s(), time.perf_counter()
        counts[-1].update(op(spark, cat, cfg, tr if tr is not None else Tracer(None, enabled=False)))
        maint_s.append(time.perf_counter() - t0)
        cpu += run.cpu_s() - c0
        run.attempted += 1
    written = new_bytes_by_table(base, before)
    dig = digest(spark, cat, rounds)
    run.check(digest_failures(dig), 2)
    shutil.rmtree(base, ignore_errors=True)
    fetched = sum(x["n_scheduled"] for x in rounds)
    return {
        "init_s": init_s, "round_s": round_s, "maint_s": maint_s, "cpu_s": cpu,
        "fetched": fetched, "written": written, "digest": dig, "counts": counts,
        "pass_s": sum(round_s) + sum(maint_s),
    }


def workload(run: Run) -> tuple[dict, dict]:
    seed = run.args.seed
    # built before the session starts and without Spark, so that every
    # measured session starts in the same state, cached origin or not
    origin_path, origin_build_s = inputs.origin(WORK, SHAPE, seed, CORES)
    session_s = run.start_session()
    cfg = inputs.crawl_cfg(SHAPE, seed, origin_path)
    key = f"backlog_loop-s{seed}-" + "-".join(f"{k}{v}" for k, v in vars(SHAPE).items())
    detail = {"origin_build_s": round(origin_build_s, 3), "session_s": round(session_s, 3)}
    if run.args.trace:
        return _traced(run, cfg, key, detail)

    pss = procstat.PeakPss(run.pid).start()
    passes = []
    for i in range(run.n_passes):
        passes.append(crawl_pass(run, cfg, i, checks=i == 0))
        if i:
            run.check([] if passes[i]["digest"] == passes[0]["digest"] else [f"pass {i + 1} digest differs from pass 1"])
    peak = pss.stop()
    run.check_stored(key, passes[0]["digest"])
    metrics = {
        "pass_s": median([p["pass_s"] for p in passes]),
        "setup_s": session_s + median([p["init_s"] for p in passes]),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "peak_pss_mb": peak,
    }
    workload_metrics = {
        "urls_per_s": (median([p["fetched"] / sum(p["round_s"]) for p in passes]), "1/s"),
        "catalog_bytes_per_url": (median([sum(p["written"].values()) / p["fetched"] for p in passes]), "B"),
        "maint_s": (median([sum(p["maint_s"]) for p in passes]), "s"),
    }
    detail.update({
        "workload_metrics": {k: {"value": v, "unit": u} for k, (v, u) in workload_metrics.items()},
        "passes": len(passes),
        "round_s": [[round(x, 3) for x in p["round_s"]] for p in passes],
        "maint_s": [[round(x, 3) for x in p["maint_s"]] for p in passes],
        "init_s": [round(p["init_s"], 3) for p in passes],
        "digest": passes[0]["digest"],
        "counts": passes[0]["counts"],
    })
    return metrics, detail


def _traced(run: Run, cfg, key: str, detail: dict) -> tuple[dict, dict]:
    """An untraced pass, then a traced one that must reproduce run_round's
    counts and seen set exactly. The untraced pass runs first, in the fresh
    session, so trace.overhead_s is a lower bound (a third, warm-up pass
    would not fit the 180 s a run may take on a noisy box)."""
    plain = crawl_pass(run, cfg, 0)
    tr = Tracer(run.spark)
    traced = crawl_pass(run, cfg, 1, tr, checks=True)
    for r, (a, b) in enumerate(zip(plain["digest"]["rounds"], traced["digest"]["rounds"])):
        run.check([] if a == b else [f"round {r}: traced (n_scheduled, n_new_urls) {b} != run_round's {a}"])
    a, b = plain["digest"]["seen"], traced["digest"]["seen"]
    run.check([] if a == b else [f"traced seen digest {b} != run_round's {a}"])
    run.check_stored(key, plain["digest"])
    run.stop_session()
    groups = run.task_groups()
    layers, spans = layer_metrics(groups), eventlog.by_span(groups)
    # the noop prefixes re-run upstream work: extract = (fetch + extract)
    # - fetch, and the pages write = the full commit - (fetch + extract),
    # for task metrics as for wall time
    fetch_x, extract_x = (spans.get(k, eventlog.GroupMetrics()) for k in ("fetch:join", "extract:parse"))
    layers["extract"] = extract_x.minus(fetch_x)
    layers["catalog"] = layers["catalog"].minus(extract_x)

    def tot(k):
        return sum(c.get(k, 0) for c in traced["counts"])

    t_fetch, t_extract = tr.total("fetch"), tr.total("extract")
    pages, written = tot("fetched"), traced["written"]
    new_urls = sum(n_new for _, n_new in traced["digest"]["rounds"])
    m = {
        "frontier.schedule_s": tr.total("frontier"),
        "frontier.queued_rows": tot("queued"),
        "frontier.scheduled_rows": tot("scheduled"),
        "frontier.deferred_rows": tot("deferred"),
        "frontier.denied_rows": tot("denied"),
        "frontier.task_skew": layers["frontier"].task_skew,
        "frontier.shuffle_mb": layers["frontier"].shuffle_write_mb,
        "fetch.join_s": t_fetch,
        "fetch.origin_scan_mb": layers["fetch"].input_mb,
        "fetch.hit_ratio": tot("ok") / max(tot("scheduled"), 1),
        # the noop prefixes: extract = (fetch + extract) - fetch, and the
        # pages write = the full commit - (fetch + extract)
        "extract.s": t_extract - t_fetch,
        "extract.us_per_page": (t_extract - t_fetch) / max(pages, 1) * 1e6,
        "extract.links_out": tot("links_out"),
        "seen.dedup_s": tr.total("seen", "dedup"),
        "seen.candidates": tot("candidates"),
        "seen.new_urls": new_urls,
        "seen.new_ratio": new_urls / max(tot("candidates"), 1),
        "seen.filter_merge_s": tr.total("seen", "filter_merge"),
        "seen.filter_mb": written.get("seen_bloom", 0) / 2**20,
        "catalog.pages_write_s": tr.total("catalog", "pages_write") - t_extract,
        "catalog.frontier_commit_s": tr.total("catalog", "frontier_commit"),
        "catalog.seen_commit_s": tr.total("catalog", "seen_commit"),
        "catalog.compact_s": tr.total("catalog", "compact"),
        "catalog.bytes_per_url": sum(written.values()) / max(pages, 1),
        "metrics.agg_commit_s": tr.total("metrics"),
        "crawl.rescore_s": tr.total("crawl", "rescore"),
        "crawl.rescore_edges": tot("rescore_edges"),
        "crawl.expire_s": tr.total("crawl", "expire"),
        "crawl.expired": tot("expired"),
        "trace.overhead_s": traced["pass_s"] - plain["pass_s"],
    }
    for t in ("pages", "frontier", "seen_exact", "seen_bloom"):
        m[f"catalog.{t}_mb"] = written.get(t, 0) / 2**20
    m.update(layer_resources(layers))
    detail.update({
        "untraced_pass_s": round(plain["pass_s"], 3), "traced_pass_s": round(traced["pass_s"], 3),
        "digest": plain["digest"], "counts": traced["counts"],
    })
    return m, detail
