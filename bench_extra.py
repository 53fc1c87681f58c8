"""Extra benchmarks for optimization triage (guide §1.4 noop-sink isolation).

bench.py is FROZEN for driver measurement; this file holds the
supplementary instrumentation the optimization rounds cite in
OPTIMIZATION_r*.md. Nothing here is part of the driver contract.

Phases (each prints one JSON line, like bench.py's --phase children):

  pages_stages  — decompose the crawl round's dominant "pages commit"
                  stage: fetch-join only → +parse_extract → +lang/select
                  → full parquet commit, each isolated with the noop sink
                  so the computation is timed, not the sink (guide §1.4).
  extract_micro — pure-Python extract_one microbenchmark on the bench
                  corpus config (µs/page; the Python-boundary unit cost).
  round_stages  — one full run_round at a given core count with stage_s
                  (same numbers bench.py reports, runnable standalone).

Usage:
  python bench_extra.py pages_stages [cores]
  python bench_extra.py extract_micro
  python bench_extra.py round_stages [cores] [layout]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # the frozen driver bench: reuse its setup helpers verbatim


def _noop(spark, label, df) -> float:
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    spark.sparkContext.setJobDescription(None)
    return round(time.time() - t0, 3)


def _setup(cores: int):
    spark = bench._session(f"local[{cores}]", max(cores * 2, 8))
    spark.sparkContext.setLogLevel("ERROR")
    bodies_path = bench._bodies_path()
    assert os.path.exists(os.path.join(bodies_path, "_SUCCESS")), (
        "run `python bench.py --phase ensure_origin` first"
    )
    cat, cfg = bench._init_bench_crawl(spark, cores, bodies_path, cores)
    return spark, cat, cfg, bodies_path


def pages_stages(cores: int) -> dict:
    """Sub-stage attribution for the pages-commit pipeline at bench scale.
    Each df below is a strict prefix of the full pages-log plan; noop-sink
    timing the prefixes isolates the marginal cost of each added step."""
    import shutil

    from pyspark import StorageLevel
    from pyspark.sql import functions as F
    from gpse import fetch as fetch_mod, frontier as frontier_mod, textfuncs
    from gpse.extract import parse_extract

    spark, cat, cfg, bodies_path = _setup(cores)
    out: dict = {"cores": cores}
    try:
        fr = cat.load(spark, "frontier", 0).filter(F.col("round") == 0)
        policy = cat.load(spark, "host_policy")
        t0 = time.time()
        sched, _, _, cleanup = frontier_mod.schedule_batch(
            fr, policy, cfg.batch_size, cfg.num_partitions
        )
        sched = sched.persist(StorageLevel.MEMORY_AND_DISK)
        n_rows = sched.count()
        out["schedule_persist_s"] = round(time.time() - t0, 3)
        out["n_scheduled"] = n_rows

        bodies = spark.read.parquet(bodies_path)
        fetched = fetch_mod.fetch_from_corpus(
            sched, bodies, cfg.num_partitions, True,
            max_broadcast_bytes=cfg.fetch_broadcast_max_bytes,
            batch_rows_hint=n_rows,
        )
        out["fetch_join_s"] = _noop(spark, "pages: fetch join only", fetched)
        parsed = parse_extract(fetched)
        out["fetch_extract_s"] = _noop(spark, "pages: + parse_extract", parsed)
        parsed2 = parsed.withColumn("_toks", textfuncs.tokens(F.col("text")))
        log = parsed2.select(
            "url", "warc_ts", "html", "text",
            textfuncs.lang_id_from_tokens(F.col("_toks")).alias("lang"),
            "status", "url_hash", "host", "depth", "src_url_hash", "links",
            F.size("links").alias("n_links"),
            F.length("text").alias("text_len"),
            "bytes", "partition_id", "sched_offset_ms",
        )
        out["fetch_extract_lang_s"] = _noop(spark, "pages: + lang/select", log)
        # the r6 form: lang computed inside the extraction batch itself
        parsed_wl = parse_extract(fetched, with_lang=True)
        log_wl = parsed_wl.select(
            "url", "warc_ts", "html", "text", "lang",
            "status", "url_hash", "host", "depth", "src_url_hash", "links",
            F.size("links").alias("n_links"),
            F.length("text").alias("text_len"),
            "bytes", "partition_id", "sched_offset_ms",
        )
        out["fetch_extract_withlang_s"] = _noop(
            spark, "pages: extract with in-batch lang (r6)", log_wl
        )
        spark.sparkContext.setJobDescription("pages: full parquet commit")
        t0 = time.time()
        cat.commit("pages", log_wl, 0, mode="append")
        out["pages_commit_s"] = round(time.time() - t0, 3)
        cleanup()
        sched.unpersist()
    finally:
        shutil.rmtree(cat.base, ignore_errors=True)
        bench._stop(spark)
    return out


def dedup_stages(cores: int) -> dict:
    """Decompose the 'dedup + frontier commit' stage: candidate explode +
    dedup agg → + exact anti-join → + frontier build
    and deferred union → the real parquet commit. Prefix plans, noop-timed
    (guide §1.4), after an untimed round-0 pages commit."""
    import shutil

    from pyspark import StorageLevel
    from pyspark.sql import functions as F
    from gpse import fetch as fetch_mod, frontier as frontier_mod
    from gpse import seen as seen_mod
    from gpse.extract import parse_extract

    spark, cat, cfg, bodies_path = _setup(cores)
    out: dict = {"cores": cores}
    try:
        # untimed: produce the round's pages commit (the dedup input)
        fr = cat.load(spark, "frontier", 0).filter(F.col("round") == 0)
        policy = cat.load(spark, "host_policy")
        sched, _, deferred0, cleanup = frontier_mod.schedule_batch(
            fr, policy, cfg.batch_size, cfg.num_partitions
        )
        sched = sched.persist(StorageLevel.MEMORY_AND_DISK)
        n_rows = sched.count()
        bodies = spark.read.parquet(bodies_path)
        fetched = fetch_mod.fetch_from_corpus(
            sched, bodies, cfg.num_partitions, True,
            max_broadcast_bytes=cfg.fetch_broadcast_max_bytes,
            batch_rows_hint=n_rows,
        )
        parsed = parse_extract(fetched, with_lang=True)
        log = parsed.select(
            "url", "warc_ts", "html", "text", "lang",
            "status", "url_hash", "host", "depth", "src_url_hash", "links",
            F.size("links").alias("n_links"),
            F.length("text").alias("text_len"),
            "bytes", "partition_id", "sched_offset_ms",
        )
        cat.commit("pages", log, 0, mode="append")
        pl = cat.load_delta(spark, "pages", 0)

        seen = cat.load(spark, "seen_exact", 0)
        cands = (
            pl.select(
                F.col("url_hash").alias("src_url_hash"),
                (F.col("depth") + 1).alias("depth"),
                F.explode("links").alias("url"),
            )
            .filter(F.col("depth") <= cfg.max_depth)
            .withColumn("url_hash", F.xxhash64("url"))
        )
        out["explode_only_s"] = _noop(spark, "dedup: explode only", cands)
        # the dedup agg alone (mirror dedup_new_urls' in-batch dedup step)
        keys = ["url_hash"]
        attrs = [c for c in cands.columns if c not in keys]
        agg = cands.groupBy(*keys).agg(
            *[F.min(c).alias(c) for c in attrs]
        ).select(*cands.columns)
        out["explode_agg_s"] = _noop(spark, "dedup: + agg", agg)
        new_urls = seen_mod.dedup_new_urls(cands, seen)
        out["explode_agg_anti_s"] = _noop(spark, "dedup: + anti-join", new_urls)
        new_part = frontier_mod.from_candidates(
            new_urls, 1, cfg.n_salts, cfg.depth_weight
        )
        out["plus_frontier_build_s"] = _noop(
            spark, "dedup: + frontier build", new_part
        )
        nf = new_part.unionByName(
            deferred0.withColumn("round", F.lit(1).cast("int"))
        ).sortWithinPartitions("priority")
        out["plus_deferred_union_s"] = _noop(
            spark, "dedup: + deferred union + sort", nf
        )
        t0 = time.time()
        cat.commit("frontier", nf, 1, mode="append")
        out["frontier_commit_s"] = round(time.time() - t0, 3)
        cleanup()
        sched.unpersist()
    finally:
        shutil.rmtree(cat.base, ignore_errors=True)
        bench._stop(spark)
    return out


def sched_stages(cores: int) -> dict:
    """Decompose 'schedule + persist': frontier scan → + robots join and
    allowed eval → j persist+count → keys agg → full schedule_batch with
    sched persist+count (the run_round stage)."""
    import shutil

    from pyspark import StorageLevel
    from pyspark.sql import functions as F
    from gpse import frontier as frontier_mod

    spark, cat, cfg, _ = _setup(cores)
    out: dict = {"cores": cores}
    try:
        fr = cat.load(spark, "frontier", 0).filter(F.col("round") == 0)
        policy = cat.load(spark, "host_policy")
        out["frontier_scan_s"] = _noop(spark, "sched: frontier scan only", fr)
        q = fr.filter(F.col("state") == "queued")
        j = q.join(
            F.broadcast(
                policy.select(
                    "host", "disallow", "allow", "crawl_delay_ms",
                    "budget_per_round",
                    frontier_mod._policy_has_wild().alias("_has_wild"),
                )
            ),
            "host",
            "left",
        )
        al = frontier_mod._with_allowed(j).select(
            *fr.columns, "allowed", "crawl_delay_ms", "budget_per_round"
        )
        out["scan_robots_eval_s"] = _noop(spark, "sched: + robots eval", al)
        jp = al.persist(StorageLevel.MEMORY_AND_DISK)
        t0 = time.time()
        jp.count()
        out["j_persist_count_s"] = round(time.time() - t0, 3)
        jp.unpersist()
        t0 = time.time()
        sched, _, _, cleanup = frontier_mod.schedule_batch(
            fr, policy, cfg.batch_size, cfg.num_partitions
        )
        sched = sched.persist(StorageLevel.MEMORY_AND_DISK)
        out["n_scheduled"] = sched.count()
        out["schedule_batch_full_s"] = round(time.time() - t0, 3)
        cleanup()
        sched.unpersist()
    finally:
        shutil.rmtree(cat.base, ignore_errors=True)
        bench._stop(spark)
    return out


def extract_micro(n: int = 12000) -> dict:
    import numpy as np

    from gpse import synth
    from gpse.extract import extract_one

    cfg = synth.CorpusCfg(
        n_pages=bench.CRAWL_N_PAGES, n_hosts=bench.CRAWL_N_HOSTS, seed=42
    )
    ids = np.arange(700_000, 700_000 + n, dtype=np.uint64)
    urls = synth.url_of(ids, cfg)
    htmls = synth.html_for(ids, cfg)
    for h, u in zip(htmls[:200], urls[:200]):
        extract_one(h, u)
    t0 = time.time()
    for h, u in zip(htmls, urls):
        extract_one(h, u)
    dt = time.time() - t0
    return {
        "pages": n,
        "us_per_page": round(dt / n * 1e6, 1),
        "serial_s_per_626k_round": round(dt / n * 626_682, 1),
    }


def round_stages(cores: int, layout: int = 0) -> dict:
    import shutil

    from gpse import crawl

    spark = bench._session(f"local[{cores}]", max((layout or cores) * 2, 8))
    spark.sparkContext.setLogLevel("ERROR")
    bodies_path = bench._bodies_path()
    cat, cfg = bench._init_bench_crawl(
        spark, cores, bodies_path, layout or cores
    )
    try:
        out = bench._round_summary(crawl.run_round(spark, cat, cfg, 0))
        out["cores"] = cores
    finally:
        shutil.rmtree(cat.base, ignore_errors=True)
        bench._stop(spark)
    return out


if __name__ == "__main__":
    phase = sys.argv[1] if len(sys.argv) > 1 else "round_stages"
    if phase == "pages_stages":
        res = pages_stages(int(sys.argv[2]) if len(sys.argv) > 2 else bench.CPUS)
    elif phase == "dedup_stages":
        res = dedup_stages(int(sys.argv[2]) if len(sys.argv) > 2 else bench.CPUS)
    elif phase == "sched_stages":
        res = sched_stages(int(sys.argv[2]) if len(sys.argv) > 2 else bench.CPUS)
    elif phase == "extract_micro":
        res = extract_micro()
    else:
        res = round_stages(
            int(sys.argv[2]) if len(sys.argv) > 2 else bench.CPUS,
            int(sys.argv[3]) if len(sys.argv) > 3 else 0,
        )
    print(json.dumps(res), flush=True)
