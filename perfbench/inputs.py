"""Benchmark inputs, built from the seed only through gpse's public API.

* the Spark session (sized for a small shared box);
* the crawl origin: parquet of the frontier's pages, rendered by
  ``gpse.synth`` outside Spark and cached per (seed, size) under the work
  directory;
* a fresh crawl catalog per pass (frontier, seen_exact, seen_bloom,
  host_policy commits), like ``crawl.init_crawl`` but pre-filled;
* the analytics tables (TPC-H-like star schema, events, documents,
  embeddings), generated with numpy and cached per seed.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class CrawlShape:
    """Input shape of one crawl workload (see README.md)."""

    frontier: int        # origin pages = pre-filled frontier URLs
    corpus_pages: int    # link targets range over [0, corpus_pages)
    hosts: int
    bands: int           # distinct priority bands (1 = all tied)
    budget: int          # per-host politeness budget per round
    partitions: int      # CrawlCfg.num_partitions / bloom buckets


def session(work: str, cores: int, event_log_dir: str | None = None):
    """A local[cores] session whose scratch files stay under `work`."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVMs (launcher and driver) and the python workers inherit these:
    # shuffle, spill and temp files stay under `work`, and no JVM writes
    # its perf-data file to the system temp dir. The JIT is the JVM's
    # default, as in every gpse entry point.
    #
    # The driver heap is a fixed 3 GB, touched while the JVM starts (so
    # in setup_s). A heap left to grow is resident as far as the GC's
    # sizing heuristics happened to take it, and that spread by a fifth
    # of the median over ten runs. A fixed heap is resident in full, as a
    # long-running crawler's heap is after its first rounds, so
    # peak_pss_mb moves only with what the program holds beside it.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions", "-Xms3g -XX:+AlwaysPreTouch")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "5000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.abspath(event_log_dir))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    return s


def warm_workers(spark, cores: int) -> None:
    """Fork the Python worker pool once, so the first timed job does not
    pay for it (a long-lived cluster's workers are always warm)."""
    spark.range(0, 10_000, 1, cores).mapInPandas(
        lambda it: (b for b in it), "id long"
    ).count()


def _cached(path: str, build) -> float:
    """Run `build(tmp_path)` once per path; returns the one-time build
    seconds (recorded beside the data, so later runs report it too)."""
    done = os.path.join(path, "_perfbench.json")
    if os.path.exists(done):
        with open(done, encoding="utf-8") as f:
            return float(json.load(f)["build_s"])
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    build(tmp)
    build_s = time.perf_counter() - t0
    with open(os.path.join(tmp, "_perfbench.json"), "w", encoding="utf-8") as f:
        json.dump({"build_s": build_s}, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return build_s


def corpus_cfg(shape: CrawlShape, seed: int):
    from gpse import synth

    return synth.CorpusCfg(n_pages=shape.corpus_pages, n_hosts=shape.hosts, seed=seed)


def _origin_part(args) -> None:
    path, lo, hi, shape, seed = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gpse import synth

    corpus = corpus_cfg(shape, seed)
    ids = np.arange(lo, hi, dtype=np.uint64)
    table = pa.table({
        "url": pa.array(synth.url_of(ids, corpus), pa.string()),
        "warc_ts": pa.array(synth.warc_ts_us(ids, corpus), pa.timestamp("us", tz="UTC")),
        "html": pa.array(synth.html_for(ids, corpus), pa.binary()),
    })
    pq.write_table(table, path, compression="zstd")


def origin(work: str, shape: CrawlShape, seed: int, workers: int) -> tuple[str, float]:
    """Parquet origin of pages [0, shape.frontier): one capture per URL,
    rendered by gpse.synth in `workers` short-lived processes, without
    Spark. Returns (path, one-time build seconds)."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    path = os.path.join(work, "origin", f"s{seed}-f{shape.frontier}-c{shape.corpus_pages}-h{shape.hosts}")
    n_parts = max(4, shape.frontier // 10_000)
    bounds = np.linspace(0, shape.frontier, n_parts + 1).astype(int)

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        parts = [
            (os.path.join(tmp, f"part-{i:05d}.zstd.parquet"), int(lo), int(hi), shape, seed)
            for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:]))
        ]
        # forked before any JVM starts; the pool's processes have all
        # exited when the block ends
        ctx = multiprocessing.get_context("fork")
        with ProcessPoolExecutor(min(workers, n_parts), mp_context=ctx) as pool:
            list(pool.map(_origin_part, parts))

    return path, _cached(path, build)


def crawl_cfg(shape: CrawlShape, seed: int, origin_path: str):
    from gpse import crawl

    return crawl.CrawlCfg(
        corpus=corpus_cfg(shape, seed),
        batch_size=None,  # budget-bounded rounds: the production shape
        num_partitions=shape.partitions,
        n_salts=8,
        n_bloom_buckets=shape.partitions,
        corpus_bodies_path=origin_path,
        corpus_unique_captures=True,  # origin() writes one capture per URL
    )


def init_catalog(spark, base: str, shape: CrawlShape, cfg) -> "object":
    """Round-0 state of a steady-state crawl in a fresh catalog at `base`:
    the whole origin queued in `shape.bands` priority bands, all of it in
    seen_exact and the bloom pre-filter, and the synthetic robots policy
    with every host's budget set to `shape.budget`."""
    from pyspark.sql import functions as F

    from gpse import frontier, robots, seen, synth
    from gpse.catalog import Catalog

    shutil.rmtree(base, ignore_errors=True)
    cat = Catalog(base)
    prio = (
        F.pmod(F.xxhash64("url"), F.lit(shape.bands)).cast("double")
        if shape.bands > 1 else F.lit(0.0)
    )
    seed_df = spark.read.parquet(cfg.corpus_bodies_path).select("url", prio.alias("priority"))
    f0 = frontier.from_seed_df(seed_df, cfg.n_salts, canonicalize=False).persist()
    try:
        cat.commit("frontier", f0, 0, mode="append")
        seen0 = f0.select("url_hash", F.lit(0).cast("int").alias("first_round"))
        cat.commit("seen_exact", seen0, 0, mode="append")
        cat.commit(
            "seen_bloom",
            seen.build_filters(seen0, cfg.n_bloom_buckets, kind=cfg.seen_filter, nbits=cfg.bloom_bits),
            0,
            mode="overwrite",
        )
    finally:
        f0.unpersist()
    policy = robots.build_host_policy(synth.gen_robots(spark, cfg.corpus)).withColumn(
        "budget_per_round", F.lit(shape.budget)
    )
    cat.commit("host_policy", policy, 0, mode="overwrite")
    return cat


# ---------------------------------------------------------------------------
# analytics tables
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "pl", "zh"]
_VOCAB = (
    "spark crawl frontier queue fetch parse extract link host page data table "
    "shuffle partition batch arrow vector column row filter join group window "
    "sort merge hash bloom seen robot polite budget round snapshot commit scan "
    "query agg fast slow line part order small value"
).split()


def _analytics_tables(rng: np.random.Generator, scale: int) -> dict:
    import pandas as pd

    n_cust, n_orders, n_docs, n_vec, n_users = 1500 * scale, 15_000 * scale, 800 * scale, 400 * scale, 150 * scale
    epoch = np.datetime64("1995-01-01")
    cust = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    odate = epoch + rng.integers(0, 2400, n_orders).astype("timedelta64[D]")
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lines_per = rng.integers(1, 8, n_orders)
    okey = np.repeat(orders["o_orderkey"].to_numpy(), lines_per)
    n_li = okey.size
    lineno = (np.arange(n_li) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines_per) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    lineitem = pd.DataFrame({
        "l_orderkey": okey.astype(np.int64),
        "l_partkey": rng.integers(0, 20_000, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, n_li).astype(np.int64),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ship.astype("datetime64[us]"),
    })
    n_ev = 100 * n_users
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: fresh texts (vocabulary words with a quarter of the
    # language's stopwords; 'zh' has none) plus exact and near copies
    from gpse.textfuncs import STOPWORDS

    vocab = np.array(_VOCAB)
    texts: list[str] = []
    langs = np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)]
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.08:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.16:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = str(vocab[int(rng.integers(0, len(vocab)))])
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(8, 90))
            words = vocab[rng.integers(0, len(vocab), n)]
            stop = STOPWORDS[langs[i]]
            if stop:
                mask = rng.random(n) < 0.25
                words[mask] = np.array(stop)[rng.integers(0, len(stop), int(mask.sum()))]
            texts.append(" ".join(words))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 0.35, (n_vec, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vec.astype(np.float32)),
        "label": labels.astype(np.int32),
    })
    return {
        "customer": cust, "orders": orders, "lineitem": lineitem,
        "events": events, "documents": documents, "embeddings": embeddings,
    }


def analytics_dir(work: str, seed: int, scale: int) -> tuple[str, float]:
    """Directory of `<table>.parquet` files for gpse.queries' T(); built
    once per (seed, scale). Returns (path, one-time build seconds)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(work, "analytics", f"s{seed}-x{scale}")

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        tables = _analytics_tables(np.random.default_rng(seed), scale)
        for name, df in tables.items():
            pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(tmp, f"{name}.parquet"))

    return path, _cached(path, build)
