"""The analytics workload: the headline query list over seeded tables.

Ten registered queries (five from gpse.queries, five from gpse.pipeline)
plus MinHash-LSH at production knobs (K=128, 16 bands, the 'fast' hash
family) and batch IVF similarity. Each query's result is consumed by a
noop sink that also observes its row count and an order-insensitive hash;
both must repeat in every pass.
"""

from __future__ import annotations

import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from gpse import pipeline, queries

from perfbench import inputs, procstat
from perfbench.harness import WORK, Run, layer_metrics, layer_resources, median
from perfbench.tracing import Tracer

SCALE = 1  # inputs.analytics_dir scale: ~60k lineitem rows, 800 documents

HEADLINE = [
    ("queries", "pricing_summary"),
    ("queries", "join_agg"),
    ("queries", "window_topk_per_group"),
    ("queries", "session_window"),
    ("pipeline", "dedup_exact"),
    ("pipeline", "dedup_minhash_lsh"),
    ("pipeline", "similarity_lsh"),
    ("pipeline", "tokens_fingerprints"),
    ("pipeline", "corpus_clean"),
    ("queries", "link_pagerank"),
]
EXTRA = [("pipeline", "lsh_prod"), ("pipeline", "similarity_ivf_batch")]
ALL = HEADLINE + EXTRA

_MODULES = {"queries": queries, "pipeline": pipeline}


def _lsh_prod(spark, sf):
    docs = queries.T(spark, sf, "documents")
    return pipeline.lsh_candidate_pairs(
        pipeline.minhash_signatures(docs, k=128, family="fast"),
        k=128, bands=16, family="fast",
    )


def query_df(spark, sf: str, module: str, name: str):
    if name == "lsh_prod":
        return _lsh_prod(spark, sf)
    return _MODULES[module].QUERIES[name][0](spark, sf)


def run_pass(spark, sf: str, tr: Tracer) -> tuple[float, dict, dict]:
    """One pass over the list: (wall s, {query: s}, {query: (rows, hash)})."""
    times, results = {}, {}
    t_pass = time.perf_counter()
    for module, name in ALL:
        t0 = time.perf_counter()
        with tr.span(module, name):
            df = query_df(spark, sf, module, name)
            obs = Observation()
            df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(2**31 - 1))).alias("h"),
            ).write.format("noop").mode("overwrite").save()
            res = obs.get
        times[name] = time.perf_counter() - t0
        results[name] = (int(res["n"]), int(res["h"] or 0))
    return time.perf_counter() - t_pass, times, results


def workload(run: Run) -> tuple[dict, dict]:
    """A warm pass in set-up, then timed passes over the query list in the
    same session; the figures are the medians over the timed passes."""
    seed = run.args.seed
    sf, build_s = inputs.analytics_dir(WORK, seed, SCALE)
    session_s = run.start_session()
    detail = {"tables_build_s": round(build_s, 3), "session_s": round(session_s, 3)}
    results: list[dict] = []

    def one_pass(tr: Tracer) -> tuple[float, dict, float]:
        c0 = run.cpu_s()
        wall, times, res = run_pass(run.spark, sf, tr)
        cpu = run.cpu_s() - c0
        run.attempted += len(res)
        if results:
            run.check([
                f"pass {len(results) + 1}: {q} gave (rows, hash) {res[q]}, pass 1 {results[0][q]}"
                for q in res if res[q] != results[0][q]
            ])
        else:
            run.check_stored(f"analytics-s{seed}-x{SCALE}", res)
        results.append(res)
        return wall, times, cpu

    notrace = Tracer(None, enabled=False)
    # the warm pass: the JVM's JIT and the session's first-use costs are
    # paid in set-up, so the timed passes see the same warm state
    warm_s, _, _ = one_pass(notrace)
    setup_s = session_s + warm_s
    detail["warm_pass_s"] = round(warm_s, 3)
    if run.args.trace:
        plain_s, _, _ = one_pass(notrace)
        traced_s, times, _ = one_pass(Tracer(run.spark))
        run.stop_session()
        m = {f"{mod}.{q}_s": times[q] for mod, q in ALL}
        m["pipeline.lsh_pairs"] = results[-1]["lsh_prod"][0]
        m.update(layer_resources(layer_metrics(run.task_groups())))
        m["trace.overhead_s"] = traced_s - plain_s
        detail.update({"untraced_pass_s": round(plain_s, 3), "traced_pass_s": round(traced_s, 3)})
        return m, detail

    pss = procstat.PeakPss(run.pid).start()
    passes = [one_pass(notrace) for _ in range(run.n_passes)]
    peak = pss.stop()
    suite_s = median([p[0] for p in passes])
    metrics = {
        "pass_s": suite_s,
        "setup_s": setup_s,
        "cpu_s": median([p[2] for p in passes]),
        "peak_pss_mb": peak,
    }
    detail.update({
        "workload_metrics": {"suite_s": {"value": suite_s, "unit": "s"}},
        "passes": len(passes),
        "pass_s": [round(p[0], 3) for p in passes],
        "query_s": {q: round(median([p[1][q] for p in passes]), 3) for _, q in ALL},
        "rows": {q: n for q, (n, _) in results[0].items()},
    })
    return metrics, detail
