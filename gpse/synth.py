"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §B).

No external data: every page is a pure function of (page_id, seed), so the
simulated fetcher (gpse/fetch.py) can regenerate any page's bytes from its
URL alone — exactly like an HTTP origin serving deterministic content.

Scale design: pages are generated distributively (``spark.range`` →
``mapInPandas``), hosts follow a zipf(a=1.3) page-count skew (exercises the
salted repartitioning the north_star demands), and nothing depends on
partition count or order — the same (page_id, seed) yields the same bytes
at local[8], local[32], or 1000 executors.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
_LANGS = ["en", "de", "pl", "fr"]
_VOCAB = (
    "spark crawl frontier queue fetch parse extract link host page data table "
    "shuffle partition batch arrow vector column row filter join group window "
    "sort merge hash bloom seen robot polite budget round snapshot commit"
).split()
_BASE_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds

_M1 = np.uint64(0x9E3779B97F4A7C15)
_M2 = np.uint64(0xBF58476D1CE4E5B9)
_M3 = np.uint64(0x94D049BB133111EB)


def mix64(x: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """splitmix64 finalizer over a vector — the corpus's only randomness."""
    step = np.uint64((0x9E3779B97F4A7C15 * (1 + stream)) & 0xFFFFFFFFFFFFFFFF)
    z = x.astype(np.uint64) + step + np.uint64(seed)
    z = (z ^ (z >> np.uint64(30))) * _M2
    z = (z ^ (z >> np.uint64(27))) * _M3
    return z ^ (z >> np.uint64(31))


@dataclass(frozen=True)
class CorpusCfg:
    n_pages: int = 1000
    n_hosts: int = 50
    seed: int = 42
    k_min: int = 4          # min outlinks per page
    k_span: int = 12        # outlinks = k_min + mix % k_span
    zipf_a: float = 1.3
    words_per_page: int = 30  # body size knob (bench uses ~150 → ~10KB pages)

    def host_cdf(self) -> np.ndarray:
        w = 1.0 / np.arange(1, self.n_hosts + 1, dtype=np.float64) ** self.zipf_a
        return np.cumsum(w) / w.sum()


def host_of(page_ids: np.ndarray, cfg: CorpusCfg) -> np.ndarray:
    """zipf-skewed host id per page — pure function of page_id."""
    u = mix64(page_ids, cfg.seed, 0).astype(np.float64) / 2.0**64
    return np.searchsorted(cfg.host_cdf(), u).astype(np.int64)


def is_private(page_ids: np.ndarray, cfg: CorpusCfg) -> np.ndarray:
    """~10%% of pages live under /private/ (robots-disallow fodder)."""
    return (mix64(page_ids, cfg.seed, 12) % np.uint64(10)) == np.uint64(0)


def url_of(page_ids: np.ndarray, cfg: CorpusCfg) -> list[str]:
    hosts = host_of(page_ids, cfg)
    priv = is_private(page_ids, cfg)
    return [
        f"http://h{h}.example/{'private/' if p else ''}p/{i}"
        for i, h, p in zip(page_ids.tolist(), hosts.tolist(), priv.tolist())
    ]


_URL_RE = re.compile(r"^https?://h(\d+)\.example/(private/)?p/(\d+)$")


def parse_canonical_url(url: str) -> tuple[int, int, bool] | None:
    """(host_id, page_id, private) from a canonical corpus URL, else None."""
    m = _URL_RE.match(url)
    if not m:
        return None
    return int(m.group(1)), int(m.group(3)), m.group(2) is not None


def outlink_targets(page_id: int, cfg: CorpusCfg) -> list[int]:
    """Deterministic outlink target page ids (seeded link graph)."""
    p = np.uint64(page_id)
    k = int(cfg.k_min + int(mix64(np.array([p]), cfg.seed, 1)[0] % np.uint64(cfg.k_span)))
    streams = np.arange(k, dtype=np.uint64)
    t = mix64(np.full(k, p, dtype=np.uint64) + streams * np.uint64(0x1000003), cfg.seed, 2)
    # bias toward nearby ids so BFS from seeds reaches a growing frontier
    local = (int(page_id) + (t % np.uint64(max(cfg.n_pages // 10, 50)))).astype(np.uint64)
    glob = t % np.uint64(cfg.n_pages)
    use_local = (mix64(t, cfg.seed, 3) % np.uint64(2)) == np.uint64(0)
    out = np.where(use_local, local % np.uint64(cfg.n_pages), glob)
    return out.astype(np.int64).tolist()


def _href_form(target_url: str, page_id: int, j: int, cfg: CorpusCfg) -> str:
    """Emit clean or dirty href — dirty forms canonicalize to the clean URL
    (dedup-test fodder per FIXTURES.md §B: uppercase scheme/host, :80 port,
    #fragment, dot segments)."""
    d = int(mix64(np.array([np.uint64(page_id * 131 + j)]), cfg.seed, 4)[0] % np.uint64(50))
    if d == 0:
        return target_url.replace("http://", "HTTP://").replace(".example", ".EXAMPLE")
    if d == 1:
        return target_url.replace(".example/", ".example:80/")
    if d == 2:
        return target_url + "#frag-" + str(j)
    if d == 3:
        return target_url.replace("/p/", "/x/../p/")
    if d == 4:  # relative form (same host only — else keep absolute)
        return target_url
    return target_url


def html_for(page_ids: np.ndarray, cfg: CorpusCfg) -> list[bytes]:
    """Deterministic UTF-8 HTML bytes for each page id (vector in, vector
    out — called from inside Arrow batches only)."""
    hosts = host_of(page_ids, cfg)
    out: list[bytes] = []
    for pid, h in zip(page_ids.tolist(), hosts.tolist()):
        targets = outlink_targets(pid, cfg)
        t_urls = url_of(np.array(targets, dtype=np.uint64), cfg)
        anchors = "\n".join(
            f'<a href="{_href_form(tu, pid, j, cfg)}">link {j}</a>'
            for j, tu in enumerate(t_urls)
        )
        wsel = mix64(np.arange(cfg.words_per_page, dtype=np.uint64) + np.uint64(pid) * np.uint64(7919), cfg.seed, 5)
        words = " ".join(_VOCAB[int(w % np.uint64(len(_VOCAB)))] for w in wsel)
        junk = ""
        jm = int(mix64(np.array([np.uint64(pid)]), cfg.seed, 6)[0] % np.uint64(20))
        if jm == 0:
            junk = '<a href="javascript:void(0)">js</a><a href="mailto:a@b.c">m</a><a href>empty</a>'
        elif jm == 1:
            junk = f'<a href="http://external{pid % 7}.invalid/x">offsite</a>'
        html = (
            f"<html><head><title>Page {pid} on h{h}</title>"
            f"<script>var x = {pid};</script></head><body>\n"
            f"<h1>Page {pid}</h1>\n<p>{words} &amp; done &#x2713;</p>\n"
            f"{anchors}\n{junk}\n"
            f"<style>.c {{ color: red }}</style>"
            f"<p>tail of page {pid}</p>\n</body></html>"
        )
        out.append(html.encode("utf-8"))
    return out


def warc_ts_us(page_ids: np.ndarray, cfg: CorpusCfg) -> np.ndarray:
    """Capture timestamp (µs since epoch), deterministic per page."""
    off = mix64(page_ids, cfg.seed, 7) % np.uint64(30 * 86400)
    return (np.uint64(_BASE_EPOCH_US) + off * np.uint64(1_000_000)).astype(np.int64)


def capture_rows(ids: np.ndarray, cfg: CorpusCfg) -> dict:
    """The corpus rows for a page-id array: one capture per page, then
    the ~5% of pages that get a second capture 45 days later (as-of-join
    fodder), in id order. The one row rule behind gen_pages and the
    `synthweb` data source. Returns columns page_id, host (id), url,
    warc_ts_us, html and lang (per host)."""
    ids = ids.astype(np.uint64)
    hosts = host_of(ids, cfg)
    urls = url_of(ids, cfg)
    html = html_for(ids, cfg)
    lang_of_host = mix64(hosts.astype(np.uint64), cfg.seed, 9) % np.uint64(4)
    langs = [_LANGS[int(x)] for x in lang_of_host]
    recrawl = (mix64(ids, cfg.seed, 8) % np.uint64(20)) == np.uint64(0)
    rows = np.r_[np.arange(len(ids)), np.flatnonzero(recrawl)]
    ts = warc_ts_us(ids, cfg)[rows]
    ts[len(ids):] += 45 * 86400 * 1_000_000
    return {
        "page_id": ids.astype(np.int64)[rows],
        "host": hosts[rows],
        "url": [urls[i] for i in rows],
        "warc_ts_us": ts,
        "html": [html[i] for i in rows],
        "lang": [langs[i] for i in rows],
    }


def gen_pages(spark: SparkSession, cfg: CorpusCfg, partitions: int = 32) -> DataFrame:
    """Distributed corpus build: pages table in the BASELINE.json input_hint
    schema (url, warc_ts, html, text, lang), rows from capture_rows. `text`
    is empty — the engine's extractor fills it (byte-identical golden
    invariant)."""
    cfg_b = cfg

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = capture_rows(b["id"].to_numpy(dtype=np.uint64), cfg_b)
            yield pd.DataFrame(
                {
                    "url": rows["url"],
                    "warc_ts": pd.to_datetime(rows["warc_ts_us"], unit="us"),
                    "html": rows["html"],
                    "text": "",
                    "lang": rows["lang"],
                }
            )

    return (
        spark.range(0, cfg.n_pages, 1, partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )


def seed_urls(cfg: CorpusCfg) -> list[tuple[str, float]]:
    """20 fixed seed URLs (page ids 0..19), a few in deliberately dirty form
    to exercise canonicalization at ingest. priority 0.0 (FIXTURES.md §B)."""
    ids = np.arange(20, dtype=np.uint64)
    urls = url_of(ids, cfg)
    dirty = []
    for i, u in enumerate(urls):
        if i % 5 == 1:
            u = u.replace("http://", "HTTP://") + "#top"
        elif i % 5 == 3:
            u = u.replace(".example/", ".example:80/")
        dirty.append((u, 0.0))
    return dirty


def gen_robots(spark: SparkSession, cfg: CorpusCfg) -> DataFrame:
    """Per-host robots.txt bodies + politeness budget (FIXTURES.md §B):
    allow-all / Disallow:/private/ + Crawl-delay / disallow-all (~5%) /
    malformed (~2%), budget in {2,8,32}."""
    hosts = np.arange(cfg.n_hosts, dtype=np.uint64)
    kind = mix64(hosts, cfg.seed, 11) % np.uint64(20)
    budget_sel = mix64(hosts, cfg.seed, 13) % np.uint64(3)
    budgets = np.array([2, 8, 32], dtype=np.int64)[budget_sel.astype(np.int64)]
    rows = []
    for h, k, b in zip(hosts.tolist(), kind.tolist(), budgets.tolist()):
        if k == 0:  # ~5% disallow all
            body = "User-agent: *\nDisallow: /\n"
        elif k == 1:  # malformed
            body = "U$er-agent *;; Disallow\n<<<>>>\n"
        elif 2 <= k <= 7:  # ~30% disallow /private/ with crawl-delay
            body = "User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n"
        else:
            body = "User-agent: *\nDisallow:\n"
        rows.append((f"h{h}.example", body, int(b)))
    return spark.createDataFrame(
        rows, "host string, robots_body string, budget_per_round int"
    )
