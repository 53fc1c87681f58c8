"""The engine API that bench.py and perfbench/ call, pinned without Spark.

Both are benchmark code that an engine change may not edit, so a renamed
`CrawlCfg` field or a changed signature would only show when a benchmark
runs. This reads their source (never writes it) and checks, in well
under a second:
  * every `CrawlCfg(...)` call's keywords build a `CrawlCfg`;
  * every `cfg.<name>` they read is a `CrawlCfg` attribute;
  * their calls of the engine functions below bind to its signature.
"""

from __future__ import annotations

import ast
import inspect
import re
from pathlib import Path

from gpse import crawl, fetch, frontier, seen

ROOT = Path(__file__).resolve().parents[2]
SOURCES = [ROOT / "bench.py", *sorted((ROOT / "perfbench").glob("*.py"))]
ENGINE = {
    "dedup_new_urls": seen.dedup_new_urls,
    "build_filters": seen.build_filters,
    "merge_filters": seen.merge_filters,
    "schedule_batch": frontier.schedule_batch,
    "fetch_from_corpus": fetch.fetch_from_corpus,
    "_policy_any_wild": crawl._policy_any_wild,
    "CrawlCfg": crawl.CrawlCfg,
}


def _calls():
    """(file, line, name, n_positional, keyword names) per engine call."""
    for path in SOURCES:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in ENGINE:
                assert not any(isinstance(a, ast.Starred) for a in node.args)
                assert all(k.arg is not None for k in node.keywords)
                yield (
                    path.name, node.lineno, name,
                    len(node.args), [k.arg for k in node.keywords],
                )


def test_frozen_callers_match_engine_api():
    calls = list(_calls())
    # each pinned entry point is really found, so a call finder that
    # stopped matching cannot pass vacuously
    assert {c[2] for c in calls} == set(ENGINE), calls
    default = crawl.CrawlCfg()

    for fname, line, name, n_pos, kws in calls:
        try:
            inspect.signature(ENGINE[name]).bind(*[None] * n_pos, **dict.fromkeys(kws))
        except TypeError as e:
            raise AssertionError(f"{fname}:{line} {name}: {e}") from e
        if name == "CrawlCfg":
            crawl.CrawlCfg(**{k: getattr(default, k) for k in kws})

    read = {
        (path.name, m.group(1))
        for path in SOURCES
        for m in re.finditer(r"\bcfg\.(\w+)", path.read_text())
    }
    assert read
    missing = sorted((f, a) for f, a in read if not hasattr(default, a))
    assert not missing, missing
