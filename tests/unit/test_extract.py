"""Frozen extraction spec tests (the byte-identical invariant's unit layer).

BASELINE.json input_hint: "per-row invariant vs the reference:
byte-identical extracted text per url" — operationalized per SURVEY.md §0
as a frozen spec + goldens; these tests pin the spec's edge cases.
"""

from gpse.extract import extract_one


BASE = "http://h1.example/p/1"


def test_basic_text_and_links():
    html = (
        b"<html><head><title>T</title><script>var x=1;</script></head>"
        b'<body><h1>Head</h1><p>one  two\n three</p>'
        b'<a href="/p/2">x</a><a href="http://h2.example/p/3#f">y</a>'
        b"<style>.c{}</style><p>tail</p></body></html>"
    )
    text, links = extract_one(html, BASE)
    # inline tags (<a>) add no whitespace — browser text-flow behavior
    assert text == "T\nHead\none two three\nxy\ntail"
    assert links == ["http://h1.example/p/2", "http://h2.example/p/3"]


def test_entities_decoded():
    text, _ = extract_one(b"<p>a &amp; b &#x2713;</p>", BASE)
    assert text == "a & b ✓"


def test_script_style_noscript_dropped():
    html = b"<script>skip</script><noscript>no</noscript><style>s</style><p>keep</p>"
    text, _ = extract_one(html, BASE)
    assert text == "keep"


def test_whitespace_policy():
    text, _ = extract_one(b"<p>  a\t\tb  </p><div> </div><p>c</p>", BASE)
    assert text == "a b\nc"


def test_bad_utf8_replaced_deterministically():
    text, _ = extract_one(b"<p>ok \xff\xfe bad</p>", BASE)
    assert text == "ok �� bad"


def test_link_order_and_duplicates_preserved():
    html = b'<a href="/a">1</a><a href="/b">2</a><a href="/a">3</a>'
    _, links = extract_one(html, BASE)
    assert links == [
        "http://h1.example/a",
        "http://h1.example/b",
        "http://h1.example/a",
    ]


def test_junk_links_dropped():
    html = b'<a href="javascript:void(0)">j</a><a href="mailto:a@b">m</a><a href>e</a><a href="#top">t</a>'
    _, links = extract_one(html, BASE)
    assert links == []


def test_none_and_empty():
    assert extract_one(None, BASE) == ("", [])
    assert extract_one(b"", BASE) == ("", [])


def test_malformed_html_is_deterministic():
    html = b"<p>a<divv></p><a href='/x'>u"
    t1 = extract_one(html, BASE)
    t2 = extract_one(html, BASE)
    assert t1 == t2
    assert t1[1] == ["http://h1.example/x"]


def test_udtf_matches_extract_one(spark):
    from gpse import synth
    from gpse.extract import make_links_udtf

    spark.udtf.register("t_extract_links", make_links_udtf())
    cfg = synth.CorpusCfg(n_pages=30, n_hosts=5, seed=42)
    # drop re-crawl duplicate captures — one row per url for the comparison
    synth.gen_pages(spark, cfg, partitions=2).dropDuplicates(["url"]).createOrReplaceTempView("t_udtf_pages")
    rows = spark.sql(
        "SELECT p.url, f.pos, f.link FROM t_udtf_pages p, "
        "LATERAL t_extract_links(p.url, p.html) f"
    ).collect()
    got = {}
    for r in rows:
        got.setdefault(r.url, []).append((r.pos, r.link))
    pages = {r.url: r.html for r in spark.table("t_udtf_pages").collect()}
    for url, pairs in got.items():
        _, links = extract_one(pages[url], url)
        assert [l for _, l in sorted(pairs)] == links


def test_arrow_path_matches_extract_one(spark):
    """parse_extract (the mapInArrow batch function) must produce, for
    every row, exactly extract_one's text/links — extract_one is the
    frozen spec the golden fixtures pin."""
    from gpse import synth
    from gpse.extract import extract_one, parse_extract

    cfg = synth.CorpusCfg(n_pages=120, n_hosts=8, seed=42)
    pages = synth.gen_pages(spark, cfg, partitions=3).drop("text")
    rows = parse_extract(pages).select("url", "html", "text", "links").collect()
    assert rows
    for r in rows:
        assert (r["text"], list(r["links"])) == extract_one(r["html"], r["url"])


def test_parse_extract_rejects_colliding_columns(spark):
    import pytest as _pytest

    from gpse import synth
    from gpse.extract import parse_extract

    cfg = synth.CorpusCfg(n_pages=10, n_hosts=2, seed=42)
    pages = synth.gen_pages(spark, cfg, partitions=1)  # has a `text` column
    with _pytest.raises(ValueError):
        parse_extract(pages)


# ---------------------------------------------------------------------------
# Fast-path tokenizer differentials (r4). The regex tokenizer must be
# byte-identical to the HTMLParser reference wherever it doesn't bail, and
# extract_one (fast-with-fallback) must ALWAYS equal the reference.
# ---------------------------------------------------------------------------

ADVERSARIAL_DOCS = [
    b"<!DOCTYPE html><p>hi</p>",
    b"<!-- comment --><p>a</p>",
    b"<p>a &amp; b &#65; &unknown; &ampx</p>",
    b"<P CLASS='x'>upper</P>",
    b"<a href=unquoted/path>u</a>",
    b"<a href='single'>s</a>",
    b"<a href>none</a><a href=''>empty</a>",
    b"<a href='x' href='y'>dup</a>",
    b"<br/><br /><hr/>",
    b"<script>var a = '<p>not text</p>';</script><p>real</p>",
    b"<script>unterminated...",
    b"<style>p { color: red }</style>tail",
    b"<SCRIPT>x</SCRIPT><p>after</p>",
    b"<script>x</script foo><p>weird end</p>",
    b"<noscript><a href='http://x.example/in-noscript'>n</a></noscript>",
    b"<template><p>block inside template</p></template>",
    b"<div><ul><li>a<li>b</ul></div>",
    b"text < notatag > more",
    b'<p>unclosed <a href="http://y.example/">link',
    b'<a href="http://x.example/a?z=1&amp;y=2">ent in href</a>',
    b'<a href="ends>inside">gt in attr</a>',
    b'<a href="x" <b>>nested lt</a>',
    b"<?xml version='1.0'?><p>pi</p>",
    b"<p>\x00 nul in text</p>",
    b"<img src='x'/><a href='#frag'>f</a>",
    b'<a\nhref="http://nl.example/">nl</a>',
    b'<a href = "http://sp.example/">sp</a>',
    b"<a href=>eqempty</a>",
    b"<em>not-block</em><p>b</p>",
    b"plain text only, no tags at all & an amp",
    b"<p>a</p junk><p>b</p>",
    b"<a data-x='1' href='http://h.example/'>attr order</a>",
    "<p>unicode é中文 &eacute;</p>".encode(),
    b"<div/>selfclosing block</div>",
    b"<a href='http://a.example/p' disabled>trailing attr</a>",
]


def test_fast_path_matches_reference_on_adversarial_docs():
    from gpse.extract import _extract_reference

    for doc in ADVERSARIAL_DOCS:
        got = extract_one(doc, BASE)
        ref = _extract_reference(doc.decode("utf-8", "replace"), BASE)
        assert got == ref, doc


def test_fast_path_taken_on_simple_corpus_html():
    """The synthetic corpus is squarely in the fast subset — every page
    must take the fast path AND match the reference parser exactly."""
    import numpy as np

    from gpse import synth
    from gpse.extract import _extract_fast, _extract_reference

    corpus = synth.CorpusCfg(n_pages=5000, n_hosts=13, seed=7)
    ids = np.arange(0, 400, dtype=np.uint64) * 7 % 5000
    urls = synth.url_of(ids, corpus)
    for h, u in zip(synth.html_for(ids, corpus), urls):
        raw = h.decode("utf-8", "replace")
        assert _extract_fast(raw, []) is not None, u
        assert extract_one(h, u) == _extract_reference(raw, u), u


def test_fast_path_fuzz_differential():
    """Random tag-soup compositions: fast-with-fallback == reference on
    every document (the fast path may bail, never diverge)."""
    import random

    from gpse.extract import _extract_reference

    frags = [
        "<p>", "</p>", "<a href='http://f.example/", "'>", '">',
        '<a href="', "text", "&amp;", "&#66;", "&", "<", ">", "</a>",
        "<script>", "</script>", "<!-- c -->", "<br/>", "x y z", "<div",
        " class='a'", "'", '"', "=", "<template>", "</template>", " ",
        "\n", "/", "<b>", "</b>", "\x00", "<1>", "<?p?>", "<![CDATA[x]]>",
        "é中", "&bogus;", "href=", "<a ", "<style>", "</style>",
        "<A HREF=UP>", "</P >", "<p/>",
    ]
    rng = random.Random(421)
    for _ in range(1500):
        doc = "".join(rng.choice(frags) for _ in range(rng.randint(1, 25)))
        assert extract_one(doc.encode(), BASE) == _extract_reference(doc, BASE), repr(doc)


def test_lang_id_py_matches_column_form(spark):
    """r6: the Python lang-ID used inside parse_extract(with_lang=True)
    must produce EXACTLY textfuncs.lang_id's value — corpus texts plus
    adversarial unicode (NBSP must not split: Java \\s is ASCII-only;
    final sigma / combining marks exercise lower() parity)."""
    from pyspark.sql import functions as F

    from gpse import synth
    from gpse.extract import parse_extract
    from gpse.textfuncs import lang_id, lang_id_py

    texts = [
        "",
        "the and of to in is that for with on",
        "der und die ist nicht ein",
        "le la les et est pas",
        "i nie to się jest na",
        "el la los y es no",
        "la la la",               # fr/es tie -> earliest lang wins
        "THE AND OF",             # case folding
        "the and of",        # NBSP: must NOT split (ASCII-only \s)
        "the\tand\nof\x0b\x0cis\r",  # every Java \s char
        "  the   and  ",          # runs + leading/trailing
        "ΟΔΥΣΣΕΥΣ the and",       # final sigma lowering parity
        "İstanbul the and",       # dotted capital I
        "straße für auf mit",     # sharp s + umlauts (de)
        "x" * 5 + " ✓ no stopwords here at all",
        "punct, only. the; and?",  # punctuation glued to tokens
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    jvm = [r.l for r in df.select(lang_id(F.col("text")).alias("l")).collect()]
    py = [lang_id_py(t) for t in texts]
    assert py == jvm, list(zip(texts, py, jvm))

    # corpus end-to-end: with_lang=True == JVM lang_id over the same text
    cfg = synth.CorpusCfg(n_pages=150, n_hosts=8, seed=42)
    pages = synth.gen_pages(spark, cfg, partitions=3).drop("text", "lang")
    got = parse_extract(pages, with_lang=True).select("url", "text", "lang")
    chk = got.withColumn("_jvm", lang_id(F.col("text")))
    bad = chk.filter(F.col("lang") != F.col("_jvm")).count()
    assert bad == 0
