"""HTML → (text, outlinks) extraction over Arrow batches.

Capability parity: north_star — "Link extraction … and text extraction run
as vectorized Arrow/pandas UDFs with no per-row Python, reproducing
gp_crawler's extraction output byte-identically per URL". With the
reference binary unavailable (SURVEY.md §0), byte-identity is
operationalized as a FROZEN extraction spec + golden fixtures
(tests/golden): any change to the rules below is a breaking change.

Extraction spec (frozen):
  * html bytes decoded as UTF-8, errors='replace'
  * parsed with stdlib html.parser (convert_charrefs=True → entities and
    numeric charrefs decoded)
  * content inside <script>/<style>/<noscript>/<template> is dropped
  * block-level tags (p, div, h1..h6, li, tr, br, table, ul, ol, section,
    article, header, footer, title, blockquote, pre) break lines
  * line breaks come ONLY from block tags; raw newlines inside text nodes
    are whitespace. Within a line, whitespace runs collapse to a single
    space; lines are stripped; empty lines dropped; lines joined with
    '\n'; no trailing newline
  * links: every <a href=...> in document order, resolved against the page
    URL (urljoin) and canonicalized (gpse.urlnorm spec); non-http(s),
    empty, javascript:/mailto:/data: hrefs dropped; duplicates kept
    (document order preserved — dedup is the frontier's job)

`parse_extract` is a mapInArrow batch function, so the parser class/regex
setup is amortized once per Arrow-batch stream, and the per-task Python
worker stays hot.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Iterator, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from gpse.urlnorm import _FAST_CANONICAL_RE, resolve_one

_BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li tr br table ul ol section article "
    "header footer title blockquote pre".split()
)
_SKIP_TAGS = frozenset("script style noscript template".split())
_WS_RE = re.compile(r"\s+")


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self.links: list[str] = []
        self._skip = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip += 1
        if tag in _BLOCK_TAGS:
            self.chunks.append("\x00")
        if tag == "a":
            for k, v in attrs:
                if k == "href" and v is not None:
                    self.links.append(v)
                    break

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS and self._skip > 0:
            self._skip -= 1
        if tag in _BLOCK_TAGS:
            self.chunks.append("\x00")

    def handle_data(self, data: str) -> None:
        if not self._skip:
            self.chunks.append(data)


# ---------------------------------------------------------------------------
# Fast-path tokenizer. stdlib html.parser is pure Python and dominates the
# extract stage's CPU (profiled: ~78% of extract_one; the crawl round's
# pages-commit stage is ~46% of round wall — VERDICT r03 #2). Real HTML is
# overwhelmingly the SIMPLE subset — well-formed tags, quoted attributes, no
# comments/CDATA inside tag soup — so extract_one first runs a strict
# regex tokenizer that mirrors HTMLParser's observable behavior EXACTLY on
# that subset and returns None the moment it sees anything it cannot
# guarantee byte-identical (a "<!"/"<?" construct, an unmatched "<", an
# attribute form outside its grammar, a cdata end tag it can't prove).
# On None, extract_one falls back to the HTMLParser reference path — the
# frozen spec. Differential tests pin fast == reference on the golden
# fixtures, the synthetic corpus, and adversarial/fuzzed documents
# (tests/unit/test_extract.py).
# ---------------------------------------------------------------------------

# One combined token regex (r6): end tag (group 1), the dominant
# one-attribute anchor form <a href="..."> / <a href='...'> (groups 2/3 —
# captured directly so the hot loop never runs the attribute finditer for
# it), or a generic start tag (groups 4-6). The WHOLE document is cut in
# ONE C-level `re.split` call and the Python loop walks the flat parts
# list (stride 7: text + 6 groups) — no per-tag match objects, no
# repeated .search/.span/.group calls (measured 2.5x on the tokenizer
# core vs the search-loop form). Any '<' the regex cannot consume lands
# inside a text segment and bails — the same bail set as the old
# per-construct checks ("<!--", "<?", "< ", a malformed tag), verified by
# the adversarial/fuzz differentials. Tag names stay the conservative
# subset of HTMLParser's tagfind_tolerant — weirder names (containing
# '<', quotes, '=') bail to the reference parser.
_TOK_RE = re.compile(
    r"<(?:"
    r"/([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    r"|a\s+href\s*=\s*(?:\"([^\"<]*)\"|'([^'<]*)')\s*>"
    r"|([a-zA-Z][-.a-zA-Z0-9:_]*)"
    r"((?:\s+[a-zA-Z_][-.a-zA-Z0-9:_]*"
    r"(?:\s*=\s*(?:\"[^\"<]*\"|'[^'<]*'|[^\s\"'<>=`]*))?)*)"
    r"\s*(/?)>"
    r")"
)
_FAST_ATTR_RE = re.compile(
    r"\s+([a-zA-Z_][-.a-zA-Z0-9:_]*)"
    r"(?:\s*=\s*(\"[^\"<]*\"|'[^'<]*'|[^\s\"'<>=`]*))?"
)
# script/style enter cdata mode (HTMLParser's CDATA_CONTENT_ELEMENTS);
# the split tokenizer tracks them state-wise (see _extract_fast)
_CDATA_END = frozenset(("script", "style"))
# Tag-kind bitmask (r6): one dict probe replaces up to three frozenset
# membership tests per tag in the hot loop. 1 = skip-content tag,
# 2 = block tag, 4 = <a>, 8 = cdata-mode (script/style). Keys are
# lowercase; a mixed-case tag pays one .lower() and a second probe.
_TAG_KIND: dict[str, int] = {t: 1 for t in _SKIP_TAGS}
for _t in _BLOCK_TAGS:
    _TAG_KIND[_t] = _TAG_KIND.get(_t, 0) | 2
_TAG_KIND["a"] = _TAG_KIND.get("a", 0) | 4
for _t in _CDATA_END:
    _TAG_KIND[_t] |= 8
del _t


def _extract_fast(raw: str, links_out: list[str]) -> list[str] | None:
    """One-pass tokenizer for simple HTML: returns the _Extractor-equivalent
    `chunks` list (text segments + '\\x00' block separators) and appends raw
    hrefs to `links_out`, or returns None if the document leaves the simple
    subset (caller falls back to the HTMLParser reference).

    cdata (script/style) content is handled STATE-wise over the split
    tokens: after a <script>/<style> start only the exact matching end tag
    may appear next — content containing '<' (which HTMLParser would treat
    as raw data) bails to the reference parser. That is narrower fast-path
    coverage than a pos-jumping scanner, in exchange for the one-call
    split; the reference fallback keeps the output identical either way.
    """
    parts = _TOK_RE.split(raw)
    chunks: list[str] = []
    append = chunks.append
    lappend = links_out.append
    skip = 0
    cdata: str | None = None  # inside <script>/<style>: the pending end tag
    kind_get = _TAG_KIND.get
    n = len(parts)
    i = 0
    while True:
        seg = parts[i]
        if seg:
            if "<" in seg:
                return None  # "<!--", "<?", "< ", "<<" — reference path
            if not skip:
                append(unescape(seg) if "&" in seg else seg)
        if i + 1 >= n:
            break
        end_name = parts[i + 1]
        if end_name is not None:
            i += 7
            if cdata is not None:
                en = end_name if end_name in _TAG_KIND else end_name.lower()
                if en != cdata:
                    return None  # end tag HTMLParser treats as cdata text
                cdata = None
                if skip:
                    skip -= 1
                if kind_get(en) & 2:
                    append("\x00")
                continue
            k = kind_get(end_name)
            if k is None and not end_name.islower():
                k = kind_get(end_name.lower())
            if k:
                if skip and k & 1:
                    skip -= 1
                if k & 2:
                    append("\x00")
            continue
        if cdata is not None:
            return None  # a start tag inside script/style — reference path
        dq, sq, tag, body, selfclose = parts[i + 2 : i + 7]
        i += 7
        if tag is None:
            # the dominant <a href="..."> form, captured by the regex
            v = dq if dq is not None else sq
            lappend(unescape(v) if "&" in v else v)
            continue
        k = kind_get(tag)
        if k is None and not tag.islower():
            k = kind_get(tag.lower())
        if k:
            if k & 1:
                skip += 1
            if k & 2:
                append("\x00")
            if k & 4:
                apos = 0
                for am in _FAST_ATTR_RE.finditer(body):
                    if am.start() != apos:
                        return None  # unparsed residue inside the tag
                    apos = am.end()
                    if am[1].lower() == "href":
                        v = am[2]
                        if v is not None:
                            if v[:1] in "\"'":
                                v = v[1:-1]
                            lappend(unescape(v) if "&" in v else v)
                        break
            if selfclose == "/":
                # self-closing = starttag + endtag (HTMLParser's default
                # handle_startendtag); cdata mode is NOT entered
                if k & 1 and skip > 0:
                    skip -= 1
                if k & 2:
                    append("\x00")
            elif k & 8:
                cdata = tag if tag in _CDATA_END else tag.lower()
    # an unterminated <script>/<style> (cdata still pending at EOF) is
    # fine: HTMLParser treats the rest as (skipped) data, and every
    # remaining segment was dropped above under skip > 0
    return chunks


def _finalize(chunks: list[str], raw_links: list[str], base_url: str) -> Tuple[str, list[str]]:
    # one whitespace-collapse pass over the whole doc, then split on the
    # \x00 block sentinels: equivalent to per-line sub (\x00 is not \s, so
    # no whitespace run ever spans a sentinel) at a fraction of the calls
    collapsed = _WS_RE.sub(" ", "".join(chunks))
    lines = []
    for line in collapsed.split("\x00"):
        s = line.strip(" ")
        if s:
            lines.append(s)
    links = []
    lappend = links.append
    fmatch = _FAST_CANONICAL_RE.match
    for href in raw_links:
        # inline the already-canonical fast path (the overwhelming majority
        # of real hrefs): strip FIRST — the regex's $ would match before a
        # trailing newline — then one anchored match certifies the href is
        # canonical absolute http(s), skipping the resolve_one call
        h = href.strip() if href is not None else ""
        if h and fmatch(h) is not None:
            lappend(h)
        else:
            r = resolve_one(base_url, href)
            if r is not None:
                lappend(r)
    return "\n".join(lines), links


def extract_one(html: bytes, base_url: str) -> Tuple[str, list[str]]:
    """Extract (text, canonical outlinks) from one page — the frozen spec.
    Importable for golden tests; the UDF maps it over Arrow batches.
    Tries the fast tokenizer first; any document outside its provably-
    identical subset re-parses with the HTMLParser reference."""
    if html is None:
        return "", []
    raw = html.decode("utf-8", errors="replace") if isinstance(html, (bytes, bytearray)) else str(html)
    raw_links: list[str] = []
    chunks = _extract_fast(raw, raw_links)
    if chunks is not None:
        return _finalize(chunks, raw_links, base_url)
    return _extract_reference(raw, base_url)


def _extract_reference(raw: str, base_url: str) -> Tuple[str, list[str]]:
    """The HTMLParser reference path — THE spec; the fast tokenizer must be
    byte-identical to this wherever it doesn't bail."""
    p = _Extractor()
    try:
        p.feed(raw)
        p.close()
    except Exception:
        pass  # malformed HTML: keep whatever was parsed (deterministic)
    return _finalize(p.chunks, p.links, base_url)


def make_links_udtf():
    """Python UDTF form of link extraction — `extract_links(url, html) →
    rows(pos, link)` (SURVEY.md §2.10 names this as the table-function
    alternative to array+explode). Row-at-a-time by nature, so the hot path
    stays with parse_extract+explode; the UDTF exists for SQL-surface parity:

        spark.udtf.register("extract_links", make_links_udtf())
        SELECT f.* FROM pages, LATERAL extract_links(url, html) f
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, link string", useArrow=True)
    class ExtractLinks:
        def eval(self, url: str, html: bytes):
            _, links = extract_one(html, url)
            for i, l in enumerate(links):
                yield i, l

    return ExtractLinks


def parse_extract(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    with_lang: bool = False,
) -> DataFrame:
    """Add extracted `text` and `links` columns to a pages DataFrame —
    and, with `with_lang=True`, a `lang` column computed in the SAME
    Python batch (exactly textfuncs.lang_id's value; see lang_id_py).

    Implemented with mapInArrow: passthrough columns ride the Arrow stream
    as raw buffers (no pandas object materialization) and only html/url are
    converted to Python for the parser — measured ~30% faster than a
    scalar pandas-UDF form on the bench round's 626k-page batch. Every
    row's text/links are exactly `extract_one`'s (pinned in tests), and
    the golden fixtures freeze the bytes.

    `html` should be pruned right after so downstream stages never shuffle
    page bodies (column-pruning discipline, SURVEY §4).
    """
    import pyarrow as pa

    if "text" in pages.columns or "links" in pages.columns:
        raise ValueError("parse_extract input must not already have text/links columns")
    if with_lang and "lang" in pages.columns:
        raise ValueError("parse_extract(with_lang=True) input must not already have a lang column")
    hc, uc = html_col, url_col
    if with_lang:
        from gpse.textfuncs import lang_id_py

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            urls = rb.column(rb.schema.get_field_index(uc)).to_pylist()
            htmls = rb.column(rb.schema.get_field_index(hc)).to_pylist()
            texts: list[str] = []
            links: list[list[str]] = []
            for h, u in zip(htmls, urls):
                t, l = extract_one(h, u)
                texts.append(t)
                links.append(l)
            cols = list(rb.columns) + [
                pa.array(texts, type=pa.string()),
                pa.array(links, type=pa.list_(pa.string())),
            ]
            names = rb.schema.names + ["text", "links"]
            if with_lang:
                # lang while the text is ALREADY here in Python (r6): one
                # dict probe per token vs the interpreted JVM HOF pipeline
                # (5 filter lambdas/row) — value-parity with
                # textfuncs.lang_id pinned in tests; measured ~3 s off the
                # 32-core pages stage, ~25 s at local[1]
                cols.append(pa.array([lang_id_py(t) for t in texts], type=pa.string()))
                names = names + ["lang"]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    out_fields = list(pages.schema.fields) + [
        StructField("text", StringType()),
        StructField("links", ArrayType(StringType())),
    ]
    if with_lang:
        out_fields.append(StructField("lang", StringType()))
    return pages.mapInArrow(run, StructType(out_fields))
