"""Custom PySpark DataSource for the synthetic web corpus (SURVEY §2.1).

Spark 4's Python Data Source API lets a pure-Python source participate in
planning like a native connector: `spark.read.format("gpse_synth")` with
partition planning (one InputPartition per page-id range → parallel scan)
and FILTER PUSHDOWN (4.1 `pushFilters`): page-id range predicates prune
partitions before any row is generated, and host equality is applied
inside the reader — the same pushdown discipline the parquet scans get
from Catalyst, demonstrated on a from-scratch source.

Rows are produced as Arrow RecordBatches (the API's vectorized fast
path), byte-identical to `synth.gen_pages` for the same CorpusCfg —
including the ~5% second-capture duplicates — which an equality test
pins. Registration:

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SynthWebDataSource)
    df = (spark.read.format("gpse_synth")
          .options(n_pages=300, n_hosts=15, seed=42, partitions=4).load())

(the pushdown conf is off by default in 4.1 and runtime-settable; without
it Spark refuses a reader that implements pushFilters).

Schema = the input_hint pages schema plus the generator's natural keys
(page_id, host) so predicates have something to push against.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

SCHEMA = (
    "page_id long, host string, url string, warc_ts timestamp, "
    "html binary, text string, lang string"
)


@dataclass
class _IdRange(InputPartition):
    start: int
    end: int


class SynthWebReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n_pages = int(options.get("n_pages", 1000))
        self.n_hosts = int(options.get("n_hosts", 50))
        self.seed = int(options.get("seed", 42))
        self.n_parts = int(options.get("partitions", 8))
        self.id_lo = 0
        self.id_hi = self.n_pages
        self.host_eq: str | None = None

    # -- planning -------------------------------------------------------
    def pushFilters(self, filters: list[Filter]):
        """Handle page_id range/equality (→ partition pruning: the id
        range narrows BEFORE partitions() plans it) and host equality
        (→ row filter inside read()); everything else goes back to Spark.
        The AND-list contract means a fully-handled filter need not be
        re-evaluated post-scan, so handled filters are not yielded."""
        for f in filters:
            col = f.attribute
            if col == ("page_id",) and hasattr(f, "value") and isinstance(f.value, int):
                v = f.value
                if isinstance(f, EqualTo):
                    self.id_lo = max(self.id_lo, v)
                    self.id_hi = min(self.id_hi, v + 1)
                elif isinstance(f, GreaterThan):
                    self.id_lo = max(self.id_lo, v + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self.id_lo = max(self.id_lo, v)
                elif isinstance(f, LessThan):
                    self.id_hi = min(self.id_hi, v)
                elif isinstance(f, LessThanOrEqual):
                    self.id_hi = min(self.id_hi, v + 1)
                else:
                    yield f
            elif (
                col == ("host",)
                and isinstance(f, EqualTo)
                and isinstance(f.value, str)
                and self.host_eq in (None, f.value)
            ):
                # absorb ONE host equality; a second, different one (a
                # contradictory conjunction Catalyst does not fold) is
                # yielded back so Spark re-applies it post-scan → the
                # correct empty result, never the last-writer-wins rows
                self.host_eq = f.value
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        lo, hi = self.id_lo, max(self.id_lo, self.id_hi)
        n = max(1, min(self.n_parts, hi - lo)) if hi > lo else 1
        step = max(1, (hi - lo + n - 1) // n)
        parts = [_IdRange(s, min(s + step, hi)) for s in range(lo, hi, step)]
        return parts or [_IdRange(0, 0)]

    # -- execution ------------------------------------------------------
    def read(self, partition: _IdRange) -> Iterator:
        import pyarrow as pa

        from gpse import synth

        cfg = synth.CorpusCfg(
            n_pages=self.n_pages, n_hosts=self.n_hosts, seed=self.seed
        )
        cols = _col_block(partition.start, partition.end, cfg)
        if cols is None:
            return
        if self.host_eq is not None:
            keep = [i for i, h in enumerate(cols["host"]) if h == self.host_eq]
            if not keep:
                return
            cols = {k: [v[i] for i in keep] for k, v in cols.items()}
        yield pa.record_batch(
            {
                "page_id": pa.array(cols["page_id"], pa.int64()),
                "host": pa.array(cols["host"]),
                "url": pa.array(cols["url"]),
                "warc_ts": pa.array(cols["warc_ts_us"], pa.timestamp("us")),
                "html": pa.array(cols["html"], pa.binary()),
                "text": pa.array(cols["text"]),
                "lang": pa.array(cols["lang"]),
            }
        )


def _col_block(start: int, end: int, cfg) -> dict | None:
    """The corpus columns for one id range — ONE shared implementation of
    the row logic (host/url/ts/html/lang + the ~5% second captures at
    +45 days, mirroring synth.gen_pages) consumed by both the batch
    reader (Arrow path) and the streaming reader (tuple path), so the two
    source surfaces cannot drift apart."""
    import numpy as np

    from gpse import synth

    if end <= start:
        return None
    ids = np.arange(start, end, dtype=np.uint64)
    hosts_n = synth.host_of(ids, cfg)
    urls = synth.url_of(ids, cfg)
    ts = synth.warc_ts_us(ids, cfg).astype(np.int64)
    html = synth.html_for(ids, cfg)
    langs = [
        synth._LANGS[int(x)]
        for x in (synth.mix64(hosts_n.astype(np.uint64), cfg.seed, 9) % np.uint64(4))
    ]
    recrawl = (synth.mix64(ids, cfg.seed, 8) % np.uint64(20)) == np.uint64(0)
    dup = np.flatnonzero(recrawl)
    day45_us = 45 * 86400 * 1_000_000
    pid = ids.astype(np.int64).tolist()
    hostnames = [f"h{int(h)}.example" for h in hosts_n]
    ts_l = ts.tolist()
    return {
        "page_id": pid + [pid[i] for i in dup],
        "host": hostnames + [hostnames[i] for i in dup],
        "url": urls + [urls[i] for i in dup],
        "warc_ts_us": ts_l + [ts_l[i] + day45_us for i in dup],
        "html": html + [html[i] for i in dup],
        "text": [""] * (len(pid) + len(dup)),
        "lang": langs + [langs[i] for i in dup],
    }


def _row_block(start: int, end: int, cfg) -> list[tuple]:
    """_col_block as Python tuples (the streaming reader's row form)."""
    import datetime as dt

    cols = _col_block(start, end, cfg)
    if cols is None:
        return []
    epoch = dt.datetime(1970, 1, 1)
    return [
        (
            cols["page_id"][i],
            cols["host"][i],
            cols["url"][i],
            epoch + dt.timedelta(microseconds=cols["warc_ts_us"][i]),
            cols["html"][i],
            cols["text"][i],
            cols["lang"][i],
        )
        for i in range(len(cols["page_id"]))
    ]


class SynthWebStreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the source (§2.9 × §2.1): micro-batches advance a
    page-id offset — `read(start)` returns everything now "available"
    (one `rows_per_batch` chunk; a web-scale source would return whatever
    the upstream produced) plus the next offset, and
    `readBetweenOffsets(start, end)` replays a committed batch exactly
    for failure recovery — the source-side half of exactly-once."""

    def __init__(self, options: dict) -> None:
        from gpse import synth

        self.cfg = synth.CorpusCfg(
            n_pages=int(options.get("n_pages", 1000)),
            n_hosts=int(options.get("n_hosts", 50)),
            seed=int(options.get("seed", 42)),
        )
        self.rows_per_batch = int(options.get("rows_per_batch", 200))

    def initialOffset(self) -> dict:
        return {"page_id": 0}

    def read(self, start: dict):
        s = int(start["page_id"])
        e = min(s + self.rows_per_batch, self.cfg.n_pages)
        return iter(_row_block(s, e, self.cfg)), {"page_id": e}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(_row_block(int(start["page_id"]), int(end["page_id"]), self.cfg))


@dataclass
class _PartFile(WriterCommitMessage):
    path: str
    n_rows: int


def read_manifest(path: str) -> list[dict] | None:
    """The file entries ({"file", "n_rows"}) of the `_SUCCESS` manifest an
    AtomicDirWriter committed under directory `path`, or None when no job
    has committed there. Readers list only these files, so staged
    `_tmp-*` leftovers of a crashed job stay invisible."""
    import json
    import os

    manifest_path = os.path.join(path, "_SUCCESS")
    if not os.path.exists(manifest_path):
        return None
    with open(manifest_path, encoding="utf-8") as f:
        return json.load(f).get("files", [])


def committed_name(tmp: str) -> str:
    """Basename a staged `_tmp-*` file carries once `commit` renames it."""
    import os

    return os.path.basename(tmp).replace("_tmp-", "part-", 1)


class AtomicDirWriter(DataSourceWriter):
    """Write path of the API (the full source/sink surface): an
    atomic-directory JSONL sink with the SAME two-phase commit protocol
    as the engine's catalog (gpse/catalog.py): every task writes a
    `_tmp-*.jsonl` file and returns it as its commit message; `commit`
    renames all temp files into place and THEN writes a `_SUCCESS`
    manifest listing them (readers honor only manifest-listed files, so a
    crash between renames leaves an ignorable partial dir); `abort`
    removes the temp files. Exactly Spark's FileCommitProtocol shape,
    expressed through the Python writer API and crash-tested.

    Subclasses change the payload only: `suffix` names the part files and
    `_write_part` streams the rows into one staged file (gpse/warc.py's
    .warc.gz sink)."""

    suffix = ".jsonl"

    def __init__(self, options: dict, overwrite: bool) -> None:
        self.path = options["path"]
        self.overwrite = overwrite

    def write(self, iterator) -> _PartFile:
        import os
        import uuid

        from pyspark import TaskContext

        os.makedirs(self.path, exist_ok=True)
        tid = TaskContext.get().taskAttemptId() if TaskContext.get() else uuid.uuid4().hex
        tmp = os.path.join(self.path, f"_tmp-{tid}-{uuid.uuid4().hex[:8]}{self.suffix}")
        return _PartFile(path=tmp, n_rows=self._write_part(tmp, iterator))

    def _write_part(self, tmp: str, rows) -> int:
        """Stream `rows` into the staged file `tmp`; return the row count."""
        import json

        n = 0
        with open(tmp, "w", encoding="utf-8") as f:
            for row in rows:
                f.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return n

    def commit(self, messages) -> None:
        import json
        import os

        prior = read_manifest(self.path) or []
        final = []
        for m in messages:
            if m is None or m.n_rows == 0:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)
                continue
            # Rename only the basename: a directory whose NAME contains
            # "_tmp-" must not be touched by the tmp→part rename.
            dst = os.path.join(os.path.dirname(m.path), committed_name(m.path))
            os.replace(m.path, dst)
            final.append({"file": os.path.basename(dst), "n_rows": m.n_rows})

        if self.overwrite:
            # Truncate semantics: the new manifest lists only this job's
            # files, and the superseded data files are removed so
            # non-manifest readers can't resurrect them.
            stale = {e["file"] for e in prior} - {e["file"] for e in final}
            for name in stale:
                p = os.path.join(self.path, name)
                if os.path.exists(p):
                    os.remove(p)
        else:
            # Append semantics: previously committed files stay visible —
            # merge the prior manifest into the new one (catalog parity).
            final = prior + final

        manifest_path = os.path.join(self.path, "_SUCCESS")
        tmp = manifest_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"files": final}, f)
        os.replace(tmp, manifest_path)  # atomic commit point

    def abort(self, messages) -> None:
        import os

        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class SynthWebDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "gpse_synth"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> SynthWebReader:
        return SynthWebReader(self.options)

    def simpleStreamReader(self, schema) -> SynthWebStreamReader:
        return SynthWebStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> AtomicDirWriter:
        return AtomicDirWriter(self.options, overwrite)
