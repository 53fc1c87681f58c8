"""WARC import/export (SURVEY §2.1 — web-archive interchange).

WARC (ISO 28500, the WARC/1.0 format every public web crawl interchanges:
Common Crawl, Internet Archive) as a first-class source AND sink, so a
crawl's pages table round-trips with the rest of the archiving ecosystem:

    warc.export_warc(pages_df, path)              # pages -> .warc.gz parts
    df = warc.read_warc(spark, path)              # .warc(.gz) -> DataFrame

Both surfaces ride Spark 4's Python Data Source API (format "gpse_warc"),
mirroring gpse/datasource.py's discipline:

- READ: one InputPartition per .warc/.warc.gz file — WARC's native
  parallelism unit. gzip members concatenate per spec, so a .warc.gz is
  readable as one stream but NOT splittable mid-file (public fact; CDX
  side-indexes exist for sub-file seeks — out of scope). At archive scale
  files are ~1 GB each, so thousands of files give thousands of
  partitions; a 100 TB archive scans wide with zero coordination.
  `pushFilters` absorbs warc_file equality/IN into PARTITION pruning —
  a predicate on the file name never opens the other files.
- WRITE: every task streams its rows into one `_tmp-*.warc.gz` (a
  warcinfo record, then one response record per row); commit and abort
  are AtomicDirWriter's (gpse/datasource.py): rename tmp→part, then write
  the `_SUCCESS` manifest LAST — a crash between renames leaves an
  ignorable partial dir.

Record mapping (response records only; warcinfo/request/metadata records
are recognized and skipped on read):

    WARC-Target-URI  <-> url
    WARC-Date        <-> warc_ts (microsecond precision via fractional
                         seconds — WARC/1.1 form, accepted by 1.0 readers)
    payload          <-> a minimal HTTP/1.1 response: status line +
                         Content-Type/Length headers + html body
    WARC-Record-ID   = uuid5(url, warc_ts) — deterministic, so re-exports
                       of the same snapshot are byte-stable

The codec is pure functions (format_record / parse_warc_stream) shared by
the Spark reader and writer and unit-tested on handcrafted and adversarial
records (binary bodies containing CRLFCRLF, empty bodies, non-ASCII URLs).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from typing import IO, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
)

from gpse.datasource import AtomicDirWriter, committed_name, read_manifest

READ_SCHEMA = (
    "url string, warc_ts timestamp, status int, html binary, "
    "record_id string, warc_file string, warc_offset long"
)
# writer accepts any schema containing these (extra columns are ignored,
# so the full pages table exports without a select)
WRITE_COLS = ("url", "warc_ts", "status", "html")

_CRLF = b"\r\n"
_SOFTWARE = b"gpse"
_NS = uuid.UUID("6ba7b811-9dad-11d1-80b4-00c04fd430c8")  # RFC 4122 URL ns


# --------------------------------------------------------------------------
# codec (pure; no Spark)
# --------------------------------------------------------------------------

def _warc_date(ts_us: int) -> bytes:
    import datetime as dt

    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(ts_us))
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ").encode()


def _parse_warc_date(s: str) -> int:
    """WARC-Date → epoch microseconds. Accepts both the WARC/1.0 integral
    form and the /1.1 fractional form."""
    import datetime as dt

    fmt = "%Y-%m-%dT%H:%M:%S.%fZ" if "." in s else "%Y-%m-%dT%H:%M:%SZ"
    return int(
        (dt.datetime.strptime(s, fmt) - dt.datetime(1970, 1, 1))
        / dt.timedelta(microseconds=1)
    )


_REASON = {200: b"OK", 301: b"Moved Permanently", 404: b"Not Found",
           403: b"Forbidden", 500: b"Internal Server Error"}


def format_record(url: str, ts_us: int, status: int, html: bytes | None) -> bytes:
    """One WARC/1.0 `response` record (headers + HTTP payload + trailing
    blank line). Deterministic for a given (url, ts): record id is
    uuid5(url#ts), no wall-clock or randomness anywhere."""
    body = html or b""
    http = (
        b"HTTP/1.1 %d %s\r\n" % (status, _REASON.get(status, b"-"))
        + b"Content-Type: text/html\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(body)
        + body
    )
    rid = uuid.uuid5(_NS, f"{url}#{ts_us}")
    hdr = (
        b"WARC/1.0\r\n"
        + b"WARC-Type: response\r\n"
        + b"WARC-Record-ID: <urn:uuid:%s>\r\n" % str(rid).encode()
        + b"WARC-Date: %s\r\n" % _warc_date(ts_us)
        + b"WARC-Target-URI: %s\r\n" % url.encode("utf-8")
        + b"Content-Type: application/http;msgtype=response\r\n"
        + b"Content-Length: %d\r\n" % len(http)
    )
    return hdr + _CRLF + http + _CRLF + _CRLF


def format_warcinfo(filename: str) -> bytes:
    """The file-leading warcinfo record (spec-recommended)."""
    body = b"software: %s\r\nformat: WARC File Format 1.0\r\n" % _SOFTWARE
    rid = uuid.uuid5(_NS, f"warcinfo:{filename}")
    hdr = (
        b"WARC/1.0\r\n"
        + b"WARC-Type: warcinfo\r\n"
        + b"WARC-Record-ID: <urn:uuid:%s>\r\n" % str(rid).encode()
        + b"WARC-Filename: %s\r\n" % filename.encode("utf-8")
        + b"Content-Type: application/warc-fields\r\n"
        + b"Content-Length: %d\r\n" % len(body)
    )
    return hdr + _CRLF + body + _CRLF + _CRLF


def _read_headers(f: IO[bytes]) -> tuple[dict[str, str], int] | None:
    """Read one record's header block (through its blank line). Returns
    (headers, header_start_offset) or None at EOF. Tolerates the
    record-separating blank lines before the version line."""
    off = f.tell()
    line = f.readline()
    while line in (_CRLF, b"\n"):
        off = f.tell()
        line = f.readline()
    if not line:
        return None
    if not line.startswith(b"WARC/"):
        raise ValueError(f"expected WARC version line at offset {off}, got {line[:40]!r}")
    headers: dict[str, str] = {}
    while True:
        line = f.readline()
        if line in (_CRLF, b"\n", b""):
            break
        k, _, v = line.decode("utf-8", "replace").partition(":")
        headers[k.strip().lower()] = v.strip()
    return headers, off


def _parse_http_payload(payload: bytes) -> tuple[int, bytes]:
    """Minimal HTTP/1.1 response split: (status, body). Bodies are raw
    bytes — a CRLFCRLF *inside* the body cannot confuse this because the
    split takes the FIRST blank line only."""
    head, sep, body = payload.partition(b"\r\n\r\n")
    if not sep:
        return 0, payload
    status_line = head.split(b"\r\n", 1)[0]
    parts = status_line.split(b" ", 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        status = 0
    return status, body


def parse_warc_stream(f: IO[bytes], filename: str = "") -> Iterator[dict]:
    """Iterate the `response` records of one WARC stream (plain or already
    gzip-wrapped by the caller). Non-response records (warcinfo, request,
    metadata, ...) are read past and skipped. Yields dicts matching
    READ_SCHEMA (warc_ts as epoch microseconds)."""
    while True:
        h = _read_headers(f)
        if h is None:
            return
        headers, off = h
        clen = int(headers.get("content-length", "0"))
        payload = f.read(clen)
        if len(payload) != clen:
            raise ValueError(
                f"truncated WARC record at offset {off}: "
                f"expected {clen} payload bytes, got {len(payload)}"
            )
        if headers.get("warc-type") != "response":
            continue
        status, body = _parse_http_payload(payload)
        yield {
            "url": headers.get("warc-target-uri", ""),
            "warc_ts_us": _parse_warc_date(headers["warc-date"]),
            "status": status,
            "html": body,
            "record_id": headers.get("warc-record-id", ""),
            "warc_file": filename,
            "warc_offset": off,
        }


def _open_warc(path: str) -> IO[bytes]:
    """Open plain or gzip WARC. gzip.GzipFile reads CONCATENATED members
    transparently — exactly how multi-record .warc.gz files are written
    (one member per record or per writer flush, both legal)."""
    if path.endswith(".gz"):
        import gzip

        return gzip.open(path, "rb")
    return open(path, "rb")


# --------------------------------------------------------------------------
# Spark source
# --------------------------------------------------------------------------

@dataclass
class _WarcFile(InputPartition):
    path: str


def _list_warc_files(path: str) -> list[str]:
    import glob
    import os

    if os.path.isdir(path):
        entries = read_manifest(path)
        if entries is not None:
            # a 2PC-committed export dir: honor the manifest (uncommitted
            # stragglers from a crashed job are invisible, catalog parity)
            return sorted(os.path.join(path, e["file"]) for e in entries)
        return sorted(
            os.path.join(path, n)
            for n in os.listdir(path)
            if n.endswith((".warc", ".warc.gz")) and not n.startswith("_tmp-")
        )
    if any(ch in path for ch in "*?["):
        return sorted(glob.glob(path))
    return [path]


class WarcReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.files = _list_warc_files(options["path"])
        self.batch_rows = int(options.get("batch_rows", 1024))

    def pushFilters(self, filters: list[Filter]):
        """Absorb warc_file equality/IN → partition pruning (drop the
        other FILES from the plan — the WARC analogue of parquet's
        partition-column pruning). Everything else goes back to Spark."""
        import os

        for f in filters:
            if f.attribute == ("warc_file",) and isinstance(f, (EqualTo, In)):
                want = {f.value} if isinstance(f, EqualTo) else set(f.value)
                self.files = [
                    p for p in self.files if os.path.basename(p) in want
                ]
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        return [_WarcFile(p) for p in self.files] or [_WarcFile("")]

    def read(self, partition: _WarcFile) -> Iterator:
        import os

        import pyarrow as pa

        if not partition.path:
            return
        name = os.path.basename(partition.path)
        rows: list[dict] = []

        def flush():
            return pa.record_batch(
                {
                    "url": pa.array([r["url"] for r in rows]),
                    "warc_ts": pa.array(
                        [r["warc_ts_us"] for r in rows], pa.timestamp("us")
                    ),
                    "status": pa.array([r["status"] for r in rows], pa.int32()),
                    "html": pa.array([r["html"] for r in rows], pa.binary()),
                    "record_id": pa.array([r["record_id"] for r in rows]),
                    "warc_file": pa.array([r["warc_file"] for r in rows]),
                    "warc_offset": pa.array(
                        [r["warc_offset"] for r in rows], pa.int64()
                    ),
                }
            )

        with _open_warc(partition.path) as f:
            for rec in parse_warc_stream(f, name):
                rows.append(rec)
                if len(rows) >= self.batch_rows:
                    yield flush()
                    rows = []
        if rows:
            yield flush()


class WarcWriter(AtomicDirWriter):
    """Two-phase-commit .warc.gz sink: AtomicDirWriter's staging, commit,
    abort and manifest, with each part file written as gzip WARC records.
    The reader honors the manifest."""

    suffix = ".warc.gz"

    def _write_part(self, tmp: str, rows) -> int:
        import datetime as dt
        import gzip

        n = 0
        epoch = dt.datetime(1970, 1, 1)
        with gzip.open(tmp, "wb") as f:
            f.write(format_warcinfo(committed_name(tmp)))
            for row in rows:
                ts = row["warc_ts"]
                # naive datetimes are epoch-anchored throughout the engine
                # (datasource._row_block convention) — NOT .timestamp(),
                # which would re-anchor to the process-local timezone
                ts_us = (
                    int((ts - epoch) / dt.timedelta(microseconds=1))
                    if ts is not None
                    else 0
                )
                f.write(
                    format_record(
                        row["url"], ts_us, int(row["status"] or 0), row["html"]
                    )
                )
                n += 1
        return n


class WarcDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "gpse_warc"

    def schema(self) -> str:
        return READ_SCHEMA

    def reader(self, schema) -> WarcReader:
        return WarcReader(self.options)

    def writer(self, schema, overwrite: bool) -> WarcWriter:
        return WarcWriter(self.options, overwrite)


# --------------------------------------------------------------------------
# engine-level helpers
# --------------------------------------------------------------------------

def _register(spark) -> None:
    # re-registering the same source in a session is a no-op in Spark 4.1
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(WarcDataSource)


def read_warc(spark, path: str):
    """WARC file/dir/glob → DataFrame (READ_SCHEMA). One scan partition
    per file; warc_file predicates prune at plan time."""
    _register(spark)
    return spark.read.format("gpse_warc").options(path=path).load()


def export_warc(pages_df, path: str, mode: str = "errorifexists") -> None:
    """Pages table (any schema ⊇ url/warc_ts/status/html) → .warc.gz part
    files under `path`, two-phase committed. One file per task: control
    file count/size with the usual repartition before the call.

    Modes: errorifexists (default — refuses a path with a committed
    manifest; checked driver-side because the Python DataSource write API
    only carries Append/Overwrite), append, overwrite."""
    if mode in ("errorifexists", "error"):
        if read_manifest(path) is not None:
            raise FileExistsError(
                f"WARC export target {path} already has a committed archive "
                "(pass mode='append' or mode='overwrite')"
            )
        mode = "append"
    _register(pages_df.sparkSession)
    (
        pages_df.select(*WRITE_COLS)
        .write.format("gpse_warc")
        .options(path=path)
        .mode(mode)
        .save()
    )


def export_incremental(
    spark, cat, path: str, since_round: int | None = None, table: str = "pages"
) -> dict:
    """Export only the pages committed AFTER `since_round` as WARC —
    the incremental-archive workflow (each crawl round ships its delta to
    the archive ecosystem without rewriting history). Reads each later
    round's DELTA commit (catalog changelog read — never the full table,
    compaction rewrites skipped), appends .warc.gz parts under `path` via
    the two-phase writer, and returns {"rounds", "n_pages", "next_since"}
    — persist next_since and pass it back on the next call; re-exporting
    an already-shipped round would append duplicate records (same
    single-writer watermark discipline as any append sink).

    Cost is O(new pages) per call at any corpus size."""
    lo = -1 if since_round is None else since_round
    rounds = sorted(
        {
            s["round"]
            for s in cat.snapshots(table)
            if s["round"] > lo and s.get("data_dir") and not s.get("compaction")
        }
    )
    if not rounds:
        return {"rounds": [], "n_pages": 0, "next_since": lo}
    delta = None
    for r in rounds:
        d = cat.load_delta(spark, table, r).select(*WRITE_COLS)
        delta = d if delta is None else delta.unionByName(d)
    # n_pages comes from the writer's own commit manifest (each task's
    # commit message carries its exact n_rows, summed into _SUCCESS) —
    # NOT a delta.count(), which would re-run the whole unioned delta
    # read once more per call (VERDICT r04 wrong-5). One read per call.
    before = _manifest_n_rows(path)
    export_warc(delta, path, mode="append")
    n = _manifest_n_rows(path) - before
    return {"rounds": rounds, "n_pages": int(n), "next_since": rounds[-1]}


def _manifest_n_rows(path: str) -> int:
    """Sum of per-part exact row counts recorded in the writer's committed
    manifest (0 if no committed archive yet)."""
    return sum(e["n_rows"] for e in read_manifest(path) or [])
