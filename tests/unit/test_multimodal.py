"""Multimodal plumbing tests: schema, determinism, batch shape (the decode
itself is a deterministic stub — SURVEY.md §7.2: no codecs in container)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gpse import multimodal as M


@pytest.fixture(scope="module")
def assets(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return M.assets_from_documents(docs)


def test_asset_schema(assets):
    assert assets.schema.simpleString() == (
        "struct<asset_id:bigint,kind:string,data:binary,source:string>"
    )
    kinds = {r.kind for r in assets.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_decode_metadata_deterministic(spark, assets):
    a = {r.asset_id: r for r in M.decode_assets(assets).collect()}
    b = {r.asset_id: r for r in M.decode_assets(assets.repartition(7)).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == b[k]
    r = next(iter(a.values()))
    assert r.ok and r.n_bytes > 0 and len(r.sha1_8) == 8


def test_kind_specific_fields(spark, assets):
    d = M.decode_assets(assets)
    img = d.filter(F.col("kind") == "image").first()
    assert img.width is not None and img.duration_ms is None
    aud = d.filter(F.col("kind") == "audio").first()
    assert aud.duration_ms is not None and aud.width is None
    vid = d.filter(F.col("kind") == "video").first()
    assert vid.width is not None and vid.duration_ms is not None


def test_features_fixed_dim_and_normalized(spark, assets):
    f = M.extract_features(assets)
    rows = f.collect()
    assert all(len(r.feature) == M.FEATURE_DIM for r in rows)
    import math

    for r in rows[:10]:
        n = math.sqrt(sum(x * x for x in r.feature))
        assert abs(n - 1.0) < 1e-5


def test_byte_stats_arrow_matches_length(spark, assets):
    got = {r.asset_id: r.n_bytes for r in M.byte_stats_arrow(assets).collect()}
    want = {
        r.asset_id: len(r.data)
        for r in assets.select("asset_id", "data").collect()
    }
    assert got == want
