"""Multimodal asset columns for training-data pipelines (task brief).

Images/audio/video ride through the engine as opaque ``binary`` columns
plus typed metadata — the same discipline as the crawl's `html` column:
bytes stay in their own top-level column so Catalyst prunes them out of
every plan that doesn't need them, and all byte-touching work happens in
Arrow-batched ``mapInPandas`` (never per-row Python).

The container has no image/audio codecs (SURVEY.md §7.2), so the
pipeline decodes with ``fake_decode`` — a deterministic stand-in that
derives plausible metadata (width/height/duration/channels) from the
bytes alone. Everything Spark-side — schema, partition sizing, UDF
signature, Arrow batch shape — is real and tested; swapping in a real
codec changes only the body of one function.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "asset_id long, kind string, n_bytes long, sha1_8 string, "
    "width int, height int, duration_ms int, channels int, ok boolean"
)
FEATURE_DIM = 16
FEATURES_SCHEMA = f"asset_id long, feature array<float>"


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic asset table from the documents fixture: text bytes act
    as the opaque media payload (no external data in the sandbox)."""
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("data"),
        "source",
    )


def fake_decode(data: bytes, kind: str) -> dict:
    """Deterministic stand-in decode: metadata derived from the bytes.
    Stable across partitionings/runs — good enough to exercise the full
    Spark plumbing and to oracle-check the metadata path."""
    if data is None:
        return dict(n_bytes=0, sha1_8="", width=None, height=None,
                    duration_ms=None, channels=None, ok=False)
    n = len(data)
    sha = hashlib.sha1(data).hexdigest()[:8]
    out = dict(n_bytes=n, sha1_8=sha, width=None, height=None,
               duration_ms=None, channels=None, ok=True)
    if kind == "image":
        out["width"] = 16 * (1 + n % 40)
        out["height"] = 16 * (1 + (n // 40) % 40)
    elif kind == "audio":
        out["duration_ms"] = 250 * (1 + n % 200)
        out["channels"] = 1 + n % 2
    else:  # video
        out["width"] = 16 * (1 + n % 40)
        out["height"] = 16 * (1 + (n // 40) % 40)
        out["duration_ms"] = 1000 * (1 + n % 90)
    return out


def decode_assets(assets: DataFrame) -> DataFrame:
    """Arrow-batched decode over mapInPandas. At 100 TB the binary column
    dominates batch size — cap rows per Arrow batch via
    spark.sql.execution.arrow.maxRecordsPerBatch so worker memory stays
    bounded, and keep `data` out of the output (metadata only travels)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            metas = [fake_decode(d, k) for d, k in zip(b["data"], b["kind"])]
            m = pd.DataFrame(metas)
            m.insert(0, "asset_id", b["asset_id"].to_numpy())
            m.insert(1, "kind", b["kind"].to_numpy())
            yield m

    return assets.mapInPandas(run, schema=DECODED_SCHEMA)


def extract_features(assets: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Deterministic fake feature vector per asset (byte-histogram folded
    to `dim` floats) — the embedding-extraction stage's plumbing: binary in,
    fixed-dim array<float> out, ready for the similarity-search operators."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for b in batches:
            feats = []
            for d in b["data"]:
                if d is None:
                    feats.append([0.0] * dim)
                    continue
                arr = np.frombuffer(bytes(d), dtype=np.uint8)
                hist = np.bincount(arr % dim, minlength=dim).astype(np.float32)
                norm = float(np.linalg.norm(hist)) or 1.0
                feats.append((hist / norm).tolist())
            yield pd.DataFrame(
                {"asset_id": b["asset_id"].to_numpy(), "feature": feats}
            )

    return assets.mapInPandas(run, schema=FEATURES_SCHEMA)


def byte_stats_arrow(assets: DataFrame) -> DataFrame:
    """mapInArrow fast path (§2.10): byte-exact asset stats computed on raw
    Arrow RecordBatches — no pandas object materialization, which matters
    when the binary column is the payload (zero-copy length/slice ops)."""

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            data = rb.column(rb.schema.get_field_index("data"))
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index("asset_id")),
                    pc.cast(pc.binary_length(data), pa.int64()),
                ],
                names=["asset_id", "n_bytes"],
            )

    return assets.mapInArrow(run, "asset_id long, n_bytes long")
