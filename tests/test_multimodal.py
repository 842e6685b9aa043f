"""Multimodal binary-column plumbing (decode layer stubbed)."""

import pytest
from pyspark.sql import functions as F

from dataflow_flex_pyarrow_to_gds_spark.operators.multimodal import (
    attach_meta,
    fake_decode,
    image_features,
    sample_frames,
)


def _payload_for(i: int) -> bytes:
    return bytes([i % 256]) * (100 + i)


def _media(spark, n=6):
    rows = [(i, _payload_for(i)) for i in range(n)]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_attach_meta(spark):
    df = attach_meta(_media(spark))
    row = df.filter(F.col("media_id") == 3).first()
    assert row["meta"]["nbytes"] == 103
    assert len(row["meta"]["sha256"]) == 64
    assert row["meta"]["mime"] is None  # filled by a real decoder


def test_fake_decode_deterministic():
    a = fake_decode(b"hello")
    b = fake_decode(b"hello")
    assert (a == b).all() and a.shape == (8, 8, 3) and a.dtype.name == "uint8"


def test_image_features_schema_and_values(spark):
    out = image_features(_media(spark), partitions=2)
    rows = out.collect()
    assert len(rows) == 6
    for r in rows:
        assert r["width"] == 8 and r["height"] == 8 and r["channels"] == 3
        assert len(r["feature"]) == 3
        assert all(0.0 <= x <= 1.0 for x in r["feature"])
    # determinism across runs
    again = {r["media_id"]: r["feature"] for r in image_features(_media(spark)).collect()}
    assert {r["media_id"]: r["feature"] for r in rows} == again


def test_sample_frames_flatmap_shape(spark):
    out = sample_frames(_media(spark, n=3), max_frames=4, every_ms=500)
    rows = out.collect()
    assert len(rows) == 12  # 3 items × 4 frames
    per_item = {}
    for r in rows:
        per_item.setdefault(r["media_id"], []).append((r["frame_idx"], r["frame_ms"]))
    assert all(sorted(v) == [(0, 0), (1, 500), (2, 1000), (3, 1500)]
               for v in per_item.values())
