"""Multimodal plumbing tests."""

import pytest

from scikg_spark.ops.multimodal import (
    build_media_table,
    extract_features,
    resize_images,
    sample_frames,
    _decode_payload,
    _fake_payload,
)

SF_DIR = "/root/testdata/sf0.001"


class TestMultimodal:
    def test_fake_container_roundtrip(self):
        kind, w, h, body = _decode_payload(_fake_payload(42, "image"))
        assert kind == "image" and len(body) == w * h

    def test_real_codec_path_is_explicit_stub(self):
        with pytest.raises(NotImplementedError):
            _decode_payload(b"\x89PNG\r\n\x1a\nnotreally")

    def test_media_pipeline(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
        media = build_media_table(docs).cache()
        assert media.count() == 80  # image + audio per doc
        feats = extract_features(media)
        rows = feats.collect()
        assert len(rows) == 80
        for r in rows:
            assert sum(r.histogram) == r.n_bytes
            assert 0.0 <= r.mean_val <= 255.0
        resized = resize_images(media).collect()
        assert len(resized) == 40
        assert all(r.width == 8 and r.height == 8 for r in resized)
        frames = sample_frames(media).collect()
        assert len(frames) == 40 and all(len(r.samples) > 0 for r in frames)

    def test_deterministic(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(10)
        a = extract_features(build_media_table(docs)).orderBy("doc_id", "kind").collect()
        b = extract_features(build_media_table(docs)).orderBy("doc_id", "kind").collect()
        assert a == b
