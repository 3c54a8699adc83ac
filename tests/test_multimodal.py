"""Multimodal plumbing tests: metadata extraction + frame sampling shapes."""

from streamlit_projet_spark_streaming_spark.operators import multimodal as mm
from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

from .conftest import SF_CORRECT


def test_metadata_extraction(spark):
    docs = load_table(spark, "documents", SF_CORRECT)
    media = mm.attach_binary_payload(docs)
    meta = mm.extract_media_metadata(media)
    rows = meta.collect()
    assert len(rows) == docs.count()
    for r in rows[:20]:
        assert r.n_bytes > 0
        assert len(r.sha256) == 64
        assert 1 <= r.width <= 640 and 1 <= r.height <= 480


def test_frame_sampling(spark):
    docs = load_table(spark, "documents", SF_CORRECT).limit(50)
    media = mm.attach_binary_payload(docs)
    frames = mm.sample_frames(media)
    pdf = frames.toPandas()
    assert set(pdf["frame_idx"]) <= {0, 1, 2}
    # every doc produced at least one frame
    assert pdf["doc_id"].nunique() == 50
    # frames are deterministic per (doc, idx)
    assert not pdf.duplicated(["doc_id", "frame_idx"]).any()


def test_metadata_skips_payload_scan(spark):
    """Column pruning: a metadata-only projection over a parquet round-trip
    must not read the payload column (the reason metadata and payload are
    separate columns)."""
    import os
    import tempfile

    docs = load_table(spark, "documents", SF_CORRECT)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "media")
        mm.attach_binary_payload(docs).write.parquet(path)
        meta_only = spark.read.parquet(path).select("doc_id", "media_type")
        plan = meta_only._jdf.queryExecution().executedPlan().toString()
        assert "payload" not in plan


def test_resize_meta_fit_in_box(spark):
    from streamlit_projet_spark_streaming_spark.operators.multimodal import (
        attach_binary_payload,
        fake_decode_dims,
        resize_meta,
    )
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from .conftest import SF_CORRECT

    docs = load_table(spark, "documents", SF_CORRECT).limit(50)
    out = resize_meta(attach_binary_payload(docs)).collect()
    assert len(out) == 50
    for r in out:
        assert r.out_width <= 224 and r.out_height <= 224
        assert r.out_width <= r.width and r.out_height <= r.height
        # aspect preserved within integer truncation
        scale = min(224 / r.width, 224 / r.height, 1.0)
        assert r.out_width == int(r.width * scale)
        assert r.out_height == int(r.height * scale)


def test_extract_features_matches_python(spark):
    from streamlit_projet_spark_streaming_spark.operators.multimodal import (
        attach_binary_payload,
        extract_features,
    )
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from .conftest import SF_CORRECT

    docs = load_table(spark, "documents", SF_CORRECT).limit(20)
    got = {
        r.doc_id: list(r.features)
        for r in extract_features(attach_binary_payload(docs)).collect()
    }
    for row in docs.collect():
        payload = row.text.encode("utf-8")
        expect = [0] * 16
        for b in payload:
            expect[b // 16] += 1
        assert got[row.doc_id] == expect
