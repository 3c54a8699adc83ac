"""Degenerate rows through the STREAMING paths (r8 audit v4 extension).

The batch degenerate audit (``python tools/audit.py degenerate``) feeds
edge rows through all 303 registry entries, but streams do NOT pass through the catalog boundary where the batch
side excludes zero vectors and normalizes encodings — a live ingest
sees the raw row. These tests drive raw degenerate rows (zero
embedding vector; NULL/empty/whitespace/emoji documents; NULL, zero,
negative and 7e9-magnitude event values) through three representative
streaming operators and assert bit parity with the batch twin over the
SAME raw rows — the stream must neither crash nor diverge.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from streamlit_projet_spark_streaming_spark.operators import similarity as sim
from streamlit_projet_spark_streaming_spark.sources.catalog import load_table
from streamlit_projet_spark_streaming_spark.streaming import stateful as S
from tools.audit import build_fixture

from .conftest import SF_SMOKE
from .oracle_harness import canonical_rows


@pytest.fixture(scope="module")
def degen_dir(tmp_path_factory):
    # own dir: the CLI sweep may rebuild /tmp/degen_sf concurrently
    return build_fixture(str(tmp_path_factory.mktemp("degen_stream")))


def test_assign_cluster_stream_survives_zero_vector(spark, degen_dir, tmp_path):
    """Routing a raw stream containing a ZERO vector against the trained
    integer-grid codebook must not crash (the batch side filters zero
    vectors at the catalog boundary; a live ingest sees them) and must
    assign every vector exactly as the batch mapper does."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from streamlit_projet_spark_streaming_spark.operators.similarity import _gk_assign_mapper

    # codebook trained on the CLEAN catalog view (production shape)
    emb_clean = load_table(spark, "embeddings", SF_SMOKE)
    _, cents = sim.grid_kmeans(emb_clean, n_clusters=8, n_iter=2)
    cb_row = sim.kmeans_codebook_row(cents)

    # raw degenerate rows, NOT catalog-filtered: includes the zero vector
    raw = spark.read.parquet(os.path.join(degen_dir, "embeddings.parquet"))
    rows = raw.select("vec_id", "embedding").collect()
    assert any(
        all(float(x) == 0.0 for x in r["embedding"]) for r in rows
    ), "fixture must contain a zero vector"
    input_dir = str(tmp_path / "emb_in")
    os.makedirs(input_dir)
    with open(os.path.join(input_dir, "batch0.json"), "w") as f:
        for r in rows:
            f.write(
                json.dumps(
                    {
                        "vec_id": r["vec_id"],
                        "embedding": [float(x) for x in r["embedding"]],
                    }
                )
                + "\n"
            )

    stream = spark.readStream.schema("vec_id long, embedding array<float>").json(
        input_dir
    )
    q = (
        S.assign_cluster_stream(stream, cb_row)
        .select("vec_id", "centroid_id")
        .writeStream.format("memory")
        .queryName("degen_assign_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in spark.sql("SELECT * FROM degen_assign_out").collect()
    }

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("centroid_id", IntegerType()),
        ]
    )
    cb = cb_row.select(F.lit(1).alias("_one"), "cb")
    expect = {
        r["vec_id"]: r["centroid_id"]
        for r in raw.select(F.lit(1).alias("_one"), "vec_id", "embedding")
        .join(cb, "_one")
        .mapInPandas(_gk_assign_mapper(), schema)
        .select("vec_id", "centroid_id")
        .collect()
    }
    assert got == expect
    assert len(got) == len(rows), "every raw vector (incl. zero) is routed"


def test_near_dup_screen_survives_degenerate_docs(spark, degen_dir, tmp_path):
    """The streaming SimHash screen over a shard containing NULL, empty,
    whitespace-only, exotic-whitespace and emoji documents terminates and
    keeps exactly the docs the batch banded screen keeps."""
    from streamlit_projet_spark_streaming_spark.operators.dedup import (
        hamming_band_chunks,
        simhash_signatures,
    )

    corpus = (
        load_table(spark, "documents", SF_SMOKE)
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
    )
    corpus_sigs = simhash_signatures(corpus)

    raw_docs = (
        spark.read.parquet(os.path.join(degen_dir, "documents.parquet"))
        .select("doc_id", "text")
        .filter(F.col("doc_id") >= 900000)  # the injected edge rows
    )
    stream_pdf = raw_docs.toPandas()
    src = str(tmp_path / "nd_src")
    os.makedirs(src)
    stream_pdf.to_parquet(os.path.join(src, "batch.parquet"))
    out = str(tmp_path / "nd_out")
    ckpt = str(tmp_path / "nd_ckpt")

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = S.start_near_dup_screen(stream, corpus_sigs, out, ckpt)
    q.awaitTermination(120)
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}

    b_sigs = simhash_signatures(spark.createDataFrame(stream_pdf))
    bc = b_sigs.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*hamming_band_chunks("simhash", 60, 6))).alias("ch"),
    ).select("doc_id", "simhash", "ch.ci", "ch.cv")
    cc = corpus_sigs.select(
        F.col("doc_id").alias("c_id"), F.col("simhash").alias("c_sig")
    ).select(
        "c_id",
        "c_sig",
        F.explode(F.array(*hamming_band_chunks("c_sig", 60, 6))).alias("ch"),
    ).select("c_id", "c_sig", "ch.ci", "ch.cv")
    hits = (
        bc.join(cc, ["ci", "cv"])
        .filter(F.bit_count(F.col("simhash").bitwiseXOR(F.col("c_sig"))) <= 6)
        .select("doc_id")
        .distinct()
    )
    expect = {
        r["doc_id"]
        for r in spark.createDataFrame(stream_pdf)
        .join(hits, "doc_id", "left_anti")
        .collect()
    }
    assert kept == expect
    # none of the edge docs resemble the corpus; all survive the screen
    assert kept == set(stream_pdf["doc_id"])


def test_psi_monitor_survives_degenerate_values(spark, degen_dir, tmp_path):
    """The streaming PSI drift monitor scoring a micro-batch that carries
    NULL, zero, negative and 7e9-magnitude values terminates and emits
    the same PSI the batch scorer computes on the same raw rows."""
    ref = S.psi_value_buckets(
        load_table(spark, "events", SF_SMOKE).select("value")
    )

    raw_ev = spark.read.parquet(os.path.join(degen_dir, "events.parquet"))
    # NULL-complete split: the v9 NULL-event_id probe row satisfies
    # NEITHER `>= 900000` NOR `< 900000`, so a plain predicate pair
    # would silently lose it from the stream side (caught r8)
    degen_vals = raw_ev.filter(
        F.col("event_id").isNull() | (F.col("event_id") >= 900000)
    ).select("value")
    # one clean batch + the degenerate rows, as separate micro-batches
    input_dir = str(tmp_path / "psi_in")
    os.makedirs(input_dir)
    raw_ev.filter(F.col("event_id") < 900000).select("value").coalesce(
        1
    ).write.mode("append").json(input_dir)
    degen_vals.coalesce(1).write.mode("append").json(input_dir)

    out = str(tmp_path / "psi_out")
    ckpt = str(tmp_path / "psi_ckpt")
    stream = spark.readStream.schema("value double").json(input_dir)
    q = S.start_psi_monitor(stream, ref, out, ckpt)
    q.awaitTermination(120)

    # availableNow drains both files in one micro-batch: one emitted row
    # covering every raw value (a NULL value survives the JSON hop as an
    # empty object row), which must equal the batch scorer verbatim.
    got = spark.read.parquet(out).select("n_rows", "psi")
    expect = S.psi_against_reference(raw_ev.select("value"), ref).select(
        "n_rows", "psi"
    )
    assert canonical_rows(got.toPandas()) == canonical_rows(expect.toPandas())
    assert got.collect()[0]["n_rows"] == raw_ev.count()
