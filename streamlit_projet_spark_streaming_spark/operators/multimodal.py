"""Multimodal-column plumbing (extension layer): opaque binary payloads +
typed metadata, processed with Arrow-batched ``mapInPandas``.

Design (per the north star): image/audio/video travel as ``binary`` columns
with metadata columns beside them. Decode / feature-extract runs in
``mapInPandas`` — Arrow batch transfer, pandas inside, never row-at-a-time
Python. The actual codec step is STUBBED (image/audio libs are not in this
container): the deterministic fake decoder ``fake_decode_dims`` exercises
the identical Spark plumbing (schema, batching, partitioning), so swapping
in a real codec changes one function.

Scale notes:
- ``mapInPandas`` is a narrow transformation: no shuffle, parallel per
  input partition; binary-heavy tables should set
  ``spark.sql.files.maxPartitionBytes`` low enough that a partition of
  payloads fits executor memory.
- Metadata-only queries NEVER touch the payload column: parquet column
  pruning skips the heavy bytes entirely (the reason payload and metadata
  live in separate columns).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .relational import spread_if_few_splits as _spread
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Output schema of metadata extraction.
MEDIA_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("sha256", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_sha256", StringType(), False),
    ]
)


def fake_decode_dims(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for decode: dims derived from byte length.

    Chosen to be SQL-expressible (width = n % 640 + 1, height = n % 480
    + 1) so even the Pandas-UDF path is oracle-checkable end to end.
    """
    n = len(payload)
    return n % 640 + 1, n % 480 + 1


def attach_binary_payload(documents: DataFrame) -> DataFrame:
    """Fixture adapter: treat each document's utf-8 bytes as an opaque
    media payload (the fixtures ship no real media; the engine-side
    contract — binary column + media_type — is what matters).

    NULL-text rows are excluded HERE: a media table has no NULL
    payloads (an absent/undecodable asset is dropped at ingest), and a
    None reaching the Arrow mappers crashes fake_decode_dims/sha256
    (r8 NULL-injection audit). Oracle twins carry the matching
    ``text IS NOT NULL``."""
    return documents.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("image/fake").alias("media_type"),
    )


def extract_media_metadata(media: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction over the binary column.

    mapInPandas generator: one pandas DataFrame per Arrow batch in, one
    out — constant memory per batch, no shuffle.
    """

    def _extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = pdf["payload"]
            dims = [fake_decode_dims(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(p) for p in payloads],
                    "sha256": [hashlib.sha256(p).hexdigest() for p in payloads],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                }
            )

    # Spread across Python workers: decode/hash is CPU-bound and a small
    # media table arrives as one input split, which would pin the whole
    # Arrow pipeline to a single worker. With many real splits the
    # conditional spread skips its shuffle entirely; if payload-size
    # skew across splits matters at that scale, add an explicit
    # repartition at the call site.
    return _spread(media).mapInPandas(_extract, MEDIA_META_SCHEMA)


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: each payload
    yields k = (n_bytes mod max_frames)+1 deterministic 'frames'
    (sha256 of payload+index). Real codec would decode at timestamps;
    the explode shape, schema, and batching are identical."""
    max_frames = 3

    def _sample(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out_ids, out_idx, out_sha = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                k = len(payload) % max_frames + 1
                for i in range(k):
                    out_ids.append(doc_id)
                    out_idx.append(i)
                    out_sha.append(
                        hashlib.sha256(payload + bytes([i])).hexdigest()
                    )
            yield pd.DataFrame(
                {"doc_id": out_ids, "frame_idx": out_idx, "frame_sha256": out_sha}
            )

    # same single-split spread as extract_media_metadata
    return _spread(media).mapInPandas(_sample, FRAME_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("out_width", IntegerType(), False),
        StructField("out_height", IntegerType(), False),
    ]
)


def resize_meta(media: DataFrame) -> DataFrame:
    """Resize planning for image-like payloads: fit-in-box output dims
    (aspect-preserving, never upscale) from the decoded dimensions. The
    decode is the deterministic stub (``fake_decode_dims``); a real
    deployment swaps the decode AND adds the resample inside the same
    mapInPandas — the plumbing (schema, batching, arithmetic) is what
    this exercises, and it is SQL-expressible so the oracle checks it
    end to end.
    """
    max_w = 224
    max_h = 224

    def _plan(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h = fake_decode_dims(payload)
                scale = min(max_w / w, max_h / h, 1.0)
                rows.append((doc_id, w, h, int(w * scale), int(h * scale)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "out_width", "out_height"]
            )

    return _spread(media).mapInPandas(_plan, RESIZE_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Feature extraction over the binary payload: a byte-value histogram
    (n_bins buckets over 0-255) as an ``array<long>`` feature vector —
    REAL computation (numpy bincount per Arrow batch), the stand-in for
    an embedding model forward pass; swapping in a model changes only the
    function body, not the Spark plumbing (schema, batching, partition
    spread)."""
    from pyspark.sql.types import ArrayType

    n_bins = 16
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("features", ArrayType(LongType()), False),
        ]
    )
    width = 256 // n_bins

    def _feat(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            feats = [
                np.bincount(
                    np.frombuffer(p, dtype=np.uint8) // width, minlength=n_bins
                )[:n_bins].tolist()
                for p in pdf["payload"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return _spread(media).mapInPandas(_feat, schema)
