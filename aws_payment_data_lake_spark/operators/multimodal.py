"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The container has no image/audio codecs, so the DECODE step is a
deterministic stub (byte stats standing in for pixel decoding) — but the
Spark plumbing is the real thing a multimodal pipeline needs and is fully
exercised: a binary column, an Arrow-batched ``mapInPandas`` decoder with
an explicit output schema, and partition-friendly batch shapes. Swapping
``_decode_batch`` for PIL/ffmpeg is a one-function change.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from aws_payment_data_lake_spark.operators.spread import spread_narrow_scan

DECODED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("checksum", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary column (UTF-8 bytes of text, standing in
    for an image/audio blob) plus typed metadata columns.

    The repartition is GATED on input parallelism: locally a single
    parquet file arrives as 1-2 splits and would starve 32 cores, so we
    spread it; at production scale the scan already yields thousands of
    file splits and a full-table shuffle "to spread parsing" would be
    pure waste (round-1 verdict)."""
    shuffle_n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    out = spread_narrow_scan(docs, "doc_id", target=shuffle_n,
                             threshold=(shuffle_n + 1) // 2)
    return out.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime_type"),
    )


def _segment_sums(concat: "object", starts: "object", lens: "object"):
    """Per-segment byte sums over one concatenated buffer, fully
    vectorized: one reduceat over the nonempty segments (empty segments
    occupy no bytes, so consecutive nonempty starts still bound exactly
    the right slices)."""
    import numpy as np

    sums = np.zeros(len(lens), dtype=np.int64)
    nonempty = lens > 0
    if nonempty.any():
        sums[nonempty] = np.add.reduceat(concat.astype(np.int64),
                                         starts[nonempty])
    return sums


def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic fake decoder (REAL codec would go here; see module
    docstring). Fully vectorized per Arrow batch: one buffer concat, one
    cumsum for offsets, one np.add.reduceat for all checksums — zero
    per-row Python (the round-1 version mapped a Python lambda per row
    and was the slowest query on the bench)."""
    import numpy as np
    for pdf in batches:
        payloads = pdf["payload"].tolist()
        lens = np.fromiter((len(b) for b in payloads), dtype=np.int64,
                           count=len(payloads))
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        concat = np.frombuffer(b"".join(payloads), dtype=np.uint8)
        checksum = _segment_sums(concat, starts, lens)
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "n_bytes": lens.astype("int32"),
            "checksum": checksum,
            "width": (checksum % 640 + 1).astype("int32"),
            "height": (checksum // 640 % 480 + 1).astype("int32"),
        })


def decode_payloads(with_payload: DataFrame) -> DataFrame:
    """Run the stub decoder via mapInPandas (Arrow batch transfer)."""
    return with_payload.mapInPandas(_decode_batch, schema=DECODED_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_bytes", T.IntegerType()),
    T.StructField("frame_checksum", T.LongType()),
])

N_FRAMES = 4


def _frame_sample_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic fake frame sampler (a REAL video codec would seek
    keyframes here): split each payload into N_FRAMES even byte slices
    (remainder to the last frame) and emit one row per frame with its
    byte checksum — the explode-shaped output every frame-level feature
    extractor needs. Vectorized like _decode_batch: frame slices tile the
    concatenated buffer contiguously (quarters within a doc, docs in
    order), so one reduceat covers every frame of every doc."""
    import numpy as np
    for pdf in batches:
        payloads = pdf["payload"].tolist()
        n = len(payloads)
        lens = np.fromiter((len(b) for b in payloads), dtype=np.int64,
                           count=n)
        doc_starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=doc_starts[1:])
        concat = np.frombuffer(b"".join(payloads), dtype=np.uint8)

        flen = lens // N_FRAMES
        idxs = np.tile(np.arange(N_FRAMES, dtype=np.int64), n)
        fstarts = np.repeat(doc_starts, N_FRAMES) + idxs * np.repeat(flen, N_FRAMES)
        fends = fstarts + np.repeat(flen, N_FRAMES)
        # last frame absorbs the remainder
        fends[idxs == N_FRAMES - 1] = np.repeat(doc_starts + lens, N_FRAMES)[
            idxs == N_FRAMES - 1]
        fsizes = fends - fstarts
        sums = _segment_sums(concat, fstarts, fsizes)
        yield pd.DataFrame({
            "doc_id": np.repeat(pdf["doc_id"].to_numpy(), N_FRAMES),
            "frame_idx": idxs.astype("int32"),
            "frame_bytes": fsizes.astype("int32"),
            "frame_checksum": sums,
        })


def frame_sample(with_payload: DataFrame) -> DataFrame:
    """Per-frame rows from binary payloads via mapInPandas."""
    return with_payload.mapInPandas(_frame_sample_batch, schema=FRAME_SCHEMA)


EMBED_DIM = 16

EMBED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


def _feature_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic fake feature extractor (a REAL vision/audio encoder
    would go here): a 16-bucket byte-value histogram per payload,
    L2-normalized — the (doc_id, embedding) shape the similarity tier
    consumes. One np.bincount over (row_index * 16 + byte_bucket) covers
    every row of the batch; zero per-row Python."""
    import numpy as np
    for pdf in batches:
        payloads = pdf["payload"].tolist()
        n = len(payloads)
        lens = np.fromiter((len(b) for b in payloads), dtype=np.int64,
                           count=n)
        concat = np.frombuffer(b"".join(payloads), dtype=np.uint8)
        row_of_byte = np.repeat(np.arange(n, dtype=np.int64), lens)
        flat = row_of_byte * EMBED_DIM + (concat.astype(np.int64) // EMBED_DIM)
        hist = np.bincount(flat, minlength=n * EMBED_DIM).reshape(
            n, EMBED_DIM).astype(np.float64)
        norms = np.linalg.norm(hist, axis=1)
        norms[norms == 0] = 1.0  # empty payload -> zero vector, not NaN
        emb = (hist / norms[:, None]).astype(np.float32)
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "embedding": list(emb),
        })


def feature_extract(with_payload: DataFrame) -> DataFrame:
    """Payload -> L2-normalized EMBED_DIM embedding via mapInPandas;
    output plugs directly into operators.similarity (brute-force / IVF
    top-k over an ``embedding`` column)."""
    return with_payload.mapInPandas(_feature_batch, schema=EMBED_SCHEMA)
