"""Multimodal columns: opaque binary payloads + typed metadata, with
Arrow-batched decode/feature-extract plumbing.

North-star extension (SURVEY.md §2.9). Media bytes travel as a
``binary`` column next to a typed metadata struct; decode /
feature-extraction runs in ``mapInPandas`` so bytes cross to Python
once per Arrow batch, never per row. The image/audio libraries are not
available in this environment, so the actual codec step is STUBBED:

- ``decode_image_batches`` (default) — a deterministic fake that
  REALLY consumes the payload bytes (length + byte-sum checksum) so
  the Spark-side plumbing (binary column → Arrow → pandas → struct
  result schema) is exercised and oracle-checkable end to end.
- ``decode_image_batches_real`` — the real path, gated behind an
  import-try; raises ``NotImplementedError`` here by design.

Scale notes: payload columns dominate row width, so every query
selects them LAST and only when decoding (column pruning keeps scans
payload-free otherwise); decode parallelism = partition count, state
none; the Arrow batch size bounds Python memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..shipping import ensure_package_shipped

# Result schema of the (fake) image decode: plumbing-real, codec-fake.
DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_sum", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_frames", T.LongType()),
    ]
)


def attach_payload(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Model a media table: (id, payload: binary, meta: struct).

    The testdata has no binary table, so the document text doubles as
    the payload bytes (UTF-8). The schema/partitioning shape is what a
    real image table looks like: id + opaque bytes + typed metadata.
    """
    return docs.select(
        F.col(id_col),
        F.col(text_col).cast("binary").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.octet_length(text_col).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _fake_decode(doc_id: int, mime: str, payload: bytes) -> dict:
    n = len(payload)
    return {
        "doc_id": doc_id,
        "mime": mime,
        "n_bytes": n,
        # Proof the bytes actually reached Python: a content checksum.
        "byte_sum": sum(payload),
        # Deterministic fake dimensions/frames derived from length.
        "width": 64 + n % 577,
        "height": 64 + (n * 31) % 577,
        "n_frames": 1 + n % 7,
    }


def decode_image_batches(
    it: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas decode kernel (deterministic fake codec)."""
    for pdf in it:
        yield pd.DataFrame.from_records(
            [
                _fake_decode(r.doc_id, r.meta["mime"], bytes(r.payload))
                for r in pdf.itertuples(index=False)
            ],
            columns=[f.name for f in DECODED_SCHEMA.fields],
        )


def decode_image_batches_real(
    it: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Real codec path — requires PIL, absent in this container."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "real image decode needs PIL; use decode_image_batches (fake)"
        ) from e
    raise NotImplementedError("real decode not implemented in this build")


def decode_images(media: DataFrame) -> DataFrame:
    """Run the decode kernel over a payload table."""
    ensure_package_shipped(media.sparkSession)
    return media.mapInPandas(decode_image_batches, schema=DECODED_SCHEMA)


# --- frame sampling (video-style 1 → N expansion) -------------------------

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_offset_bytes", T.LongType()),
        T.StructField("frame_checksum", T.LongType()),
    ]
)


def _sample_frame_batches(
    it: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel with 1→N output shape: each payload emits one
    row per sampled "frame" (fixed stride over the byte stream; the
    checksum proves each frame's bytes were read). The real video
    decoder drops in here; the Spark-side contract — expansion inside
    the Arrow batch, no explode of a materialized array — is the part
    that matters at scale (frames never exist as a driver- or
    row-level collection)."""
    stride = 256
    for pdf in it:
        recs = []
        for r in pdf.itertuples(index=False):
            payload = bytes(r.payload)
            for idx, off in enumerate(range(0, len(payload), stride)):
                chunk = payload[off : off + stride]
                recs.append(
                    {
                        "doc_id": r.doc_id,
                        "frame_idx": idx,
                        "frame_offset_bytes": off,
                        "frame_checksum": sum(chunk),
                    }
                )
        yield pd.DataFrame.from_records(
            recs, columns=[f.name for f in FRAME_SCHEMA.fields]
        )


def sample_frames(media: DataFrame) -> DataFrame:
    ensure_package_shipped(media.sparkSession)
    return media.mapInPandas(_sample_frame_batches, schema=FRAME_SCHEMA)


# --- resize (binary in → binary OUT through Arrow) ------------------------

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_width", T.LongType()),
        T.StructField("out_height", T.LongType()),
        T.StructField("n_bytes_out", T.LongType()),
        T.StructField("resized_payload", T.BinaryType()),
        T.StructField("resized_checksum", T.LongType()),
    ]
)


def resize_images(
    media: DataFrame, target_width: int = 64, target_height: int = 64
) -> DataFrame:
    """Resize kernel: the Spark-side contract a real thumbnailer needs —
    binary in AND binary OUT through the same Arrow batch (the output
    payload column is the part decode/frame-sample don't exercise).

    Fake codec: deterministic stride-decimation of the byte stream to
    exactly ``target_width*target_height`` bytes (shorter payloads
    zero-pad), with a checksum of the emitted bytes. A real
    PIL.Image.resize drops into the same kernel (import-gated like
    ``decode_image_batches_real``); partitioning, batch shape, and
    memory bounds are identical either way.
    """
    out_n = target_width * target_height

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for r in pdf.itertuples(index=False):
                payload = bytes(r.payload)
                n = len(payload)
                stride = max(1, n // out_n)
                resized = payload[::stride][:out_n]
                if len(resized) < out_n:
                    resized = resized + b"\x00" * (out_n - len(resized))
                recs.append(
                    {
                        "doc_id": r.doc_id,
                        "out_width": target_width,
                        "out_height": target_height,
                        "n_bytes_out": len(resized),
                        "resized_payload": resized,
                        "resized_checksum": sum(resized),
                    }
                )
            yield pd.DataFrame.from_records(
                recs, columns=[f.name for f in RESIZED_SCHEMA.fields]
            )

    ensure_package_shipped(media.sparkSession)
    return media.mapInPandas(kernel, schema=RESIZED_SCHEMA)


# --- feature extraction (payload → embedding vector) ----------------------

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def _feature_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: payload → fixed-width float vector (16-bin
    normalized byte histogram). The fake "feature extractor" is
    deterministic and cheap; the CONTRACT is the real one — a media
    embedding model emits exactly this shape (id, array<float>) — so
    its output plugs straight into the knn operators (brute force /
    LSH / IVF) without adaptation."""
    import numpy as np

    for pdf in it:
        recs = []
        for r in pdf.itertuples(index=False):
            payload = bytes(r.payload)
            arr = np.frombuffer(payload, dtype=np.uint8)
            hist = np.bincount(arr >> 4, minlength=FEATURE_DIM).astype(
                np.float64
            )
            total = hist.sum()
            vec = (hist / total if total else hist).astype(np.float32)
            recs.append(
                {
                    "doc_id": r.doc_id,
                    "n_bytes": len(payload),
                    "features": vec.tolist(),
                }
            )
        yield pd.DataFrame.from_records(
            recs, columns=[f.name for f in FEATURES_SCHEMA.fields]
        )


def extract_features(media: DataFrame) -> DataFrame:
    """(doc_id, n_bytes, features: array<float>[16]) — the multimodal →
    similarity-search bridge: run this, rename to (vec_id, embedding),
    and every ANN operator (knn.py) consumes it directly."""
    ensure_package_shipped(media.sparkSession)
    return media.mapInPandas(_feature_batches, schema=FEATURES_SCHEMA)
