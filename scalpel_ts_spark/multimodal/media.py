"""Multimodal column plumbing: media as opaque binary + typed metadata.

The engine's document model interleaves text and media spans
(BASELINE.json input_hint: kind/text/media_ref/offset).  Media payload
bytes live in a ``binary`` column next to a typed metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages so payloads never round-trip through the driver
and each task holds only one Arrow batch of blobs at a time.

The actual codec step is STUBBED (no image/audio libs in this
container): :func:`decode_image` raises ``NotImplementedError``
unless ``fake=True``, in which case a deterministic byte-derived fake
decode runs — making every piece of the Spark-side plumbing (schema,
batching, partitioning, UDF signatures) real and testable.

Scale notes: blobs are the widest rows in the system; bound the
PYTHON-side working set by passing ``max_records_per_batch`` to
:func:`media_features` (it re-slices incoming Arrow batches INSIDE the
UDF — it deliberately does NOT touch the session-wide
``spark.sql.execution.arrow.maxRecordsPerBatch`` conf, so the
JVM->Python transfer batch is still the session's; scope that conf
yourself for very wide blob rows).  Also resize a media DF with
``df.repartition(..)`` by blob-size budget, not row count.  On a real
lakehouse the blob column is an Iceberg ``binary`` field with metadata
in the same row — one scan serves both filter-by-metadata (pruned,
cheap) and decode (expensive, only surviving rows).
"""

from __future__ import annotations

from collections.abc import Iterator
from hashlib import blake2b

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)


def attach_media_blob(
    df: DataFrame, ref_col: str = "media_ref", blob_col: str = "blob"
) -> DataFrame:
    """Sandbox blob source: deterministic bytes derived from the ref.

    (Production swaps this for an object-store fetch keyed by
    media_ref; everything downstream is unchanged.)
    """
    seed = F.md5(F.col(ref_col))
    # 128..352 deterministic pseudo-bytes: repeat the md5 digest; the
    # ascii-based count is mirrorable in the DuckDB oracle
    reps = F.pmod(F.ascii(F.substring(seed, 1, 1)), F.lit(8)) + F.lit(4)
    return df.withColumn(
        blob_col,
        F.to_binary(F.repeat(seed, reps), F.lit("utf-8")),
    )


def decode_image(blob: bytes, fake: bool = False):
    """Decode an image blob -> (width, height, pixels).

    STUB: real decoding needs PIL/libvips, absent in this container.
    ``fake=True`` yields a deterministic blob-derived shape so the
    distributed plumbing is exercised end-to-end.
    """
    if not fake:
        raise NotImplementedError(
            "image decode requires PIL/libvips (not in container); "
            "pass fake=True for the deterministic test decode"
        )
    h = blake2b(blob, digest_size=4).digest()
    return 16 + h[0] % 64, 16 + h[1] % 48, None


def media_features(
    df: DataFrame,
    ref_col: str = "media_ref",
    blob_col: str = "blob",
    fake_decode: bool = True,
    max_records_per_batch: int | None = None,
) -> DataFrame:
    """blob -> typed metadata struct via Arrow-batched mapInPandas.

    Output columns: everything in ``df`` minus the blob, plus
    MEDIA_META_SCHEMA fields.  mapInPandas (not a scalar UDF) so one
    task streams many small batches — bounded memory on wide blobs.

    ``max_records_per_batch`` caps the rows processed (and yielded)
    per pandas frame by re-slicing INSIDE the UDF.  It deliberately
    does NOT touch ``spark.sql.execution.arrow.maxRecordsPerBatch``:
    that is a session-wide conf read at execution time, and mutating
    it here would silently re-tune every later Arrow stage in the
    session (round-2 ADVICE).  The JVM->Python transfer size of the
    *incoming* batches remains governed by that session conf, which
    the caller owns and should scope explicitly if blob rows are so
    wide that even transfer must shrink.
    """
    keep = [f for f in df.schema.fields if f.name != blob_col]
    out_schema = StructType(
        keep
        + [
            StructField("mime", StringType()),
            StructField("n_bytes", LongType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("n_frames", IntegerType()),
        ]
    )
    keep_names = [f.name for f in keep]

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for full in batches:
            step = max_records_per_batch or len(full) or 1
            for lo in range(0, len(full), step):
                pdf = full.iloc[lo : lo + step]
                blobs = pdf[blob_col]
                mimes, nbytes, widths, heights, frames = [], [], [], [], []
                for b in blobs:
                    if b is None:
                        mimes.append(None)
                        nbytes.append(None)
                        widths.append(None)
                        heights.append(None)
                        frames.append(None)
                        continue
                    w, h, _ = decode_image(bytes(b), fake=fake_decode)
                    mimes.append("image/x-fake")
                    nbytes.append(len(b))
                    widths.append(w)
                    heights.append(h)
                    frames.append(1 + len(b) % 7)
                out = pdf[keep_names].copy()
                out["mime"] = mimes
                out["n_bytes"] = pd.array(nbytes, dtype="Int64")
                out["width"] = pd.array(widths, dtype="Int32")
                out["height"] = pd.array(heights, dtype="Int32")
                out["n_frames"] = pd.array(frames, dtype="Int32")
                yield out

    return df.mapInPandas(_extract, out_schema)


def frame_sample(
    df: DataFrame,
    every_n: int = 2,
    blob_col: str = "blob",
    ref_col: str = "media_ref",
) -> DataFrame:
    """Deterministic frame sampling stub: split the blob into fixed
    32-byte 'frames' and keep every ``every_n``-th.  Output one row
    per kept frame (ref, frame_idx, frame_bytes) — the real video
    path swaps the splitter for a demuxer, same shape."""
    out_schema = StructType(
        [
            StructField("media_ref", StringType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame", BinaryType()),
        ]
    )

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs, idxs, frames = [], [], []
            for ref, b in zip(pdf[ref_col], pdf[blob_col]):
                if b is None:
                    continue
                b = bytes(b)
                for i in range(0, max(1, len(b) // 32), every_n):
                    refs.append(ref)
                    idxs.append(i)
                    frames.append(b[i * 32 : (i + 1) * 32])
            yield pd.DataFrame(
                {"media_ref": refs, "frame_idx": idxs, "frame": frames}
            )

    return df.mapInPandas(_sample, out_schema)
