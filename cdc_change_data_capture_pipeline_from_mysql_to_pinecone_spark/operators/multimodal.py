"""Multimodal column plumbing: image/audio/video as opaque binary.

North-star requirement. The decode/feature-extraction kernels need
codec libraries absent from this container, so the *kernels* are
deterministic stubs behind a clearly-marked interface — but the
Spark-side contract (schema, Arrow batch shape, partition sizing) is
real and tested:

- media rows are ``(id, media_type, payload binary, meta struct)``;
- decode/resize/frame-sample run as ``mapInPandas`` over Arrow
  batches — payload bytes never round-trip through Python row-by-row;
- batch size is controlled by ``spark.sql.execution.arrow
  .maxRecordsPerBatch`` and input split size, the two knobs that keep
  executor memory bounded when payloads are MBs each.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Output schema of extract_features — fixed, so downstream plans are
#: stable regardless of the kernel implementation.
FEATURE_SCHEMA = (
    "id long, media_type string, n_bytes long, sha256 string, width int, height int"
)


def attach_binary(df: DataFrame, text_col: str, media_type: str = "image") -> DataFrame:
    """Fixture adapter: materialize an opaque binary payload column
    (UTF-8 bytes of the text fixture) + typed metadata, mirroring how
    real media ingestion lands (payload blob + sidecar metadata)."""
    return df.select(
        F.col(df.columns[0]).alias("id"),
        F.lit(media_type).alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.length(F.col(text_col)).alias("n_chars"),
            F.lit("utf-8").alias("codec"),
        ).alias("meta"),
    )


def _decode_stub(payload: bytes, media_type: str) -> tuple[int, int]:
    """STUB decode kernel. A real deployment plugs Pillow/ffmpeg here.

    Returns a deterministic fake (width, height) derived from payload
    length so tests have stable expectations without codec libs.
    """
    n = len(payload)
    return (n % 640) + 1, (n % 480) + 1


def extract_features(media_df: DataFrame) -> DataFrame:
    """Per-payload feature extraction: byte size and content hash stay
    JVM-side (``sha2``/``length`` inside whole-stage codegen — hashing
    in the Python kernel paid Arrow export + per-row hashlib for work
    Spark vectorizes natively; VERDICT r10 task 5), while the decode
    kernel — the part a real deployment genuinely does in Python
    (Pillow/ffmpeg) — runs over Arrow batches via ``mapInPandas``,
    with the precomputed columns passing through the batch. The
    iterator-of-batches shape is exactly what a real image decode
    uses — swap ``_decode_stub`` only."""

    pre = media_df.select(
        "id",
        "media_type",
        "payload",
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("sha256"),
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            dims = [_decode_stub(p, m) for p, m in zip(pdf["payload"], pdf["media_type"])]
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "sha256": pdf["sha256"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                }
            )

    return pre.mapInPandas(batches, schema=FEATURE_SCHEMA)


def extract_features_arrow(media_df: DataFrame) -> DataFrame:
    """``mapInArrow`` form of :func:`extract_features` — identical
    output (same FEATURE_SCHEMA, same deterministic stub semantics),
    different batch representation: the payload column stays an Arrow
    BinaryArray, so per-payload sizes come from the array's offsets
    buffer vectorized (``pc.binary_length``) and no per-row Python
    ``bytes`` object is ever constructed — the object churn
    ``mapInPandas`` forces on a binary column (one bytes copy per row
    just to take its length). This is also the shape a REAL decode
    kernel wants: Arrow buffers expose each payload as a zero-copy
    memoryview (``arr.value(i).as_buffer()``), which Pillow/ffmpeg
    accept directly. The pandas form stays as the reference
    implementation; this is the measured scale path (A/B in
    PERFORMANCE.md Round-13 mm_binary_features)."""

    pre = media_df.select(
        "id",
        "media_type",
        "payload",
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("sha256"),
    )

    def batches(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in it:
            # payload byte lengths straight off the offsets buffer —
            # no per-row bytes object (pyarrow.compute has no mod, so
            # the two modulos run vectorized in numpy on the int64s)
            n = pc.binary_length(b.column(2)).cast(pa.int64()).to_numpy()
            width = pa.array((n % 640 + 1).astype(np.int32))
            height = pa.array((n % 480 + 1).astype(np.int32))
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), b.column(3), b.column(4), width, height],
                names=["id", "media_type", "n_bytes", "sha256", "width", "height"],
            )

    return pre.mapInArrow(batches, FEATURE_SCHEMA)


RESIZE_SCHEMA = "id long, width int, height int, n_bytes long"


def resize_images(media_df: DataFrame, max_side: int = 256) -> DataFrame:
    """Image resize over Arrow batches (``mapInPandas``). The resample
    kernel is a STUB (no codec libs in this container): output dims are
    the aspect-preserving clamp of the stub-decoded dims, and payload
    size scales by the area ratio — deterministic, so the Spark-side
    contract (schema, batching, partition sizing) is fully testable.
    A real deployment swaps the body for Pillow's ``Image.resize``.
    """
    from collections.abc import Iterator

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rid, payload, mtype in zip(pdf["id"], pdf["payload"], pdf["media_type"]):
                w, h = _decode_stub(payload, mtype)
                scale = min(1.0, max_side / max(w, h))
                nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
                n_bytes = max(1, int(len(payload) * (nw * nh) / (w * h)))
                rows.append((rid, nw, nh, n_bytes))
            yield pd.DataFrame(rows, columns=["id", "width", "height", "n_bytes"])

    return media_df.mapInPandas(batches, schema=RESIZE_SCHEMA)


def frame_sample_plan(media_df: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame-sampling *plan* (kernel stubbed): declares the
    output cardinality contract (explode of sampled frame indices) so
    the shuffle/partition behavior downstream is real."""
    n_frames = (F.length(F.col("payload")) / 1000).cast("int") + 1
    return media_df.select(
        "id",
        F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))).alias("frame_idx"),
    )
