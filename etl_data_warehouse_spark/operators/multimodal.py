"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
typed metadata struct; decode / feature-extract / resize / frame-sample
run as Arrow-batched pandas functions over ``mapInPandas`` (the only
place Python touches row data in this engine — and it is vectorized).

The actual media codecs (PIL / librosa / av) are NOT in this container,
so the decode step is STUBBED: ``decode_image`` raises NotImplementedError
unless the codec import succeeds, and ``extract_features`` uses a
deterministic byte-level fake decode. The Spark-side plumbing — schema,
Arrow batch shapes, partitioning, UDF signatures — is real and tested.

100 TB posture: payloads dominate bytes; keep them in their own parquet
column (column pruning means metadata-only queries never read bytes),
partition by (media_type, date), and size maxPartitionBytes so one
Arrow batch of payloads fits executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("declared_bytes", T.LongType()),
                    T.StructField("source", T.StringType()),
                    T.StructField("format", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_mean", T.DoubleType()),
        T.StructField("byte_histogram", T.ArrayType(T.LongType())),
    ]
)

_FORMATS = {"image": "png", "audio": "wav", "video": "mp4"}


def decode_image(payload: bytes):
    """Decode an image payload. STUB: requires PIL (not in container)."""
    try:
        from PIL import Image  # noqa: F401
        import io

        return Image.open(io.BytesIO(payload))
    except ImportError as e:
        raise NotImplementedError(
            "image decode requires PIL, which is not available in this "
            "environment; use extract_features() for the deterministic "
            "byte-level path"
        ) from e


def fake_assets(docs: DataFrame) -> DataFrame:
    """Fabricate a multimodal asset table from documents: the UTF-8 text
    bytes play the opaque payload; media_type cycles deterministically."""
    media = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        media.alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.length("text").cast("long").alias("declared_bytes"),
            F.col("source").alias("source"),
            media.alias("format"),
        ).alias("meta"),
    )


def extract_features(assets: DataFrame, hist_bins: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The 'decode' is a deterministic byte-level fake (length, mean byte,
    coarse byte histogram) standing in for pixel/sample decoding; the
    mapInPandas batch shape and schema contract are the real thing.
    """
    import numpy as np
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            payloads = pdf["payload"]
            n_bytes, means, hists = [], [], []
            for p in payloads:
                arr = np.frombuffer(p, dtype=np.uint8)
                n_bytes.append(int(arr.size))
                # exact integer sum / size: bit-reproducible by any engine
                # (numpy's float mean would differ in ulps from a SQL fold)
                means.append(
                    float(int(arr.sum(dtype=np.int64))) / arr.size
                    if arr.size
                    else 0.0
                )
                hist, _ = np.histogram(arr, bins=hist_bins, range=(0, 256))
                hists.append([int(x) for x in hist])
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": n_bytes,
                    "byte_mean": means,
                    "byte_histogram": hists,
                }
            )

    para = assets.sparkSession.sparkContext.defaultParallelism
    return assets.repartition(para, "asset_id").mapInPandas(
        batches, FEATURE_SCHEMA
    )


def sample_frames(assets: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' twin: slice the payload every N bytes (stands in
    for video frame extraction), exploding to one row per sample —
    demonstrates the 1→many multimodal fan-out shape in pure Spark.

    Byte-exact: the frame count uses the payload's BINARY length and the
    probe slices the raw bytes (hex-encoded so the probe survives
    non-UTF-8 frame boundaries) — a string cast would count/slice by
    CHARACTERS and drift from the byte frame grid on multi-byte text.
    """
    n_samples = F.floor(F.length("payload") / every_n_bytes).cast("int")
    return (
        assets.filter(F.col("media_type") == "video")
        .select(
            "asset_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(n_samples - 1, F.lit(0))),
                    lambda i: F.hex(
                        F.substring(
                            F.col("payload"),
                            (i * every_n_bytes + 1).cast("int"),
                            8,
                        )
                    ),
                )
            ).alias("frame_idx", "frame_probe"),
        )
    )
