"""Multimodal columns: image/audio/video as opaque `binary` + typed
metadata, processed by Arrow-batched Pandas functions over mapInPandas.

The decode step needs codec libraries (PIL/ffmpeg/torchaudio) that are
NOT in this container, so the codec call itself is stubbed behind
`NotImplementedError` -- but everything Spark-side is real and tested:
the schema contract, the mapInPandas batch shape (pd.DataFrame in/out),
the output feature schema, and partition behavior. Swapping the stub for
a real decoder changes one function body, not the pipeline.

Scale: mapInPandas streams Arrow batches; binary payloads never transit
Python row-at-a-time. Feature extraction is embarrassingly parallel per
partition -- no shuffle until a later aggregate.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# the media-document schema: opaque payload + typed metadata
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("byte_entropy", DoubleType()),
        StructField("histogram", ArrayType(DoubleType())),  # 8-bin byte histogram
    ]
)


def decode_image(payload: bytes) -> object:
    """REAL DECODE STUB: needs an image codec (PIL/turbojpeg) that is not
    installed here. The pipeline around it is fully wired."""
    raise NotImplementedError("image codec not available in this environment")


def _byte_features(payload: bytes) -> tuple[int, float, list[float]]:
    """Deterministic stand-in features computed from raw bytes (entropy +
    8-bin histogram) -- the shape a real decoder's featurizer returns.

    Counting is vectorized (r13, guide §4.2: hand whole buffers to
    native code, never loop bytes in the interpreter) -- bincount over
    the byte buffer yields the IDENTICAL integers the per-byte Python
    loop produced, and the 8-term entropy fold keeps its exact
    arithmetic order, so outputs are bit-identical."""
    import math

    import numpy as np

    n = len(payload)
    if n == 0:
        return 0, 0.0, [0.0] * 8
    counts = np.bincount(
        np.frombuffer(payload, dtype=np.uint8) >> 5, minlength=8
    ).tolist()
    hist = [c / n for c in counts]
    ent = -sum(p * math.log2(p) for p in hist if p > 0)
    return n, ent, hist


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas featurizer: Arrow batches in, feature rows out."""
    from testlog_etl_spark.util import spread

    media = spread(media)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            feats = [_byte_features(p if p is not None else b"") for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [f[0] for f in feats],
                    "byte_entropy": [f[1] for f in feats],
                    "histogram": [f[2] for f in feats],
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing over mapInPandas: Arrow batches of binary payloads
    in, resized payloads + updated metadata out. The pixel resample is the
    stubbed codec step -- here a DETERMINISTIC FAKE (payload passthrough,
    metadata rewrite) so batch shape, schema, and partition behavior are
    real and testable; a real implementation replaces `_fake_resize` with
    decode -> resample -> re-encode on the same (bytes) -> bytes contract."""

    def _fake_resize(payload: bytes, w: int, h: int) -> bytes:
        # DETERMINISTIC FAKE (no codec in this container): a real resize
        # returns re-encoded bytes; shape-wise identical to passthrough
        return payload

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "payload": [
                        _fake_resize(p if p is not None else b"", width, height)
                        for p in pdf["payload"]
                    ],
                    "width": width,
                    "height": height,
                }
            )

    return media.filter(F.col("kind") == "image").mapInPandas(run, RESIZED_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing: one row per sampled timestamp with the
    payload reference; the actual frame grab is the stubbed codec call.
    The explode is the real Spark shape (fan-out before decode)."""
    ts = F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms))
    return (
        media.filter(F.col("kind") == "video")
        .withColumn("frame_ms", F.explode(ts))
        .select("media_id", "mime", "frame_ms", F.length("payload").alias("n_bytes"))
    )


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as opaque payloads so the
    multimodal path has real data to run against in this sandbox."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


SCENE_CUT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_cuts", LongType()),
        StructField("first_cut_idx", LongType()),
    ]
)


def detect_scene_cuts(
    media: DataFrame, every_ms: int = 250, threshold: int = 32
) -> DataFrame:
    """Shot-boundary plumbing over mapInPandas: per sampled frame a
    scalar signature stands in for the decoded-frame histogram (the
    codec itself is the stubbed step, like resize_images); a cut is a
    frame whose signature jumps more than `threshold` from the previous
    frame. The DETERMINISTIC FAKE signature is the payload byte at
    offset (idx * 97) mod n_bytes -- integer-exact, so the whole
    cascade is oracle-checkable while the Arrow batch shape, schema,
    and per-media sequential scan mirror a real detector. A real
    implementation replaces `_sig` with decode -> per-frame histogram
    on the same (bytes, idx) -> float contract."""
    from testlog_etl_spark.util import spread

    media = spread(media)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        out = {k: [] for k in ("media_id", "n_frames", "n_cuts", "first_cut_idx")}
        for pdf in batches:
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                payload = payload or b""
                if len(payload) == 0 or dur is None or dur <= 0:
                    continue
                n_frames = int(dur - 1) // every_ms + 1
                # vectorized per-frame signature + diff scan (r13,
                # §4.2): integer-exact, identical cuts to the old
                # per-frame Python loop
                arr = np.frombuffer(payload, dtype=np.uint8)
                sig = arr[(np.arange(n_frames, dtype=np.int64) * 97) % len(payload)]
                jump = np.abs(np.diff(sig.astype(np.int64))) > threshold
                n_cuts = int(jump.sum())
                first = int(np.argmax(jump)) + 1 if n_cuts > 0 else None
                out["media_id"].append(mid)
                out["n_frames"].append(n_frames)
                out["n_cuts"].append(n_cuts)
                out["first_cut_idx"].append(first)
            yield pd.DataFrame(out)
            out = {k: [] for k in out}

    return media.mapInPandas(run, SCENE_CUT_SCHEMA)
