"""Multimodal (image/audio/video) column plumbing.

Design: media travel as opaque ``binary`` columns plus a typed metadata
struct — the 100 TB-safe layout (no driver-side bytes, columnar
storage, metadata predicates push down while blobs are lazily read).

Decode / feature-extraction runs as Arrow-batched ``mapInPandas``: the
Spark side (schema, partition sizing, batch iteration, UDF signature)
is real and tested; the *codec* itself is stubbed because image/audio
libraries are not in this container:

- ``decoder="fake"``  -> deterministic features derived from the bytes
  (md5-seeded), so pipelines are testable end-to-end
- ``decoder="pil"`` / ``"librosa"`` -> gated behind import-try, raising
  NotImplementedError with a clear message when the lib is absent
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "MEDIA_SCHEMA", "attach_media_metadata", "decode_image_features",
    "sample_video_frames", "media_from_documents",
]

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("data", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("meta", T.StructType(
            [
                T.StructField("width", T.IntegerType(), True),
                T.StructField("height", T.IntegerType(), True),
                T.StructField("duration_ms", T.LongType(), True),
                T.StructField("codec", T.StringType(), True),
            ]
        ), True),
    ]
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a synthetic media table from the documents corpus (the
    container has no real media): bytes = utf-8 text, mime by source.
    Gives the multimodal plumbing a real distributed input."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("data"),
        F.concat(F.lit("image/fake-"), F.col("source")).alias("mime"),
        F.struct(
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit("fake").alias("codec"),
        ).alias("meta"),
    )


def attach_media_metadata(df: DataFrame, binary_col: str, mime: str) -> DataFrame:
    """Wrap a raw binary column into the standard media layout."""
    return df.withColumn("mime", F.lit(mime)).withColumn(
        "meta",
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("codec"),
        ),
    )


def decode_image_features(
    df: DataFrame,
    data_col: str = "data",
    id_col: str = "media_id",
    n_features: int = 16,
    decoder: str = "fake",
) -> DataFrame:
    """Decode images and emit an embedding-like feature vector.

    Arrow-batched mapInPandas: each task processes whole record
    batches; only (id, data) are shipped to Python, the rest of the row
    never crosses the boundary (narrow projection before the UDF)."""
    if decoder == "pil":
        try:
            from PIL import Image  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "PIL decoder requires pillow, which is not in this "
                "container; use decoder='fake' for plumbing tests"
            ) from e

        schema_pil = f"{id_col} long, features array<double>"

        # Real decode: grayscale, resize to an n-pixel strip, normalized
        # intensities as the feature vector.  Same Arrow-batched
        # mapInPandas plumbing as the fake path; undecodable or NULL
        # blobs yield an all-zero vector instead of failing the task
        # (at 100 TB some corrupt blobs are a certainty).
        def decode_pil(batches: Iterator) -> Iterator:
            from io import BytesIO

            import pandas as pd
            from PIL import Image as _Img

            def feats_of(d) -> list[float]:
                if d is None:
                    return [0.0] * n_features
                try:
                    img = _Img.open(BytesIO(bytes(d))).convert("L")
                    img = img.resize((n_features, 1))
                    return [p / 255.0 for p in img.getdata()]
                except Exception:
                    return [0.0] * n_features

            for pdf in batches:
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "features": [feats_of(d) for d in pdf[data_col]],
                    }
                )

        narrow_pil = df.select(id_col, data_col)
        n_par = df.sparkSession.sparkContext.defaultParallelism
        return narrow_pil.repartition(n_par, id_col).mapInPandas(
            decode_pil, schema=schema_pil
        )
    if decoder != "fake":
        raise ValueError(f"unknown decoder {decoder!r}")

    schema = f"{id_col} long, features array<double>"

    # Self-contained closure: no references to this module's globals, so
    # Spark's Python workers never need the engine package importable.
    def decode(batches: Iterator) -> Iterator:
        import hashlib as _hl

        import pandas as pd

        def fake(data: bytes, n: int) -> list[float]:
            out: list[float] = []
            h = _hl.md5(data or b"").digest()
            while len(out) < n:
                for i in range(0, len(h), 4):
                    out.append(int.from_bytes(h[i : i + 4], "big") / 2**32)
                    if len(out) >= n:
                        break
                h = _hl.md5(h).digest()
            return out

        for pdf in batches:
            feats = [
                fake(bytes(d) if d is not None else b"", n_features)
                for d in pdf[data_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    narrow = df.select(id_col, data_col)
    # spread Python workers across cores (small files scan as 1 task)
    n = df.sparkSession.sparkContext.defaultParallelism
    return narrow.repartition(n, id_col).mapInPandas(decode, schema=schema)


def sample_video_frames(
    df: DataFrame,
    data_col: str = "data",
    id_col: str = "media_id",
    every_ms: int = 1000,
    max_frames: int = 8,
    decoder: str = "fake",
) -> DataFrame:
    """Frame sampling: one output row per sampled frame (explode-style
    fan-out inside the Arrow batch).  Fake decoder emits md5-derived
    frame ids; a real decoder would emit JPEG bytes per frame."""
    if decoder != "fake":
        raise NotImplementedError(
            "video codecs are not in this container; decoder='fake' only"
        )

    schema = f"{id_col} long, frame_no int, frame_hash string"

    # self-contained closure (see decode_image_features)
    def sample(batches: Iterator) -> Iterator:
        import hashlib as _hl

        import pandas as pd

        for pdf in batches:
            ids, nos, hashes = [], [], []
            for mid, d in zip(pdf[id_col], pdf[data_col]):
                raw = bytes(d) if d is not None else b""
                n = min(max_frames, max(1, len(raw) // max(every_ms, 1)))
                h = _hl.md5(raw).hexdigest()
                for i in range(n):
                    ids.append(mid)
                    nos.append(i)
                    hashes.append(_hl.md5(f"{h}:{i}".encode()).hexdigest())
            yield pd.DataFrame(
                {id_col: ids, "frame_no": nos, "frame_hash": hashes}
            )

    narrow = df.select(id_col, data_col)
    n = df.sparkSession.sparkContext.defaultParallelism
    return narrow.repartition(n, id_col).mapInPandas(sample, schema=schema)
