"""Multimodal column plumbing: opaque `binary` payloads + typed metadata.

Design for image/audio/video at 100 TB: media lives as a binary column
(or an object-store URI column) beside typed metadata; per-item work runs
through Arrow-batched `mapInPandas` so Python touches whole columnar
batches, never single rows. The codec libraries (PIL/torchaudio/ffmpeg)
are NOT in this container, so the actual decode is stubbed: a clearly
marked deterministic fake keeps the Spark-side plumbing (schema,
partitioning, UDF signature, batch shape) real and testable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Output schema of the feature-extraction pass — fixed contract so the
#: downstream pipeline is independent of the decoder implementation.
MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def attach_binary(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Materialize an opaque binary payload column + its metadata, all
    JVM-side: byte length and content sha256 over the binary. (In a real
    corpus the binary arrives from the source; deriving it from text here
    gives a deterministic stand-in with identical plumbing.)"""
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("content"),
    ).select(
        id_col,
        "content",
        F.octet_length("content").alias("byte_len"),
        F.sha2(F.col("content"), 256).alias("content_sha"),
    )


def _fake_decode(content: bytes) -> tuple[int, int, list[float]]:
    """Deterministic fake decoder: 'dimensions' derived from the byte
    length, 'features' a 16-bin byte histogram normalized to 1. Stands in
    for PIL/librosa until those exist in the runtime."""
    n = len(content)
    width = 16 + (n % 64)
    height = 16 + (n % 48)
    hist = [0] * 16
    for b in content:
        hist[b >> 4] += 1
    total = float(max(n, 1))
    return width, height, [c / total for c in hist]


def decode_media_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """`mapInPandas` worker: Arrow batches in, feature rows out. Swap
    `_fake_decode` for a real codec without touching the plan."""
    for pdf in batches:
        rows = []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            data = bytes(content)
            width, height, features = _fake_decode(data)
            rows.append((int(doc_id), len(data), width, height, features))
        yield pd.DataFrame(
            rows, columns=["doc_id", "byte_len", "width", "height", "features"]
        )


def extract_media_features(df_with_binary: DataFrame) -> DataFrame:
    """Run the (stub) decoder over the binary column with Arrow batching.
    Partition-preserving: no shuffle — Python cost scales linearly and
    parallelizes per input split (guarded for under-split inputs: decode
    is compute-bound, so a single-file scan must not pin it to one
    core)."""
    from manifold_spark.plans.parallelism import ensure_parallelism

    return ensure_parallelism(df_with_binary).select("doc_id", "content").mapInPandas(
        decode_media_batch, MEDIA_FEATURES_SCHEMA
    )


#: Frame-sampling output: one row per sampled frame. Real video decode is
#: stubbed (no codecs in this runtime); byte-range slicing stands in, with
#: the schema/partitioning/batching identical to a real ffmpeg-backed
#: implementation.
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
        T.StructField("frame_sha", T.StringType()),
    ]
)


def sample_frames_batch(n_frames: int):
    """mapInPandas worker factory: evenly sample `n_frames` byte-range
    'frames' from each binary payload (deterministic stub for keyframe
    extraction)."""
    import hashlib

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                data = bytes(content)
                if not data:
                    continue
                step = max(len(data) // n_frames, 1)
                for i in range(min(n_frames, len(data))):
                    chunk = data[i * step : i * step + step]
                    rows.append(
                        (int(doc_id), i, chunk, hashlib.sha256(chunk).hexdigest())
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_bytes", "frame_sha"]
            )

    return fn


def sample_frames(df_with_binary: DataFrame, n_frames: int = 4) -> DataFrame:
    """Evenly-spaced frame sampling over the binary column — partition-
    preserving Arrow pass, one output row per frame."""
    return df_with_binary.select("doc_id", "content").mapInPandas(
        sample_frames_batch(n_frames), FRAME_SCHEMA
    )


#: Unified audio/video probe output (ffprobe-shaped): one row per item,
#: modality-specific fields carry -1 when not applicable (explicit
#: sentinel, not NULL — cross-engine NULL canonicalization is the classic
#: gate-breaking trap). Fixed contract: swapping the stub prober for
#: ffprobe/soundfile changes no plan.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("byte_len", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("fps", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

_SAMPLE_RATES = (16000, 22050, 44100)
_FPS_TABLE = (24, 25, 30)


def _fake_probe(content: bytes) -> tuple:
    """Deterministic stub for a media prober (ffprobe/soundfile are not in
    this runtime): every field is integer arithmetic on the byte length,
    so the SQL oracle can reproduce it exactly. Audio duration models
    16-bit PCM (bytes / (rate·channels·2) seconds → n·500/(rate·ch) ms);
    video duration is n_frames/fps."""
    n = len(content)
    if n % 2 == 0:  # "audio"
        sample_rate = _SAMPLE_RATES[n % 3]
        channels = 1 + ((n // 2) % 2)
        duration_ms = (n * 500) // (sample_rate * channels)
        return ("audio", n, sample_rate, channels, -1, -1, -1, -1, duration_ms)
    width = 256 + 16 * (n % 8)
    height = 144 + 16 * (n % 6)
    fps = _FPS_TABLE[n % 3]
    n_frames = max(1, n // 100)
    duration_ms = (n_frames * 1000) // fps
    return ("video", n, -1, -1, width, height, fps, n_frames, duration_ms)


def probe_media_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """`mapInPandas` worker: Arrow batches of (doc_id, content) in, one
    typed metadata row per item out. Swap `_fake_probe` for a real prober
    without touching the plan."""
    cols = [f.name for f in MEDIA_META_SCHEMA.fields]
    for pdf in batches:
        rows = [
            (int(doc_id), *_fake_probe(bytes(content)))
            for doc_id, content in zip(pdf["doc_id"], pdf["content"])
        ]
        yield pd.DataFrame(rows, columns=cols)


def probe_media_meta(df_with_binary: DataFrame) -> DataFrame:
    """Audio/video metadata extraction over the binary column — the same
    Arrow-batched, partition-preserving, parallelism-guarded shape as
    `extract_media_features`; only the worker differs."""
    from manifold_spark.plans.parallelism import ensure_parallelism

    return ensure_parallelism(df_with_binary).select("doc_id", "content").mapInPandas(
        probe_media_batch, MEDIA_META_SCHEMA
    )


def chunk_ranges(
    df_meta: DataFrame,
    chunk_bytes: int,
    id_col: str = "doc_id",
    len_col: str = "byte_len",
    uri_col: str | None = "uri",
) -> DataFrame:
    """Byte-range chunk manifest for large media: one row per
    ``chunk_bytes`` range of each item — (id, chunk_idx, offset, length[,
    uri]). This is how >2 GB items flow through Spark, whose binary
    columns (and Arrow batches) cap at 2 GB: the payload NEVER enters a
    column; workers range-GET ``uri`` with (offset, length) from the
    manifest. Pure column expressions (sequence + posexplode) — generating
    the manifest for a 100 TB corpus is a scan-side map, no shuffle.
    Empty items produce one zero-length chunk so every item stays
    represented downstream."""
    n_chunks = F.greatest(
        F.lit(1),
        F.expr(f"({len_col} + {chunk_bytes - 1}) DIV {chunk_bytes}").cast("int"),
    )
    out_cols = [id_col] + ([uri_col] if uri_col else []) + [len_col]
    exploded = df_meta.select(
        *out_cols, F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx", "_")
    ).withColumn("offset", F.col("chunk_idx").cast("long") * chunk_bytes)
    return exploded.select(
        id_col,
        "chunk_idx",
        "offset",
        F.greatest(
            F.lit(0).cast("long"),
            F.least(
                F.lit(chunk_bytes).cast("long"),
                F.col(len_col).cast("long") - F.col("offset"),
            ),
        ).alias("length"),
        *([uri_col] if uri_col else []),
    )


def slice_chunks(
    df_with_binary: DataFrame, chunk_bytes: int, id_col: str = "doc_id"
) -> DataFrame:
    """Materialize actual chunk payloads for INLINE binaries (< 2 GB) via
    JVM-side substring over the same ranges `chunk_ranges` would emit —
    the local twin of the URI range-GET path, and the proof that the
    range math reassembles: concat(chunks order by chunk_idx) == content.
    Returns (id, chunk_idx, offset, length, chunk)."""
    ranges = chunk_ranges(
        df_with_binary.select(id_col, "content", F.octet_length("content").alias("byte_len")),
        chunk_bytes,
        id_col=id_col,
        uri_col=None,
    )
    src = df_with_binary.select(id_col, "content")
    return ranges.join(src, id_col).select(
        id_col,
        "chunk_idx",
        "offset",
        "length",
        # substring is 1-based; int cast is safe: inline payloads < 2 GB
        F.expr("substring(content, cast(offset + 1 as int), cast(length as int))").alias(
            "chunk"
        ),
    )


def media_manifest(df: DataFrame, uri_prefix: str, id_col: str = "doc_id") -> DataFrame:
    """URI-manifest pattern for large media: items above the inline-bytes
    budget live in object storage; the table carries (uri, byte_len,
    content_sha) and decoders fetch ranges. All JVM-side."""
    with_bin = df  # expects attach_binary output (content/byte_len/content_sha)
    return with_bin.select(
        id_col,
        F.concat(F.lit(uri_prefix.rstrip("/") + "/"), F.col(id_col).cast("string"), F.lit(".bin")).alias("uri"),
        "byte_len",
        "content_sha",
    )


#: (media_kind, hex prefix of the payload's magic bytes) — the standard
#: container signatures. Matching runs JVM-side on hex(substring(bytes)).
MAGIC_PREFIXES = [
    ("png", "89504E47"),
    ("jpeg", "FFD8FF"),
    ("gif", "474946383"),
    ("riff", "52494646"),  # WAV/AVI/WebP share the RIFF envelope
    ("pdf", "25504446"),
    ("zip", "504B0304"),
]


def sniff_media_kind(content: F.Column) -> F.Column:
    """Classify an opaque binary payload by magic bytes — the validation
    step before routing to a decoder (corrupt/mislabeled media is routine
    at crawl scale; decode failures are expensive, a prefix check is
    free). Pure column expressions: hex the first 8 bytes, prefix-match
    the signature table. Unknown payloads classify 'unknown'."""
    head = F.upper(F.hex(F.substring(content, 1, 8)))
    expr = F.lit("unknown")
    for kind, prefix in reversed(MAGIC_PREFIXES):
        expr = F.when(head.startswith(prefix), F.lit(kind)).otherwise(expr)
    return expr


def classify_media(df_with_binary: DataFrame, content_col: str = "content") -> DataFrame:
    """Add a `media_kind` column from the payload's magic bytes."""
    return df_with_binary.withColumn("media_kind", sniff_media_kind(F.col(content_col)))
