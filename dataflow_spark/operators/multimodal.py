"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Design (per the build brief): the DECODE step is stubbed (no
imaging/audio libs in this container) behind clearly-marked seams, but
the Spark-side plumbing is real and tested — binaryFile ingest schema,
partition-sized Arrow batches, mapInPandas UDF signatures, and the
metadata struct contract. Swapping the stub for PIL/librosa is a
one-function change that does not touch any plan.

Reference surface: Speech2TextGenerator (core_speech/generate/
speech2text_generator.py:59-81), PromptedVQAGenerator
(core_vision/generate/prompted_vqa_generator.py), PDF page images
(pdf2vqa/*).
"""

from __future__ import annotations

import hashlib
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, StringType,
    StructField, StructType,
)

from dataflow_spark.core.operator import Operator
from dataflow_spark.core.registry import OPERATOR_REGISTRY

MEDIA_META = StructType([
    StructField("media_type", StringType()),   # image|audio|video
    StructField("format", StringType()),       # png|jpg|wav|mp4|...
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("duration_ms", IntegerType()),
    StructField("sha256", StringType()),
])


def _decode_image_stub(content: bytes) -> tuple[int, int]:
    """STUB: real impl would use PIL. NotImplementedError by contract —
    pixel-level decode still needs an imaging library; header parsing
    below does NOT (pure Python over the container formats)."""
    raise NotImplementedError("pixel decoding requires an imaging library")


def parse_media_header(content: bytes) -> dict | None:
    """Pure-Python container-header parse — no imaging libs needed.

    Returns {format, media_type, width, height, duration_ms} for
    PNG/JPEG/GIF/BMP images and RIFF/WAV audio, or None when the
    signature is unrecognized. This is real metadata extraction (the
    formats put dimensions in fixed header fields); only pixel/sample
    DECODING stays behind the library seam."""
    b = content or b""
    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n":
        w = int.from_bytes(b[16:20], "big")
        h = int.from_bytes(b[20:24], "big")
        return {"format": "png", "media_type": "image",
                "width": w, "height": h, "duration_ms": 0}
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = int.from_bytes(b[i + 2:i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h = int.from_bytes(b[i + 5:i + 7], "big")
                w = int.from_bytes(b[i + 7:i + 9], "big")
                return {"format": "jpg", "media_type": "image",
                        "width": w, "height": h, "duration_ms": 0}
            i += 2 + seg_len
        return None
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        return {"format": "gif", "media_type": "image",
                "width": int.from_bytes(b[6:8], "little"),
                "height": int.from_bytes(b[8:10], "little"),
                "duration_ms": 0}
    if len(b) >= 26 and b[:2] == b"BM":
        w = int.from_bytes(b[18:22], "little", signed=True)
        h = int.from_bytes(b[22:26], "little", signed=True)
        return {"format": "bmp", "media_type": "image",
                "width": abs(w), "height": abs(h), "duration_ms": 0}
    if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        i, byte_rate, data_size = 12, None, None
        while i + 8 <= len(b):
            cid = b[i:i + 4]
            size = int.from_bytes(b[i + 4:i + 8], "little")
            if cid == b"fmt " and i + 20 <= len(b):
                byte_rate = int.from_bytes(b[i + 16:i + 20], "little")
            elif cid == b"data":
                data_size = size
            i += 8 + size + (size % 2)
        dur = (int(data_size * 1000 / byte_rate)
               if byte_rate and data_size is not None else None)
        return {"format": "wav", "media_type": "audio",
                "width": None, "height": None, "duration_ms": dur}
    return None


def _fake_decode_dims(content: bytes) -> tuple[int, int]:
    """Deterministic fake decode: derive (width, height) from the bytes'
    sha256 so plumbing tests have stable, content-dependent values."""
    h = hashlib.sha256(content or b"").digest()
    return 64 + h[0] % 192, 64 + h[1] % 192


@OPERATOR_REGISTRY.register()
class MediaMetadataExtractor(Operator):
    """Add a MEDIA_META struct per binary row (mapInPandas, Arrow batches).

    decode='headers' (default) parses real container headers — PNG/JPEG/
    GIF/BMP dimensions, WAV duration — in pure Python; unrecognized
    signatures get the constructor's media_type/format with null
    dimensions. decode='fake' keeps the deterministic sha-derived
    dimensions (plumbing tests); decode='lib' marks the pixel-decode
    library seam (raises at task time). ``use_fake_decode`` kept for
    back-compat: True -> 'fake', False -> 'lib'.
    """

    def __init__(self, content_key: str = "content", output_key: str = "media_meta",
                 media_type: str = "image", fmt: str = "png",
                 decode: str = "headers", use_fake_decode: bool | None = None):
        self.content_key, self.output_key = content_key, output_key
        self.media_type, self.fmt = media_type, fmt
        if use_fake_decode is not None:
            decode = "fake" if use_fake_decode else "lib"
        if decode not in ("headers", "fake", "lib"):
            raise ValueError("decode must be headers|fake|lib")
        self.decode = decode
        self.input_keys = (content_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        schema = StructType(df.schema.fields + [StructField(self.output_key, MEDIA_META)])
        ck, ok = self.content_key, self.output_key
        mt, fmt, mode = self.media_type, self.fmt, self.decode

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                metas = []
                for content in pdf[ck]:
                    raw = bytes(content) if content is not None else b""
                    meta = {"media_type": mt, "format": fmt, "width": None,
                            "height": None, "duration_ms": 0}
                    if mode == "headers":
                        parsed = parse_media_header(raw)
                        if parsed is not None:
                            meta.update(parsed)
                    elif mode == "fake":
                        meta["width"], meta["height"] = _fake_decode_dims(raw)
                    else:
                        meta["width"], meta["height"] = _decode_image_stub(raw)
                    meta["sha256"] = hashlib.sha256(raw).hexdigest()
                    metas.append(meta)
                pdf = pdf.copy()
                pdf[ok] = metas
                yield pdf

        return df.mapInPandas(gen, schema=schema)


@OPERATOR_REGISTRY.register()
class MediaFeatureExtractor(Operator):
    """Extract a fixed-dim float feature vector per binary row.

    Real impl = a vision/audio model over decoded frames; the
    deterministic fake hashes bytes into a unit vector (same contract as
    HashEmbeddingServing) so downstream ANN/dedup plumbing is testable.
    """

    def __init__(self, content_key: str = "content", output_key: str = "features",
                 dim: int = 8):
        self.content_key, self.output_key, self.dim = content_key, output_key, dim
        self.input_keys = (content_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        from dataflow_spark.serving.mock import HashEmbeddingServing

        schema = StructType(
            df.schema.fields + [StructField(self.output_key, ArrayType(FloatType()))]
        )
        ck, ok, dim = self.content_key, self.output_key, self.dim

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            emb = HashEmbeddingServing(dim=dim)
            for pdf in batches:
                pdf = pdf.copy()
                texts = [
                    hashlib.sha256(bytes(c) if c is not None else b"").hexdigest()
                    for c in pdf[ck]
                ]
                pdf[ok] = emb.embed_batch(texts)
                yield pdf

        return df.mapInPandas(gen, schema=schema)


@OPERATOR_REGISTRY.register()
class FrameSampler(Operator):
    """Sample N pseudo-frames per video row -> one row per frame.

    Plumbing-real: explode with positional ids, binary passthrough; the
    frame bytes are a stub slice (real impl: ffmpeg keyframe extraction).
    """

    def __init__(self, content_key: str = "content", n_frames: int = 4,
                 frame_key: str = "frame"):
        self.content_key, self.n_frames, self.frame_key = content_key, n_frames, frame_key
        self.input_keys = (content_key,)
        self.output_keys = (frame_key, f"{frame_key}_idx")

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        schema = StructType(
            df.schema.fields
            + [StructField(f"{self.frame_key}_idx", IntegerType()),
               StructField(self.frame_key, BinaryType())]
        )
        ck, fk, n = self.content_key, self.frame_key, self.n_frames

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for _, row in pdf.iterrows():
                    raw = bytes(row[ck]) if row[ck] is not None else b""
                    step = max(len(raw) // n, 1)
                    for i in range(n):
                        r = dict(row)
                        r[f"{fk}_idx"] = i
                        r[fk] = raw[i * step:(i + 1) * step]  # stub frame bytes
                        rows.append(r)
                yield pd.DataFrame(rows, columns=list(pdf.columns) + [f"{fk}_idx", fk])

        return df.mapInPandas(gen, schema=schema)


@OPERATOR_REGISTRY.register()
class ImageResizer(Operator):
    """Resize images to (target_w, target_h) — Arrow-batched mapInPandas.

    Plumbing-real: header-parsed source dimensions, output binary column
    plus recorded output dims; the pixel resample itself is the library
    seam. decode='fake' emits a deterministic sha-derived byte payload of
    size proportional to target area (so size-based downstream logic is
    testable); decode='lib' raises at task time where PIL would run.
    At scale this is the shape that matters: one narrow mapInPandas, no
    shuffle, binary in/binary out, schema known up front.
    """

    def __init__(self, content_key: str = "content", output_key: str = "resized",
                 target_w: int = 224, target_h: int = 224, decode: str = "fake"):
        if decode not in ("fake", "lib"):
            raise ValueError("decode must be fake|lib")
        self.content_key, self.output_key = content_key, output_key
        self.target_w, self.target_h = target_w, target_h
        self.decode = decode
        self.input_keys = (content_key,)
        self.output_keys = (output_key, f"{output_key}_w", f"{output_key}_h")

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        schema = StructType(
            df.schema.fields
            + [StructField(self.output_key, BinaryType()),
               StructField(f"{self.output_key}_w", IntegerType()),
               StructField(f"{self.output_key}_h", IntegerType())]
        )
        ck, ok = self.content_key, self.output_key
        tw, th, mode = self.target_w, self.target_h, self.decode

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_bytes, out_w, out_h = [], [], []
                for content in pdf[ck]:
                    raw = bytes(content) if content is not None else b""
                    if mode == "lib":
                        _decode_image_stub(raw)  # raises: library seam
                    # deterministic fake resample: sha-keyed stream sized
                    # ~1 byte/8px of the target area
                    seed = hashlib.sha256(raw + f"{tw}x{th}".encode()).digest()
                    n = max(tw * th // 8, 1)
                    payload = (seed * (n // len(seed) + 1))[:n]
                    out_bytes.append(payload)
                    out_w.append(tw)
                    out_h.append(th)
                pdf = pdf.copy()
                pdf[ok] = out_bytes
                pdf[f"{ok}_w"] = out_w
                pdf[f"{ok}_h"] = out_h
                yield pdf

        return df.mapInPandas(gen, schema=schema)


@OPERATOR_REGISTRY.register()
class PromptedVQAGenerator(Operator):
    """Image + prompt -> VLM answer.

    Reference: core_vision/generate/prompted_vqa_generator.py:66 — a VLM
    serving call per (image, prompt) row. Spark shape: the image column
    is summarized into a compact token (sha256 + declared dims — the
    stand-in for real base64 attachment, which slots into a multimodal
    serving backend without plan changes) and the call is one LLM-map.
    """

    def __init__(self, serving, prompt_key: str = "prompt",
                 content_key: str = "content", output_key: str = "vqa_answer"):
        self.serving = serving
        self.prompt_key, self.content_key = prompt_key, content_key
        self.output_key = output_key
        self.input_keys = (prompt_key, content_key)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        from dataflow_spark.operators.generate.llm_map import llm_map

        tmp = df.withColumn("_vqa_p", F.concat(
            F.lit("[image sha256="), F.sha2(F.col(self.content_key), 256),
            F.lit("] "), F.col(self.prompt_key)))
        return llm_map(tmp, self.serving, "{_vqa_p}", "_vqa_p",
                       self.output_key).drop("_vqa_p")


@OPERATOR_REGISTRY.register()
class Speech2TextGenerator(Operator):
    """Audio binary -> transcription via an ASR serving backend.

    Reference: core_speech/generate/speech2text_generator.py:59-81.
    The serving contract takes a deterministic audio token (sha256 +
    byte length); a real ASR backend replaces the token with the
    waveform — mapInPandas batching, schema, and ordering are identical.
    """

    def __init__(self, serving, content_key: str = "content",
                 output_key: str = "transcription"):
        self.serving = serving
        self.content_key = content_key
        self.output_key = output_key
        self.input_keys = (content_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        from dataflow_spark.operators.generate.llm_map import llm_map

        tmp = df.withColumn("_asr_p", F.concat(
            F.lit("transcribe [audio sha256="), F.sha2(F.col(self.content_key), 256),
            F.lit(" bytes="), F.length(F.col(self.content_key)).cast("string"),
            F.lit("]")))
        return llm_map(tmp, self.serving, "{_asr_p}", "_asr_p",
                       self.output_key).drop("_asr_p")
