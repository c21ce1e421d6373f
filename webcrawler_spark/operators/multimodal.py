"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads ride as BINARY columns with a typed metadata
struct; decode/feature steps are Arrow-batched ``mapInPandas`` stages.
``decode_stub=True`` (default) produces a deterministic fake feature vector
derived from the payload bytes. ``decode_stub=False`` uses the real codec
where one is import-gated in (PIL for images — decode, histogram
features); audio/video decode (ffmpeg/librosa) and a missing PIL
raise NotImplementedError where the library call belongs. The Spark-side
plumbing — schema, batch iteration, partitioning, output shape — is real
and tested either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, width int, height int, "
    "duration_ms int"
)

FEATURE_SCHEMA = "media_id long, kind string, n_bytes int, feature array<float>"


def _fake_feature(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in feature: byte histogram folded to `dim` floats,
    L1-normalized. Replace with the real model/codec at deploy time."""
    import numpy as np

    if not payload:
        return [0.0] * dim
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr % dim, minlength=dim).astype(np.float64)
    total = hist.sum()
    return (hist / total).astype(np.float32).tolist() if total else [0.0] * dim


def _pil_image():
    """Import-gated PIL: the real image codec when the library exists,
    None otherwise (this container ships without it — DELTAS #14)."""
    try:
        from PIL import Image

        return Image
    except ImportError:
        return None


def _pil_feature(Image, payload: bytes, dim: int) -> list[float]:
    """Real image feature: decode, grayscale, `dim`-bin luminance histogram,
    L1-normalized — same output shape and normalization as the stub so the
    two paths are drop-in interchangeable."""
    import io

    import numpy as np

    px = np.asarray(Image.open(io.BytesIO(payload)).convert("L"))
    hist = np.bincount((px.ravel() * dim) // 256, minlength=dim).astype(np.float64)
    total = hist.sum()
    return (hist / total).astype(np.float32).tolist() if total else [0.0] * dim


def _wav_feature(payload: bytes, dim: int) -> list[float]:
    """Real audio feature for PCM WAV — pure stdlib (wave/struct), no codec
    libraries: decode samples, `dim`-bin amplitude histogram over the full
    int range, L1-normalized. Same output shape/normalization as the image
    and stub paths, so all three are drop-in interchangeable."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        width = w.getsampwidth()
        frames = w.readframes(w.getnframes())
    if width == 2:
        x = np.frombuffer(frames, dtype="<i2").astype(np.int32) + 32768  # -> [0, 65536)
        span = 65536
    elif width == 1:
        x = np.frombuffer(frames, dtype=np.uint8).astype(np.int32)
        span = 256
    else:
        raise NotImplementedError(f"PCM width {width} unsupported (8/16-bit only)")
    hist = np.bincount(x * dim // span, minlength=dim).astype(np.float64)
    total = hist.sum()
    return (hist / total).astype(np.float32).tolist() if total else [0.0] * dim


def _is_wav(payload: bytes) -> bool:
    return len(payload) >= 12 and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"


def extract_media_features(
    media: DataFrame, dim: int = 16, decode_stub: bool = True
) -> DataFrame:
    """mapInPandas feature extraction: one Arrow batch in, one out.
    Partitioning is preserved; payload bytes never leave the executor.
    ``decode_stub=False`` decodes images for real when PIL is importable
    on the executor and PCM WAV audio via the stdlib (no codec libs);
    compressed audio and video (ffmpeg/librosa) stay NotImplemented."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Image = None if decode_stub else _pil_image()
        for pdf in batches:
            if decode_stub:
                feats = pdf["payload"].map(lambda b: _fake_feature(b or b"", dim))
            else:

                def _real(row_kind: str, b: bytes) -> list[float]:
                    if row_kind == "image":
                        if Image is None:
                            raise NotImplementedError(
                                "real image decode requires PIL — not in container"
                            )
                        return _pil_feature(Image, b, dim)
                    if row_kind == "audio" and _is_wav(b):
                        return _wav_feature(b, dim)  # stdlib PCM WAV decode
                    raise NotImplementedError(
                        "real decode for compressed audio / video requires "
                        "ffmpeg/librosa — not in container (PCM WAV and, "
                        "with PIL, images decode for real)"
                    )

                feats = [
                    _real(k, b) for k, b in zip(pdf["kind"], pdf["payload"])
                ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(lambda b: len(b) if b is not None else 0),
                    "feature": feats,
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def resize_dims(width, height, max_w: int, max_h: int):
    """Aspect-preserving fit into ``max_w x max_h``, never upscaling:
    scale = min(max_w/w, max_h/h, 1), floor to pixels, floor of 1. Pure
    Column arithmetic (the resize plan behind the ``media_resize_plan``
    contract entry); returns (target_w, target_h)."""
    w = F.col(width) if isinstance(width, str) else width
    h = F.col(height) if isinstance(height, str) else height
    scale = F.least(
        F.lit(float(max_w)) / w, F.lit(float(max_h)) / h, F.lit(1.0)
    )
    tw = F.greatest(F.floor(w * scale), F.lit(1)).cast("int")
    th = F.greatest(F.floor(h * scale), F.lit(1)).cast("int")
    return tw, th


def sniff_media_type(data: Column) -> Column:
    """Magic-byte content sniffing over an opaque binary column — the
    gate a mixed 100 TB crawl runs BEFORE routing bytes to parsers
    (servers lie in Content-Type; the reference trusts headers). Fully
    JVM-native: hex-prefix equality against the published signatures
    (PDF, PNG, GIF, JPEG, ZIP, GZIP, RIFF/WAVE) plus an HTML check on
    the latin-1-decoded head (never throws on arbitrary bytes; optional
    UTF-8 BOM and leading whitespace tolerated). Unknown -> octet-stream.

    100 TB shape: one codegen projection over the first ≤64 bytes of
    each blob — fuses into whatever scan already reads the binary
    column; no UDF, no shuffle."""
    hx = F.hex(F.substring(data, 1, 12))
    head = F.lower(
        F.ltrim(
            F.regexp_replace(
                F.decode(F.substring(data, 1, 64), "ISO-8859-1"),
                "^\\ufeff|^ï»¿",
                "",
            )
        )
    )
    return (
        F.when(hx.startswith("255044462D"), F.lit("application/pdf"))
        .when(hx.startswith("89504E470D0A1A0A"), F.lit("image/png"))
        .when(
            hx.startswith("474946383761") | hx.startswith("474946383961"),
            F.lit("image/gif"),
        )
        .when(hx.startswith("FFD8FF"), F.lit("image/jpeg"))
        .when(hx.startswith("504B0304"), F.lit("application/zip"))
        .when(hx.startswith("1F8B"), F.lit("application/gzip"))
        .when(
            hx.startswith("52494646")
            & (F.hex(F.substring(data, 9, 4)) == "57415645"),
            F.lit("audio/wav"),
        )
        .when(
            head.startswith("<!doctype html") | head.startswith("<html"),
            F.lit("text/html"),
        )
        .otherwise(F.lit("application/octet-stream"))
    )
