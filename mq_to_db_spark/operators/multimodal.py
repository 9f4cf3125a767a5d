"""Image payloads as binary columns: a real PPM (P6) codec and the
contract-checkable image plane built on it.

:func:`synth_ppm_from_ids` makes one deterministic PPM image per input
id and :func:`image_byte_stats` decodes each payload back to exact
integer pixel statistics.  Both are ``mapInPandas`` narrow passes, so
payload bytes pipeline with the scan and never shuffle.  PPM needs only
numpy, and every byte is integer arithmetic on the id, so the contract
query ``multimodal_features`` replays the whole plane — synth → encode
→ Arrow transfer → decode — against a DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def encode_ppm(pixels: np.ndarray) -> bytes:
    """PPM (P6, maxval 255) encode of an (h, w, 3) uint8 array."""
    h, w = pixels.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode() + np.ascontiguousarray(
        pixels, dtype=np.uint8
    ).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """PPM (P6) decode → (h, w, 3) uint8.

    Header parsed by newline offsets, NOT ``bytes.split`` — a split
    would also consume raster bytes that happen to be whitespace
    (0x0A/0x20/...) right after the header."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    i1 = payload.index(b"\n")
    i2 = payload.index(b"\n", i1 + 1)
    i3 = payload.index(b"\n", i2 + 1)
    w, h = (int(x) for x in payload[i1 + 1 : i2].split())
    raw = payload[i3 + 1 : i3 + 1 + w * h * 3]
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)


#: schema of synth_ppm_from_ids output — a media table keyed by the source id
SYNTH_PPM_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("n_px", T.LongType(), False),
        T.StructField("sum_px", T.LongType(), False),
        T.StructField("max_px", T.IntegerType(), False),
    ]
)


def synth_ppm_from_ids(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic PPM image per input id — the contract-checkable
    media synthesizer (every byte is integer arithmetic on the id, so an
    external engine can replay the construction without running numpy):

    * geometry: ``width = 4 + id % 5``, ``height = 3 + id % 4``
    * flat pixel byte ``q`` (0-based over h×w×3): ``(id*31 + 7*q) % 256``

    A ``mapInPandas`` narrow pass (no shuffle): ids stream in Arrow
    batches, payloads are built with one vectorized numpy expression per
    image and REAL ``encode_ppm`` headers."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = []
            for i in ids:
                w = int(4 + i % 5)
                h = int(3 + i % 4)
                q = np.arange(h * w * 3, dtype=np.int64)
                px = ((i * 31 + 7 * q) % 256).astype(np.uint8).reshape(h, w, 3)
                payloads.append(encode_ppm(px))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": "image",
                    "mime": "image/x-portable-pixmap",
                    "payload": payloads,
                }
            )

    return df.select(id_col).mapInPandas(_synth, schema=SYNTH_PPM_SCHEMA)


def image_byte_stats(df: DataFrame) -> DataFrame:
    """Decode PPM payloads (REAL codec) → exact integer pixel statistics
    per image: width, height, pixel-byte count / sum / max.

    A ``mapInPandas`` narrow pass (payload bytes never shuffle) whose
    outputs are exact BIGINTs, so it anchors the whole binary-column
    plumbing — synth → encode → Arrow transfer → decode — to a
    hash-exact external oracle (contract query ``multimodal_features``)."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("media_id", "width", "height", "n_px", "sum_px", "max_px")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = decode_ppm(bytes(payload))
                h, w = px.shape[:2]
                flat = px.reshape(-1).astype(np.int64)
                rows["media_id"].append(mid)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_px"].append(flat.size)
                rows["sum_px"].append(int(flat.sum()))
                rows["max_px"].append(int(flat.max()))
            out = pd.DataFrame(rows)
            out["width"] = out["width"].astype("int32")
            out["height"] = out["height"].astype("int32")
            out["max_px"] = out["max_px"].astype("int32")
            yield out

    return df.mapInPandas(_stats, schema=IMAGE_STATS_SCHEMA)
