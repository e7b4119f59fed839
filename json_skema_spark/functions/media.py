"""Image columns: opaque ``binary`` payloads + typed metadata.

Completes the multimodal surface next to ``functions/audio.py``: real
Spark-side plumbing (schema, Arrow batch shape, UDF signature) with the
decoders behind a registry whose unregistered codecs reject
deterministically.

- ``rgb8raw`` images: 12-byte header ``<width:i32><height:i32><channels:i32>``
  (little-endian) + row-major uint8 samples, decoded for real; the
  per-channel statistics are exact numpy.
- ``jpeg``/``png``/``webp``: no decoder -> per-row
  ``codec_not_supported:<codec>`` verdicts (never a crash).

Execution model mirrors audio.py: ``mapInPandas`` over Arrow record
batches, numpy per batch, only the needed columns projected into the UDF.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

IMAGE_STATS_SCHEMA = ("image_id string, decode_ok boolean, error string, "
                      "mean_r double, mean_g double, mean_b double, "
                      "std_gray double")


# -- rgb8raw codec (real) -----------------------------------------------------

def encode_rgb8raw(pixels: np.ndarray) -> bytes:
    """(h, w, c) uint8 -> rgb8raw bytes."""
    h, w, c = pixels.shape
    return struct.pack("<iii", w, h, c) + pixels.astype(np.uint8).tobytes()


def decode_rgb8raw(buf: Any) -> tuple[np.ndarray | None, str]:
    try:
        if buf is None or len(buf) < 12:
            return None, "not_rgb8raw"
        w, h, c = struct.unpack_from("<iii", buf, 0)
        if w <= 0 or h <= 0 or c not in (1, 3, 4):
            return None, "bad_rgb8raw_header"
        body = bytes(buf[12:])
        if len(body) != w * h * c:
            return None, "truncated_rgb8raw"
        return np.frombuffer(body, np.uint8).reshape(h, w, c), ""
    except Exception as exc:  # malformed payload is a verdict, not a crash
        return None, f"decode_error:{type(exc).__name__}"


# -- decoder registry (same contract as functions/audio.py) ------------------

_IMAGE_DECODERS: dict[str, Any] = {"rgb8raw": decode_rgb8raw}

# A codec without a decoder is known (codec_not_supported) iff it is one of
# these; any other codec is registered or unknown (see audio._BUILTIN_CODECS).
_BUILTIN_IMAGE_CODECS = frozenset({"rgb8raw", "jpeg", "png", "webp"})


def register_image_decoder(codec: str, fn: Any) -> None:
    """``fn(buf) -> ((h,w,c) uint8 array | None, error)``."""
    _IMAGE_DECODERS[codec] = fn


def unregister_image_decoder(codec: str) -> None:
    _IMAGE_DECODERS.pop(codec, None)


def _image_decoder_snapshot() -> dict[str, Any]:
    """Value-copy of the registry for capture into a UDF closure."""
    return dict(_IMAGE_DECODERS)


def _decode_image(decoders: dict[str, Any], codec: Any, buf: Any):
    # same dispatch contract as audio._decode_with (kept separate only
    # because the return shapes differ: (img, err) vs (sig, sr, err))
    fn = decoders.get(codec)
    if fn is not None:
        try:
            img, err = fn(buf)
        except Exception as exc:
            return None, f"decode_error:{type(exc).__name__}"
        if img is not None:
            # validate the shape INSIDE the containment boundary: a
            # third-party decoder returning a 2-D grayscale array (e.g.
            # PIL.Image.open without .convert('RGB')) previously raised
            # IndexError at img.shape[2] in the mapInPandas loop — task
            # death, not a per-row verdict (review r05c)
            arr = np.asarray(img)
            if arr.ndim != 3 or arr.shape[2] < 1:
                return None, f"decode_error:bad_shape:{'x'.join(map(str, arr.shape))}"
            return arr, err
        return img, err
    if codec in _BUILTIN_IMAGE_CODECS:
        return None, f"codec_not_supported:{codec}"
    return None, f"unknown_codec:{codec}"


# -- operators ----------------------------------------------------------------

def image_stats(df: DataFrame) -> DataFrame:
    """Per-channel means + gray stddev — the feature-extraction shape."""
    decoders = _image_decoder_snapshot()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, codec, buf in zip(pdf["image_id"], pdf["codec"],
                                       pdf["bytes"]):
                img, e = _decode_image(decoders, codec, buf)
                if img is None:
                    rows.append((iid, False, e, None, None, None, None))
                    continue
                # color stats over the first 3 channels only: an alpha
                # plane would contaminate the gray stddev (identical RGB
                # content scoring differently as RGB vs RGBA), and a
                # missing channel reports None, not a silently-duplicated
                # neighbor
                f = img[..., :3].astype(np.float64)
                means = f.mean(axis=(0, 1))
                gray = f.mean(axis=2)
                rows.append((
                    iid, True, "", float(means[0]),
                    float(means[1]) if len(means) > 1 else None,
                    float(means[2]) if len(means) > 2 else None,
                    float(gray.std())))
            yield pd.DataFrame(rows, columns=[
                "image_id", "decode_ok", "error", "mean_r", "mean_g",
                "mean_b", "std_gray"])

    return df.select("image_id", "codec", "bytes").mapInPandas(
        run, IMAGE_STATS_SCHEMA)

