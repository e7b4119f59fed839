"""Image/video columns: opaque ``binary`` payloads + typed metadata.

Completes the multimodal surface next to ``functions/audio.py`` (the audio
pipeline is this graft's real payload; image/video get the same treatment
the brief prescribes: real Spark-side plumbing — schema, partitioning,
Arrow batch shape, UDF signatures — with the heavy codec behind a registry
whose stubs reject deterministically, since no image/video libs exist in
this container).

A REAL trivial codec keeps the math honest end to end:

- ``rgb8raw`` images: 12-byte header ``<width:i32><height:i32><channels:i32>``
  (little-endian) + row-major uint8 samples. Decode, nearest-neighbor
  resize, and per-channel statistics are exact numpy — no fakes.
- ``rawvid`` video: 16-byte header ``<w:i32><h:i32><fps:i32><n_frames:i32>``
  + concatenated rgb8 frames. Frame sampling slices real bytes.
- ``jpeg``/``png``/``h264`` etc.: registry stubs -> per-row
  ``codec_not_supported:<codec>`` verdicts (never a crash); a real
  deployment registers Pillow/PyAV decoders with the same signatures.

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
from pyspark.sql import functions as F

IMAGE_DECODE_SCHEMA = ("image_id string, decode_ok boolean, error string, "
                       "width int, height int, channels int")
IMAGE_STATS_SCHEMA = ("image_id string, decode_ok boolean, error string, "
                      "mean_r double, mean_g double, mean_b double, "
                      "std_gray double")
RESIZE_SCHEMA = ("image_id string, bytes binary, width int, height int, "
                 "codec string, error string")
FRAME_SCHEMA = ("video_id string, frame_index int, ts_ms double, "
                "bytes binary, width int, height int")


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


def encode_rawvid(frames: np.ndarray, fps: int) -> bytes:
    """(n, h, w, c=3) uint8 -> rawvid bytes."""
    n, h, w, c = frames.shape
    assert c == 3
    return struct.pack("<iiii", w, h, fps, n) + frames.astype(np.uint8).tobytes()


def decode_rawvid_header(buf: Any) -> tuple[tuple[int, int, int, int] | None, str]:
    try:
        if buf is None or len(buf) < 16:
            return None, "not_rawvid"
        w, h, fps, n = struct.unpack_from("<iiii", buf, 0)
        if w <= 0 or h <= 0 or fps <= 0 or n < 0:
            return None, "bad_rawvid_header"
        if len(buf) - 16 != w * h * 3 * n:
            return None, "truncated_rawvid"
        return (w, h, fps, n), ""
    except Exception as exc:
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


def register_optional_image_decoders() -> list[str]:
    """Register REAL jpeg/png/webp decoders when Pillow is importable;
    returns the codecs registered ([] when absent — the registry keeps its
    deterministic ``codec_not_supported`` reject). Same contract as
    ``decode_rgb8raw``: HxWx3 uint8 RGB array + error string. Call on the
    driver before building a plan (UDF closures snapshot the registry)."""
    registered: list[str] = []
    try:
        import PIL.Image  # noqa: F401 — optional: not in the sandbox image
    except ImportError:
        return registered

    def _pil_decode(buf: Any) -> tuple[Any, str]:
        # imports INSIDE the body (see audio.register_optional_decoders):
        # an executor lacking Pillow contains the miss per row as a
        # decode_error verdict instead of dying at closure deserialization
        import io as _io

        import numpy as _np
        from PIL import Image as _Image
        try:
            img = _Image.open(_io.BytesIO(bytes(buf))).convert("RGB")
            return _np.asarray(img, dtype=_np.uint8), ""
        except Exception as exc:
            return None, f"decode_error:{type(exc).__name__}"

    for codec in ("jpeg", "png", "webp"):
        register_image_decoder(codec, _pil_decode)
        registered.append(codec)
    return registered


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

def image_decode_check(df: DataFrame) -> DataFrame:
    """Per-row decode-ability -> (image_id, decode_ok, error, width, height,
    channels). Input needs (image_id, codec, bytes)."""
    decoders = _image_decoder_snapshot()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ok, err, ws, hs, cs = [], [], [], [], []
            for codec, buf in zip(pdf["codec"], pdf["bytes"]):
                img, e = _decode_image(decoders, codec, buf)
                ok.append(img is not None)
                err.append(e)
                ws.append(0 if img is None else img.shape[1])
                hs.append(0 if img is None else img.shape[0])
                cs.append(0 if img is None else img.shape[2])
            yield pd.DataFrame({"image_id": pdf["image_id"], "decode_ok": ok,
                                "error": err, "width": ws, "height": hs,
                                "channels": cs})

    return df.select("image_id", "codec", "bytes").mapInPandas(
        run, IMAGE_DECODE_SCHEMA)


def resize_images(df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Nearest-neighbor resize -> re-encoded rgb8raw bytes (exact numpy
    index math — deterministic across runs/partitionings)."""
    decoders = _image_decoder_snapshot()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_bytes, errs = [], []
            for codec, buf in zip(pdf["codec"], pdf["bytes"]):
                img, e = _decode_image(decoders, codec, buf)
                if img is None:
                    out_bytes.append(None)
                    errs.append(e)
                    continue
                h, w, _c = img.shape
                ys = (np.arange(target_h) * h // target_h)
                xs = (np.arange(target_w) * w // target_w)
                out_bytes.append(encode_rgb8raw(img[ys][:, xs]))
                errs.append("")
            yield pd.DataFrame({
                "image_id": pdf["image_id"], "bytes": out_bytes,
                "width": target_w, "height": target_h,
                "codec": "rgb8raw", "error": errs})

    return df.select("image_id", "codec", "bytes").mapInPandas(
        run, RESIZE_SCHEMA)


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


def sample_video_frames(df: DataFrame, *, every_ms: int = 1000,
                        max_frames: int = 16) -> DataFrame:
    """Frame sampling: one output row per sampled frame, frame payload
    re-encoded as rgb8raw. Input needs (video_id, codec, bytes); only
    ``rawvid`` decodes here (real slicing), other codecs yield zero rows —
    pair with ``decode_rawvid_header`` checks to report them."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vid, codec, buf in zip(pdf["video_id"], pdf["codec"],
                                       pdf["bytes"]):
                if codec != "rawvid":
                    continue
                hdr, e = decode_rawvid_header(buf)
                if hdr is None:
                    continue
                w, h, fps, n = hdr
                step = max(int(round(fps * every_ms / 1000.0)), 1)
                fsize = w * h * 3
                for k, fi in enumerate(range(0, n, step)):
                    if k >= max_frames:
                        break
                    start = 16 + fi * fsize
                    frame = np.frombuffer(
                        bytes(buf[start:start + fsize]), np.uint8
                    ).reshape(h, w, 3)
                    rows.append((vid, fi, 1000.0 * fi / fps,
                                 encode_rgb8raw(frame), w, h))
            yield pd.DataFrame(rows, columns=[
                "video_id", "frame_index", "ts_ms", "bytes", "width",
                "height"])

    return df.select("video_id", "codec", "bytes").mapInPandas(
        run, FRAME_SCHEMA)
