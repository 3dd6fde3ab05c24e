"""Multimodal columns (north-star extension): image/audio/video as opaque
``binary`` columns with typed metadata, processed by Arrow-batched pandas
UDFs over ``mapInPandas``.

The container has no image/audio libraries, so the DECODE step is stubbed
(SURVEY/north-star instruction): ``_decode_image_stub`` raises
NotImplementedError unless ``allow_fake=True``, in which case it produces a
*deterministic fake* decode (seeded by the payload bytes) so the Spark-side
plumbing — schema, batch iteration, constant-memory streaming, partitioning
— is real and testable. Swapping in PIL/librosa later changes ONE function.

Scale design: media blobs are large; everything here streams Arrow batches
through Python with per-batch memory only, keeps blobs out of shuffles
(feature extraction happens before any wide op), and carries metadata in a
typed struct column so filters on width/height/codec stay JVM-side and
pushdown-eligible.

Every ``mapInPandas`` function here is a ``pyworker.worker_entry``
function: it ships this module by value, so workers need no repo on
their path, and skips PySpark's per-task re-read of ``pyspark.zip``.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyetl_spark.operators.pyworker import worker_entry


#: typed metadata struct carried next to every media blob
MEDIA_META_DDL = (
    "media_id long, kind string, width int, height int,"
    " n_frames int, sample_rate int"
)

FEATURE_DIM = 32


def _decode_image_stub(payload: bytes, allow_fake: bool) -> np.ndarray:
    """STUB decode (no imaging libs in this container).

    With ``allow_fake``: a deterministic pseudo-image derived from a
    sha256 HEX-STRING chain over the payload (r8; previously numpy PCG64
    — equally fake, but RNG output is not reproducible outside numpy,
    which kept every decode-dependent key rows-only). The chain runs
    entirely in lowercase-hex string space, which DuckDB's
    sha256(VARCHAR) replays verbatim:

        seed   = sha256(payload.hex())
        stream = sha256(seed + "|0") + sha256(seed + "|1")   # 64 bytes
        pixel[k] = byte_k(stream) / 255.0                    # 8x8 image

    Still avalanche (any payload bit flips the whole image), still
    stable across runs/machines, and now ORACLE-REPLAYABLE — DuckDB:
    sha256(lower(hex(payload))) etc., probed byte-identical. Without
    ``allow_fake``: NotImplementedError, marking the integration point
    for a real decoder (PIL.Image.open etc.).
    """
    if not allow_fake:
        raise NotImplementedError(
            "image decode requires an imaging library not present in this "
            "environment; pass allow_fake=True for the deterministic stub"
        )
    seed = hashlib.sha256(payload.hex().encode()).hexdigest()
    stream = bytes.fromhex(
        hashlib.sha256(f"{seed}|0".encode()).hexdigest()
        + hashlib.sha256(f"{seed}|1".encode()).hexdigest()
    )
    return np.array([b / 255.0 for b in stream], dtype=np.float64).reshape(
        8, 8
    )


#: PIL.Image once ``_pil_image`` has looked it up, False when no imaging
#: lib is importable, None before the first decode
_PIL_IMAGE = None


def _pil_image():
    """PIL.Image, or False when it is not importable — looked up once,
    not per payload: Python caches a successful import in sys.modules
    but not a FAILED one, so an absent PIL made every decode search
    sys.path again (500 failed imports: ~30 ms). The cache lives in
    this module's globals, i.e. once per process on the driver; on
    executors, where the module ships by value inside the task closure,
    once per task."""
    global _PIL_IMAGE
    if _PIL_IMAGE is None:
        try:
            from PIL import Image  # optional imaging dep, absent here

            _PIL_IMAGE = Image
        except ImportError:
            _PIL_IMAGE = False
    return _PIL_IMAGE


def _decode_image(payload: bytes, allow_fake: bool) -> np.ndarray:
    """Decode dispatcher: REAL decoder when an imaging lib is importable,
    deterministic stub otherwise.

    The PIL branch is the production integration point — grayscale
    float64 in [0,1] so both branches emit the same dtype/range and
    downstream feature/resize code is branch-agnostic. The lookup
    (``_pil_image``) runs INSIDE the executor-side function so the
    operator ships to workers that may or may not have the lib — each
    worker independently picks the best available path.
    """
    image = _pil_image()
    if image:
        try:
            import io as _io

            img = image.open(_io.BytesIO(payload)).convert("L")
            return np.asarray(img, dtype=np.float64) / 255.0
        except Exception:
            # PIL present but payload isn't a real image (e.g. fixture
            # text bytes) — same deterministic fallback keeps pipelines
            # runnable
            pass
    return _decode_image_stub(payload, allow_fake)


def attach_fake_media(docs: DataFrame) -> DataFrame:
    """Fixture adapter: wrap each document's text bytes as a media blob +
    metadata struct (the fixtures ship no real media; the blob column is
    genuinely BinaryType so the pipeline shape is production-true)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit(8).alias("width"),
            F.lit(8).alias("height"),
            F.lit(1).alias("n_frames"),
            F.lit(0).alias("sample_rate"),
        ).alias("meta"),
    )


def extract_features(
    media: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    allow_fake: bool = True,
) -> DataFrame:
    """binary payload → FEATURE_DIM float feature vector via mapInPandas.

    Batch shape contract: input batches stream one Arrow record batch at a
    time; output yields one DataFrame per input batch (constant memory —
    never accumulate across batches).
    """

    @worker_entry
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf[payload_col]:
                img = _decode_image(bytes(payload), allow_fake)
                flat = img.flatten()
                # fake "embedding": strided means down to FEATURE_DIM.
                # Explicit ascending fold, NOT ndarray.mean() — numpy's
                # pairwise summation order is an internal detail no SQL
                # oracle can replay; this loop is the same fixed IEEE op
                # sequence as a list_reduce fold (cf. pca/ewma).
                row = []
                for i in range(FEATURE_DIM):
                    vals = flat[i::FEATURE_DIM]
                    acc = 0.0
                    for v in vals:
                        acc = acc + float(v)
                    row.append(acc / len(vals))
                feats.append(row)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "features": feats}
            )

    return media.mapInPandas(
        run, f"{id_col} long, features array<double>"
    )


def resize_images(
    media: DataFrame,
    out_w: int = 4,
    out_h: int = 4,
    allow_fake: bool = True,
) -> DataFrame:
    """Decode → nearest-neighbor resize → re-emit as binary (one
    QUANTIZED uint8 byte per pixel, round-half-away from the [0,1]
    float) + updated metadata. Same mapInPandas streaming contract.

    The uint8 emission (r8; previously raw float64 LE) is the portable
    contract: float byte serialization is an engine-internal encoding
    no other system can recompute, while round(p*255) is a fixed
    arithmetic step — exact for the stub's own byte-derived pixels
    (b/255.0*255.0 rounds back to b for every b, probed) — which lets
    downstream frame hashes be oracle-replayed."""

    @worker_entry
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payloads, metas = [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                img = _decode_image(bytes(payload), allow_fake)
                ys = np.linspace(0, img.shape[0] - 1, out_h).astype(int)
                xs = np.linspace(0, img.shape[1] - 1, out_w).astype(int)
                small = img[np.ix_(ys, xs)]
                # clip BEFORE the uint8 cast: a real decoder (the
                # documented swap point) may emit values outside [0,1];
                # astype(np.uint8) would wrap them mod 256 into
                # plausible-looking garbage instead of saturating
                out_payloads.append(
                    np.clip(np.floor(small * 255.0 + 0.5), 0, 255)
                    .astype(np.uint8)
                    .tobytes()
                )
                m = dict(meta)
                m["width"], m["height"] = out_w, out_h
                metas.append(m)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out_payloads,
                    "meta": metas,
                }
            )

    return media.mapInPandas(
        run, f"media_id long, payload binary, meta struct<{MEDIA_META_DDL}>"
    )


def sample_frames(
    media: DataFrame, every_nth: int = 2, allow_fake: bool = True
) -> DataFrame:
    """Video-style frame sampling: explode each blob into (frame_idx,
    frame_payload) rows for every nth frame — the decode stub fakes frames
    as row-slices of the pseudo-image. Frames are emitted as QUANTIZED
    uint8 bytes (same portable contract and rounding as resize_images),
    so frame content hashes are oracle-replayable."""

    @worker_entry
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                img = _decode_image(bytes(payload), allow_fake)
                for i in range(0, img.shape[0], every_nth):
                    ids.append(media_id)
                    idxs.append(i)
                    # same saturating quantization as resize_images
                    frames.append(
                        np.clip(np.floor(img[i] * 255.0 + 0.5), 0, 255)
                        .astype(np.uint8)
                        .tobytes()
                    )
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return media.mapInPandas(
        run, "media_id long, frame_idx int, frame binary"
    )


# -------------------------------------------------- content-defined chunking

#: Gear table: 256 deterministic 64-bit constants (sha256 of the byte
#: value) — no RNG, so chunk boundaries are identical on every machine.
_GEAR = [
    int.from_bytes(hashlib.sha256(bytes([b])).digest()[:8], "big")
    for b in range(256)
]
_MASK64 = (1 << 64) - 1


def cdc_boundaries(
    payload: bytes,
    avg_bits: int = 6,
    min_size: int = 16,
    max_size: int = 256,
) -> list[int]:
    """Gear-hash content-defined chunk boundaries (FastCDC-style).

    A rolling hash over the byte stream cuts wherever the top ``avg_bits``
    bits are zero (expected chunk ≈ 2^avg_bits bytes), clamped to
    [min_size, max_size]. Because boundaries depend only on LOCAL content,
    inserting bytes near the front shifts at most the chunks up to the
    next boundary — every later chunk re-aligns byte-identically. That is
    the property that makes chunk-hash dedup work on media/video payloads
    where whole-file hashes never match.
    """
    cuts, h, last = [], 0, 0
    threshold_mask = ((1 << avg_bits) - 1) << (64 - avg_bits)
    for i, b in enumerate(payload):
        h = ((h << 1) & _MASK64) ^ _GEAR[b]
        size = i + 1 - last
        if size >= max_size or (
            size >= min_size and (h & threshold_mask) == 0
        ):
            cuts.append(i + 1)
            last = i + 1
            h = 0
    if last < len(payload):
        cuts.append(len(payload))
    return cuts


def chunk_payloads(
    media: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    avg_bits: int = 6,
    min_size: int = 16,
    max_size: int = 256,
) -> DataFrame:
    """binary payload → one row per content-defined chunk
    (media_id, chunk_idx, offset, n_bytes, chunk_hash).

    The dedup join then runs on chunk_hash — shared runs of bytes across
    different blobs (re-encoded videos, appended logs) collapse to the
    same chunk hashes. Same mapInPandas streaming contract as the other
    operators: per-batch memory only, blobs never enter a shuffle —
    only the 40-byte chunk records do."""

    @worker_entry
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, sizes, hashes = [], [], [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload)
                start = 0
                for idx, end in enumerate(
                    cdc_boundaries(data, avg_bits, min_size, max_size)
                ):
                    ids.append(mid)
                    idxs.append(idx)
                    offs.append(start)
                    sizes.append(end - start)
                    # sha256 over the LOWERCASE HEX of the chunk bytes
                    # (bijective encoding, same content-addressing), not
                    # the raw bytes: DuckDB's sha256 is VARCHAR-only, so
                    # this is what makes the chunking replayable as an
                    # oracle — the same contract trick as the sha256
                    # hex-chain decode stub.
                    hashes.append(
                        hashlib.sha256(
                            data[start:end].hex().encode()
                        ).hexdigest()[:16]
                    )
                    start = end
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "chunk_idx": pd.Series(idxs, dtype="int64"),
                    "offset": pd.Series(offs, dtype="int64"),
                    "n_bytes": pd.Series(sizes, dtype="int64"),
                    "chunk_hash": hashes,
                }
            )

    return media.select(id_col, payload_col).mapInPandas(
        run,
        f"{id_col} long, chunk_idx long, offset long, n_bytes long,"
        " chunk_hash string",
    )


def media_ahash(
    media: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    allow_fake: bool = True,
) -> DataFrame:
    """binary payload → 64-bit average-hash (aHash) fingerprint.

    The classic perceptual fingerprint: decode → grayscale → 8×8 block
    means → threshold each cell against the global mean → 64 bits. With a
    REAL decoder, visually-near images land hamming-close and
    `simhash.hamming_band_pairs` finds them with one banded join; with
    this environment's sha256-seeded stub decode, only byte-identical
    payloads collide (the stub has hash avalanche by construction), so
    fixtures exercise exact-dup clustering while the plumbing — Arrow
    batches in, bigint fingerprints out, band join downstream — is the
    production shape.
    """

    @worker_entry
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for payload in pdf[payload_col]:
                img = _decode_image(bytes(payload), allow_fake)
                g = img.astype(np.float64)
                if g.ndim == 3:
                    g = g.mean(axis=2)
                h, w = g.shape
                # linspace index sampling (resize_images' scheme): exact
                # for the 8x8 stub and safe for ANY real-decoder shape —
                # a block-mean reshape would crash on images under 8px
                ri = np.linspace(0, h - 1, 8).astype(int)
                ci = np.linspace(0, w - 1, 8).astype(int)
                small = g[np.ix_(ri, ci)]
                thresh = small.mean()
                bits = 0
                for i, v in enumerate(small.flatten()):
                    if v > thresh:
                        bits |= 1 << i
                if bits >= 1 << 63:  # two's-complement into signed i64
                    bits -= 1 << 64
                hashes.append(bits)
            yield pd.DataFrame({id_col: pdf[id_col], "ahash": hashes})

    return media.mapInPandas(run, f"{id_col} long, ahash long")
