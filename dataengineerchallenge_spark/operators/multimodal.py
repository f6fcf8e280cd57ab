"""Multimodal payload columns (SURVEY.md §2.11 N5): carry opaque binary
media (image/audio/video) through the engine as ``BinaryType`` columns
with a typed metadata struct, and process them with Arrow-batched
``mapInPandas`` — the shape a 100 TB training-data pipeline uses for
decode / feature-extract / resize / frame-sample stages.

The container has no media codecs (PIL/ffmpeg), so DECODE IS STUBBED:
``decode_payload(..., codec="real")`` raises NotImplementedError by
design, and the deterministic "fake codec" treats the payload bytes
themselves as the decoded signal. Everything around the stub — schema,
binary column plumbing, metadata struct, Arrow batch iteration, the
byte-level feature math — is real and oracle-checked.

Scale notes: payloads ride in the same rows as their metadata, so
predicate pushdown on metadata (mime, n_bytes) prunes parquet row
groups BEFORE payload IO; mapInPandas streams Arrow batches, so peak
memory is one batch of payloads per core, not a partition; per-batch
codec init amortizes (see functions/udfs.py D4 discussion).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAGIC = "MM1:"  # fake container header for the synthetic payloads

PAYLOAD_FEATURES_SCHEMA = (
    "doc_id bigint, mime string, n_bytes bigint, "
    "mean_byte double, max_byte int, header_ok boolean"
)


def with_payloads(
    docs: DataFrame, magic: str = _MAGIC, id_offset: int = 0
) -> DataFrame:
    """Attach a deterministic binary payload + metadata struct to each
    document (stands in for e.g. a thumbnail column). Payload bytes are
    the UTF-8 of header+text, so every engine can recompute them.

    ``magic``/``id_offset`` (r15) synthesize a SECOND DELIVERY of the
    same media under a different container header (same signal bytes,
    different 4-byte envelope — the re-encode scenario perceptual
    dedup exists for): pass e.g. ``magic="MMv2", id_offset=1_000_000``
    and union with the default frame. The offset keeps the id spaces
    disjoint; same-length magics keep the segment grid aligned.
    Disjointness is ENFORCED, not assumed: a codegen'd ``assert_true``
    fails the job if any source doc_id reaches the offset (at which
    point delivery ids would collide with original ids and the residue
    classes downstream ``cross_doc`` relies on would alias)."""
    if id_offset > 0:
        docs = docs.filter(
            F.assert_true(
                F.col("doc_id") < F.lit(id_offset),
                F.lit(f"doc_id >= id_offset {id_offset}: id spaces collide"),
            ).isNull()
        )
    payload = F.encode(F.concat(F.lit(magic), F.col("text")), "UTF-8")
    mime = F.when(F.col("doc_id") % 3 == 0, "image/png").otherwise("audio/wav")
    return docs.select(
        (F.col("doc_id") + F.lit(id_offset)).alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            mime.alias("mime"),
            F.length(payload).alias("n_bytes"),
            F.sha2(payload, 256).alias("content_sha"),
        ).alias("meta"),
    )


def decode_payload(batch: np.ndarray, codec: str):
    """Decode one payload. ``codec="real"`` is where PIL/soundfile/ffmpeg
    would run — unavailable in this environment, so it raises; the
    "fake" codec returns the raw byte array as the decoded signal."""
    if codec == "real":
        raise NotImplementedError(
            "media codecs (PIL/ffmpeg) are not installed in this container; "
            "the fake codec exercises the identical Spark plumbing"
        )
    return np.frombuffer(batch, dtype=np.uint8)


def payload_feature_batches(codec: str = "fake"):
    """mapInPandas stage: binary payloads → per-payload features
    (byte-level stats via the fake codec; a real codec would emit e.g.
    image dimensions or audio RMS through the same iterator shape)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = [decode_payload(p, codec) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "n_bytes": [len(s) for s in sigs],
                    "mean_byte": [float(s.mean()) for s in sigs],
                    "max_byte": [int(s.max()) for s in sigs],
                    "header_ok": [bytes(s[:4]).decode("utf-8", "replace") == _MAGIC for s in sigs],
                }
            )

    return gen


def extract_payload_features(mm: DataFrame, codec: str = "fake") -> DataFrame:
    return mm.mapInPandas(payload_feature_batches(codec), PAYLOAD_FEATURES_SCHEMA)


FRAME_SAMPLE_SCHEMA = "doc_id bigint, frame_idx bigint, frame_mean double"


def frame_sample_batches(frame_bytes: int = 16, every_k: int = 2, codec: str = "fake"):
    """mapInPandas frame-sampling stage (one payload → many frame rows,
    the video-keyframe shape): split the decoded signal into complete
    ``frame_bytes``-sized frames, keep every ``every_k``-th, emit one row
    per kept frame with its mean level."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, idxs, means = [], [], []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                s = decode_payload(p, codec)
                # no rounding here: Python round() is half-EVEN, while both
                # engines' SQL ROUND is half-up — callers F.round the output
                for j in range(0, len(s) // frame_bytes, every_k):
                    fr = s[j * frame_bytes : (j + 1) * frame_bytes]
                    doc_ids.append(did)
                    idxs.append(j)
                    means.append(float(fr.mean()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_mean": pd.Series(means, dtype="float64"),
                }
            )

    return gen


def sample_frames(mm: DataFrame, frame_bytes: int = 16, every_k: int = 2) -> DataFrame:
    return mm.mapInPandas(frame_sample_batches(frame_bytes, every_k), FRAME_SAMPLE_SCHEMA)


RESAMPLE_SCHEMA = "doc_id bigint, " + ", ".join(f"s{k} double" for k in range(8))


def resample_batches(n_buckets: int = 8, codec: str = "fake"):
    """mapInPandas resize stage (image-thumbnail shape): downsample each
    decoded signal to a fixed ``n_buckets``-wide row by averaging integer
    bucket spans [k·L/n, (k+1)·L/n) — the same integer boundaries the
    DuckDB twin computes, so the resize is bit-checkable."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": []}
            for k in range(n_buckets):
                out[f"s{k}"] = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                s = decode_payload(p, codec)
                L = len(s)
                if L < n_buckets:
                    continue  # no complete resize possible; dropped both sides
                out["doc_id"].append(did)
                for k in range(n_buckets):
                    seg = s[L * k // n_buckets : L * (k + 1) // n_buckets]
                    out[f"s{k}"].append(float(seg.mean()))  # F.round'd by caller
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    **{
                        f"s{k}": pd.Series(out[f"s{k}"], dtype="float64")
                        for k in range(n_buckets)
                    },
                }
            )

    return gen


def resample_payloads(mm: DataFrame) -> DataFrame:
    return mm.mapInPandas(resample_batches(), RESAMPLE_SCHEMA)


AHASH_SCHEMA = "doc_id bigint, fa bigint, fb bigint"
AHASH_BITS = 64
AHASH_MIN_BYTES = AHASH_BITS  # every segment must hold >= 1 sample


def ahash_batches(codec: str = "fake"):
    """mapInPandas PERCEPTUAL-HASH stage (aHash — the average-hash the
    image-dedup literature banded long before SimHash reached text):
    downsample the decoded signal to 64 integer-boundary segments (the
    resample stage's grid at width 64 — for a real image this is the
    classic 8x8 thumbnail) and emit bit k = 1 iff segment k's mean
    exceeds the GLOBAL mean. Robust to the local edits that change an
    exact content hash: a few edited bytes move a few segment means,
    flipping a few bits — hamming distance IS edit locality.

    Cross-engine exactness (the repo's hash-green discipline): the
    mean comparison is done as the INTEGER cross-multiplication
    ``seg_sum * L > total_sum * seg_len`` — no float mean ever forms,
    so there is no summation-order or rounding drift for a DuckDB twin
    to disagree with. Bits pack into two 32-bit halves (fa = segments
    0-31, fb = 32-63), the same signed-overflow-safe composition as
    ``operators/dedup.py:simhash_frame``. Payloads shorter than 64
    bytes have no stable 64-segment signature and are skipped (both
    engines filter on the same bound)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fas, fbs = [], [], []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                s = decode_payload(p, codec)
                n = len(s)
                if n < AHASH_MIN_BYTES:
                    continue
                cum = np.concatenate(([0], np.cumsum(s, dtype=np.int64)))
                bounds = np.array(
                    [n * k // AHASH_BITS for k in range(AHASH_BITS + 1)],
                    dtype=np.int64,
                )
                seg_sum = cum[bounds[1:]] - cum[bounds[:-1]]
                seg_len = np.diff(bounds)
                total = int(cum[-1])
                bits = (seg_sum * n) > (total * seg_len)
                fa = int(sum(1 << k for k in range(32) if bits[k]))
                fb = int(sum(1 << k for k in range(32) if bits[32 + k]))
                ids.append(did)
                fas.append(fa)
                fbs.append(fb)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "fa": pd.Series(fas, dtype="int64"),
                    "fb": pd.Series(fbs, dtype="int64"),
                }
            )

    return gen


def payload_ahash(mm: DataFrame, codec: str = "fake") -> DataFrame:
    """(doc_id, fa, fb) perceptual fingerprints of a payload frame.

    For the passthrough ``fake`` codec the decoded signal IS the container
    bytes, so the ``n_bytes >= 64`` bound can run on METADATA before the
    UDF and parquet row-group pruning skips short payloads' bytes
    entirely. For any compressing codec (SRLE1: a 2-byte run decodes to
    up to 255 samples; real image/audio codecs likewise) container size
    says nothing about decoded length, so the prune is SKIPPED and the
    UDF's own decoded-length check (``ahash_batches``) is the only gate —
    a 40-byte container that decodes to 4096 samples must still hash."""
    if codec == "fake":
        mm = mm.filter(F.col("meta.n_bytes") >= AHASH_MIN_BYTES)
    return mm.mapInPandas(ahash_batches(codec), AHASH_SCHEMA)


# --- synthetic codec (SRLE1) -------------------------------------------
# A REAL container format, not a passthrough fake: 2D grayscale image,
# run-length encoded. Exists so the codec boundary itself is
# conformance-tested — variable-length encoding, dimension metadata,
# malformed-container detection — with pure-numpy encode/decode that the
# container's missing media libs can't block. Layout (big-endian):
#   bytes 0-3  magic  b"SRLE"
#   byte  4    version 0x01
#   bytes 5-6  width  uint16
#   bytes 7-8  height uint16
#   bytes 9+   runs: (run_len uint8 >= 1, value uint8) pairs, row-major;
#              run lengths must sum to exactly width*height

SRLE_HEADER = b"SRLE\x01"


def encode_srle(arr: np.ndarray) -> bytes:
    """RLE-encode a 2D uint8 array. Runs longer than 255 split."""
    if arr.ndim != 2:
        raise ValueError(f"SRLE encodes 2D arrays, got ndim={arr.ndim}")
    h, w = arr.shape
    if w == 0 or h == 0 or w > 0xFFFF or h > 0xFFFF:
        raise ValueError(f"SRLE dims out of range: {w}x{h}")
    flat = arr.astype(np.uint8).ravel()
    # run boundaries wherever the value changes
    change = np.flatnonzero(np.diff(flat)) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [len(flat)]))
    out = bytearray(SRLE_HEADER + w.to_bytes(2, "big") + h.to_bytes(2, "big"))
    for s, e in zip(starts, ends):
        v = int(flat[s])
        n = int(e - s)
        while n > 255:
            out += bytes((255, v))
            n -= 255
        out += bytes((n, v))
    return bytes(out)


def decode_srle(payload: bytes) -> np.ndarray:
    """Decode an SRLE container; raises ValueError on any malformation
    (bad magic/version, truncated runs, run-sum/dimension mismatch)."""
    if len(payload) < 9 or payload[:5] != SRLE_HEADER:
        raise ValueError("SRLE: bad magic/version or truncated header")
    w = int.from_bytes(payload[5:7], "big")
    h = int.from_bytes(payload[7:9], "big")
    body = np.frombuffer(payload, dtype=np.uint8, offset=9)
    if len(body) % 2 != 0:
        raise ValueError("SRLE: truncated run pair")
    runs, vals = body[0::2], body[1::2]
    if (runs == 0).any():
        raise ValueError("SRLE: zero-length run")
    if int(runs.sum()) != w * h:
        raise ValueError(f"SRLE: run sum {int(runs.sum())} != {w}x{h}")
    return np.repeat(vals, runs).reshape(h, w)


SYNTH_IMAGE_SCHEMA = "doc_id bigint, payload binary"
SYNTH_DECODE_SCHEMA = (
    "doc_id bigint, decode_ok boolean, width int, height int, "
    "n_px bigint, mean_px double, distinct_px int"
)


def synth_image_batches(corrupt_every: int = 97):
    """mapInPandas encoder stage: deterministic per-doc image — dims from
    doc_id (w = 8 + id%9, h = 8 + (id//7)%9), pixels the document's text
    CODE POINTS mod 256 cycled row-major (character-indexed, so Spark and
    the DuckDB oracle agree for non-ASCII text too, not just when UTF-8
    bytes == code points) — SRLE-encoded. Every ``corrupt_every``-th doc
    ships with its last byte truncated, exercising the malformed-payload
    quarantine path a real media pipeline needs (messy-data stance,
    /root/reference/README.md:61). A doc with NULL/empty text has no
    pixel source and ships as an empty payload, which the decoder
    quarantines (decode_ok=false) — never a ZeroDivisionError task kill;
    one bad object must not kill a job."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                if text is None or len(text) == 0:
                    payloads.append(b"")
                    continue
                w, h = 8 + did % 9, 8 + (did // 7) % 9
                src = np.fromiter(map(ord, text), dtype=np.int64, count=len(text))
                px = (src[np.arange(w * h) % len(src)] % 256).astype(np.uint8).reshape(h, w)
                enc = encode_srle(px)
                if corrupt_every and did % corrupt_every == 0:
                    enc = enc[:-1]
                payloads.append(enc)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    return gen


def synth_decode_batches():
    """mapInPandas decoder stage: SRLE containers → per-image stats, with
    malformed payloads landing as decode_ok=false quarantine rows (never
    a task failure: one bad object among billions must not kill a job)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "decode_ok", "width", "height", "n_px", "mean_px", "distinct_px")}
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                rows["doc_id"].append(int(did))
                try:
                    img = decode_srle(bytes(p))
                    rows["decode_ok"].append(True)
                    rows["width"].append(img.shape[1])
                    rows["height"].append(img.shape[0])
                    rows["n_px"].append(img.size)
                    rows["mean_px"].append(float(img.mean()))
                    rows["distinct_px"].append(int(len(np.unique(img))))
                except ValueError:
                    rows["decode_ok"].append(False)
                    for k in ("width", "height", "n_px", "mean_px", "distinct_px"):
                        rows[k].append(None)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "decode_ok": pd.Series(rows["decode_ok"], dtype="bool"),
                    "width": pd.Series(rows["width"], dtype="Int32"),
                    "height": pd.Series(rows["height"], dtype="Int32"),
                    "n_px": pd.Series(rows["n_px"], dtype="Int64"),
                    "mean_px": pd.Series(rows["mean_px"], dtype="float64"),
                    "distinct_px": pd.Series(rows["distinct_px"], dtype="Int32"),
                }
            )

    return gen


def with_synth_images(docs: DataFrame, corrupt_every: int = 97) -> DataFrame:
    return docs.select("doc_id", "text").mapInPandas(
        synth_image_batches(corrupt_every), SYNTH_IMAGE_SCHEMA
    )


def decode_synth_images(mm: DataFrame) -> DataFrame:
    return mm.mapInPandas(synth_decode_batches(), SYNTH_DECODE_SCHEMA)
