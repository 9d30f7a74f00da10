"""Multimodal column plumbing (LLM-pipeline extension).

Treats media as opaque `binary` payload columns with typed metadata
structs, processed by Arrow-batched Python (mapInPandas) — the one
place the engine deliberately leaves the JVM, because media decoding
is a Python-library affair. The Spark-side contract (schema,
partition preservation, batch iteration) is real and tested; the
actual image/audio decode is STUBBED (no codec libraries in this
container): decode_media() raises NotImplementedError for non-text
MIME types, and the tested path uses text/plain payloads whose
"features" are deterministic byte statistics.

At 100 TB: mapInPandas streams Arrow batches executor-side — no
collect, no per-row Python, memory bounded by
spark.sql.execution.arrow.maxRecordsPerBatch; CPU-heavy decode scales
with cores, so repartition to cores*4 before this stage.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id long, mime string, n_bytes long, first_byte int, mean8_micro long"
)


def attach_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Simulate a multimodal table: utf-8 payload bytes + metadata
    struct — the layout a real pipeline would have for image/audio
    blobs (payload binary, meta.mime, meta.n_bytes)."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(payload).alias("n_bytes"),
        ).alias("meta"),
    )


def decode_media(payload: bytes, mime: str) -> bytes:
    """Decode a media payload. STUB: real decoders (PIL/torchaudio/
    pyav) are not available in this environment; only the text path
    is implemented. The function boundary is the real contract a
    production decode stage would fill in."""
    if mime == "text/plain":
        return payload
    raise NotImplementedError(
        f"decoder for {mime!r} not bundled; plug a real codec here"
    )


def extract_features(payloads: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over (id, payload, meta):
    byte-statistics features, deterministic, oracle-checkable."""
    from map_reduce_for_dbpl_dataset_spark.session import ship_package

    ship_package(payloads.sparkSession)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            raw = [decode_media(p, m) for p, m in zip(pdf["payload"], pdf["meta"].map(lambda s: s["mime"]))]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["meta"].map(lambda s: s["mime"]),
                    "n_bytes": [len(b) for b in raw],
                    "first_byte": [b[0] if len(b) else -1 for b in raw],
                    "mean8_micro": [
                        int(sum(b[:8]) / 8.0 * 1_000_000) if len(b) >= 8 else -1
                        for b in raw
                    ],
                }
            )

    return payloads.mapInPandas(batches, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id long, mime string, n_bytes long, resized_len int, resized_md5 string"
)
# Output bytes per resized payload (the llm_multimodal_resize oracle
# replays the same 64).
RESIZE_TARGET = 64


def resize_media(payloads: DataFrame) -> DataFrame:
    """Resize over binary payloads: each payload is decimated to at
    most RESIZE_TARGET bytes (every stride-th byte, stride = n div
    RESIZE_TARGET) and fingerprinted — the plumbing shape of image
    resize / audio resample (payload in, smaller payload out, metadata
    preserved) with the codec STUBBED as byte decimation (no
    PIL/librosa in this container; a real pipeline replaces the
    slice with Image.resize and keeps everything else). The Spark
    side — Arrow batching, one output row per input, deterministic
    output an oracle can replay — is exactly what production runs."""
    import hashlib

    from ..session import ship_package

    ship_package(payloads.sparkSession)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mimes = pdf["meta"].map(lambda s: s["mime"])
            rows = {"doc_id": [], "mime": [], "n_bytes": [], "resized_len": [], "resized_md5": []}
            for doc_id, payload, mime in zip(pdf["doc_id"], pdf["payload"], mimes):
                raw = bytes(decode_media(bytes(payload), mime))
                stride = max(len(raw) // RESIZE_TARGET, 1)
                resized = raw[::stride][:RESIZE_TARGET]
                rows["doc_id"].append(doc_id)
                rows["mime"].append(mime)
                rows["n_bytes"].append(len(raw))
                rows["resized_len"].append(len(resized))
                rows["resized_md5"].append(hashlib.md5(resized).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "mime": pd.Series(rows["mime"], dtype="object"),
                    "n_bytes": pd.Series(rows["n_bytes"], dtype="int64"),
                    "resized_len": pd.Series(rows["resized_len"], dtype="int32"),
                    "resized_md5": pd.Series(rows["resized_md5"], dtype="object"),
                }
            )

    return payloads.mapInPandas(batches, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_md5 string, frame_len int"
# Frames per payload and bytes per frame (the llm_multimodal_frames
# oracle replays the same 4 x 16).
FRAME_COUNT = 4
FRAME_WIDTH = 16


def sample_frames(payloads: DataFrame) -> DataFrame:
    """Frame sampling over binary payloads: FRAME_COUNT evenly-strided
    FRAME_WIDTH-byte windows per payload, each fingerprinted — the
    plumbing shape of video frame extraction (payload -> per-frame
    rows) with the codec STUBBED as byte-window + md5 (deterministic,
    oracle-checkable).
    A real pipeline swaps the window slice for a decoder call; the
    Spark side (mapInPandas fan-out, one row per frame, partition
    preservation) is exactly what production would run."""
    import hashlib

    from ..session import ship_package

    ship_package(payloads.sparkSession)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, hashes, lens = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                n = len(raw)
                stride = max(n // FRAME_COUNT, 1)
                for i in range(FRAME_COUNT):
                    off = i * stride
                    if off >= n:
                        break
                    frame = raw[off : off + FRAME_WIDTH]
                    ids.append(doc_id)
                    idxs.append(i)
                    hashes.append(hashlib.md5(frame).hexdigest())
                    lens.append(len(frame))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_md5": pd.Series(hashes, dtype="object"),
                    "frame_len": pd.Series(lens, dtype="int32"),
                }
            )

    return payloads.mapInPandas(batches, schema=FRAME_SCHEMA)
