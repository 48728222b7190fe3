"""Multimodal column plumbing: treat image/audio/video payloads as
opaque `binary` columns with typed metadata, processed by Arrow-batched
`mapInPandas` (decode / feature-extract / resize / frame-sample).

The actual media decode is STUBBED — the container has no image/audio
libraries — behind `_decode_stub`, a deterministic fake that derives
"decoded" metadata purely from the bytes (length + header byte sum), so
the Spark-side contract (schema, partitioning, UDF signature, Arrow
batch shape) is real and fully tested/oracle-checkable.  Swapping in a
real decoder means replacing `_decode_stub` only.

Scale notes: mapInPandas streams Arrow batches through the Python
worker — bound batch bytes via spark.sql.execution.arrow.
maxRecordsPerBatch when payloads are large; payload columns should be
pruned out of every stage that doesn't decode (Catalyst column pruning
does this for free as long as the decode is a separate projection).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_SCHEMA = (
    "doc_id bigint, n_bytes bigint, header_sum bigint, "
    "fake_width int, fake_height int"
)

HEADER_LEN = 16


def _decode_stub(payload: bytes) -> tuple[int, int, int, int]:
    """Deterministic fake decode: (n_bytes, header_sum, width, height).

    A real implementation would call PIL/ffmpeg here and raise on
    corrupt payloads; the fake derives dims from the header checksum so
    downstream code exercises realistic value ranges."""
    n = len(payload)
    hs = sum(payload[:HEADER_LEN])
    return n, hs, 64 + hs % 512, 64 + (hs * 7) % 512


def attach_payload(docs: DataFrame) -> DataFrame:
    """Test harness: use the utf-8 bytes of `text` as the opaque payload
    column (real pipelines read payloads from parquet binary columns)."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


def decode_metadata(payloads: DataFrame) -> DataFrame:
    """(doc_id, payload binary) -> META_SCHEMA rows via mapInPandas.

    One Arrow batch in, one out; the payload column is dropped on
    output so downstream stages never reshuffle the heavy bytes."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [_decode_stub(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_bytes": [m[0] for m in meta],
                    "header_sum": [m[1] for m in meta],
                    "fake_width": [m[2] for m in meta],
                    "fake_height": [m[3] for m in meta],
                }
            )

    return payloads.mapInPandas(_decode, META_SCHEMA)


def frame_sample(payloads: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' over the opaque payload: emit one row per
    every_n_bytes offset with a deterministic fake frame checksum —
    the row-explosion shape of real video frame extraction.

    Output: (doc_id, frame_idx int, frame_sum bigint)."""

    schema = "doc_id bigint, frame_idx int, frame_sum bigint"

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sums = [], [], []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                for i in range(0, max(len(p), 1), every_n_bytes):
                    ids.append(did)
                    idxs.append(i // every_n_bytes)
                    sums.append(sum(p[i : i + every_n_bytes]))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_sum": sums}
            )

    return payloads.mapInPandas(_sample, schema)


def audio_energy(payloads: DataFrame, frame_len: int = 64) -> DataFrame:
    """Windowed audio feature extraction over the opaque payload:
    interpret the bytes as little-endian int16 PCM, frame into
    non-overlapping `frame_len`-sample windows (the trailing partial
    frame is kept with its true n_samples), and emit per frame

        rms = √(Σ s² / n)      (energy)
        zcr = #(sign flips between consecutive samples in the frame)

    — the real shape of audio preprocessing (energy gating, VAD
    features), with the byte→sample step in deterministic integer
    arithmetic so the DuckDB oracle reproduces it from the same bytes.
    An odd trailing byte is dropped (no half-sample).

    Vectorized: one numpy reinterpret + reshape per Arrow batch, no
    per-sample Python.  Output: (doc_id, frame_idx, n_samples, rms,
    zcr)."""
    import numpy as np

    fl = int(frame_len)
    schema = (
        "doc_id bigint, frame_idx int, n_samples int,"
        " rms double, zcr int"
    )

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ns, rms, zcr = [], [], [], [], []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(p)
                n_samp = len(buf) // 2
                if n_samp == 0:
                    continue
                s = np.frombuffer(
                    buf[: 2 * n_samp], dtype="<i2"
                ).astype(np.int64)
                for f0 in range(0, n_samp, fl):
                    fr = s[f0 : f0 + fl]
                    ids.append(did)
                    idxs.append(f0 // fl)
                    ns.append(len(fr))
                    e = float(int((fr * fr).sum())) / len(fr)
                    rms.append(np.floor(np.sqrt(e) * 1e6) / 1e6)
                    neg = fr < 0
                    zcr.append(int((neg[1:] != neg[:-1]).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "n_samples": ns,
                    "rms": rms,
                    "zcr": zcr,
                }
            )

    return payloads.mapInPandas(_frames, schema)
