"""Multimodal column plumbing: opaque binary media + typed metadata.

The contract's documents interleave text and media spans (BASELINE.json:15);
at training-pipeline scale the media bytes live in a binary column processed
by decode / feature-extract / resize UDFs.

The decode step is REAL for the two container-formats a pure-python parser
covers without codec libraries: BMP (BITMAPINFOHEADER) and WAV (RIFF PCM).
The fixture generators emit complete well-formed files (headers + payload),
and ``decode_media_meta`` recovers width/height/frames/sample-rate by parsing
the BYTES, not by replaying the generator arithmetic — the driver oracle
(``media_meta``) recomputes the expected values independently from doc_id, so
a header-layout bug on either side breaks the hash. Formats beyond BMP/WAV
(JPEG/PNG/MP4...) would need codec libs absent from this container; they
return kind='unknown' with NULL metadata rather than a fake.

Spark-side shape: one ``mapInPandas`` iterator pass (one decoder context per
partition, Arrow-bounded batches) — the same plumbing a PIL/ffmpeg decoder
drops into on a real cluster.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
    ]
)


# --------------------------------------------------------------- generators
def make_bmp(width: int, height: int) -> bytes:
    """A complete 24-bpp bottom-up BMP (BITMAPFILEHEADER + BITMAPINFOHEADER
    + padded pixel rows). Pixels are a deterministic gradient."""
    row = (3 * width + 3) // 4 * 4  # rows pad to 4 bytes
    img_size = row * height
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    import numpy as np

    # vectorized gradient fill: this generator runs inside timed bench
    # queries (media_meta/media_features), so a per-pixel python loop would
    # bill fixture cost as decode cost
    px = np.zeros((height, row), dtype=np.uint8)
    x = np.arange(3 * width, dtype=np.int64)
    y = np.arange(height, dtype=np.int64)
    px[:, : 3 * width] = ((x[None, :] + y[:, None]) & 0xFF).astype(np.uint8)
    return header + info + px.tobytes()


def make_wav(sample_rate: int, n_channels: int, n_samples: int) -> bytes:
    """A complete 16-bit PCM RIFF/WAVE file with a deterministic ramp."""
    block = n_channels * 2
    data_size = n_samples * block
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + data_size, b"WAVE",
        b"fmt ", 16, 1, n_channels, sample_rate, sample_rate * block, block, 16,
        b"data", data_size,
    )
    import numpy as np

    vals = (np.arange(data_size // 2, dtype=np.int64) % 1000 - 500).astype("<i2")
    return hdr + vals.tobytes()


def attach_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic media fixture: docs with doc_id % 4 == 3 carry a WAV,
    the rest a BMP, dimensions/rates derived from doc_id (the arithmetic the
    driver oracle mirrors in SQL)."""

    @F.pandas_udf("binary")
    def _gen(ids: pd.Series) -> pd.Series:
        def one(i: int) -> bytes:
            i = int(i)
            if i % 4 == 3:
                return make_wav(8000 + 1000 * (i % 5), 1 + i % 2, 100 + i % 900)
            return make_bmp(1 + i % 64, 1 + (i * 7) % 64)

        return ids.map(one)

    return df.withColumn("media_bytes", _gen(F.col(id_col)))


# ------------------------------------------------------------------ decode
def decode_media(payload: bytes) -> dict:
    """Pure-python container-header decode (no codec libs). BMP: width and
    height from BITMAPINFOHEADER (abs() — negative height means top-down
    rows); WAV: channels/rate from the fmt chunk, frames from the data chunk
    size. Unknown magic -> kind='unknown', NULL metadata."""
    meta = {
        "kind": "unknown",
        "width": None,
        "height": None,
        "n_frames": None,
        "sample_rate": None,
        "n_channels": None,
    }
    if len(payload) >= 54 and payload[:2] == b"BM":
        w, h = struct.unpack_from("<ii", payload, 18)
        meta.update(kind="bmp", width=w, height=abs(h), n_frames=1)
    elif (
        len(payload) >= 44
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WAVE"
    ):
        # walk RIFF chunks: fmt_ then data (generators emit them in order,
        # but parse generally)
        pos = 12
        channels = rate = block = None
        frames = None
        while pos + 8 <= len(payload):
            cid, csize = struct.unpack_from("<4sI", payload, pos)
            if cid == b"fmt ":
                _, channels, rate = struct.unpack_from("<HHI", payload, pos + 8)
                block = struct.unpack_from("<H", payload, pos + 20)[0]
            elif cid == b"data" and block:
                frames = csize // block
            pos += 8 + csize + (csize & 1)
        if channels is not None:
            meta.update(
                kind="wav",
                n_frames=frames,
                sample_rate=rate,
                n_channels=channels,
            )
    return meta


def decode_media_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas decode pass: iterator-of-batches so one decoder context
    per partition, Arrow-bounded memory per batch. Every metadata value is
    parsed out of the bytes."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(b) for b in pdf["media_bytes"]]
            metas = [decode_media(b) for b in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "byte_len": [len(b) for b in payloads],
                    "kind": [m["kind"] for m in metas],
                    "width": pd.array(
                        [m["width"] for m in metas], dtype="Int32"
                    ),
                    "height": pd.array(
                        [m["height"] for m in metas], dtype="Int32"
                    ),
                    "n_frames": pd.array(
                        [m["n_frames"] for m in metas], dtype="Int32"
                    ),
                    "sample_rate": pd.array(
                        [m["sample_rate"] for m in metas], dtype="Int32"
                    ),
                    "n_channels": pd.array(
                        [m["n_channels"] for m in metas], dtype="Int32"
                    ),
                }
            )

    return df.select(id_col, "media_bytes").mapInPandas(decode, MEDIA_META_SCHEMA)


# ---------------------------------------------------- features / resize
def decode_bmp_pixels(payload: bytes):
    """Decode the 24-bpp pixel array of a make_bmp-style BMP into an
    (h, w, 3) uint8 numpy array (bottom-up rows, 4-byte row padding —
    parsed from the actual header fields, not assumed)."""
    import numpy as np

    w, h = struct.unpack_from("<ii", payload, 18)
    off = struct.unpack_from("<I", payload, 10)[0]
    h_abs = abs(h)
    row = (3 * w + 3) // 4 * 4
    px = np.frombuffer(payload, dtype=np.uint8, count=row * h_abs, offset=off)
    px = px.reshape(h_abs, row)[:, : 3 * w].reshape(h_abs, w, 3)
    if h > 0:  # bottom-up storage -> flip to top-down
        px = px[::-1]
    return px


def resize_nearest(img, out_w: int, out_h: int):
    """Nearest-neighbor resize of an (h, w, c) array — pure indexing."""
    import numpy as np

    h, w = img.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[ys][:, xs]


def wav_samples(payload: bytes):
    """Decode the 16-bit PCM sample array of a make_wav-style RIFF file."""
    import numpy as np

    pos = 12
    while pos + 8 <= len(payload):
        cid, csize = struct.unpack_from("<4sI", payload, pos)
        if cid == b"data":
            return np.frombuffer(payload, dtype="<i2", count=csize // 2,
                                 offset=pos + 8)
        pos += 8 + csize + (csize & 1)
    return None


MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("rs_w", T.IntegerType()),
        T.StructField("rs_h", T.IntegerType()),
        T.StructField("n_sampled", T.IntegerType()),
        T.StructField("smp_max", T.IntegerType()),
        T.StructField("smp_min", T.IntegerType()),
    ]
)


def extract_media_features(
    df: DataFrame, id_col: str = "doc_id", frame_stride: int = 100
) -> DataFrame:
    """Feature-extract / resize / frame-sample over REAL decoded bytes —
    the full multimodal verb set, no codec libraries: BMP rows get channel
    means of the actual pixel array plus the dimensions of a real
    nearest-neighbor resize (to at most 8x8); WAV rows get the frame-sample
    count at ``frame_stride`` plus min/max of the decoded PCM samples.
    One mapInPandas pass, iterator-of-batches."""
    import numpy as np

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did, b in zip(pdf[id_col], pdf["media_bytes"]):
                payload = bytes(b)
                meta = decode_media(payload)
                row = {
                    "doc_id": int(did), "kind": meta["kind"],
                    "mean_r": None, "mean_g": None, "mean_b": None,
                    "rs_w": None, "rs_h": None,
                    "n_sampled": None, "smp_max": None, "smp_min": None,
                }
                if meta["kind"] == "bmp":
                    px = decode_bmp_pixels(payload)
                    means = px.reshape(-1, 3).mean(axis=0)
                    rs = resize_nearest(
                        px, min(8, px.shape[1]), min(8, px.shape[0])
                    )
                    # BMP pixel order is BGR; report RGB
                    row.update(
                        mean_b=float(means[0]), mean_g=float(means[1]),
                        mean_r=float(means[2]),
                        rs_w=int(rs.shape[1]), rs_h=int(rs.shape[0]),
                    )
                elif meta["kind"] == "wav":
                    smp = wav_samples(payload)
                    ch = meta["n_channels"] or 1
                    sampled = smp[:: frame_stride * ch]
                    row.update(
                        n_sampled=int(len(sampled)),
                        smp_max=int(smp.max()), smp_min=int(smp.min()),
                    )
                out.append(row)
            pdf_out = pd.DataFrame(out)
            for c in ("rs_w", "rs_h", "n_sampled", "smp_max", "smp_min"):
                pdf_out[c] = pdf_out[c].astype("Int32")
            yield pdf_out

    return df.select(id_col, "media_bytes").mapInPandas(
        extract, MEDIA_FEATURES_SCHEMA
    )
