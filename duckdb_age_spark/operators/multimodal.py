"""Multimodal-column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed by Arrow-batched ``mapInPandas`` pipelines.

Two decode paths coexist:

* **Real byte-level codecs** (``encode_bmp``/``decode_bmp``,
  ``encode_wav``/``decode_wav`` + ``synthesize_media``/``decode_features``)
  — spec-complete 24-bit BMP and 16-bit mono PCM WAV containers built and
  parsed with stdlib ``struct``; no media libraries needed.  This is the
  attested path (``multimodal_decode``): the oracle pins decoded geometry
  AND exact container byte size.
* **The stub seam** (``decode_image_stub``/``extract_features``) — kept as
  the documented drop-in point for formats that genuinely need external
  libraries (JPEG/PNG/ffmpeg); deterministic fake features keep its tests
  and oracles stable.

Scale notes: mapInPandas streams Arrow batches, so a 100 TB binary column
never materializes more than ``spark.sql.execution.arrow.maxRecordsPerBatch``
rows per worker at once; per-file media should additionally cap
``spark.sql.files.maxPartitionBytes`` so one partition ≈ one memory budget.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .iterate import truncate_lineage

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("meta_json", StringType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("byte_len", LongType()),
        StructField("digest", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("decode_ok", StringType()),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat documents.text bytes as opaque media payloads so the
    multimodal path is exercised on driver-provided data (TESTDATA.md has no
    binary table; the plumbing is payload-agnostic)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image/fake").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.to_json(F.struct(F.col("lang"), F.col("source"))).alias("meta_json"),
    )


def decode_image_stub(payload: bytes) -> tuple[int, int]:
    """STUB decoder seam.  A real implementation would be::

        from PIL import Image
        import io
        img = Image.open(io.BytesIO(payload))
        return img.width, img.height

    Here: deterministic fake dimensions derived from payload bytes, so tests
    and oracles are stable.  Raise NotImplementedError to see the real seam.
    """
    if not payload:
        raise NotImplementedError("real decoder required for empty payloads")
    # deterministic fake: "dimensions" from first/last byte and length
    return (payload[0] % 64 + 1) * 16, (payload[-1] % 64 + 1) * 16


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Everything except the decode seam is real: Arrow batch iteration, bytes
    handling, schema contract.  digest=md5 hex (oracle-checkable);
    width/height from the stub decoder.
    """
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "byte_len": payloads.map(lambda b: len(b) if b is not None else 0).astype("int64"),
                    "digest": payloads.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest() if b is not None else None
                    ),
                }
            )
            dims = payloads.map(lambda b: decode_image_stub(bytes(b)) if b else (None, None))
            out["width"] = dims.map(lambda d: d[0]).astype("Int32")
            out["height"] = dims.map(lambda d: d[1]).astype("Int32")
            out["decode_ok"] = "stub"
            yield out

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# REAL byte-level codecs (stdlib struct — no media libraries needed)
# ---------------------------------------------------------------------------
#
# The sandbox has no PIL/ffmpeg, but BMP and WAV are fully specified,
# header-parseable container formats: a real encoder+decoder pair over raw
# bytes upgrades the decode seam from "deterministic fake" to an actual
# byte-level decode path (VERDICT r4 next-round item 4).  The pipeline
# synthesizes genuine BMP/WAV files whose geometry is a pure function of
# media_id, then the decode stage recovers the geometry FROM THE HEADER
# BYTES ONLY — the DuckDB oracle recomputes the same geometry (and the
# exact container byte size) arithmetically, so any header-layout or
# parsing bug is a hash mismatch, not a silent fake.

import struct


def encode_bmp(width: int, height: int, seed: int = 0) -> bytes:
    """Minimal but spec-complete 24-bit BMP (BITMAPFILEHEADER +
    BITMAPINFOHEADER, rows padded to 4 bytes, bottom-up).  Pixel bytes are a
    deterministic seed-derived pattern — content is irrelevant to the
    decode test but keeps digests stable."""
    if width <= 0 or height <= 0:
        raise ValueError("BMP dimensions must be positive")
    row = (3 * width + 3) // 4 * 4
    pixel_bytes = row * height
    size = 54 + pixel_bytes
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0)
    pattern = bytes(((seed + i) * 31) % 256 for i in range(12))
    pixels = (pattern * (pixel_bytes // 12 + 1))[:pixel_bytes]
    return header + info + pixels


def decode_bmp(payload: bytes) -> tuple[int, int]:
    """Parse (width, height) from real BMP header bytes; raises ValueError
    on anything that is not an uncompressed 24-bit BITMAPINFOHEADER BMP."""
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    magic, fsize, _, _, off = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("bad BMP magic")
    hsize, width, height, planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
    if hsize != 40 or planes != 1 or bpp != 24 or comp != 0:
        raise ValueError("unsupported BMP variant")
    if width <= 0 or height == 0:
        raise ValueError("bad BMP dimensions")
    height = abs(height)  # negative = top-down row order, same geometry
    row = (3 * width + 3) // 4 * 4
    if len(payload) < off + row * height:
        raise ValueError("BMP pixel data truncated")
    return width, height


def encode_wav(n_samples: int, sample_rate: int = 8000, seed: int = 0) -> bytes:
    """Canonical 44-byte PCM WAV header + 16-bit mono samples (deterministic
    seed-derived triangle-ish wave)."""
    if n_samples <= 0 or sample_rate <= 0:
        raise ValueError("WAV parameters must be positive")
    data_len = 2 * n_samples
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + data_len, b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", data_len,
    )
    samples = struct.pack(
        "<%dh" % n_samples, *(((seed + i) * 257) % 4096 - 2048 for i in range(n_samples))
    )
    return hdr + samples


def decode_wav(payload: bytes) -> tuple[int, int]:
    """Parse (sample_rate, n_samples) from real WAV bytes; raises ValueError
    for anything that is not 16-bit mono PCM with the canonical layout."""
    if len(payload) < 44:
        raise ValueError("truncated WAV header")
    riff, _, wave, fmt, fmt_len, audio_fmt, channels, rate, _, _, bits, data, data_len = (
        struct.unpack_from("<4sI4s4sIHHIIHH4sI", payload, 0)
    )
    if riff != b"RIFF" or wave != b"WAVE" or fmt != b"fmt ":
        raise ValueError("bad WAV magic")
    if fmt_len != 16 or audio_fmt != 1 or channels != 1 or bits != 16 or data != b"data":
        raise ValueError("unsupported WAV variant")
    if len(payload) < 44 + data_len or data_len % 2:
        raise ValueError("WAV data truncated")
    return rate, data_len // 2


DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("byte_len", LongType()),
        StructField("digest", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("decode_ok", StringType()),
    ]
)


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Build a REAL mixed-media table from the documents ids: even doc_ids
    become 24-bit BMPs with width = id%64+1, height = (id*7)%64+1; odd ids
    become 8 kHz mono WAVs with id%1000+1 samples.  Geometry is a pure
    function of media_id so the oracle can pin the decoded values (and the
    exact container size) without re-parsing bytes."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads, kinds = [], []
            for i in ids:
                i = int(i)
                if i % 2 == 0:
                    payloads.append(encode_bmp(i % 64 + 1, (i * 7) % 64 + 1, seed=i))
                    kinds.append("image/bmp")
                else:
                    payloads.append(encode_wav(i % 1000 + 1, 8000, seed=i))
                    kinds.append("audio/wav")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": kinds,
                    "payload": payloads,
                    "meta_json": "{}",
                }
            )

    return docs.select("doc_id").mapInPandas(gen, schema=MEDIA_SCHEMA)


def decode_features(media: DataFrame) -> DataFrame:
    """REAL decode stage: mapInPandas over binary payloads, parsing geometry
    out of the container headers with stdlib struct.  decode_ok='real' on
    success, 'error:<reason>' otherwise (malformed inputs never kill the
    job — at 100 TB a poison payload must degrade to a row, not a failed
    stage).  duration_ms uses integer arithmetic (n*1000//rate) so the
    oracle replays it exactly."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                rec = {
                    "media_id": int(mid),
                    "kind": kind,
                    "byte_len": len(b),
                    "digest": hashlib.md5(b).hexdigest(),
                    "width": None,
                    "height": None,
                    "sample_rate": None,
                    "duration_ms": None,
                }
                try:
                    if kind == "image/bmp":
                        rec["width"], rec["height"] = decode_bmp(b)
                    elif kind == "audio/wav":
                        rate, n = decode_wav(b)
                        rec["sample_rate"] = rate
                        rec["duration_ms"] = n * 1000 // rate
                    else:
                        raise ValueError(f"unknown kind {kind}")
                    rec["decode_ok"] = "real"
                except ValueError as exc:
                    rec["decode_ok"] = f"error:{exc}"
                rows.append(rec)
            out = pd.DataFrame(rows)
            out["width"] = out["width"].astype("Int32")
            out["height"] = out["height"].astype("Int32")
            out["sample_rate"] = out["sample_rate"].astype("Int32")
            out["duration_ms"] = out["duration_ms"].astype("Int32")
            yield out

    return media.mapInPandas(batches, schema=DECODE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n_bytes: int = 1000) -> DataFrame:
    """'Frame sampling' shape: one output row per sampled offset of each
    payload — the explode-with-posexplode pattern a real video pipeline uses
    per frame, with byte offsets standing in for frame indices."""
    offsets = F.sequence(
        F.lit(0), F.greatest(F.octet_length("payload") - 1, F.lit(0)), F.lit(every_n_bytes)
    )
    return media.select(
        "media_id",
        F.posexplode(offsets).alias("frame_idx", "byte_offset"),
    )


def resize_bmp(payload: bytes, factor: int = 2) -> bytes:
    """REAL nearest-neighbor downsample of a 24-bit BMP by an integer
    factor, operating directly on the container bytes: parse the header,
    stride-sample pixel rows/columns, re-encode.  Pure stdlib — the
    'resize' verb of the multimodal pipeline without an image library."""
    w, h = decode_bmp(payload)
    off = struct.unpack_from("<I", payload, 10)[0]
    row = (3 * w + 3) // 4 * 4
    nw, nh = max(1, w // factor), max(1, h // factor)
    nrow = (3 * nw + 3) // 4 * 4
    out = bytearray()
    for y in range(nh):
        src_row = off + (y * factor) * row
        line = bytearray()
        for x in range(nw):
            p = src_row + (x * factor) * 3
            line += payload[p:p + 3]
        line += b"\x00" * (nrow - len(line))
        out += line
    size = 54 + nrow * nh
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, nw, nh, 1, 24, 0, nrow * nh, 2835, 2835, 0, 0)
    return bytes(header) + bytes(info) + bytes(out)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("byte_len", LongType()),
        StructField("digest", StringType()),
        StructField("decode_ok", StringType()),
    ]
)


def resize_features(media: DataFrame, factor: int = 2) -> DataFrame:
    """mapInPandas resize stage: downsample every BMP payload by ``factor``
    and re-decode the RESULT to prove the re-encoded container is valid.
    Non-BMP/poison rows degrade to error rows."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                rec = {"media_id": int(mid), "width": None, "height": None,
                       "byte_len": None, "digest": None}
                try:
                    small = resize_bmp(b, factor)
                    rec["width"], rec["height"] = decode_bmp(small)  # re-decode proof
                    rec["byte_len"] = len(small)
                    rec["digest"] = hashlib.md5(small).hexdigest()
                    rec["decode_ok"] = "real"
                except (ValueError, struct.error) as exc:
                    rec["decode_ok"] = f"error:{exc}"
                rows.append(rec)
            out = pd.DataFrame(rows)
            out["width"] = out["width"].astype("Int32")
            out["height"] = out["height"].astype("Int32")
            out["byte_len"] = out["byte_len"].astype("Int64")
            yield out

    return media.mapInPandas(batches, schema=RESIZE_SCHEMA)


AUDIO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("sum_abs", LongType()),
        StructField("peak", IntegerType()),
        StructField("zero_crossings", LongType()),
        StructField("decode_ok", StringType()),
    ]
)


def audio_features(media: DataFrame) -> DataFrame:
    """REAL audio feature extraction from WAV bytes: parse the PCM data
    section with stdlib struct and compute exact-integer signal features —
    total absolute amplitude, peak, and strict zero crossings
    (sᵢ·sᵢ₊₁ < 0).  All integers, so an oracle that knows the synthesis
    formula replays every value exactly; a parser bug (endianness, offset,
    width) corrupts the features and fails the hash."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                rec = {"media_id": int(mid), "sample_rate": None, "n_samples": None,
                       "sum_abs": None, "peak": None, "zero_crossings": None}
                try:
                    rate, n = decode_wav(b)
                    samples = struct.unpack_from("<%dh" % n, b, 44)
                    rec["sample_rate"] = rate
                    rec["n_samples"] = n
                    rec["sum_abs"] = sum(abs(s) for s in samples)
                    rec["peak"] = max((abs(s) for s in samples), default=0)
                    rec["zero_crossings"] = sum(
                        1 for i in range(n - 1) if samples[i] * samples[i + 1] < 0
                    )
                    rec["decode_ok"] = "real"
                except (ValueError, struct.error) as exc:
                    rec["decode_ok"] = f"error:{exc}"
                rows.append(rec)
            out = pd.DataFrame(rows)
            out["sample_rate"] = out["sample_rate"].astype("Int32")
            out["n_samples"] = out["n_samples"].astype("Int64")
            out["sum_abs"] = out["sum_abs"].astype("Int64")
            out["peak"] = out["peak"].astype("Int32")
            out["zero_crossings"] = out["zero_crossings"].astype("Int64")
            yield out

    return media.mapInPandas(batches, schema=AUDIO_SCHEMA)


HIST_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("bin", LongType()),
        StructField("n_bytes", LongType()),
    ]
)


def image_byte_histogram(media: DataFrame, bins: int = 16) -> DataFrame:
    """Per-image byte-value histogram over the decoded BMP pixel buffer —
    the feature-extraction step after decode (exposure/palette screening at
    corpus scale).  Vectorized numpy over Arrow batches: each payload's
    pixel array is bucketed by its high nibble (``bins=16``) with one
    ``bincount`` — no per-pixel Python.  Rows with an empty bin are not
    emitted.  Non-BMP payloads and malformed containers are skipped (the
    decode taxonomy lives in decode_features; this op consumes only
    successfully-decoded images).

    Scale shape: pure mapInPandas — shuffle-free; the histogram rows
    (≤ bins per image) are the only thing that leaves the stage.
    """
    import numpy as np

    div = 256 // bins

    def hist(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, out_bins, counts = [], [], []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if kind != "image/bmp":
                    continue
                try:
                    width, height = decode_bmp(bytes(payload))
                except ValueError:
                    continue
                off = struct.unpack_from("<I", payload, 10)[0]
                # count bounds the read to the pixel buffer proper
                # (row-padded 24bpp geometry from the parsed header):
                # valid BMPs may carry trailing bytes after the pixel
                # array, which must not be bucketed (ADVICE r6)
                n_px_bytes = (3 * width + 3) // 4 * 4 * height
                px = np.frombuffer(payload, dtype=np.uint8, offset=off, count=n_px_bytes)
                counts_arr = np.bincount(px // div, minlength=bins)
                for b in np.nonzero(counts_arr)[0]:
                    ids.append(int(mid))
                    out_bins.append(int(b))
                    counts.append(int(counts_arr[b]))
            yield pd.DataFrame({"media_id": ids, "bin": out_bins, "n_bytes": counts})

    return media.mapInPandas(hist, schema=HIST_SCHEMA).orderBy("media_id", "bin")


RESAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("in_rate", IntegerType()),
        StructField("in_samples", IntegerType()),
        StructField("out_rate", IntegerType()),
        StructField("out_samples", IntegerType()),
        StructField("out_len", LongType()),
        StructField("sample_sum", LongType()),
    ]
)


def resample_wav(media: DataFrame, factor: int = 4) -> DataFrame:
    """REAL audio downsampling: keep every ``factor``-th 16-bit PCM sample
    (numpy stride slice — no per-sample Python), re-encode a valid WAV at
    rate/factor, and RE-DECODE the output so the emitted geometry proves
    the produced container parses.  ``sample_sum`` is the exact int64 sum
    of the decimated samples, read from the OUTPUT bytes — it pins the
    actual audio content without needing a blob digest the oracle can't
    replay (the oracle recomputes it symbolically from the synthesis
    formula).  Non-WAV payloads are skipped; malformed ones degrade to no
    row, never a failed stage.  Shuffle-free mapInPandas.
    """
    import numpy as np

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                if kind != "audio/wav":
                    continue
                b = bytes(payload)
                try:
                    in_rate, in_n = decode_wav(b)
                except ValueError:
                    continue
                samples = np.frombuffer(b, dtype="<i2", offset=44, count=in_n)
                dec = samples[::factor]
                out_rate = in_rate // factor
                out = struct.pack(
                    "<4sI4s4sIHHIIHH4sI",
                    b"RIFF", 36 + 2 * len(dec), b"WAVE",
                    b"fmt ", 16, 1, 1, out_rate, out_rate * 2, 2, 16,
                    b"data", 2 * len(dec),
                ) + dec.tobytes()
                got_rate, got_n = decode_wav(out)  # output must parse
                out_samples = np.frombuffer(out, dtype="<i2", offset=44, count=got_n)
                rows.append(
                    {
                        "media_id": int(mid),
                        "in_rate": in_rate,
                        "in_samples": in_n,
                        "out_rate": got_rate,
                        "out_samples": got_n,
                        "out_len": len(out),
                        "sample_sum": int(out_samples.astype(np.int64).sum()),
                    }
                )
            out_df = pd.DataFrame(
                rows,
                columns=[
                    "media_id", "in_rate", "in_samples", "out_rate",
                    "out_samples", "out_len", "sample_sum",
                ],
            )
            for c in ("in_rate", "in_samples", "out_rate", "out_samples"):
                out_df[c] = out_df[c].astype("Int32")
            yield out_df

    return media.mapInPandas(gen, schema=RESAMPLE_SCHEMA).orderBy("media_id")


def flip_bmp(payload: bytes) -> bytes:
    """REAL vertical flip of a 24-bit BMP operating on the container
    bytes: parse the header, reverse the (padded) pixel-row order,
    re-emit with the identical header AND any trailing bytes preserved —
    geometry is unchanged, content row order inverts, and flip is an
    involution even for valid BMPs carrying data after the pixel array
    (the same trailing-bytes contract as image_byte_histogram).
    Pure stdlib."""
    out, _, _, _, _ = _flip_bmp_geom(payload)
    return out


def _flip_bmp_geom(payload: bytes) -> tuple[bytes, int, int, int, int]:
    """flip_bmp plus the parsed geometry (w, h, pixel offset, row stride)
    so callers don't re-parse the header they already validated."""
    w, h = decode_bmp(payload)
    off = struct.unpack_from("<I", payload, 10)[0]
    row = (3 * w + 3) // 4 * 4
    buf = payload[off : off + row * h]
    flipped = b"".join(buf[(h - 1 - y) * row : (h - y) * row] for y in range(h))
    return payload[:off] + flipped + payload[off + row * h :], w, h, off, row


FLIP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("byte_len", LongType()),
        StructField("checksum", LongType()),
        StructField("decode_ok", StringType()),
    ]
)


def flip_features(media: DataFrame) -> DataFrame:
    """mapInPandas flip stage: vertically flip every BMP payload, RE-DECODE
    the result to prove the output container is valid, and emit a
    POSITION-WEIGHTED checksum of the flipped pixel buffer —
    sum over j of out[j]·(j+1) — which an oracle can replay symbolically
    from the synthesis formula (pixel j is pattern[(src index) mod 12], so
    the checksum pins the actual row inversion, not just the geometry).
    ~2^39 for the ≤64×64 fixtures, but computed block-wise with a
    Python-int accumulator so it stays exact for ARBITRARY payload sizes
    (a single int64 reduction would wrap past ~270 MB — ADVICE r7).
    Non-BMP/poison rows degrade to error rows.  Shuffle-free
    mapInPandas."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                rec = {"media_id": int(mid), "width": None, "height": None,
                       "byte_len": None, "checksum": None}
                try:
                    out, _, _, off, row = _flip_bmp_geom(b)
                    w, h = decode_bmp(out)  # re-decode proof of the OUTPUT
                    rec["width"], rec["height"] = w, h
                    rec["byte_len"] = len(out)
                    n = row * h
                    px = np.frombuffer(out, dtype=np.uint8, offset=off, count=n)
                    # Block-exact position-weighted sum: a single int64
                    # np.sum wraps silently once 255·n²/2 exceeds 2^63
                    # (~270 MB pixel buffer — legal BMP, just huge).  Each
                    # 1 MiB block's partial is ≤ 255·2^20·(s+2^20) < 2^63
                    # for any n < 2^31 (Arrow's per-cell cap), and the
                    # Python-int accumulator is unbounded, so the checksum
                    # is exact for every payload Arrow can deliver.
                    total = 0
                    blk_sz = 1 << 20
                    for s in range(0, n, blk_sz):
                        blk = px[s : s + blk_sz].astype(np.int64)
                        idx = np.arange(s + 1, s + 1 + len(blk), dtype=np.int64)
                        total += int(np.dot(blk, idx))
                    rec["checksum"] = total
                    rec["decode_ok"] = "real"
                except (ValueError, struct.error) as exc:
                    rec["decode_ok"] = f"error:{exc}"
                rows.append(rec)
            out_df = pd.DataFrame(rows)
            out_df["width"] = out_df["width"].astype("Int32")
            out_df["height"] = out_df["height"].astype("Int32")
            out_df["byte_len"] = out_df["byte_len"].astype("Int64")
            out_df["checksum"] = out_df["checksum"].astype("Int64")
            yield out_df

    return media.mapInPandas(batches, schema=FLIP_SCHEMA)


AUDIO_BLOCK_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("block", LongType()),
        StructField("n_samples", LongType()),
        StructField("sum_sq", LongType()),
        StructField("peak", LongType()),
        StructField("decode_ok", StringType()),
    ]
)


def audio_block_features(media: DataFrame, block: int = 256) -> DataFrame:
    """Windowed signal energy over REAL WAV bytes: the PCM data section is
    parsed (stdlib header decode, numpy int16 view) and each ``block``-
    sample window emits its exact Σs² and peak |s| — the block-energy
    profile VAD/silence-trimming and loudness-normalization passes run
    before audio-training-data selection.  RMS itself is irrational, so
    the operator returns the (sum_sq, n_samples) pair it derives from —
    exact integers an oracle replays from the synthesis formula (a parser
    bug in offset/endianness/width corrupts every block and fails the
    hash).  Σs² ≤ 2048²·block ≈ 2³⁰ per block — no overflow anywhere.

    Poison payloads degrade to a single block=-1 error row (the 100 TB
    rule: a bad byte-string must never kill the job).  Scale shape:
    shuffle-free mapInPandas — blocks of one payload never cross rows, so
    the stage stays a narrow map at any corpus size; numpy does the
    squaring per Arrow batch.
    """
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("media_id", "block", "n_samples", "sum_sq", "peak", "decode_ok")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                try:
                    _rate, n = decode_wav(b)
                    samples = np.frombuffer(b, dtype="<i2", offset=44, count=n).astype(np.int64)
                    # max(1, …): a data_len=0 WAV is VALID (decode_wav
                    # accepts it) and must still emit one (empty) block
                    # row, not vanish from the output (code-review r8)
                    for blk in range(0, max(1, (n + block - 1) // block)):
                        seg = samples[blk * block : (blk + 1) * block]
                        out["media_id"].append(int(mid))
                        out["block"].append(blk)
                        out["n_samples"].append(int(seg.size))
                        out["sum_sq"].append(int((seg * seg).sum()))
                        out["peak"].append(int(np.abs(seg).max()) if seg.size else 0)
                        out["decode_ok"].append("real")
                except (ValueError, struct.error) as exc:
                    out["media_id"].append(int(mid))
                    out["block"].append(-1)
                    out["n_samples"].append(0)
                    out["sum_sq"].append(0)
                    out["peak"].append(0)
                    out["decode_ok"].append(f"error:{exc}")
            yield pd.DataFrame(out)

    return media.where(F.col("kind") == "audio/wav").mapInPandas(
        batches, schema=AUDIO_BLOCK_SCHEMA
    )


AHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("ahash_hi", LongType()),
        StructField("ahash_lo", LongType()),
    ]
)


def ahash_features(media: DataFrame) -> DataFrame:
    """Perceptual average-hash over REAL decoded BMP pixels: 8×8 grid of
    integer gray sums, bit k set iff cell k's mean gray exceeds the
    image mean — the classic near-duplicate image fingerprint (two
    re-encodes/resizes of one photo land within a few Hamming bits).

    All-integer and engine-replayable: gray = (b+g+r) DIV 3 per pixel,
    cell assignment (x·8 DIV w, y·8 DIV h), and the mean comparison is
    cross-multiplied (cell_sum·n > total·cell_count — exact for images
    up to ~1.9e8 pixels, far past any BMP this decoder accepts).  The
    64 bits are returned as two non-negative 32-bit words (hi, lo) so
    BIGINT arithmetic never wraps.  Vectorized numpy over Arrow
    batches, shuffle-free; non-BMP/malformed payloads are skipped (the
    decode taxonomy lives in decode_features).
    """
    import numpy as np

    def ah(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, ws, hs, his, los = [], [], [], [], []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                if kind != "image/bmp":
                    continue
                try:
                    w, h = decode_bmp(bytes(payload))
                except ValueError:
                    continue
                off = struct.unpack_from("<I", payload, 10)[0]
                rowb = (3 * w + 3) // 4 * 4
                buf = np.frombuffer(payload, np.uint8, offset=off, count=rowb * h)
                px = buf.reshape(h, rowb)[:, : 3 * w].reshape(h, w, 3)
                # bottom-up container: buffer row 0 is image row h-1
                gray = px.astype(np.int64).sum(axis=2)[::-1] // 3
                cys = np.arange(h) * 8 // h
                cxs = np.arange(w) * 8 // w
                cell = (cys[:, None] * 8 + cxs[None, :]).ravel()
                sums = np.zeros(64, np.int64)
                np.add.at(sums, cell, gray.ravel())
                cnts = np.bincount(cell, minlength=64)
                n = w * h
                total = int(gray.sum())
                bits = sums * n > total * cnts
                hi = lo = 0
                for k in np.nonzero(bits)[0]:
                    k = int(k)
                    if k < 32:
                        lo |= 1 << k
                    else:
                        hi |= 1 << (k - 32)
                ids.append(int(mid)); ws.append(w); hs.append(h)
                his.append(hi); los.append(lo)
            yield pd.DataFrame(
                {"media_id": ids, "width": ws, "height": hs, "ahash_hi": his, "ahash_lo": los}
            )

    return media.mapInPandas(ah, schema=AHASH_SCHEMA)


def ahash_dup_pairs(
    media: DataFrame, max_hamming: int = 4, band_cap: int = 200
) -> DataFrame:
    """Near-duplicate image pairs by banded average-hash: split each
    64-bit ahash into four 16-bit bands, candidate pairs share a band
    value (the LSH pigeonhole — same recall/cost trade as MinHash
    banding; a pair differing in all four bands is not generated), then
    verify with the exact Hamming distance (bit_count of the xor) ≤
    ``max_hamming``.

    Scale shape: the hash table is one row per image (two BIGINTs); the
    self-join is banded, never all-pairs, and band values held by more
    than ``band_cap`` images are dropped before the join (the MinHash
    hot-bucket guard — a degenerate constant-color corpus cannot
    quadratic-blow the join; dropped bands only cost recall, and the
    oracle replays the drop exactly).  Returns (a, b, hamming).
    """
    feats = truncate_lineage(ahash_features(media))
    band_vals = [
        (0, F.expr("ahash_lo & 65535")),
        (1, F.expr("(ahash_lo >> 16) & 65535")),
        (2, F.expr("ahash_hi & 65535")),
        (3, F.expr("(ahash_hi >> 16) & 65535")),
    ]
    bands = feats.select(
        "media_id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("b"), v.alias("v")) for b, v in band_vals])
        ).alias("bv"),
    ).select("media_id", F.col("bv.b").alias("b"), F.col("bv.v").alias("v"))
    ok = bands.groupBy("b", "v").agg(F.count("*").alias("nb")).where(
        F.col("nb") <= band_cap
    )
    rhs = bands.withColumnRenamed("media_id", "media_id_2")
    cand = (
        bands.join(ok.select("b", "v"), ["b", "v"])
        .join(rhs, ["b", "v"])
        .where(F.col("media_id") < F.col("media_id_2"))
        .select(F.col("media_id").alias("a"), F.col("media_id_2").alias("b"))
        .distinct()
    )
    fa = feats.select(
        F.col("media_id").alias("a"),
        F.col("ahash_hi").alias("hi_a"),
        F.col("ahash_lo").alias("lo_a"),
    )
    fb = feats.select(
        F.col("media_id").alias("b"),
        F.col("ahash_hi").alias("hi_b"),
        F.col("ahash_lo").alias("lo_b"),
    )
    return (
        cand.join(fa, "a")
        .join(fb, "b")
        .select(
            "a",
            "b",
            F.expr("CAST(bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b) AS BIGINT)").alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
        .orderBy("a", "b")
    )
