"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``.

The real decoders (PIL/ffmpeg/torchaudio) are not dependencies of this
package, so nothing decodes: ``_extract_features`` and ``_sample_frames``
are deterministic stand-ins over the raw bytes — but everything
Spark-side is real and tested: the schema contract (binary payload +
metadata struct), the Arrow batch path, partition-size-aware batch
iteration, and the downstream join/aggregate behavior of the extracted
features.

Scale notes: mapInPandas streams Arrow record batches — memory is bounded
by ``spark.sql.execution.arrow.maxRecordsPerBatch``, not partition size;
binary payloads never pass through Python row-by-row.  Feature extraction
parallelizes per partition with zero shuffle; only the (tiny) feature
output shuffles into joins.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_server_bigquery_spark.operators.rank import ordered_output
from debezium_server_bigquery_spark.sources.tables import load_table

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("head_hex", T.StringType()),
        T.StructField("kind", T.StringType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_bytes", T.LongType()),
        T.StructField("frame_hash", T.StringType()),
    ]
)

FRAME_SIZE = 64  # bytes per synthetic "frame"


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary column + typed metadata struct — the schema
    contract every multimodal table follows (payload: binary,
    meta: struct<content_type, n_bytes, source>)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("content_type"),
            F.octet_length(payload).alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: per Arrow batch, 'decode' each payload.

    Deterministic fake decode = byte length + hex of the first 16 bytes
    (stands in for width/height/codec probing)."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len).astype("int64"),
                "head_hex": payloads.map(lambda b: bytes(b)[:16].hex().upper()),
                "kind": "stub",
            }
        )


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body emitting multiple rows per input (frame sampling):
    fixed-size chunks of the payload, every other chunk kept (stride 2)."""
    import hashlib

    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_hash": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            data = bytes(payload)
            n_frames = (len(data) + FRAME_SIZE - 1) // FRAME_SIZE
            for idx in range(0, n_frames, 2):
                chunk = data[idx * FRAME_SIZE : (idx + 1) * FRAME_SIZE]
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(idx)
                out["frame_bytes"].append(len(chunk))
                # hash contract: md5 over the UPPER-hex rendering of the
                # chunk (DuckDB has no blob substring, so the oracle works
                # in the hex domain; hex() is uppercase in both engines)
                out["frame_hash"].append(
                    hashlib.md5(chunk.hex().upper().encode()).hexdigest()
                )
        yield pd.DataFrame(out)


# --------------------------------------------------------------------------
def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> Arrow-batched feature extraction -> manifest.
    Oracle-checkable end-to-end because the stub decode is deterministic."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    binary = with_binary_payload(docs)
    feats = binary.mapInPandas(_extract_features, FEATURE_SCHEMA)
    meta = binary.select("doc_id", F.col("meta.n_bytes").alias("meta_bytes"))
    return (
        feats.join(meta, "doc_id")
        .select("doc_id", "n_bytes", "meta_bytes", "head_hex", "kind")
        .orderBy("doc_id")
    )


MULTIMODAL_MANIFEST_SQL = """
SELECT doc_id,
  octet_length(encode(text)) AS n_bytes,
  CAST(octet_length(encode(text)) AS INTEGER) AS meta_bytes,
  substr(hex(encode(text)), 1, 32) AS head_hex,
  'stub' AS kind
FROM documents ORDER BY doc_id
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: 1 -> N rows per payload through
    mapInPandas.  Chunking and stride are deterministic, so even the
    exploded output is oracle-checkable via blob substrings."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    binary = with_binary_payload(docs)
    # ordered_output matters doubly here: a bare orderBy's range sampler
    # would re-execute the Arrow/Python stage itself a second time.
    return ordered_output(
        binary.mapInPandas(_sample_frames, FRAME_SCHEMA), "doc_id", "frame_idx"
    )


MULTIMODAL_FRAMES_SQL = f"""
WITH payloads AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
),
frames AS (
  SELECT doc_id, unnest(range(0, (n + {FRAME_SIZE} - 1) // {FRAME_SIZE}, 2)) AS frame_idx, hx
  FROM payloads
)
SELECT doc_id, frame_idx,
  length(substr(hx, CAST(frame_idx * {FRAME_SIZE * 2} + 1 AS BIGINT), {FRAME_SIZE * 2})) // 2 AS frame_bytes,
  md5(substr(hx, CAST(frame_idx * {FRAME_SIZE * 2} + 1 AS BIGINT), {FRAME_SIZE * 2})) AS frame_hash
FROM frames ORDER BY doc_id, frame_idx
"""


# --------------------------------------------------------------------------
# REAL byte-level media decode: PNG and WAV headers are plain struct
# layouts, so probing width/height/sample-rate needs no imaging library —
# this is the first rung of a decode ladder whose full decoders (PIL,
# ffmpeg) are not dependencies of this package.  Payload synthesis is a
# deterministic function of doc_id, so the DuckDB twin recomputes the
# expected metadata from the same arithmetic while the Spark side
# genuinely round-trips the bytes.
# --------------------------------------------------------------------------
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
    ]
)


def _png_header(width: int, height: int) -> bytes:
    import struct

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
    )


def _wav_header(sample_rate: int) -> bytes:
    import struct

    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 36)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
    )


def _gif_header(width: int, height: int) -> bytes:
    import struct

    return b"GIF89a" + struct.pack("<HH", width, height)


def _bmp_header(width: int, height: int) -> bytes:
    import struct

    return (
        b"BM"
        + struct.pack("<IHHI", 54, 0, 0, 54)  # size, reserved, pixel offset
        + struct.pack("<Iii", 40, width, height)  # BITMAPINFOHEADER head
    )


def _jpeg_header(width: int, height: int) -> bytes:
    """Minimal real JPEG: SOI + APP0/JFIF + SOF0 carrying the frame
    dimensions — the same segment layout every camera JPEG starts with."""
    import struct

    app0 = b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    sof0 = (
        b"\x08"  # precision
        + struct.pack(">HH", height, width)
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"  # 3 components
    )
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
    )


def _synth_payload(i: int) -> bytes:
    if i % 5 == 0:
        return _png_header(i % 512 + 1, (i * 7) % 512 + 1)
    if i % 5 == 1:
        return _wav_header(8000 + (i % 8) * 1000)
    if i % 5 == 2:
        return _gif_header(i % 256 + 1, (i * 3) % 256 + 1)
    if i % 5 == 3:
        return _bmp_header(i % 128 + 1, (i * 5) % 128 + 1)
    return _jpeg_header(i % 300 + 1, (i * 11) % 300 + 1)


def _synth_media(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """doc_id % 5 cycles PNG / WAV / GIF / BMP / JPEG payloads — dimensions
    and rate derive from doc_id, mirrored by the oracle's arithmetic."""
    for pdf in batches:
        ids = pdf["doc_id"]
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "payload": [_synth_payload(int(i)) for i in ids],
            }
        )


def _parse_media_header(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Dispatch on magic bytes, then struct-unpack the real header fields."""
    import struct

    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [],
            "kind": [],
            "width": [],
            "height": [],
            "sample_rate": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            data = bytes(payload)
            kind, width, height, rate = "unknown", None, None, None
            # every branch length-guards its unpack: a truncated payload
            # must classify as unknown, never crash the Arrow task
            if (
                data[:8] == b"\x89PNG\r\n\x1a\n"
                and data[12:16] == b"IHDR"
                and len(data) >= 24
            ):
                kind = "png"
                width, height = struct.unpack(">II", data[16:24])
            elif data[:4] == b"RIFF" and data[8:16] == b"WAVEfmt " and len(data) >= 28:
                kind = "wav"
                (rate,) = struct.unpack("<I", data[24:28])
            elif data[:6] in (b"GIF87a", b"GIF89a") and len(data) >= 10:
                kind = "gif"
                width, height = struct.unpack("<HH", data[6:10])
            elif data[:2] == b"BM" and len(data) >= 26:
                kind = "bmp"
                width, height = struct.unpack("<ii", data[18:26])
                height = abs(height)  # negative height = top-down rows
            elif data[:2] == b"\xff\xd8":
                # JPEG: walk marker segments to the first SOF frame header
                # (C0-C3, C5-C7, C9-CB, CD-CF carry dimensions); a stream
                # that ends before any SOF stays 'unknown'
                pos = 2
                while pos + 2 <= len(data) and data[pos] == 0xFF:
                    marker = data[pos + 1]
                    if marker == 0xFF:  # fill byte: resync to next 0xFF
                        pos += 1
                        continue
                    # Standalone markers carry NO length field (ITU T.81
                    # B.1.1.3): RST0-7 (D0-D7), TEM (01), and a stray SOI
                    # (D8).  Reading their next two bytes as a segment
                    # length mis-skips into arbitrary bytes.
                    if marker == 0x01 or 0xD0 <= marker <= 0xD8:
                        pos += 2
                        continue
                    if marker in (0xD9, 0xDA):
                        # EOI, or SOS: entropy-coded data follows — every
                        # SOF precedes SOS, so no dimensions remain ahead
                        break
                    if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                        if pos + 9 <= len(data):
                            kind = "jpeg"
                            height, width = struct.unpack(
                                ">HH", data[pos + 5 : pos + 9]
                            )
                        break
                    if pos + 4 > len(data):
                        break  # truncated before the length field
                    (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
                    if seglen < 2:
                        break  # malformed length cannot advance the walk
                    pos += 2 + seglen
            out["doc_id"].append(doc_id)
            out["kind"].append(kind)
            out["width"].append(width)
            out["height"].append(height)
            out["sample_rate"].append(rate)
        yield pd.DataFrame(out)


def media_header_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize real PNG/WAV header bytes per document, then decode them
    back by parsing the actual byte layout (magic dispatch + struct
    unpack) — both steps Arrow-batched mapInPandas, zero shuffle until
    the final order."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    payloads = docs.select("doc_id").mapInPandas(
        _synth_media,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    return ordered_output(
        payloads.mapInPandas(_parse_media_header, MEDIA_SCHEMA), "doc_id"
    )


MEDIA_PROBE_SQL = """
SELECT doc_id,
  CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
                  WHEN 2 THEN 'gif' WHEN 3 THEN 'bmp' ELSE 'jpeg' END AS kind,
  CASE doc_id % 5 WHEN 0 THEN doc_id % 512 + 1
                  WHEN 2 THEN doc_id % 256 + 1
                  WHEN 3 THEN doc_id % 128 + 1
                  WHEN 4 THEN doc_id % 300 + 1 END AS width,
  CASE doc_id % 5 WHEN 0 THEN (doc_id * 7) % 512 + 1
                  WHEN 2 THEN (doc_id * 3) % 256 + 1
                  WHEN 3 THEN (doc_id * 5) % 128 + 1
                  WHEN 4 THEN (doc_id * 11) % 300 + 1 END AS height,
  CASE WHEN doc_id % 5 = 1 THEN 8000 + (doc_id % 8) * 1000 END AS sample_rate
FROM documents ORDER BY doc_id
"""


QUERIES = {
    "multimodal_manifest": multimodal_manifest,
    "multimodal_frame_sample": multimodal_frame_sample,
    "media_header_probe": media_header_probe,
}

ORACLES = {
    "multimodal_manifest": MULTIMODAL_MANIFEST_SQL,
    "multimodal_frame_sample": MULTIMODAL_FRAMES_SQL,
    "media_header_probe": MEDIA_PROBE_SQL,
}


VIT_PATCH = 14  # ViT-style patch edge; tokens per image = ceil(w/p)*ceil(h/p)


def vision_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vision-ingest token budgeting: per image kind, the ViT patch-token
    cost of the corpus (tokens per image = ⌈w/14⌉·⌈h/14⌉ + 1 CLS) — the
    number a multimodal training pipeline needs before mixing image
    tokens into a text budget.  The Spark side re-reads dimensions
    through the REAL byte-parsing probe (Arrow-batched mapInPandas over
    synthesized headers — the decode plumbing is the point), so this row
    also re-grades that path; the oracle recomputes the same dimensions
    arithmetically.

    Scale: probe output is one pass; the budget is a row-local integer
    expression plus an O(kinds) aggregate — exact integers until the
    final mean."""
    probed = media_header_probe(spark, sf_dir)
    imgs = probed.filter(F.col("width").isNotNull())
    p = VIT_PATCH
    tokens = (
        ((F.col("width") + (p - 1)) / p).cast("long")
        * ((F.col("height") + (p - 1)) / p).cast("long")
        + 1
    ).cast("long")
    return (
        imgs.select("kind", tokens.alias("tok"))
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.sum("tok").cast("long").alias("total_tokens"),
            F.max("tok").cast("long").alias("max_tokens"),
            F.round(
                F.sum("tok").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_tokens"),
        )
        .orderBy("kind")
    )


VISION_BUDGET_SQL = f"""
WITH dims AS (
  SELECT
    CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 2 THEN 'gif'
                    WHEN 3 THEN 'bmp' WHEN 4 THEN 'jpeg' END AS kind,
    CASE doc_id % 5 WHEN 0 THEN doc_id % 512 + 1
                    WHEN 2 THEN doc_id % 256 + 1
                    WHEN 3 THEN doc_id % 128 + 1
                    WHEN 4 THEN doc_id % 300 + 1 END AS width,
    CASE doc_id % 5 WHEN 0 THEN (doc_id * 7) % 512 + 1
                    WHEN 2 THEN (doc_id * 3) % 256 + 1
                    WHEN 3 THEN (doc_id * 5) % 128 + 1
                    WHEN 4 THEN (doc_id * 11) % 300 + 1 END AS height
  FROM documents
),
toks AS (
  SELECT kind,
    ((width + {VIT_PATCH - 1}) // {VIT_PATCH})
      * ((height + {VIT_PATCH - 1}) // {VIT_PATCH}) + 1 AS tok
  FROM dims WHERE width IS NOT NULL
)
SELECT kind,
  CAST(COUNT(*) AS BIGINT) AS n_images,
  CAST(SUM(tok) AS BIGINT) AS total_tokens,
  CAST(MAX(tok) AS BIGINT) AS max_tokens,
  round(CAST(SUM(tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_tokens
FROM toks GROUP BY kind ORDER BY kind
"""

QUERIES["vision_token_budget_plan"] = vision_token_budget_plan
ORACLES["vision_token_budget_plan"] = VISION_BUDGET_SQL
