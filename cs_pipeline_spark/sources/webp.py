"""Real WebP container decode — RIFF walk + per-variant bit parsing.

WebP is the fourth crawl image format (JPEG/PNG/GIF done); its three
container variants exercise three different dimension encodings:

- ``VP8 `` (lossy): 3-byte frame tag, the 0x9D012A start code, then
  14-bit width/height in two uint16-LE fields (upper 2 bits are
  rescale hints);
- ``VP8L`` (lossless): the 0x2F signature byte, then 14-bit width−1
  and height−1 packed LSB-first with an alpha-used bit at position
  28 in one uint32-LE;
- ``VP8X`` (extended): a feature-flag byte (ICC/alpha/EXIF/XMP/
  animation) and 24-bit-LE canvas width−1 / height−1, followed by
  ANIM/image chunks.

The parser walks the RIFF chunks (reusing the wav.py word-alignment
rule — odd chunk bodies pad), dispatches on the first image chunk,
and reports dims + feature flags + chunk census. Fixture content is
an arithmetic formula → full DuckDB value-hash check. ValueError-only
on malformed input (the jpeg/wav/gif contract, in the fuzz sweep).

Scale: per-file mapInPandas header parse; one row per file out.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch
from cs_pipeline_spark.sources.wav import _chunk

_N_WEBPS = 9


def _webp_meta(i: int) -> dict:
    variant = ("lossy", "lossless", "extended")[i % 3]
    w, h = 16 + 9 * i, 10 + 7 * i
    return {
        "format": variant,
        "width": w,
        "height": h,
        "has_alpha": 1 if (variant == "lossless" and i % 2 == 1)
        or (variant == "extended" and i % 2 == 0) else 0,
        "has_anim": 1 if variant == "extended" and i % 4 == 2 else 0,
        "n_chunks": {"lossy": 1, "lossless": 1}.get(
            variant, 2 + (1 if variant == "extended" and i % 4 == 2 else 0)
        ),
    }


def encode_webp(i: int) -> bytes:
    m = _webp_meta(i)
    w, h = m["width"], m["height"]
    chunks = b""
    if m["format"] == "lossy":
        body = bytes([(i * 3) % 256, 0x01, 0x00])  # frame tag (opaque)
        body += b"\x9d\x01\x2a"
        body += struct.pack("<HH", w & 0x3FFF, h & 0x3FFF)
        body += bytes((k * 5 + i) % 256 for k in range(21 + 2 * i))
        chunks += _chunk(b"VP8 ", body)
    elif m["format"] == "lossless":
        bits = (w - 1) | ((h - 1) << 14) | (m["has_alpha"] << 28)
        body = b"\x2f" + struct.pack("<I", bits)
        body += bytes((k * 7 + i) % 256 for k in range(18 + 2 * i))
        chunks += _chunk(b"VP8L", body)
    else:  # extended
        flags = 0
        if m["has_alpha"]:
            flags |= 0x10
        if m["has_anim"]:
            flags |= 0x02
        body = bytes([flags, 0, 0, 0])
        body += struct.pack("<I", w - 1)[:3] + struct.pack("<I", h - 1)[:3]
        chunks += _chunk(b"VP8X", body)
        if m["has_anim"]:
            chunks += _chunk(
                b"ANIM", struct.pack("<IH", 0xFF00FF00, (i * 3) % 7)
            )
        # the actual image payload rides a lossless sub-image chunk
        bits = (w - 1) | ((h - 1) << 14)
        chunks += _chunk(
            b"VP8L", b"\x2f" + struct.pack("<I", bits) + bytes(11 + i)
        )
    riff = b"WEBP" + chunks
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def decode_webp_meta(payload: bytes) -> dict:
    """RIFF walk + variant dispatch; ValueError on malformation."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP file")
    riff_size = struct.unpack("<I", payload[4:8])[0]
    if riff_size + 8 > len(payload):
        raise ValueError("truncated WEBP: RIFF size overruns payload")
    end = riff_size + 8
    pos = 12
    meta: dict | None = None
    n_chunks = 0
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body_at = pos + 8
        if body_at + size > end:
            raise ValueError("truncated WEBP: chunk overruns payload")
        body = payload[body_at : body_at + size]
        n_chunks += 1
        if cid == b"VP8 " and meta is None:
            if size < 10:
                raise ValueError("truncated WEBP: short VP8 bitstream")
            if body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("malformed WEBP: bad VP8 start code")
            wraw, hraw = struct.unpack("<HH", body[6:10])
            meta = {
                "format": "lossy",
                "width": wraw & 0x3FFF,
                "height": hraw & 0x3FFF,
                "has_alpha": 0,
                "has_anim": 0,
            }
        elif cid == b"VP8L" and meta is None:
            if size < 5:
                raise ValueError("truncated WEBP: short VP8L bitstream")
            if body[0] != 0x2F:
                raise ValueError("malformed WEBP: bad VP8L signature")
            bits = struct.unpack("<I", body[1:5])[0]
            meta = {
                "format": "lossless",
                "width": (bits & 0x3FFF) + 1,
                "height": ((bits >> 14) & 0x3FFF) + 1,
                "has_alpha": (bits >> 28) & 1,
                "has_anim": 0,
            }
        elif cid == b"VP8X":
            if meta is not None:
                raise ValueError("malformed WEBP: VP8X after image chunk")
            if size < 10:
                raise ValueError("truncated WEBP: short VP8X header")
            flags = body[0]
            cw = int.from_bytes(body[4:7], "little") + 1
            ch = int.from_bytes(body[7:10], "little") + 1
            meta = {
                "format": "extended",
                "width": cw,
                "height": ch,
                "has_alpha": (flags >> 4) & 1,
                "has_anim": (flags >> 1) & 1,
            }
        pos = body_at + size + (size % 2)  # RIFF word alignment
    if meta is None:
        raise ValueError("malformed WEBP: no image chunk")
    meta["n_chunks"] = n_chunks
    return meta


@_fixture
def _fx_webp_pics(spark: SparkSession, sf_dir: str) -> None:
    names = [f"pic-{i:03d}.webp" for i in range(_N_WEBPS)]
    write_files(_scratch(sf_dir, "real_webps"), names, encode_webp)


_W_COLS = "format width height has_alpha has_anim n_chunks".split()

_WEBP_ORACLE = f"""
    WITH pics AS (SELECT unnest(range(0, {_N_WEBPS})) AS i),
    m AS (
      SELECT i,
             CASE i % 3 WHEN 0 THEN 'lossy' WHEN 1 THEN 'lossless'
                        ELSE 'extended' END AS fmt,
             16 + 9 * i AS w, 10 + 7 * i AS h
      FROM pics)
    SELECT printf('pic-%03d.webp', CAST(i AS INT)) AS fname,
           fmt AS format,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(CASE WHEN (fmt = 'lossless' AND i % 2 = 1)
                       OR (fmt = 'extended' AND i % 2 = 0)
                     THEN 1 ELSE 0 END AS BIGINT) AS has_alpha,
           CAST(CASE WHEN fmt = 'extended' AND i % 4 = 2
                     THEN 1 ELSE 0 END AS BIGINT) AS has_anim,
           CAST(CASE WHEN fmt = 'extended'
                     THEN 2 + (CASE WHEN i % 4 = 2 THEN 1 ELSE 0 END)
                     ELSE 1 END AS BIGINT) AS n_chunks
    FROM m
"""


@register(
    "mm_decode_webp_meta",
    _WEBP_ORACLE,
    doc="REAL WebP container decode: RIFF chunk walk (word-alignment "
    "pads) dispatching on VP8 lossy start-code dims, VP8L lossless "
    "LSB-packed 14-bit dims + alpha bit, and VP8X extended canvas + "
    "feature flags (alpha/animation) with ANIM census — the fourth "
    "crawl image format, hash-checked against the fixture formula",
)
def mm_decode_webp_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP metadata on REAL bytes: 9 fixtures sweep all three
    container variants, both alpha sources (the VP8L header bit and
    the VP8X flag byte), animation, and odd-sized chunk bodies (the
    RIFF pad byte shared with sources/wav.py — literally the same
    ``_chunk`` writer). Each variant hides dimensions differently —
    uint16 fields, LSB-first packed bits, 24-bit little-endian — so a
    byte-order or bit-shift bug in any branch hash-mismatches.

    Scale: see module docstring — per-file mapInPandas header parse;
    one row per file leaves the worker.
    """
    schema = (
        "fname string, format string, width long, height long, "
        "has_alpha long, has_anim long, n_chunks long"
    )

    return decode_files(
        spark, _scratch(sf_dir, "real_webps"), "*.webp",
        lambda b: [decode_webp_meta(b)], schema,
    )
