"""Real TFRecord shard decode — dependency-free record walker.

TFRecord is the TensorFlow twin of the WebDataset tar shard
(``mm_shard_manifest`` plans both; ``sources/tar.py`` reads the tar
side). The framing is tiny but the integrity scheme is the trap: per
record, an 8-byte little-endian length, the MASKED CRC-32C of the
length bytes, the payload, and the MASKED CRC-32C of the payload —
where CRC-32C is the REFLECTED Castagnoli polynomial (0x82F63B78,
init/final-xor 0xFFFFFFFF; a third variant after zlib's CRC-32 in
png.py and the FORWARD 0x04C11DB7 in ogg.py) and TF's mask is
``rotr15(crc) + 0xa282ead8`` — three distinct ways a naive
implementation silently never matches. This module follows the
``sources/gif.py`` pattern: a pure-python *writer* emitting real
TFRecord streams and a *parser* that walks records by length and
validates BOTH masked CRCs per record.

Malformed input raises ValueError only (the crawl contract, pinned
by tests/test_parser_fuzz.py): a truncated frame, a length CRC
mismatch, or a payload CRC mismatch all surface as one catchable
type — and because every byte of payload is covered by its CRC, any
single-bit corruption anywhere in the file is DETECTED (unlike tar,
whose checksum covers only headers).

Fixture content is stated by an arithmetic formula, so the DuckDB
oracle recomputes every output column — a full value-hash check.

Scale: per-file mapInPandas over a binaryFile scan; the walk is
record-proportional plus one CRC pass over payload bytes (the
integrity check IS the point; skip it for header-only probes).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_TFRS = 6

# reflected CRC-32C (Castagnoli) table
_C_TABLE = []
for _b in range(256):
    _r = _b
    for _ in range(8):
        _r = (_r >> 1) ^ 0x82F63B78 if _r & 1 else _r >> 1
    _C_TABLE.append(_r)


def _crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _masked(crc: int) -> int:
    """TF's masking: rotate right 15, add the mask delta (mod 2^32)."""
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def _tfr_meta(i: int) -> dict:
    n = 5 + 3 * i
    sizes = [64 + 29 * r + i for r in range(n)]
    return {
        "n_records": n,
        "payload_bytes": sum(sizes),
        "min_record": min(sizes),
        "max_record": max(sizes),
        "sizes": sizes,
    }


def encode_tfrecord(i: int) -> bytes:
    out = bytearray()
    for r, size in enumerate(_tfr_meta(i)["sizes"]):
        payload = bytes((k * 23 + r * 7 + i) % 256 for k in range(size))
        ln = struct.pack("<Q", len(payload))
        out += ln
        out += struct.pack("<I", _masked(_crc32c(ln)))
        out += payload
        out += struct.pack("<I", _masked(_crc32c(payload)))
    return bytes(out)


_T_COLS = "n_records payload_bytes min_record max_record".split()


def decode_tfrecord_meta(payload: bytes) -> dict:
    """Walk records by framed length, validating the masked CRC-32C
    of BOTH the length bytes and the payload per record. Raises
    ValueError on anything malformed."""
    pos = 0
    n = 0
    total = 0
    mn, mx = None, 0
    while pos < len(payload):
        if pos + 12 > len(payload):
            raise ValueError("truncated TFRecord: short length frame")
        ln_bytes = payload[pos : pos + 8]
        (ln,) = struct.unpack("<Q", ln_bytes)
        (lcrc,) = struct.unpack("<I", payload[pos + 8 : pos + 12])
        if _masked(_crc32c(ln_bytes)) != lcrc:
            raise ValueError("malformed TFRecord: length CRC mismatch")
        body_at = pos + 12
        if body_at + ln + 4 > len(payload):
            raise ValueError("truncated TFRecord: payload overruns file")
        body = payload[body_at : body_at + ln]
        (pcrc,) = struct.unpack(
            "<I", payload[body_at + ln : body_at + ln + 4]
        )
        if _masked(_crc32c(body)) != pcrc:
            raise ValueError("malformed TFRecord: payload CRC mismatch")
        n += 1
        total += ln
        mn = ln if mn is None or ln < mn else mn
        mx = max(mx, ln)
        pos = body_at + ln + 4
    if n == 0:
        raise ValueError("malformed TFRecord: no records")
    return {
        "n_records": n,
        "payload_bytes": total,
        "min_record": mn,
        "max_record": mx,
    }


# ---------- fixtures + registered op ----------


@_fixture
def _fx_tfrecords(spark: SparkSession, sf_dir: str) -> None:
    names = [f"train-{i:03d}.tfrecord" for i in range(_N_TFRS)]
    write_files(_scratch(sf_dir, "real_tfrecords"), names, encode_tfrecord)


_TFR_ORACLE = f"""
    WITH shards AS (SELECT unnest(range(0, {_N_TFRS})) AS i),
    recs AS (SELECT i, unnest(range(0, 5 + 3 * i)) AS r FROM shards),
    sized AS (SELECT i, r, 64 + 29 * r + i AS size FROM recs)
    SELECT printf('train-%03d.tfrecord', CAST(i AS INT)) AS fname,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM(size) AS BIGINT) AS payload_bytes,
           CAST(MIN(size) AS BIGINT) AS min_record,
           CAST(MAX(size) AS BIGINT) AS max_record
    FROM sized GROUP BY i
"""


@register(
    "scan_tfrecord_meta",
    _TFR_ORACLE,
    doc="REAL TFRecord shard decode: binaryFile + mapInPandas record "
    "walk validating the MASKED CRC-32C (reflected Castagnoli + TF's "
    "rotr15+delta mask — a third CRC variant after png's zlib CRC-32 "
    "and ogg's forward poly) of both the length frame and every "
    "payload — record census + byte mass, hash-checked against the "
    "fixture formula; every payload bit is integrity-covered, unlike "
    "tar's header-only checksum",
)
def scan_tfrecord_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TF training-shard twin of scan_tar_members: 6 fixture
    shards of 5–20 records. The three silent-failure traps are all in
    the checksum: CRC-32C is REFLECTED Castagnoli (not zlib's CRC-32,
    not Ogg's forward poly), the mask is rotr15(crc)+0xa282ead8 mod
    2^32, and the length bytes get their OWN masked CRC — get any one
    wrong and valid files read as corrupt (or corrupt ones as valid).

    Scale: see module docstring — record-proportional walk + one CRC
    pass; one census row per shard out.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _T_COLS)

    return decode_files(
        spark, _scratch(sf_dir, "real_tfrecords"), "*.tfrecord",
        lambda b: [decode_tfrecord_meta(b)], schema,
    )
