"""xz container parse — byte-level stream/block/index/footer walk
with hand-rolled CRC64-XZ block-check verification.

xz is the long-term-archive codec (Wikipedia dumps, software
archives, log cold storage). Its CONTAINER is what makes it more
than a codec: a stream is header (magic + flags + CRC32), blocks
(each with its own CRC32-protected header and a per-block check
field), an INDEX of (unpadded size, uncompressed size) records, and
a footer holding the index's backward size — which is exactly how
readers seek: walk BACKWARD from EOF to the footer, jump to the
index, then address any block directly. This module implements that
spec walk (multistream, with 4-byte stream padding between
streams), verifying every integrity layer:

- stream header/footer CRC32s, and footer flags == header flags,
- every block header CRC32 and its zero padding,
- index CRC32, index record count and sizes vs the actual blocks,
- the per-block CHECK FIELD against the decompressed bytes:
  CRC32 (stdlib zlib), **CRC64-XZ hand-rolled** (reflected poly
  0xC96C5795D7870F42, vector crc64("123456789") =
  0x995DC9BBDF1939FA — the ``scan_zstd_checksum`` XXH64 posture),
  and SHA-256 (hashlib).

Payload bytes decompress through stdlib ``lzma`` (the LZMA2 entropy
stage is out of scope — the contract here is the container and its
checks, as with the parquet page walk riding stock snappy), then the
decoded content census is hash-checked against the fixture formula
in DuckDB.

Malformed input raises ValueError only (the crawl contract, pinned
by tests/test_parser_fuzz.py).

Scale: per-file mapInPandas over a binaryFile scan. At 100 TB the
index IS the split map: a reader fans one huge .xz file's blocks
across tasks by index records (multi-block xz is the splittable
variant), precisely what this walk decodes.
"""

from __future__ import annotations

import hashlib
import lzma
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_XZ = 4
_MAX_OUT = 1 << 24

_CHECKS = [  # (lzma check id, check-field size, name)
    (lzma.CHECK_CRC32, 4, "crc32"),
    (lzma.CHECK_CRC64, 8, "crc64"),
    (lzma.CHECK_SHA256, 32, "sha256"),
]
_CHECK_SIZES = {0: 0, 1: 4, 4: 8, 10: 32}


def _n_streams(i: int) -> int:
    return (i % 2) + 1


def _stream_len(i: int, s: int) -> int:
    return 2600 + 1500 * i + 901 * s


def _byte_at(i: int, s: int, r: int) -> int:
    return ((r % 89) * 5 + (r // 89) + i * 17 + 31 * s) % 256


# ---------- CRC64-XZ (ECMA-182 reflected) ----------

_CRC64_POLY = 0xC96C5795D7870F42
_CRC64_TBL: list[int] = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ _CRC64_POLY if _c & 1 else _c >> 1
    _CRC64_TBL.append(_c)


def crc64_xz(data: bytes, crc: int = 0) -> int:
    """CRC64 as xz uses it: reflected 0xC96C5795D7870F42, init and
    xorout all-ones. Vector: crc64(b"123456789") =
    0x995DC9BBDF1939FA."""
    crc ^= 0xFFFFFFFFFFFFFFFF
    for b in data:
        crc = _CRC64_TBL[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFFFFFFFFFF


# ---------- xz multibyte integers ----------


def _mbint(b: bytes, p: int) -> tuple[int, int]:
    v = 0
    for k in range(9):
        if p >= len(b):
            raise ValueError("truncated xz: mbint underrun")
        c = b[p]
        p += 1
        v |= (c & 0x7F) << (7 * k)
        if not c & 0x80:
            if c == 0 and k > 0:
                raise ValueError("malformed xz: non-minimal mbint")
            return v, p
    raise ValueError("malformed xz: mbint too long")


# ---------- container walk ----------


def _parse_index(b: bytes, istart: int, iend: int) -> list[tuple[int, int]]:
    """Index field between istart and iend → [(unpadded, uncomp)],
    CRC32 and padding verified."""
    if b[istart] != 0x00:
        raise ValueError("malformed xz: bad index indicator")
    p = istart + 1
    count, p = _mbint(b, p)
    if count > 1_000_000:
        raise ValueError("malformed xz: index count too large")
    recs: list[tuple[int, int]] = []
    for _ in range(count):
        up, p = _mbint(b, p)
        uc, p = _mbint(b, p)
        if up <= 0:
            raise ValueError("malformed xz: zero unpadded size")
        recs.append((up, uc))
    pad = (4 - (p - istart) % 4) % 4
    if p + pad + 4 != iend:
        raise ValueError("malformed xz: index size mismatch")
    if any(b[p : p + pad]):
        raise ValueError("malformed xz: nonzero index padding")
    if struct.unpack_from("<I", b, p + pad)[0] != \
            zlib.crc32(b[istart : p + pad]):
        raise ValueError("malformed xz: index CRC32 mismatch")
    return recs


def _parse_block_header(b: bytes, p: int) -> int:
    """Validate the block header at p → its size. The payload sizes
    come from the index (liblzma omits them here)."""
    hsize = (b[p] + 1) * 4
    if p + hsize > len(b):
        raise ValueError("truncated xz: block header")
    hdr = b[p : p + hsize]
    if struct.unpack_from("<I", hdr, hsize - 4)[0] != \
            zlib.crc32(hdr[: hsize - 4]):
        raise ValueError("malformed xz: block header CRC32 mismatch")
    bflags = hdr[1]
    if bflags & 0x3C:
        raise ValueError("malformed xz: reserved block flags")
    nfilters = (bflags & 3) + 1
    q = 2
    if bflags & 0x40:
        _, q = _mbint(hdr, q)
    if bflags & 0x80:
        _, q = _mbint(hdr, q)
    for _ in range(nfilters):
        _fid, q = _mbint(hdr, q)
        psz, q = _mbint(hdr, q)
        q += psz
    if q > hsize - 4:
        raise ValueError("malformed xz: block header overrun")
    if any(hdr[q : hsize - 4]):
        raise ValueError("malformed xz: nonzero block header padding")
    return hsize


def _parse_stream_backward(b: bytes, end: int) -> dict:
    """One stream ending at ``end`` (exclusive): footer → index →
    blocks → header, verifying every check. Returns stream stats
    including its start offset."""
    if end < 32:
        raise ValueError("truncated xz: stream too short")
    if b[end - 2 : end] != b"YZ":
        raise ValueError("malformed xz: bad footer magic")
    fcrc = struct.unpack_from("<I", b, end - 12)[0]
    if fcrc != zlib.crc32(b[end - 8 : end - 2]):
        raise ValueError("malformed xz: footer CRC32 mismatch")
    backward = struct.unpack_from("<I", b, end - 8)[0]
    flags = b[end - 4 : end - 2]
    if flags[0] != 0 or flags[1] not in _CHECK_SIZES:
        raise ValueError("malformed xz: bad stream flags")
    check_type = flags[1]
    csize = _CHECK_SIZES[check_type]
    isize = (backward + 1) * 4
    iend = end - 12
    istart = iend - isize
    if istart < 12:
        raise ValueError("malformed xz: index overruns stream start")
    recs = _parse_index(b, istart, iend)
    blocks_bytes = sum(up + (4 - up % 4) % 4 for up, _ in recs)
    hstart = istart - blocks_bytes - 12
    if hstart < 0:
        raise ValueError("malformed xz: blocks overrun stream start")
    if b[hstart : hstart + 6] != b"\xfd7zXZ\x00":
        raise ValueError("not xz: bad stream magic")
    if b[hstart + 6 : hstart + 8] != flags:
        raise ValueError("malformed xz: header/footer flags disagree")
    if struct.unpack_from("<I", b, hstart + 8)[0] != zlib.crc32(flags):
        raise ValueError("malformed xz: stream header CRC32 mismatch")

    # decompress the WHOLE stream once; slice per-block output by the
    # index's uncompressed sizes for the per-block check fields
    total_unc = sum(uc for _, uc in recs)
    if total_unc > _MAX_OUT:
        raise ValueError("malformed xz: declared output too large")
    # memlimit: a fuzzed filter-properties byte can declare a 4 GiB
    # LZMA2 dictionary; liblzma then raises LZMAError instead of
    # allocating it
    dec = lzma.LZMADecompressor(format=lzma.FORMAT_XZ,
                                memlimit=1 << 28)
    try:
        out = dec.decompress(b[hstart:end], max_length=_MAX_OUT + 1)
    except lzma.LZMAError as e:
        raise ValueError(f"malformed xz: {e}")
    if len(out) != total_unc:
        raise ValueError("malformed xz: index uncompressed size "
                         "disagrees with stream output")

    # forward block walk with the index sizes
    p = hstart + 12
    opos = 0
    for up, uc in recs:
        hsize = _parse_block_header(b, p)
        comp = up - hsize - csize
        if comp <= 0:
            raise ValueError("malformed xz: unpadded size too small")
        pad = (4 - up % 4) % 4
        dstart = p + hsize + comp
        if any(b[dstart : dstart + pad]):
            raise ValueError("malformed xz: nonzero block padding")
        chk = b[dstart + pad : dstart + pad + csize]
        content = out[opos : opos + uc]
        opos += uc
        if check_type == 1:
            ok = struct.unpack("<I", chk)[0] == zlib.crc32(content)
        elif check_type == 4:
            ok = struct.unpack("<Q", chk)[0] == crc64_xz(content)
        elif check_type == 10:
            ok = chk == hashlib.sha256(content).digest()
        else:
            ok = True
        if not ok:
            raise ValueError("malformed xz: block check mismatch")
        p = dstart + pad + csize
    if p != istart:
        raise ValueError("malformed xz: block walk missed the index")
    return {"start": hstart, "n_blocks": len(recs), "out": out,
            "check_type": check_type}


def decode_xz_container(payload: bytes) -> dict:
    """Multistream xz walk (backward from EOF, per spec) → census.
    Stream padding (4-byte zero words) between streams is honored.
    ValueError-only."""
    end = len(payload)
    stats = {"n_streams": 0, "n_blocks": 0, "out_len": 0,
             "byte_sum": 0, "n_crc32": 0, "n_crc64": 0, "n_sha256": 0}
    outs: list[bytes] = []
    while end > 0:
        # strip stream padding: 4-byte zero words
        while end >= 4 and payload[end - 4 : end] == b"\x00\x00\x00\x00":
            end -= 4
        if end == 0:
            break
        st = _parse_stream_backward(payload, end)
        stats["n_streams"] += 1
        stats["n_blocks"] += st["n_blocks"]
        stats["out_len"] += len(st["out"])
        stats["byte_sum"] += sum(st["out"])
        key = {1: "n_crc32", 4: "n_crc64", 10: "n_sha256"}.get(
            st["check_type"])
        if key:
            stats[key] += 1
        outs.append(st["out"])
        if stats["n_streams"] > 10_000:
            raise ValueError("malformed xz: too many streams")
        end = st["start"]
    if stats["n_streams"] == 0:
        raise ValueError("truncated xz: no streams")
    return stats


# ---------- fixture + registered op ----------


def encode_xz_multistream(i: int) -> bytes:
    """File i: concatenated xz streams written by the REFERENCE
    encoder (liblzma), check type cycling CRC32 → CRC64 → SHA256."""
    out = bytearray()
    for s in range(_n_streams(i)):
        n = _stream_len(i, s)
        data = bytes(_byte_at(i, s, r) for r in range(n))
        check, _, _ = _CHECKS[(i + s) % len(_CHECKS)]
        out += lzma.compress(data, format=lzma.FORMAT_XZ, check=check)
    return bytes(out)


@_fixture
def _fx_xz_container(spark: SparkSession, sf_dir: str) -> None:
    names = [f"part-{i:03d}.xz" for i in range(_N_XZ)]
    write_files(
        _scratch(sf_dir, "real_xz_container"), names, encode_xz_multistream
    )


_XZ_COLS = ("n_streams n_blocks out_len byte_sum n_crc32 n_crc64 "
            "n_sha256").split()

_XZ_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_XZ})) AS i),
    streams AS (SELECT i, unnest(range(0, (i % 2) + 1)) AS s
                FROM files),
    sm AS (SELECT i, s, 2600 + 1500 * i + 901 * s AS n,
                  (i + s) % 3 AS chk
           FROM streams),
    rows_ AS (SELECT i, s, n, chk, unnest(range(0, n)) AS r FROM sm),
    v AS (SELECT i, s, n, chk, r,
                 ((r % 89) * 5 + (r // 89) + i * 17 + 31 * s) % 256
                   AS d
          FROM rows_),
    per_stream AS (
      SELECT i, s, MAX(n) AS n, MAX(chk) AS chk, SUM(d) AS dsum
      FROM v GROUP BY i, s)
    SELECT printf('part-%03d.xz', CAST(i AS INT)) AS fname,
           CAST(COUNT(*) AS BIGINT) AS n_streams,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(n) AS BIGINT) AS out_len,
           CAST(SUM(dsum) AS BIGINT) AS byte_sum,
           CAST(SUM(CASE WHEN chk = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_crc32,
           CAST(SUM(CASE WHEN chk = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_crc64,
           CAST(SUM(CASE WHEN chk = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sha256
    FROM per_stream GROUP BY i
"""


@register(
    "scan_xz_container",
    _XZ_ORACLE,
    doc="xz container walk per spec (backward from EOF: footer → "
    "index → blocks → header) over multistream files: stream/"
    "block-header/index CRC32s, zero-padding and flags-agreement "
    "checks, and the per-block check field verified against the "
    "decoded bytes — CRC32, hand-rolled CRC64-XZ, and SHA-256 all "
    "exercised; content census hash-checked against the fixture "
    "formula",
)
def scan_xz_container(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The archive-codec container: Wikipedia dumps and cold logs
    ship as .xz, and the INDEX (not the codec) is what a distributed
    reader needs — it maps blocks to byte ranges for random access
    and task splits. The walk verifies the full integrity ladder
    (three CRC32-protected structures, per-block CRC32/CRC64/SHA256
    over decoded output), with CRC64-XZ implemented from the
    polynomial like ``scan_zstd_checksum``'s XXH64 — liblzma's
    stored check fields pin the table-driven implementation
    bit-exact on every block.

    Scale: see module docstring — one file's blocks are
    range-addressable via the index; multi-block xz is the
    splittable archive format at 100 TB.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _XZ_COLS)

    return decode_files(
        spark, _scratch(sf_dir, "real_xz_container"), "*.xz",
        lambda b: [decode_xz_container(b)], schema,
    )
