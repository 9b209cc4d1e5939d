"""gzip (RFC 1952) member decode — full header-field parse over the
hand-rolled DEFLATE inflate from ``sources/deflate.py``.

The engine already consumes gzip pragmatically (WARC members and
CSV.gz via stdlib zlib with ``wbits=31``, which HIDES the header),
but the header is where provenance lives: FNAME carries the original
filename, MTIME the original timestamp, FEXTRA structured metadata
(bgzip's BC block-size subfield lives there), FTEXT the ascii hint,
and FHCRC a CRC16 over the header itself. This module parses all of
it per RFC 1952 — magic/CM/FLG, MTIME/XFL/OS, FEXTRA (xlen +
subfield payload), zero-terminated FNAME/FCOMMENT (latin-1 per
spec), FHCRC verified as the low 16 bits of the header's CRC32 —
then inflates the member body with THIS REPO'S spec inflate (not
stdlib), and verifies the member trailer: CRC32 of the decoded
bytes and ISIZE mod 2^32. Multi-member files (the bgzip/WARC
layout) walk member-to-member with bit-exact consumption, and the
file must end on a member boundary.

The layering is the point: RFC 1952 (this module) over RFC 1951
(``deflate.inflate``) over the adler-checked RFC 1950 twin — three
specs, one shared Huffman engine, each with its own checksum
contract riding the hash gate.

Malformed input raises ValueError only (the crawl contract, pinned
by tests/test_parser_fuzz.py).

Scale: per-file mapInPandas over a binaryFile scan; member
boundaries are the split points (bgzip exists precisely to make
gzip range-addressable), so a 100 TB reader fans members of one
shard across tasks from an offset index — the CDX pattern
``scan_cdx_ranged_fetch`` already implements above this layer.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.deflate import inflate
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_GZ = 4

_FTEXT, _FHCRC, _FEXTRA, _FNAME, _FCOMMENT = 1, 2, 4, 8, 16


def _n_members(i: int) -> int:
    return (i % 3) + 1


def _member_len(i: int, s: int) -> int:
    return 1800 + 900 * i + 501 * s


def _byte_at(i: int, s: int, r: int) -> int:
    return ((r % 83) * 7 + (r // 83) + i * 11 + 37 * s) % 256


def _member_mtime(i: int, s: int) -> int:
    return 1_600_000_000 + i * 1000 + s * 17


def _member_name(i: int, s: int) -> str:
    return f"orig-{i}-{s}.dat"


def _member_comment(i: int, s: int) -> str:
    return f"c{s % 5}"


def _member_extra(i: int, s: int) -> bytes:
    # one subfield: id 'XD', little-endian length, payload
    payload = bytes((i + s + j) % 256 for j in range(4 + s))
    return b"XD" + struct.pack("<H", len(payload)) + payload


# feature cycle: FNAME | FNAME+FEXTRA+FHCRC | FCOMMENT+FTEXT
def _member_flags(i: int, s: int) -> int:
    mode = (i + s) % 3
    if mode == 0:
        return _FNAME
    if mode == 1:
        return _FNAME | _FEXTRA | _FHCRC
    return _FCOMMENT | _FTEXT


# ---------- encoder ----------


def encode_gzip_members(i: int) -> bytes:
    """Concatenated RFC 1952 members with the full header-feature
    cycle; payloads deflate via the stdlib reference encoder."""
    out = bytearray()
    for s in range(_n_members(i)):
        flg = _member_flags(i, s)
        hdr = bytearray(b"\x1f\x8b\x08")
        hdr.append(flg)
        hdr += struct.pack("<I", _member_mtime(i, s))
        hdr += b"\x00\x03"  # XFL, OS=unix
        if flg & _FEXTRA:
            extra = _member_extra(i, s)
            hdr += struct.pack("<H", len(extra)) + extra
        if flg & _FNAME:
            hdr += _member_name(i, s).encode("latin-1") + b"\x00"
        if flg & _FCOMMENT:
            hdr += _member_comment(i, s).encode("latin-1") + b"\x00"
        if flg & _FHCRC:
            hdr += struct.pack("<H", zlib.crc32(bytes(hdr)) & 0xFFFF)
        data = bytes(_byte_at(i, s, r)
                     for r in range(_member_len(i, s)))
        co = zlib.compressobj(6, zlib.DEFLATED, -15)
        body = co.compress(data) + co.flush()
        out += hdr + body
        out += struct.pack("<II", zlib.crc32(data),
                           len(data) & 0xFFFFFFFF)
    return bytes(out)


# ---------- decoder ----------


def _zstring(b: bytes, p: int) -> tuple[str, int]:
    end = b.find(b"\x00", p)
    if end < 0:
        raise ValueError("truncated gzip: unterminated header string")
    if end - p > 4096:
        raise ValueError("malformed gzip: header string too long")
    return b[p:end].decode("latin-1"), end + 1


def decode_gzip_members(payload: bytes) -> dict:
    """Member walk → census; every header field parsed, FHCRC /
    CRC32 / ISIZE verified. ValueError-only."""
    p = 0
    stats = {"n_members": 0, "out_len": 0, "byte_sum": 0,
             "name_chars": 0, "extra_bytes": 0, "n_hcrc": 0,
             "n_text": 0, "mtime_sum": 0, "comment_chars": 0}
    if not payload:
        raise ValueError("truncated gzip: empty payload")
    while p < len(payload):
        if payload[p : p + 2] != b"\x1f\x8b":
            raise ValueError("not gzip: bad member magic")
        if p + 10 > len(payload):
            raise ValueError("truncated gzip: member header")
        cm = payload[p + 2]
        if cm != 8:
            raise ValueError("unsupported gzip: CM != deflate")
        flg = payload[p + 3]
        if flg & 0xE0:
            raise ValueError("malformed gzip: reserved FLG bits")
        mtime = struct.unpack_from("<I", payload, p + 4)[0]
        hstart = p
        q = p + 10
        if flg & _FEXTRA:
            if q + 2 > len(payload):
                raise ValueError("truncated gzip: FEXTRA length")
            xlen = struct.unpack_from("<H", payload, q)[0]
            q += 2
            if q + xlen > len(payload):
                raise ValueError("truncated gzip: FEXTRA payload")
            # validate the subfield chain covers xlen exactly
            sub = q
            while sub < q + xlen:
                if sub + 4 > q + xlen:
                    raise ValueError("malformed gzip: FEXTRA subfield "
                                     "header overrun")
                slen = struct.unpack_from("<H", payload, sub + 2)[0]
                sub += 4 + slen
            if sub != q + xlen:
                raise ValueError("malformed gzip: FEXTRA subfield "
                                 "chain misaligned")
            stats["extra_bytes"] += xlen
            q += xlen
        if flg & _FNAME:
            name, q = _zstring(payload, q)
            stats["name_chars"] += len(name)
        if flg & _FCOMMENT:
            comment, q = _zstring(payload, q)
            stats["comment_chars"] += len(comment)
        if flg & _FHCRC:
            if q + 2 > len(payload):
                raise ValueError("truncated gzip: FHCRC")
            declared = struct.unpack_from("<H", payload, q)[0]
            if declared != zlib.crc32(payload[hstart:q]) & 0xFFFF:
                raise ValueError("malformed gzip: FHCRC mismatch")
            stats["n_hcrc"] += 1
            q += 2
        out, _census, q = inflate(payload, q)
        if q + 8 > len(payload):
            raise ValueError("truncated gzip: member trailer")
        crc, isize = struct.unpack_from("<II", payload, q)
        if crc != zlib.crc32(out):
            raise ValueError("malformed gzip: CRC32 mismatch")
        if isize != len(out) & 0xFFFFFFFF:
            raise ValueError("malformed gzip: ISIZE mismatch")
        q += 8
        stats["n_members"] += 1
        stats["out_len"] += len(out)
        stats["byte_sum"] += sum(out)
        stats["mtime_sum"] += mtime
        if flg & _FTEXT:
            stats["n_text"] += 1
        if stats["n_members"] > 100_000:
            raise ValueError("malformed gzip: too many members")
        p = q
    return stats


# ---------- fixture + registered op ----------


@_fixture
def _fx_gzip_members(spark: SparkSession, sf_dir: str) -> None:
    names = [f"part-{i:03d}.gzm" for i in range(_N_GZ)]
    write_files(
        _scratch(sf_dir, "real_gzip_members"), names, encode_gzip_members
    )


_GZ_COLS = ("n_members out_len byte_sum name_chars comment_chars "
            "extra_bytes n_hcrc n_text mtime_sum").split()

_GZ_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_GZ})) AS i),
    members AS (SELECT i, unnest(range(0, (i % 3) + 1)) AS s
                FROM files),
    sm AS (SELECT i, s, 1800 + 900 * i + 501 * s AS n,
                  (i + s) % 3 AS mode FROM members),
    rows_ AS (SELECT i, s, n, mode, unnest(range(0, n)) AS r FROM sm),
    v AS (SELECT i, s, n, mode, r,
                 ((r % 83) * 7 + (r // 83) + i * 11 + 37 * s) % 256
                   AS d
          FROM rows_),
    per_m AS (
      SELECT i, s, MAX(n) AS n, MAX(mode) AS mode, SUM(d) AS dsum,
             length(printf('orig-%d-%d.dat', CAST(i AS INT),
                           CAST(s AS INT))) AS namelen,
             1600000000 + i * 1000 + s * 17 AS mtime
      FROM v GROUP BY i, s)
    SELECT printf('part-%03d.gzm', CAST(i AS INT)) AS fname,
      CAST(COUNT(*) AS BIGINT) AS n_members,
      CAST(SUM(n) AS BIGINT) AS out_len,
      CAST(SUM(dsum) AS BIGINT) AS byte_sum,
      CAST(SUM(CASE WHEN mode IN (0, 1) THEN namelen ELSE 0 END)
           AS BIGINT) AS name_chars,
      CAST(SUM(CASE WHEN mode = 2 THEN 2 ELSE 0 END) AS BIGINT)
        AS comment_chars,
      -- FEXTRA (mode 1): 'XD' + u16 len + (4+s) payload bytes
      CAST(SUM(CASE WHEN mode = 1 THEN 4 + 4 + s ELSE 0 END)
           AS BIGINT) AS extra_bytes,
      CAST(SUM(CASE WHEN mode = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_hcrc,
      CAST(SUM(CASE WHEN mode = 2 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_text,
      CAST(SUM(mtime) AS BIGINT) AS mtime_sum
    FROM per_m GROUP BY i
"""


@register(
    "scan_gzip_headers",
    _GZ_ORACLE,
    doc="RFC 1952 gzip member decode over the repo's own RFC 1951 "
    "inflate: full header-field parse (FEXTRA subfield chain, "
    "FNAME/FCOMMENT, FTEXT, MTIME) with FHCRC verified as the "
    "header CRC32's low 16 bits, per-member CRC32 + ISIZE trailer "
    "verified against the hand-inflated bytes, multi-member walk — "
    "provenance census hash-checked against the fixture formula",
)
def scan_gzip_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The provenance layer stdlib hides: ``wbits=31`` decompression
    (the WARC/CSV.gz paths) throws away FNAME/MTIME/FEXTRA, but a
    curation pipeline wants exactly those — the original filename
    and timestamp of every crawled member, and bgzip's FEXTRA
    subfields are how block-gzip indexes ship. Three header
    configurations cycle through the fixture so every optional
    field parses on some member, and the FHCRC members prove the
    header walk is byte-exact (one miscounted field and the CRC16
    fails).

    Scale: see module docstring — member boundaries are the split
    points; the offset-index pattern above this layer is
    scan_cdx_ranged_fetch.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _GZ_COLS)

    return decode_files(
        spark, _scratch(sf_dir, "real_gzip_members"), "*.gzm",
        lambda b: [decode_gzip_members(b)], schema,
    )
