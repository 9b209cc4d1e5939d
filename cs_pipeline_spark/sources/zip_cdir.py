"""ZIP central-directory decode — byte-level structural walk with
CRC verification over the repo's own inflate.

The engine already EXTRACTS zip deliveries (``scan_zip_members``
rides stdlib zipfile); this op is the other half: the STRUCTURAL
audit a crawler runs on an archive it does not yet trust. ZIP's
integrity model is two parallel stores of the same metadata — the
central directory at the end (what listings trust) and a local
header before each member (what streaming extractors trust) — and
the classic zip-confusion attacks live exactly in their
disagreement. This walk reads both and cross-checks them:

- EOCD record (``PK\\x05\\x06``) located by bounded backward scan
  (comments make the tail variable-length, per spec up to 64 KiB),
- every central-directory entry (``PK\\x01\\x02``): method, CRC-32,
  compressed/uncompressed sizes, name, local-header offset,
- the matching local header (``PK\\x03\\x04``): signature, name
  EQUALITY with the central entry (the confusion check), sizes,
- the member payload: STORED copied, DEFLATED inflated with
  ``deflate.inflate`` (RFC 1951, this repo's implementation — not
  stdlib), then CRC-32 and uncompressed size verified against the
  central entry.

The fixture is written by the REFERENCE writer (stdlib zipfile),
mixing ZIP_STORED and ZIP_DEFLATED members; the census (member/
method counts, decoded byte sums, name mass) is hash-checked
against the fixture formula, so the inflate path is certified by
the oracle, not just by CRC.

Malformed input raises ValueError only (the crawl contract, pinned
by tests/test_parser_fuzz.py).

Scale: per-file mapInPandas over a binaryFile scan. The central
directory is exactly what makes ZIP range-addressable at 100 TB:
a reader lists members from the tail, then fans member extraction
across tasks by (offset, size) — the CDX pattern with the index
inside the file.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.deflate import inflate
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_ZIP = 4


def _n_zip_members(i: int) -> int:
    return 3 + (i % 3)


def _member_len(i: int, s: int) -> int:
    return 1500 + 800 * i + 401 * s


def _member_name(i: int, s: int) -> str:
    return f"data/member-{i}-{s}.txt"


def _member_bytes(i: int, s: int) -> bytes:
    # period-61 ramp → compressible text-ish bytes in 32..125
    return bytes(32 + ((r % 61) + (r // 61) + i * 7 + 13 * s) % 94
                 for r in range(_member_len(i, s)))


def _member_stored(i: int, s: int) -> bool:
    return (i + s) % 3 == 0  # mix of STORED and DEFLATED


# ---------- encoder (reference writer) ----------


def encode_zip_archive(i: int) -> bytes:
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for s in range(_n_zip_members(i)):
            method = zipfile.ZIP_STORED if _member_stored(i, s) \
                else zipfile.ZIP_DEFLATED
            zi = zipfile.ZipInfo(_member_name(i, s),
                                 date_time=(2024, 1, 1, 0, 0, 0))
            zi.compress_type = method
            zf.writestr(zi, _member_bytes(i, s))
    return buf.getvalue()


# ---------- decoder ----------

_EOCD_SIG = b"PK\x05\x06"
_CDIR_SIG = b"PK\x01\x02"
_LOCAL_SIG = b"PK\x03\x04"


def decode_zip_cdir(payload: bytes) -> dict:
    """EOCD → central directory → per-member local-header
    cross-check + payload CRC verification. ValueError-only."""
    if len(payload) < 22:
        raise ValueError("truncated zip: no room for EOCD")
    # EOCD: fixed 22 bytes + variable comment (≤ 64 KiB per spec)
    tail_start = max(0, len(payload) - 22 - 0xFFFF)
    eocd_at = payload.rfind(_EOCD_SIG, tail_start)
    if eocd_at < 0:
        raise ValueError("not zip: no end-of-central-directory record")
    if eocd_at + 22 > len(payload):
        raise ValueError("truncated zip: EOCD record cut short")
    (n_disk, n_total, cd_size, cd_off, comment_len) = struct.unpack_from(
        "<HHIIH", payload, eocd_at + 8
    )
    if eocd_at + 22 + comment_len != len(payload):
        raise ValueError("malformed zip: EOCD comment length mismatch")
    if n_disk != n_total:
        raise ValueError("unsupported zip: multi-disk archive")
    if n_total > 100_000:
        raise ValueError("malformed zip: too many entries")
    if cd_off + cd_size > eocd_at:
        raise ValueError("malformed zip: central directory overruns "
                         "EOCD")
    stats = {"n_members": 0, "n_stored": 0, "n_deflated": 0,
             "out_len": 0, "byte_sum": 0, "crc_ok": 0,
             "name_chars": 0}
    p = cd_off
    for _ in range(n_total):
        if payload[p : p + 4] != _CDIR_SIG:
            raise ValueError("malformed zip: bad central-directory "
                             "signature")
        if p + 46 > len(payload):
            raise ValueError("truncated zip: central-directory entry")
        # fields at p+10: method(H) time(H) date(H) crc(I) csize(I)
        # usize(I) nlen(H) xlen(H) clen(H) disk(H) iattr(H) eattr(I)
        # lho(I)
        (method, _time, _date, crc, csize, usize, nlen, xlen, clen,
         _disk, _iattr, _eattr, lho) = struct.unpack_from(
            "<HHHIIIHHHHHII", payload, p + 10
        )
        name_end = p + 46 + nlen
        if name_end + xlen + clen > len(payload):
            raise ValueError("truncated zip: entry name/extra overrun")
        name = payload[p + 46 : name_end]
        # local header cross-check (the zip-confusion audit)
        if lho + 30 > len(payload) or payload[lho : lho + 4] != _LOCAL_SIG:
            raise ValueError("malformed zip: bad local-header offset")
        (l_nlen, l_xlen) = struct.unpack_from("<HH", payload, lho + 26)
        l_name = payload[lho + 30 : lho + 30 + l_nlen]
        if l_name != name:
            raise ValueError("malformed zip: central/local name "
                             "disagreement")
        data_at = lho + 30 + l_nlen + l_xlen
        if data_at + csize > len(payload):
            raise ValueError("truncated zip: member data overrun")
        raw = payload[data_at : data_at + csize]
        if method == 0:
            out = raw
            stats["n_stored"] += 1
        elif method == 8:
            out, _census, _end = inflate(raw)
            stats["n_deflated"] += 1
        else:
            raise ValueError(f"unsupported zip method {method}")
        if len(out) != usize:
            raise ValueError("malformed zip: uncompressed size "
                             "mismatch")
        if zlib.crc32(out) == crc:
            stats["crc_ok"] += 1
        stats["n_members"] += 1
        stats["out_len"] += len(out)
        stats["byte_sum"] += sum(out)
        stats["name_chars"] += len(name)
        p = name_end + xlen + clen
    if p != cd_off + cd_size:
        raise ValueError("malformed zip: central directory size "
                         "mismatch")
    return stats


# ---------- fixture + registered op ----------


@_fixture
def _fx_zip_cdir(spark: SparkSession, sf_dir: str) -> None:
    names = [f"part-{i:03d}.zip" for i in range(_N_ZIP)]
    write_files(_scratch(sf_dir, "real_zip_cdir"), names, encode_zip_archive)


_ZC_COLS = ("n_members n_stored n_deflated out_len byte_sum crc_ok "
            "name_chars").split()

_ZIP_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_ZIP})) AS i),
    members AS (SELECT i, unnest(range(0, 3 + (i % 3))) AS s
                FROM files),
    sm AS (SELECT i, s, 1500 + 800 * i + 401 * s AS n,
                  CASE WHEN (i + s) % 3 = 0 THEN 1 ELSE 0 END
                    AS stored,
                  length(printf('data/member-%d-%d.txt',
                                CAST(i AS INT), CAST(s AS INT)))
                    AS namelen
           FROM members),
    rows_ AS (SELECT i, s, n, stored, namelen,
                     unnest(range(0, n)) AS r
              FROM sm),
    v AS (SELECT i, s, n, stored, namelen, r,
                 32 + ((r % 61) + (r // 61) + i * 7 + 13 * s) % 94
                   AS d
          FROM rows_),
    per_m AS (
      SELECT i, s, MAX(n) AS n, MAX(stored) AS stored,
             MAX(namelen) AS namelen, SUM(d) AS dsum
      FROM v GROUP BY i, s)
    SELECT printf('part-%03d.zip', CAST(i AS INT)) AS fname,
      CAST(COUNT(*) AS BIGINT) AS n_members,
      CAST(SUM(stored) AS BIGINT) AS n_stored,
      CAST(SUM(1 - stored) AS BIGINT) AS n_deflated,
      CAST(SUM(n) AS BIGINT) AS out_len,
      CAST(SUM(dsum) AS BIGINT) AS byte_sum,
      CAST(COUNT(*) AS BIGINT) AS crc_ok,
      CAST(SUM(namelen) AS BIGINT) AS name_chars
    FROM per_m GROUP BY i
"""


@register(
    "scan_zip_central_dir",
    _ZIP_ORACLE,
    doc="byte-level ZIP structural audit: EOCD located by bounded "
    "backward scan, central-directory walk, local-header signature "
    "AND name cross-checked against each central entry (the "
    "zip-confusion check), STORED + DEFLATED members decoded (the "
    "repo's own inflate), CRC-32 and size verified per member — "
    "census hash-checked against the fixture formula",
)
def scan_zip_central_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trust audit before extraction: ZIP stores member metadata
    twice (central directory vs local headers), extractors disagree
    about which wins, and crafted archives exploit that — so the
    audit verifies BOTH stores agree, then proves the payload by
    CRC over actually-decoded bytes. DEFLATED members run through
    this repo's RFC 1951 inflate, so the oracle hash certifies the
    Huffman walk on zip's framing too (third container over the one
    inflate, after raw-zlib and gzip).

    Scale: see module docstring — the central directory is the
    in-file split index; member extraction fans out by offset.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _ZC_COLS)

    return decode_files(
        spark, _scratch(sf_dir, "real_zip_cdir"), "*.zip",
        lambda b: [decode_zip_cdir(b)], schema,
    )
