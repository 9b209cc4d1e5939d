"""DEFLATE (RFC 1951) + zlib wrapper (RFC 1950) decode — spec-complete
hand-rolled inflate, no ``zlib.decompress`` in the read path.

DEFLATE is the substrate under gzip members, zlib-wrapped PNG IDAT,
zip entries, and Avro's deflate codec — the one codec this engine's
family (zstd frames with XXH64, raw LZ4 blocks, snappy pages, bz2
multistream) still consumed through the stdlib. This module decodes
it from first principles: LSB-first bit reader, all three block
types (stored with LEN/~NLEN validation, fixed Huffman, dynamic
Huffman with the 19-symbol code-length code and its 16/17/18
repeat operators), canonical Huffman construction per RFC 1951
§3.2.2, the full length/distance extra-bits tables, and LZ77 match
copy with overlap semantics.

The zlib layer adds the integrity contract: CMF/FLG header checks
(CM=8, FCHECK mod 31, no preset dictionary) and the big-endian
adler32 trailer VERIFIED against the decoded output — like the zstd
XXH64 op, the checksum pins the inflate bit-exact: one wrong output
byte and the stream is rejected, so a passing census proves the
Huffman walk, not just the framing. Files hold MULTIPLE concatenated
zlib streams (the bz2-multistream shape): each stream's consumed
length must land the reader exactly at the next stream's header, and
trailing garbage after the last stream raises — bit-level consumption
is part of the contract.

adler32 is SQL-expressible, so the oracle recomputes it from the
fixture formula inside DuckDB: a = (1 + Σd) mod 65521, b = (n +
Σ (n−r)·d_r) mod 65521 (0-indexed r), adler = b·65536 + a — the
cross-engine checksum rides the hash gate directly.

Malformed input raises ValueError only (the crawl contract, pinned
by tests/test_parser_fuzz.py); decoded output is capped (deflate-bomb
guard) since a census never needs unbounded expansion.

Scale: per-file mapInPandas over a binaryFile scan — streams decode
sequentially within a file (DEFLATE is inherently serial: dynamic
Huffman tables and LZ77 back-references forbid intra-stream splits),
files fan out across executors; exactly how every gzip/zip input
format distributes at 100 TB (the reason splittable containers exist
above the codec).
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_ZFILES = 4
_MAX_OUT = 1 << 22  # census bomb guard; fixture max is ~10 KB

# level/strategy cycle → stored, fixed-Huffman, dynamic, default
_MODES = [(0, 0), (9, zlib.Z_FIXED), (9, 0), (6, 0)]


def _n_streams(i: int) -> int:
    return (i % 3) + 1


def _stream_len(i: int, s: int) -> int:
    # big enough that level-9 default strategy picks DYNAMIC blocks
    # (at ~1-2 KB its fixed-Huffman candidate wins and n_dynamic = 0)
    return 3000 + 1900 * i + 1301 * s


def _byte_at(i: int, s: int, r: int) -> int:
    # period-97 ramp → compressible, so fixed/dynamic blocks get real
    # LZ77 matches; the +29·s term decorrelates streams within a file
    return ((r % 97) * 3 + (r // 97) + i * 13 + 29 * s) % 256


# ---------- bit reader (LSB-first per RFC 1951 §3.1.1) ----------


class _BitReader:
    __slots__ = ("b", "pos", "bit")

    def __init__(self, b: bytes, pos: int = 0) -> None:
        self.b = b
        self.pos = pos
        self.bit = 0

    def getbit(self) -> int:
        if self.pos >= len(self.b):
            raise ValueError("truncated deflate: bit underrun")
        v = (self.b[self.pos] >> self.bit) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return v

    def getbits(self, n: int) -> int:
        v = 0
        for k in range(n):
            v |= self.getbit() << k
        return v

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.pos += 1


# ---------- canonical Huffman (RFC 1951 §3.2.2) ----------


def _huff(lengths: list[int]) -> dict[tuple[int, int], int]:
    maxlen = max(lengths) if lengths else 0
    if maxlen == 0:
        return {}
    if maxlen > 15:
        raise ValueError("malformed deflate: code length > 15")
    bl_count = [0] * (maxlen + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (maxlen + 1)
    for bits in range(1, maxlen + 1):
        code = (code + bl_count[bits - 1]) << 1
        next_code[bits] = code
    table: dict[tuple[int, int], int] = {}
    for sym, ln in enumerate(lengths):
        if ln:
            if next_code[ln] >= (1 << ln):
                raise ValueError("malformed deflate: over-subscribed code")
            table[(ln, next_code[ln])] = sym
            next_code[ln] += 1
    return table


def _decode_sym(br: _BitReader, table: dict[tuple[int, int], int],
                maxlen: int = 15) -> int:
    # Huffman codes pack MSB-first (§3.1.1) — accumulate high-to-low
    code = 0
    for ln in range(1, maxlen + 1):
        code = (code << 1) | br.getbit()
        s = table.get((ln, code))
        if s is not None:
            return s
    raise ValueError("malformed deflate: bad huffman code")


_LBASE = [3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31, 35,
          43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258]
_LEXT = [0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3,
         4, 4, 4, 4, 5, 5, 5, 5, 0]
_DBASE = [1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193,
          257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145,
          8193, 12289, 16385, 24577]
_DEXT = [0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8,
         9, 9, 10, 10, 11, 11, 12, 12, 13, 13]
_CLORDER = [16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2,
            14, 1, 15]

_FIXED_LIT = _huff([8] * 144 + [9] * 112 + [7] * 24 + [8] * 8)
_FIXED_DIST = _huff([5] * 30)


def inflate(b: bytes, start: int = 0,
            max_out: int = _MAX_OUT) -> tuple[bytes, dict, int]:
    """Raw-DEFLATE inflate from ``start`` → (output bytes, block
    census, position after the final block's last byte).
    ValueError-only; output capped at ``max_out``."""
    br = _BitReader(b, start)
    out = bytearray()
    census = {"n_blocks": 0, "n_stored": 0, "n_fixed": 0,
              "n_dynamic": 0, "n_literals": 0, "n_matches": 0,
              "match_len": 0}
    while True:
        bfinal = br.getbit()
        btype = br.getbits(2)
        census["n_blocks"] += 1
        if census["n_blocks"] > 1_000_000:
            raise ValueError("malformed deflate: too many blocks")
        if btype == 0:
            br.align()
            if br.pos + 4 > len(b):
                raise ValueError("truncated deflate: stored header")
            ln, nln = struct.unpack_from("<HH", b, br.pos)
            br.pos += 4
            if ln ^ nln != 0xFFFF:
                raise ValueError("malformed deflate: LEN/NLEN mismatch")
            if br.pos + ln > len(b):
                raise ValueError("truncated deflate: stored payload")
            out += b[br.pos : br.pos + ln]
            br.pos += ln
            census["n_stored"] += 1
            census["n_literals"] += ln
        elif btype in (1, 2):
            if btype == 1:
                lt, dt = _FIXED_LIT, _FIXED_DIST
                census["n_fixed"] += 1
            else:
                census["n_dynamic"] += 1
                hlit = br.getbits(5) + 257
                hdist = br.getbits(5) + 1
                hclen = br.getbits(4) + 4
                cl_lens = [0] * 19
                for k in range(hclen):
                    cl_lens[_CLORDER[k]] = br.getbits(3)
                cl = _huff(cl_lens)
                if not cl:
                    raise ValueError("malformed deflate: empty CL code")
                lens: list[int] = []
                while len(lens) < hlit + hdist:
                    s = _decode_sym(br, cl, 7)
                    if s < 16:
                        lens.append(s)
                    elif s == 16:
                        if not lens:
                            raise ValueError(
                                "malformed deflate: repeat before any "
                                "length"
                            )
                        lens += [lens[-1]] * (3 + br.getbits(2))
                    elif s == 17:
                        lens += [0] * (3 + br.getbits(3))
                    else:
                        lens += [0] * (11 + br.getbits(7))
                if len(lens) != hlit + hdist:
                    raise ValueError(
                        "malformed deflate: code-length run overflow"
                    )
                lt = _huff(lens[:hlit])
                dt = _huff(lens[hlit:])
                if not lt:
                    raise ValueError("malformed deflate: empty literal code")
            while True:
                s = _decode_sym(br, lt)
                if s == 256:
                    break
                if s < 256:
                    out.append(s)
                    census["n_literals"] += 1
                else:
                    if s > 285:
                        raise ValueError(
                            "malformed deflate: bad length symbol"
                        )
                    length = _LBASE[s - 257] + br.getbits(_LEXT[s - 257])
                    if not dt:
                        raise ValueError(
                            "malformed deflate: match with empty "
                            "distance code"
                        )
                    d = _decode_sym(br, dt)
                    if d > 29:
                        raise ValueError(
                            "malformed deflate: bad distance symbol"
                        )
                    dist = _DBASE[d] + br.getbits(_DEXT[d])
                    if dist > len(out):
                        raise ValueError(
                            "malformed deflate: distance beyond output"
                        )
                    for _ in range(length):  # overlap-correct LZ77 copy
                        out.append(out[-dist])
                    census["n_matches"] += 1
                    census["match_len"] += length
                if len(out) > max_out:
                    raise ValueError("malformed deflate: output too large")
        else:
            raise ValueError("malformed deflate: reserved block type")
        if len(out) > max_out:
            raise ValueError("malformed deflate: output too large")
        if bfinal:
            break
    br.align()
    return bytes(out), census, br.pos


def _adler32(data: bytes) -> int:
    a, b = 1, 0
    for d in data:
        a += d
        b += a
        # batch the mods would be faster; fixture scale doesn't care
    return (b % 65521) << 16 | (a % 65521)


def inflate_zlib_stream(b: bytes, start: int = 0) -> tuple[bytes, dict, int]:
    """One zlib stream at ``start``: header checks, raw inflate,
    adler32 trailer verified against the DECODED output →
    (output, census, position after trailer). ValueError-only."""
    if start + 6 > len(b):
        raise ValueError("truncated zlib: header underrun")
    cmf, flg = b[start], b[start + 1]
    if cmf & 0x0F != 8:
        raise ValueError("unsupported zlib: CM != deflate")
    if (cmf >> 4) > 7:
        raise ValueError("malformed zlib: window size > 32K")
    if (cmf * 256 + flg) % 31 != 0:
        raise ValueError("malformed zlib: FCHECK failed")
    if flg & 0x20:
        raise ValueError("unsupported zlib: preset dictionary")
    out, census, end = inflate(b, start + 2)
    if end + 4 > len(b):
        raise ValueError("truncated zlib: missing adler32 trailer")
    declared = struct.unpack_from(">I", b, end)[0]
    if _adler32(out) != declared:
        raise ValueError("malformed zlib: adler32 mismatch")
    census["adler32"] = declared
    return out, census, end + 4


def decode_zlib_multistream(payload: bytes) -> dict:
    """Walk concatenated zlib streams to exact end-of-file → census.
    Bit-level consumption is the framing contract: each stream must
    end exactly where the next header (or EOF) begins."""
    pos = 0
    stats = {"n_streams": 0, "out_len": 0, "byte_sum": 0,
             "adler_sum": 0, "n_blocks": 0, "n_stored": 0,
             "n_fixed": 0, "n_dynamic": 0, "n_matches": 0}
    if not payload:
        raise ValueError("truncated zlib: empty payload")
    while pos < len(payload):
        out, census, pos = inflate_zlib_stream(payload, pos)
        stats["n_streams"] += 1
        stats["out_len"] += len(out)
        stats["byte_sum"] += sum(out)
        stats["adler_sum"] += census["adler32"]
        for k in ("n_blocks", "n_stored", "n_fixed", "n_dynamic",
                  "n_matches"):
            stats[k] += census[k]
        if stats["n_streams"] > 10_000:
            raise ValueError("malformed zlib: too many streams")
    return stats


# ---------- fixture + registered op ----------


def encode_zlib_multistream(i: int) -> bytes:
    """File i: (i%3)+1 concatenated zlib streams, each written by the
    REFERENCE encoder (stdlib zlib) under a level/strategy that
    forces a distinct block type — stored, fixed-Huffman, dynamic."""
    out = bytearray()
    for s in range(_n_streams(i)):
        n = _stream_len(i, s)
        data = bytes(_byte_at(i, s, r) for r in range(n))
        level, strategy = _MODES[(i + s) % len(_MODES)]
        co = zlib.compressobj(level, zlib.DEFLATED, 15, 8, strategy)
        out += co.compress(data) + co.flush()
    return bytes(out)


@_fixture
def _fx_zlib_streams(spark: SparkSession, sf_dir: str) -> None:
    names = [f"part-{i:03d}.zz" for i in range(_N_ZFILES)]
    write_files(
        _scratch(sf_dir, "real_zlib_streams"), names, encode_zlib_multistream
    )


_Z_COLS = ["n_streams", "out_len", "byte_sum", "adler_sum"]

_ZLIB_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_ZFILES})) AS i),
    streams AS (SELECT i, unnest(range(0, (i % 3) + 1)) AS s
                FROM files),
    sm AS (SELECT i, s, 3000 + 1900 * i + 1301 * s AS n FROM streams),
    rows_ AS (SELECT i, s, n, unnest(range(0, n)) AS r FROM sm),
    v AS (SELECT i, s, n, r,
                 ((r % 97) * 3 + (r // 97) + i * 13 + 29 * s) % 256
                   AS d
          FROM rows_),
    per_stream AS (
      SELECT i, s, MAX(n) AS n, SUM(d) AS dsum,
             ((MAX(n) + SUM((n - r) * d)) % 65521) * 65536
               + (1 + SUM(d)) % 65521 AS adler
      FROM v GROUP BY i, s)
    SELECT printf('part-%03d.zz', CAST(i AS INT)) AS fname,
           CAST(COUNT(*) AS BIGINT) AS n_streams,
           CAST(SUM(n) AS BIGINT) AS out_len,
           CAST(SUM(dsum) AS BIGINT) AS byte_sum,
           CAST(SUM(adler) AS BIGINT) AS adler_sum
    FROM per_stream GROUP BY i
"""


@register(
    "scan_deflate_streams",
    _ZLIB_ORACLE,
    doc="spec-complete hand-rolled DEFLATE inflate (stored + fixed + "
    "dynamic Huffman blocks, canonical code construction, LZ77 "
    "overlap copy) under the zlib wrapper: multistream walk with "
    "bit-exact consumption framing and the adler32 trailer verified "
    "against the DECODED bytes — adler32 recomputed inside DuckDB "
    "from the fixture formula, so the checksum itself rides the "
    "hash gate",
)
def scan_deflate_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The codec-family capstone: zstd frames carry XXH64, zlib
    carries adler32, and here BOTH engines compute the checksum
    independently — Spark from the hand-inflated output, DuckDB from
    the fixture formula (a = 1+Σd, b = n+Σ(n−r)·d_r, mod 65521) —
    so a single wrong output byte anywhere in the Huffman walk
    hash-fails. Block-type coverage (stored / fixed / dynamic) is
    forced by the writer's level/strategy cycle and pinned by
    tests/test_deflate.py against stdlib zlib's encoder output.

    Scale: see module docstring — DEFLATE streams are serial by
    construction; parallelism is per-file, the gzip reality every
    engine lives with at 100 TB.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _Z_COLS)

    return decode_files(
        spark, _scratch(sf_dir, "real_zlib_streams"), "*.zz",
        lambda b: [decode_zlib_multistream(b)], schema,
    )
