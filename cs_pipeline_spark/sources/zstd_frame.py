"""Zstandard FRAME decode — raw/RLE-block frames, dependency-free.

Zstd is the default codec of modern lake writers (Spark 4 writes ORC
as zstd out of the box; parquet zstd is everywhere), so a format-
triage engine needs to at least walk a frame: magic 0xFD2FB528 LE,
Frame_Header_Descriptor (FCS-size bits 7-6, Single_Segment bit 5,
Content_Checksum bit 2, Dictionary_ID bits 1-0), optional
Window_Descriptor, Frame_Content_Size, then 3-byte-LE block headers
(bit 0 last, bits 1-2 type: 0 raw / 1 RLE / 2 compressed) to the end.
Raw and RLE blocks need no entropy decoding, so frames built from
them are fully decodable here — and they are REAL zstd: the fixture
writer's output round-trips through the reference decoder
(tests pin ``pyarrow.decompress(frame) == payload``, so the matched
writer/reader pair cannot self-cancel).

Fixture: one ``.zst`` file per index — 3+i alternating raw/RLE
blocks whose bytes are stated by formula, FCS-16 single-segment
header — so the DuckDB oracle recomputes the declared content size,
block census, and the exact decoded byte mass.

Scale: per-file mapInPandas over binaryFile — embarrassingly
parallel, no shuffle; a frame walk reads headers + block payloads
sequentially exactly as a streaming decompressor would, no
random access needed. Malformed input raises ValueError only
(tests/test_parser_fuzz.py).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_ZST = 4
_ZSTD_MAGIC = bytes.fromhex("28b52ffd")  # 0xFD2FB528 little-endian

_BT_RAW, _BT_RLE, _BT_COMPRESSED = 0, 1, 2


def _zst_blocks(i: int) -> list[tuple[int, bytes]]:
    """(type, decoded bytes) per block for fixture file i — all
    stated by formula so the oracle recomputes the byte mass."""
    out = []
    for b in range(3 + i):
        if b % 2 == 0:
            out.append((
                _BT_RAW,
                bytes((b * 13 + j * 7 + i) % 256 for j in range(90 + i)),
            ))
        else:
            out.append((
                _BT_RLE,
                bytes([(b * 11 + i) % 256]) * (120 + b),
            ))
    return out


def encode_zstd_frame(i: int) -> bytes:
    """A real single-segment FCS-16 zstd frame from raw/RLE blocks
    (round-trips through the reference decoder — see tests)."""
    blocks = _zst_blocks(i)
    size = sum(len(d) for _t, d in blocks)
    if not 256 <= size < 65792:
        raise ValueError("fixture bug: FCS-16 range")
    out = bytearray(_ZSTD_MAGIC)
    # FHD 0x60: FCS-flag 1 (2-byte field, stores size-256),
    # Single_Segment set, no checksum, no dictionary
    out.append(0x60)
    out += (size - 256).to_bytes(2, "little")
    for b, (t, data) in enumerate(blocks):
        last = 1 if b == len(blocks) - 1 else 0
        if t == _BT_RAW:
            out += ((len(data) << 3) | (t << 1) | last).to_bytes(
                3, "little"
            )
            out += data
        else:  # RLE: size field = run length, content = the one byte
            out += ((len(data) << 3) | (t << 1) | last).to_bytes(
                3, "little"
            )
            out.append(data[0])
    return bytes(out)


@_fixture
def _fx_zstd_frames(spark: SparkSession, sf_dir: str) -> None:
    names = [f"doc-{i:03d}.zst" for i in range(_N_ZST)]
    write_files(_scratch(sf_dir, "real_zstd"), names, encode_zstd_frame)


def decode_zstd_frame(payload: bytes) -> dict:
    """Walk one zstd frame; decode raw/RLE blocks (compressed blocks
    raise — this is the triage path, not an entropy decoder).
    ValueError-only."""
    if len(payload) < 6 or payload[:4] != _ZSTD_MAGIC:
        raise ValueError("not a zstd frame: bad magic")
    p = 4
    fhd = payload[p]
    p += 1
    fcs_flag = fhd >> 6
    single_segment = bool(fhd & 0x20)
    if fhd & 0x18:
        raise ValueError("malformed zstd: reserved FHD bits set")
    has_checksum = bool(fhd & 0x04)
    did_flag = fhd & 0x03
    if not single_segment:
        if p >= len(payload):
            raise ValueError("truncated zstd: window descriptor")
        p += 1
    did_len = (0, 1, 2, 4)[did_flag]
    p += did_len
    fcs_len = (0, 2, 4, 8)[fcs_flag]
    if fcs_flag == 0 and single_segment:
        fcs_len = 1
    if p + fcs_len > len(payload):
        raise ValueError("truncated zstd: frame content size")
    declared = None
    if fcs_len:
        declared = int.from_bytes(payload[p : p + fcs_len], "little")
        if fcs_len == 2:
            declared += 256
    p += fcs_len

    n_blocks = n_raw = n_rle = 0
    decoded = bytearray()
    while True:
        if p + 3 > len(payload):
            raise ValueError("truncated zstd: block header")
        hdr = int.from_bytes(payload[p : p + 3], "little")
        p += 3
        last, btype, bsize = hdr & 1, (hdr >> 1) & 3, hdr >> 3
        n_blocks += 1
        if btype == _BT_RAW:
            if p + bsize > len(payload):
                raise ValueError("truncated zstd: raw block")
            decoded += payload[p : p + bsize]
            p += bsize
            n_raw += 1
        elif btype == _BT_RLE:
            if p >= len(payload):
                raise ValueError("truncated zstd: RLE byte")
            if bsize > 1 << 17:
                raise ValueError("malformed zstd: RLE run too long")
            decoded += bytes([payload[p]]) * bsize
            p += 1
            n_rle += 1
        elif btype == _BT_COMPRESSED:
            raise ValueError(
                "unsupported zstd: compressed block (triage decoder)"
            )
        else:
            raise ValueError("malformed zstd: reserved block type")
        if last:
            break
    xxh_low32 = 0
    checksum_ok = 0
    if has_checksum:
        if p + 4 > len(payload):
            raise ValueError("truncated zstd: checksum")
        stored = int.from_bytes(payload[p : p + 4], "little")
        p += 4
        xxh_low32 = xxhash64(bytes(decoded)) & 0xFFFFFFFF
        if stored != xxh_low32:
            raise ValueError("malformed zstd: content checksum mismatch")
        checksum_ok = 1
    if p != len(payload):
        raise ValueError("malformed zstd: trailing bytes after frame")
    if declared is not None and declared != len(decoded):
        raise ValueError("malformed zstd: content size mismatch")
    return {
        "content_size": len(decoded),
        "n_blocks": n_blocks,
        "n_raw_blocks": n_raw,
        "n_rle_blocks": n_rle,
        "byte_mass": sum(decoded),
        "fcs_declared": 1 if declared is not None else 0,
        "has_checksum": 1 if has_checksum else 0,
        "xxh_low32": xxh_low32,
        "checksum_ok": checksum_ok,
    }


_ZS_COLS = (
    "content_size n_blocks n_raw_blocks n_rle_blocks byte_mass "
    "fcs_declared".split()
)

_ZS_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_ZST})) AS i),
    blocks AS (SELECT i, unnest(range(0, 3 + i)) AS b FROM files),
    raw AS (SELECT i, b, 90 + i AS sz,
                   (SELECT SUM((b * 13 + j.j * 7 + i) % 256)
                    FROM (SELECT unnest(range(0, 90 + i)) AS j) j)
                     AS mass
            FROM blocks WHERE b % 2 = 0),
    rle AS (SELECT i, b, 120 + b AS sz,
                   (120 + b) * ((b * 11 + i) % 256) AS mass
            FROM blocks WHERE b % 2 = 1),
    u AS (SELECT i, b, sz, mass, 1 AS is_raw FROM raw
          UNION ALL
          SELECT i, b, sz, mass, 0 AS is_raw FROM rle)
    SELECT printf('doc-%03d.zst', CAST(i AS INT)) AS fname,
           CAST(SUM(sz) AS BIGINT) AS content_size,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(is_raw) AS BIGINT) AS n_raw_blocks,
           CAST(SUM(1 - is_raw) AS BIGINT) AS n_rle_blocks,
           CAST(SUM(mass) AS BIGINT) AS byte_mass,
           CAST(1 AS BIGINT) AS fcs_declared
    FROM u GROUP BY i
"""


@register(
    "scan_zstd_frames",
    _ZS_ORACLE,
    doc="zstd frame decode (raw/RLE blocks): magic + frame-header-"
    "descriptor walk (FCS size, single-segment, checksum, dict-ID "
    "bits), 3-byte block headers to the last block, raw/RLE payload "
    "reassembly with the declared content size cross-checked — block "
    "census + exact decoded byte mass per file, hash-checked against "
    "the fixture formula (frames round-trip through the reference "
    "zstd decoder in tests)",
)
def scan_zstd_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The triage layer for the lake's default codec: a frame whose
    headers don't walk to EOF is corrupt long before entropy decoding
    matters, and raw/RLE frames (zstd's own fallback for
    incompressible or constant data) decode completely without an
    FSE/Huffman stage. The byte-mass checksum pins the whole decoded
    stream, so a desync anywhere in the block walk changes the hash.

    Scale: see module docstring — per-file map over binaryFile, no
    shuffle; headers-first walk matches how a streaming reader
    validates multi-GB frames without buffering them.
    """
    schema = "fname string, " + ", ".join(
        f"{c} long" for c in _ZS_COLS
    )

    return decode_files(
        spark, _scratch(sf_dir, "real_zstd"), "*.zst",
        lambda b: [decode_zstd_frame(b)], schema,
    )


# ====================================================================
# Content checksums — XXH64. A zstd frame with the checksum flag set
# ends with the low 32 bits of XXH64(decoded content, seed 0); the
# reference decoder VERIFIES it, so the round-trip test (pyarrow
# decompresses our checksummed frames) independently proves this
# xxhash64 implementation bit-exact. Public XXH64 spec constants.
# ====================================================================

_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M64 = (1 << 64) - 1


def _rotl(v: int, r: int) -> int:
    return ((v << r) | (v >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    p = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while p + 32 <= n:
            v1 = _xxh_round(v1, int.from_bytes(data[p:p + 8], "little"))
            v2 = _xxh_round(
                v2, int.from_bytes(data[p + 8:p + 16], "little"))
            v3 = _xxh_round(
                v3, int.from_bytes(data[p + 16:p + 24], "little"))
            v4 = _xxh_round(
                v4, int.from_bytes(data[p + 24:p + 32], "little"))
            p += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _xxh_round(0, v)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while p + 8 <= n:
        k = _xxh_round(0, int.from_bytes(data[p:p + 8], "little"))
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M64
        p += 8
    if p + 4 <= n:
        h = (_rotl(
            h ^ (int.from_bytes(data[p:p + 4], "little") * _P1) & _M64,
            23,
        ) * _P2 + _P3) & _M64
        p += 4
    while p < n:
        h = (_rotl(h ^ (data[p] * _P5) & _M64, 11) * _P1) & _M64
        p += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


_N_ZCK = 4


def _zck_blocks(i: int) -> list[tuple[int, bytes]]:
    out = []
    for b in range(2 + i):
        if b % 2 == 0:
            out.append((
                _BT_RAW,
                bytes((b * 17 + j * 5 + i) % 256
                      for j in range(170 + i)),
            ))
        else:
            out.append((
                _BT_RLE,
                bytes([(b * 7 + i) % 256]) * (120 + b),
            ))
    return out


def encode_zstd_frame_ck(i: int) -> bytes:
    """Checksummed single-segment frame (FHD 0x64 = FCS-16 + single
    segment + Content_Checksum), trailing XXH64 low-32 LE."""
    blocks = _zck_blocks(i)
    payload = b"".join(d for _t, d in blocks)
    size = len(payload)
    if not 256 <= size < 65792:
        raise ValueError("fixture bug: FCS-16 range")
    out = bytearray(_ZSTD_MAGIC)
    out.append(0x64)
    out += (size - 256).to_bytes(2, "little")
    for b, (t, data) in enumerate(blocks):
        last = 1 if b == len(blocks) - 1 else 0
        out += ((len(data) << 3) | (t << 1) | last).to_bytes(3, "little")
        out += data if t == _BT_RAW else data[:1]
    out += (xxhash64(payload) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(out)


@_fixture
def _fx_zstd_ck(spark: SparkSession, sf_dir: str) -> None:
    names = [f"ck-{i:03d}.zst" for i in range(_N_ZCK)]
    write_files(_scratch(sf_dir, "real_zstd_ck"), names, encode_zstd_frame_ck)


def _zck_literals() -> list[tuple[int, int, int, int]]:
    """(i, content_size, byte_mass, xxh_low32) — xxh values become
    oracle literals (XXH64 is not SQL-expressible; the Benford-
    literal pattern)."""
    out = []
    for i in range(_N_ZCK):
        payload = b"".join(d for _t, d in _zck_blocks(i))
        out.append((
            i, len(payload), sum(payload),
            xxhash64(payload) & 0xFFFFFFFF,
        ))
    return out


_ZCK_ORACLE = "\nUNION ALL\n".join(
    f"SELECT 'ck-{i:03d}.zst' AS fname,"
    f" CAST({cs} AS BIGINT) AS content_size,"
    f" CAST({bm} AS BIGINT) AS byte_mass,"
    f" CAST({xh} AS BIGINT) AS xxh_low32,"
    f" CAST(1 AS BIGINT) AS checksum_ok"
    for i, cs, bm, xh in _zck_literals()
)


@register(
    "scan_zstd_checksum",
    _ZCK_ORACLE,
    doc="zstd content-checksum verification: frames with the "
    "Content_Checksum flag end in XXH64(content) low-32 — decoded "
    "with the raw/RLE block walk, hashed with a dependency-free "
    "spec-complete XXH64 (stripe accumulators, merge rounds, tail, "
    "avalanche), and verified against the trailing bytes; the "
    "reference zstd decoder re-verifies the same frames in tests, "
    "pinning the hash implementation bit-exact",
)
def scan_zstd_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity closure for the triage layer: scan_zstd_frames
    proves the frame WALKS; this op proves the content is WHAT WAS
    WRITTEN, end to end, using the format's own checksum. The oracle
    pins the XXH64 low-32 values as literals (computed once at
    import — the transcendental-literal pattern), so a single wrong
    rotate or prime in the hash implementation fails all rows.

    Scale: per-file map over binaryFile, no shuffle; checksum
    verification is the streaming read's natural last step.
    """
    schema = (
        "fname string, content_size long, byte_mass long, "
        "xxh_low32 long, checksum_ok long"
    )

    def checked(payload: bytes) -> list[dict]:
        m = decode_zstd_frame(payload)
        if not m.get("has_checksum"):
            raise ValueError("zstd: checksum frame expected")
        return [m]

    return decode_files(
        spark, _scratch(sf_dir, "real_zstd_ck"), "*.zst", checked, schema
    )
