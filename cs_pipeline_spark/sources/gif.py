"""Real GIF header/stream decode — dependency-free block walker.

GIF is the third header-parse format a crawl pipeline meets after
JPEG/PNG (animated stickers, legacy web graphics). This module follows
the ``sources/jpeg.py`` pattern: a pure-python (stdlib ``struct``)
GIF *writer* that emits real GIF89a streams — header, logical screen
descriptor with a global color table, Graphic Control Extensions
(frame delays, transparency), optional comment/application extensions,
per-frame image descriptors with optional local color tables and
interlace flags, LZW-opaque sub-block-chained pixel data, trailer —
plus a *parser* that walks the block structure: screen dimensions and
color depth from the LSD, frame count, total animation duration from
the GCE delays, interlaced/local-table frame counts, and loop count
from the NETSCAPE application extension. The entropy (LZW) payload is
skipped by its sub-block chain — the length-prefixed walk whose
off-by-one desyncs naive parsers — never decoded, exactly the
header-only scale posture of the JPEG path.

Fixture content is stated by an arithmetic formula, so the DuckDB
oracle recomputes every output column — a full value-hash check.

Malformed input raises ValueError only (the jpeg.py/wav.py contract,
pinned by tests/test_parser_fuzz.py): every read is bounds-checked —
truncated sub-block chains, overrunning color tables, and missing
trailers all surface as one catchable type on the crawl path.

Scale: per-file mapInPandas over a binaryFile scan; only a ~9-column
stats row per file leaves the Python worker. At 100 TB the parse
reads header-proportional bytes (sub-block SIZES, not pixel content).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_GIFS = 8


def _gif_meta(i: int) -> dict:
    n_frames = 1 + i % 4
    return {
        "width": 20 + 6 * i,
        "height": 12 + 5 * i,
        "gct_bits": 1 + i % 3,  # global color table: 2^(bits) entries
        "n_frames": n_frames,
        # per-frame delay in centiseconds: 4 + 3*f + i
        "total_delay_cs": sum(4 + 3 * f + i for f in range(n_frames)),
        "n_interlaced": sum(1 for f in range(n_frames) if (f + i) % 2 == 0),
        "n_local_ct": sum(1 for f in range(n_frames) if (f + i) % 3 == 0),
        "loop_count": (i * 7) % 5,  # NETSCAPE extension (0 = forever)
        "has_comment": 1 if i % 3 == 0 else 0,
    }


def _subblocks(data: bytes) -> bytes:
    """Chop data into length-prefixed sub-blocks + terminator."""
    out = bytearray()
    for k in range(0, len(data), 255):
        chunk = data[k : k + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"
    return bytes(out)


def encode_gif(i: int) -> bytes:
    """Emit a real GIF89a stream for fixture i (headers/blocks are
    spec-shaped; the LZW payload is formula bytes the parser must
    SKIP via the sub-block chain, never decode)."""
    m = _gif_meta(i)
    out = bytearray(b"GIF89a")
    gct_n = 1 << (m["gct_bits"])
    # LSD: width, height, packed (GCT flag + color resolution + size),
    # background index, aspect
    packed = 0x80 | ((m["gct_bits"] - 1) & 0x07) << 4 | ((m["gct_bits"] - 1) & 0x07)
    out += struct.pack("<HHBBB", m["width"], m["height"], packed, 0, 0)
    for c in range(gct_n):  # global color table entries (formula RGB)
        out += bytes([(c * 11 + i) % 256, (c * 7) % 256, (c * 3 + 5) % 256])
    # NETSCAPE looping extension
    out += b"\x21\xff\x0bNETSCAPE2.0" + bytes([3, 1]) + struct.pack(
        "<H", m["loop_count"]
    ) + b"\x00"
    if m["has_comment"]:
        out += b"\x21\xfe" + _subblocks(f"fixture gif {i}".encode())
    for f in range(m["n_frames"]):
        # Graphic Control Extension: delay + transparency on odd frames
        flags = 0x01 if f % 2 else 0x00
        out += b"\x21\xf9" + bytes([4, flags]) + struct.pack(
            "<H", 4 + 3 * f + i
        ) + bytes([0, 0])
        # Image descriptor: offsets, dims, packed (local CT + interlace)
        lct = (f + i) % 3 == 0
        interlaced = (f + i) % 2 == 0
        ipacked = 0x40 if interlaced else 0x00
        if lct:
            ipacked |= 0x80 | 0x01  # 4-entry local table (size bits = 1)
        out += b"\x2c" + struct.pack(
            "<HHHHB", f, f, m["width"] - f, m["height"] - f, ipacked
        )
        if lct:
            for c in range(4):
                out += bytes([(c + f) % 256, (c * 5 + f) % 256, c % 256])
        # LZW minimum code size + opaque sub-block-chained payload
        out += bytes([2])
        payload = bytes(
            (k * 13 + f * 7 + i) % 256 for k in range(300 + 40 * f)
        )
        out += _subblocks(payload)
    out += b"\x3b"  # trailer
    return bytes(out)


def decode_gif_meta(payload: bytes) -> dict:
    """Walk the GIF block stream: LSD dims/depth, frame census
    (interlaced / local-color-table counts), total GCE delay, loop
    count, comment flag. LZW data is skipped by its sub-block chain.
    Raises ValueError on anything malformed."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF: bad signature")
    if len(payload) < 13:
        raise ValueError("truncated GIF: short logical screen descriptor")
    w, h, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    gct_bits = 0
    if packed & 0x80:
        gct_bits = (packed & 0x07) + 1
        end = pos + 3 * (1 << gct_bits)
        if end > len(payload):
            raise ValueError("truncated GIF: global color table overruns")
        pos = end

    def skip_subblocks(p: int) -> int:
        while True:
            if p >= len(payload):
                raise ValueError("truncated GIF: sub-block chain overruns")
            n = payload[p]
            p += 1
            if n == 0:
                return p
            if p + n > len(payload):
                raise ValueError("truncated GIF: sub-block overruns payload")
            p += n

    meta = {
        "width": w,
        "height": h,
        "gct_bits": gct_bits,
        "n_frames": 0,
        "total_delay_cs": 0,
        "n_interlaced": 0,
        "n_local_ct": 0,
        "loop_count": -1,
        "has_comment": 0,
    }
    saw_trailer = False
    while pos < len(payload):
        b = payload[pos]
        pos += 1
        if b == 0x3B:  # trailer
            saw_trailer = True
            break
        if b == 0x21:  # extension
            if pos >= len(payload):
                raise ValueError("truncated GIF: bare extension introducer")
            label = payload[pos]
            pos += 1
            if label == 0xF9:  # Graphic Control Extension
                if pos + 6 > len(payload):
                    raise ValueError("truncated GIF: short GCE")
                if payload[pos] != 4:
                    raise ValueError("malformed GIF: GCE block size != 4")
                delay = struct.unpack("<H", payload[pos + 2 : pos + 4])[0]
                meta["total_delay_cs"] += delay
                pos = skip_subblocks(pos + 5)
            elif label == 0xFF:  # application extension
                if pos >= len(payload):
                    raise ValueError("truncated GIF: short app extension")
                n = payload[pos]
                if pos + 1 + n > len(payload):
                    raise ValueError("truncated GIF: app id overruns")
                app = payload[pos + 1 : pos + 1 + n]
                p2 = pos + 1 + n
                if app[:8] == b"NETSCAPE":
                    # one 3-byte sub-block: 0x01 + uint16 loop count
                    if p2 + 4 > len(payload) or payload[p2] != 3:
                        raise ValueError("truncated GIF: NETSCAPE block")
                    meta["loop_count"] = struct.unpack(
                        "<H", payload[p2 + 2 : p2 + 4]
                    )[0]
                pos = skip_subblocks(p2)
            elif label == 0xFE:  # comment
                meta["has_comment"] = 1
                pos = skip_subblocks(pos)
            else:  # plain text / unknown — skip by chain
                pos = skip_subblocks(pos)
        elif b == 0x2C:  # image descriptor
            if pos + 9 > len(payload):
                raise ValueError("truncated GIF: short image descriptor")
            _l, _t, _iw, _ih, ipacked = struct.unpack(
                "<HHHHB", payload[pos : pos + 9]
            )
            pos += 9
            meta["n_frames"] += 1
            if ipacked & 0x40:
                meta["n_interlaced"] += 1
            if ipacked & 0x80:
                meta["n_local_ct"] += 1
                lct_end = pos + 3 * (1 << ((ipacked & 0x07) + 1))
                if lct_end > len(payload):
                    raise ValueError("truncated GIF: local color table")
                pos = lct_end
            if pos >= len(payload):
                raise ValueError("truncated GIF: missing LZW code size")
            pos = skip_subblocks(pos + 1)  # skip min-code-size + chain
        else:
            raise ValueError(f"malformed GIF: unknown block 0x{b:02x}")
    if not saw_trailer:
        raise ValueError("truncated GIF: missing trailer")
    return meta


# ---------- fixtures + registered op ----------


@_fixture
def _fx_gif_anims(spark: SparkSession, sf_dir: str) -> None:
    names = [f"anim-{i:03d}.gif" for i in range(_N_GIFS)]
    write_files(_scratch(sf_dir, "real_gifs"), names, encode_gif)


_G_COLS = (
    "width height gct_bits n_frames total_delay_cs n_interlaced "
    "n_local_ct loop_count has_comment"
).split()

_GIF_ORACLE = f"""
    WITH gifs AS (SELECT unnest(range(0, {_N_GIFS})) AS i),
    frames AS (SELECT i, unnest(range(0, 1 + i % 4)) AS f FROM gifs),
    fr AS (SELECT i,
                  CAST(COUNT(*) AS BIGINT) AS n_frames,
                  CAST(SUM(4 + 3 * f + i) AS BIGINT) AS total_delay_cs,
                  CAST(SUM(CASE WHEN (f + i) % 2 = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_interlaced,
                  CAST(SUM(CASE WHEN (f + i) % 3 = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_local_ct
           FROM frames GROUP BY i)
    SELECT printf('anim-%03d.gif', CAST(g.i AS INT)) AS fname,
           CAST(20 + 6 * g.i AS BIGINT) AS width,
           CAST(12 + 5 * g.i AS BIGINT) AS height,
           CAST(1 + g.i % 3 AS BIGINT) AS gct_bits,
           fr.n_frames, fr.total_delay_cs, fr.n_interlaced, fr.n_local_ct,
           CAST((g.i * 7) % 5 AS BIGINT) AS loop_count,
           CAST(CASE WHEN g.i % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS has_comment
    FROM gifs g JOIN fr ON fr.i = g.i
"""


@register(
    "mm_decode_gif_meta",
    _GIF_ORACLE,
    doc="REAL GIF89a block-stream decode: binaryFile + mapInPandas walk "
    "of LSD dims/color depth, per-frame image descriptors (interlace / "
    "local-color-table census), GCE delay sum, NETSCAPE loop count, "
    "comment flag — LZW payloads skipped via their length-prefixed "
    "sub-block chains, never decoded; hash-checked against the fixture "
    "formula",
)
def mm_decode_gif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF metadata on REAL bytes, the third crawl image format after
    JPEG/PNG: 8 fixture animations sweep frame counts 1–4, all three
    global-color-table depths, interlaced and locally-tabled frames,
    transparency-flagged GCEs, a comment extension on every third
    file, and NETSCAPE loop counts including 0 (loop forever). The
    sub-block chain walk is the branch that matters — a parser that
    misreads one length byte desyncs and fails loudly (ValueError),
    never silently.

    Scale: see module docstring — per-file mapInPandas; one stats
    row per file out; pixel (LZW) bytes skipped, not decoded.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _G_COLS)

    return decode_files(
        spark, _scratch(sf_dir, "real_gifs"), "*.gif",
        lambda b: [decode_gif_meta(b)], schema,
    )
