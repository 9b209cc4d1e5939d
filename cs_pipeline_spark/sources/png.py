"""Real PNG byte decode — dependency-free codec + hash-checked op.

The multimodal story treats images as opaque ``binary`` columns; this
module makes the decode step REAL for PNG the way ``sources/tiff.py``
does for TIFF: a pure-python (stdlib ``zlib``/``struct``) PNG 8-bit
gray/RGB codec, deterministic fixture images whose pixels are stated
by an arithmetic formula, and a registered op whose DuckDB oracle
recomputes the per-image statistics from that formula — a full
value-hash check of signature parsing, chunk CRCs, zlib inflate and
all five scanline unfilters (None/Sub/Up/Average/Paeth; the encoder
cycles them per row so every path is exercised).

Reference parity: the reference ingests rasters only (dataset.py:148-169,
GeoTIFF); PNG decode is part of the north-star multimodal surface
(VERDICT r5 item 3) rather than a reference op.

Scale: decode parallelizes per file inside ``mapInPandas`` over a
``binaryFile`` scan (Arrow batches of whole files); partitioning,
schema and batch shape are identical to the production path with
codec libraries installed — PIL/OpenCV would swap into the same
``mapInPandas`` body without touching the plan.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """PNG spec §9.4 Paeth predictor (a=left, b=up, c=upper-left)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(
    width: int,
    height: int,
    channels: int,
    pix: list[int],
    filters: list[int] | None = None,
) -> bytes:
    """Encode 8-bit gray (channels=1) or RGB (channels=3) pixels.

    ``filters`` picks the per-row filter type (0..4); defaults to
    None-filter rows. The filtered deltas are the exact inverses of
    the decoder's reconstruction, so round-trip is bit-identical.
    """
    color = {1: 0, 3: 2}[channels]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    stride = width * channels
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = bytes(pix[y * stride : (y + 1) * stride])
        f = filters[y] if filters else 0
        raw.append(f)
        for i in range(stride):
            left = line[i - channels] if i >= channels else 0
            up = prev[i]
            ul = prev[i - channels] if i >= channels else 0
            if f == 0:
                d = line[i]
            elif f == 1:
                d = line[i] - left
            elif f == 2:
                d = line[i] - up
            elif f == 3:
                d = line[i] - ((left + up) >> 1)
            else:
                d = line[i] - _paeth(left, up, ul)
            raw.append(d & 0xFF)
        prev = line
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, int, list[int]]:
    """Decode 8-bit gray/RGB non-interlaced PNG → (w, h, ch, pixels).

    Verifies the signature and every chunk CRC; reconstructs all five
    filter types. Raises on interlaced/paletted/16-bit input (the
    production path hands those to PIL inside the same mapInPandas
    body).
    """
    if payload[:8] != _SIG:
        raise ValueError("not a PNG: bad signature")
    pos, idat = 8, bytearray()
    width = height = channels = None
    while pos + 12 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        crc = int.from_bytes(payload[pos + 8 + ln : pos + 12 + ln], "big")
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {typ!r} chunk")
        if typ == b"IHDR":
            width, height, depth, color, _comp, _filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or color not in (0, 2) or inter != 0:
                raise NotImplementedError(
                    f"unsupported PNG: depth={depth} color={color} "
                    f"interlace={inter}"
                )
            channels = 3 if color == 2 else 1
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if width is None:
        raise ValueError("no IHDR chunk")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("IDAT length mismatch")
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _y in range(height):
        f = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
        if f == 1:
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + left) & 0xFF
        elif f == 2:
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                ul = prev[i - channels] if i >= channels else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif f != 0:
            raise ValueError(f"bad filter type {f}")
        out += line
        prev = line
    return width, height, channels, list(out)


# ---------- deterministic fixtures ----------
#
# 6 images img-00N.png; dims/channels vary per image; pixel value
# v(i,y,x,c) = (y*31 + x*17 + c*11 + i*7) % 256 — the oracle restates
# the per-image stats from this formula. Filter type cycles (y+i)%5 so
# each file mixes all five filters.

_N_IMGS = 6


def _img_dims(i: int) -> tuple[int, int, int]:
    return 5 + i, 4 + (i * 3) % 5, 3 if i % 2 == 0 else 1


def _img_pixel(i: int, y: int, x: int, c: int) -> int:
    return (y * 31 + x * 17 + c * 11 + i * 7) % 256


def _png_fixture(i: int) -> bytes:
    w, h, ch = _img_dims(i)
    pix = [
        _img_pixel(i, y, x, c)
        for y in range(h)
        for x in range(w)
        for c in range(ch)
    ]
    return encode_png(w, h, ch, pix, filters=[(y + i) % 5 for y in range(h)])


@_fixture
def _fx_png_imgs(spark: SparkSession, sf_dir: str) -> None:
    names = [f"img-{i:03d}.png" for i in range(_N_IMGS)]
    write_files(_scratch(sf_dir, "real_pngs"), names, _png_fixture)


def decode_png_df(spark: SparkSession, png_dir: str) -> DataFrame:
    """binaryFile scan over ``*.png`` → mapInPandas decode → per-pixel
    long rows ``(fname, y, x, c, v)`` plus the image dims."""
    schema = (
        "fname string, width long, height long, channels long, "
        "y long, x long, c long, v long"
    )

    def pixels(payload: bytes) -> list[dict]:
        w, h, ch, vals = decode_png(payload)
        return [
            {"width": w, "height": h, "channels": ch,
             "y": k // (w * ch), "x": (k // ch) % w, "c": k % ch, "v": v}
            for k, v in enumerate(vals)
        ]

    return decode_files(spark, png_dir, "*.png", pixels, schema)


_PNG_ORACLE = f"""
    WITH imgs AS (SELECT unnest(range(0, {_N_IMGS})) AS i),
    dims AS (SELECT i, 5 + i AS w, 4 + (i * 3) % 5 AS h,
                    CASE WHEN i % 2 = 0 THEN 3 ELSE 1 END AS ch
             FROM imgs),
    px AS (SELECT d.i, d.w, d.h, d.ch, y.y, x.x, c.c,
                  (y.y * 31 + x.x * 17 + c.c * 11 + d.i * 7) % 256 AS v
           FROM dims d,
                (SELECT unnest(range(0, 16)) AS y) y,
                (SELECT unnest(range(0, 16)) AS x) x,
                (SELECT unnest(range(0, 3)) AS c) c
           WHERE y.y < d.h AND x.x < d.w AND c.c < d.ch)
    SELECT printf('img-%03d.png', CAST(i AS INT)) AS fname,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(MAX(ch) AS BIGINT) AS channels,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(MIN(v) AS BIGINT) AS px_min,
           CAST(MAX(v) AS BIGINT) AS px_max,
           CAST(SUM(v * ((y * w + x) * ch + c + 1)) AS BIGINT) AS checksum
    FROM px GROUP BY i
"""


@register(
    "mm_decode_png",
    _PNG_ORACLE,
    doc="REAL PNG byte decode: binaryFile scan → mapInPandas pure-"
    "python PNG reader (CRC-verified chunks, zlib inflate, all five "
    "scanline unfilters) → per-image pixel statistics, hash-checked "
    "against the fixture formula",
)
def mm_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode on REAL bytes: 6 PNG files (gray + RGB, mixed
    per-row filter types, one of each filter in every image) decoded
    from their actual chunk structure, reduced to per-image stats
    (dims, pixel sum/min/max, position-weighted checksum). The
    checksum pins every pixel to its (y, x, c) position, so a filter
    or stride bug cannot cancel out in the sum.

    Scale: see module docstring — per-file parallel decode inside
    mapInPandas; stats are a per-image hash-agg (map-side combined).
    The per-pixel long form never shuffles raw bytes, only (fname,
    y, x, c, v) rows.
    """
    px = decode_png_df(spark, _scratch(sf_dir, "real_pngs"))
    return (
        px.groupBy("fname")
        .agg(
            F.max("width").alias("width"),
            F.max("height").alias("height"),
            F.max("channels").alias("channels"),
            F.count(F.lit(1)).alias("n_px"),
            F.sum("v").alias("px_sum"),
            F.min("v").alias("px_min"),
            F.max("v").alias("px_max"),
            F.sum(
                F.col("v")
                * (
                    (F.col("y") * F.col("width") + F.col("x"))
                    * F.col("channels")
                    + F.col("c")
                    + 1
                )
            ).alias("checksum"),
        )
        .select(
            "fname",
            "width",
            "height",
            "channels",
            "n_px",
            "px_sum",
            "px_min",
            "px_max",
            "checksum",
        )
    )


# ---------- perceptual difference-hash over decoded pixels ----------
#
# Image near-dup detection's cheapest tier: dHash (difference hash).
# Luma samples on a fixed 8×8 grid (index map x_k = k·w//8 — integer
# floor, resolution-independent), one bit per horizontally-adjacent
# sample comparison (7 per row × 8 rows = 56 bits, packed into a
# non-negative BIGINT), and pairwise Hamming distances as the match
# score. Runs on the REAL decode path (decode_png_df), all integer —
# luma is the BT.601-weighted (299r+587g+114b)//1000 floor, so the
# DuckDB oracle recomputes every bit from the pixel formula.

_DH_G = 8  # sample grid


@register(
    "mm_image_dhash",
    f"""
    WITH imgs AS (SELECT unnest(range(0, {_N_IMGS})) AS i),
    dims AS (SELECT i, 5 + i AS w, 4 + (i * 3) % 5 AS h,
                    CASE WHEN i % 2 = 0 THEN 3 ELSE 1 END AS ch
             FROM imgs),
    grid AS (
      SELECT d.i, d.w, d.h, d.ch, j.j, k.k,
             (k.k * d.w) // {_DH_G} AS x, (j.j * d.h) // {_DH_G} AS y
      FROM dims d,
           (SELECT unnest(range(0, {_DH_G})) AS j) j,
           (SELECT unnest(range(0, {_DH_G})) AS k) k),
    lum AS (
      SELECT i, j, k,
             CASE WHEN ch = 3 THEN
               (299 * ((y * 31 + x * 17 + 0 + i * 7) % 256)
                + 587 * ((y * 31 + x * 17 + 11 + i * 7) % 256)
                + 114 * ((y * 31 + x * 17 + 22 + i * 7) % 256)) // 1000
             ELSE (y * 31 + x * 17 + i * 7) % 256 END AS l
      FROM grid),
    bits AS (
      SELECT a.i, a.j, a.k,
             CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
      FROM lum a JOIN lum b
        ON b.i = a.i AND b.j = a.j AND b.k = a.k + 1
      WHERE a.k < {_DH_G - 1}),
    hashes AS (
      SELECT i, CAST(SUM(bit * CAST(POWER(2, j * {_DH_G - 1} + k)
                                    AS BIGINT)) AS BIGINT) AS dh
      FROM bits GROUP BY i),
    ham AS (
      SELECT a.i AS ia, b.i AS ib,
             SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hd
      FROM bits a JOIN bits b
        ON b.j = a.j AND b.k = a.k AND b.i > a.i
      GROUP BY a.i, b.i)
    SELECT printf('img-%03d.png', CAST(ia AS INT)) AS fname_a,
           printf('img-%03d.png', CAST(ib AS INT)) AS fname_b,
           ha.dh AS dhash_a, hb.dh AS dhash_b,
           CAST(hd AS BIGINT) AS hamming
    FROM ham JOIN hashes ha ON ha.i = ham.ia
    JOIN hashes hb ON hb.i = ham.ib
    """,
    doc="perceptual dHash image near-dup tier over REAL decoded PNG "
    "pixels: BT.601 integer luma, 8×8 index-mapped sample grid, 56 "
    "adjacent-sample comparison bits packed into a BIGINT, pairwise "
    "Hamming distances — the cheap screen in front of embedding-based "
    "image dedup, fully formula-checkable",
)
def mm_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-hash on the real decode path: pixels come from
    ``decode_png_df`` (CRC-verified chunks, real unfiltering), luma is
    the floor-divided BT.601 integer combination, and the 8×8 grid
    samples by the index map x_k = k·w//8 / y_j = j·h//8 — the
    resolution-independence that makes dHash robust to resizing is
    exactly this fixed-grid sampling. 56 comparison bits pack into a
    non-negative BIGINT (the sim_hamming_topk convention — never bit
    63); match scores are pairwise Hamming distances computed as
    bit-level disagreements BEFORE packing, so no engine bit-op
    differences enter the hash.

    Scale: per-image work is 64 samples regardless of resolution
    (the decode stage reads pixels; sampling prunes immediately).
    All-pairs here spans the 6-image fixture set; at corpus scale
    the pairing stage is bucket-joined on hash prefixes (band the 56
    bits into 4×14-bit keys — the dedup_simhash chunk-bucket shape),
    never a cross join.

    r11 shape (guide §1.2/§2.4): the previous relational pipeline ran
    per-pixel luma groupBy → grid join → adjacent-sample join →
    pairwise bit join (~10 shuffle stages of pure scheduling latency
    over a few hundred pixel rows, 1.2–1.7 s cold). The hash is now
    computed INSIDE the decode pass (same integer arithmetic:
    l = Σ v·{{299,587,114}} div 1000 — identity for 1-channel; grid
    x = k·w div 8, y = j·h div 8; bit_jk = l(y_j, x_{{k+1}}) >
    l(y_j, x_k); dh = Σ bit·2^(j·7+k)), and the pairwise Hamming is
    ``bit_count(dhash_a ^ dhash_b)`` — equal to Σ (bit_a ≠ bit_b)
    because the packing is positional. One map pass + one bounded
    6-row broadcast self-join; the oracle's bit-level recompute is
    unchanged.
    """
    import numpy as np

    from cs_pipeline_spark.registry import pin

    def dhash(payload: bytes) -> list[dict]:
        w, h, ch, vals = decode_png(payload)
        a = np.asarray(vals, dtype=np.int64).reshape(h, w, ch)
        if ch == 1:
            lum = a[:, :, 0]
        else:
            wts = np.array([299, 587, 114], dtype=np.int64)
            lum = (a * wts).sum(axis=2) // 1000
        ys = (np.arange(_DH_G) * h) // _DH_G
        xs = (np.arange(_DH_G) * w) // _DH_G
        ls = lum[np.ix_(ys, xs)]
        bits = (ls[:, 1:] > ls[:, :-1]).astype(np.int64)
        sh = (
            np.arange(_DH_G)[:, None] * (_DH_G - 1)
            + np.arange(_DH_G - 1)[None, :]
        )
        return [{"dh": int((bits << sh).sum())}]

    # pinned: both sides of the bounded self-join read this 6-row
    # frame — without the pin the decode map executes twice per action
    hashes = pin(
        decode_files(
            spark, _scratch(sf_dir, "real_pngs"), "*.png", dhash,
            "fname string, dh long",
        )
    )
    a = hashes.select(
        F.col("fname").alias("fname_a"), F.col("dh").alias("dhash_a")
    )
    b = hashes.select(
        F.col("fname").alias("fname_b"), F.col("dh").alias("dhash_b")
    )
    return a.join(b, F.col("fname_a") < F.col("fname_b")).select(
        "fname_a",
        "fname_b",
        "dhash_a",
        "dhash_b",
        F.expr("bit_count(dhash_a ^ dhash_b)").cast("long").alias("hamming"),
    )


# ====================================================================
# Text/provenance chunks — tEXt / zTXt / iTXt. This is where image
# PROVENANCE lives: Stable-Diffusion writers stamp a "parameters"
# tEXt (prompt + "Steps: ..."), editors stamp "Software", XMP rides
# an iTXt keyed "XML:com.adobe.xmp". A training-data curation
# pipeline reads exactly these to flag AI-generated and tool-edited
# images before dedup/quality stages. Public spec: PNG (ISO 15948)
# §11.3.4 (tEXt latin-1), zTXt (deflate-compressed), iTXt (utf-8 +
# language/translated-keyword fields, optionally compressed).
# ====================================================================


def _png_text_payload(i: int) -> list[tuple[str, str, str]]:
    """(kind, keyword, text) rows fixture file i carries — all by
    formula so the oracle recomputes the census."""
    rows = [("tEXt", "Software", f"editor-{i}")]
    if i % 2 == 0:
        rows.append((
            "tEXt", "parameters",
            f"a photo of a cat {i} Steps: {20 + i}, Sampler: k_euler",
        ))
    if i % 3 == 0:
        rows.append(("zTXt", "Comment", "z" * (40 + i)))
    if i % 2 == 1:
        rows.append((
            "iTXt", "XML:com.adobe.xmp",
            f"<x:xmpmeta>{i}</x:xmpmeta>",
        ))
    return rows


def encode_png_text(i: int) -> bytes:
    """A valid PNG (tiny image) carrying the fixture's text chunks
    spliced before IEND."""
    w = 4 + i % 3
    base = encode_png(
        w, 3, 1, [(k * 7 + i) % 256 for k in range(w * 3)]
    )
    chunks = bytearray()
    for kind, kw, text in _png_text_payload(i):
        if kind == "tEXt":
            chunks += _chunk(b"tEXt", kw.encode("latin-1") + b"\x00"
                             + text.encode("latin-1"))
        elif kind == "zTXt":
            chunks += _chunk(b"zTXt", kw.encode("latin-1") + b"\x00\x00"
                             + zlib.compress(text.encode("latin-1")))
        else:  # iTXt, uncompressed, no language/translated keyword
            chunks += _chunk(
                b"iTXt",
                kw.encode("latin-1") + b"\x00\x00\x00" + b"\x00"
                + b"\x00" + text.encode("utf-8"),
            )
    return base[:-12] + bytes(chunks) + base[-12:]


def decode_png_text(payload: bytes) -> list[dict]:
    """CRC-verified walk extracting every tEXt/zTXt/iTXt chunk →
    one dict per text chunk. ValueError-only."""
    if payload[:8] != _SIG:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    out: list[dict] = []
    saw_end = False
    while pos + 12 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        if pos + 12 + ln > len(payload):
            raise ValueError("truncated PNG: chunk overruns file")
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        crc = int.from_bytes(
            payload[pos + 8 + ln : pos + 12 + ln], "big"
        )
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {typ!r} chunk")
        if typ in (b"tEXt", b"zTXt", b"iTXt"):
            z = data.find(b"\x00")
            if z < 1 or z > 79:
                raise ValueError("malformed PNG: bad text keyword")
            kw = data[:z].decode("latin-1")
            if typ == b"tEXt":
                text = data[z + 1 :].decode("latin-1")
            elif typ == b"zTXt":
                if z + 2 > len(data) or data[z + 1] != 0:
                    raise ValueError("malformed PNG: zTXt method")
                try:
                    text = zlib.decompress(
                        data[z + 2 :]
                    ).decode("latin-1")
                except zlib.error as e:
                    raise ValueError(f"malformed PNG: zTXt body: {e}")
            else:  # iTXt
                if z + 3 > len(data):
                    raise ValueError("malformed PNG: short iTXt")
                comp_flag, comp_method = data[z + 1], data[z + 2]
                rest = data[z + 3 :]
                l1 = rest.find(b"\x00")
                if l1 < 0:
                    raise ValueError("malformed PNG: iTXt language")
                l2 = rest.find(b"\x00", l1 + 1)
                if l2 < 0:
                    raise ValueError("malformed PNG: iTXt trans-kw")
                body = rest[l2 + 1 :]
                if comp_flag:
                    if comp_method != 0:
                        raise ValueError("malformed PNG: iTXt method")
                    try:
                        body = zlib.decompress(body)
                    except zlib.error as e:
                        raise ValueError(
                            f"malformed PNG: iTXt body: {e}"
                        )
                text = body.decode("utf-8", "replace")
            out.append({"kind": typ.decode(), "keyword": kw,
                        "text": text})
        if typ == b"IEND":
            saw_end = True
            break
        pos += 12 + ln
    if not saw_end:
        raise ValueError("truncated PNG: no IEND")
    return out


def _prov_sql_rows() -> str:
    parts = []
    for i in range(8):
        rows = _png_text_payload(i)
        n_t = sum(1 for k, _kw, _t in rows if k == "tEXt")
        n_z = sum(1 for k, _kw, _t in rows if k == "zTXt")
        n_i = sum(1 for k, _kw, _t in rows if k == "iTXt")
        ai = 1 if any(kw == "parameters" and "Steps:" in t
                      for _k, kw, t in rows) else 0
        chars = sum(len(t) for _k, _kw, t in rows)
        kws = ",".join(sorted(kw for _k, kw, _t in rows))
        parts.append(
            f"SELECT 'prov-{i:03d}.png' AS fname, {n_t} AS n_text,"
            f" {n_z} AS n_ztxt, {n_i} AS n_itxt, {ai} AS ai_generated,"
            f" {chars} AS text_chars, '{kws}' AS keywords"
        )
    return " UNION ALL ".join(parts)


_PROV_ORACLE = f"""
    SELECT fname,
           CAST(n_text AS BIGINT) AS n_text,
           CAST(n_ztxt AS BIGINT) AS n_ztxt,
           CAST(n_itxt AS BIGINT) AS n_itxt,
           CAST(ai_generated AS BIGINT) AS ai_generated,
           CAST(text_chars AS BIGINT) AS text_chars,
           keywords
    FROM ({_prov_sql_rows()})
"""


@_fixture
def _fx_png_prov(spark: SparkSession, sf_dir: str) -> None:
    names = [f"prov-{i:03d}.png" for i in range(8)]
    write_files(_scratch(sf_dir, "real_png_prov"), names, encode_png_text)


@register(
    "mm_png_provenance",
    _PROV_ORACLE,
    doc="PNG provenance text chunks: CRC-verified tEXt/zTXt/iTXt "
    "walk (latin-1, deflate-compressed, and utf-8 iTXt with "
    "language/translated-keyword fields) — per-file census with the "
    "AI-generation flag (a 'parameters' keyword carrying 'Steps:', "
    "the Stable-Diffusion stamp), decompressed text mass, and the "
    "sorted keyword list, hash-checked against the fixture formula",
)
def mm_png_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metadata image curation filters on FIRST: AI-generated
    detection (SD-style 'parameters' stamps), editor provenance
    ('Software'), and embedded XMP — all living in PNG text chunks
    the pixel decoder (mm_decode_png) never reads. All three chunk
    encodings decode (zTXt and compressed iTXt bodies are deflate),
    and the text-mass + keyword-list hash pins the walk end to end.

    Scale: chunk-header walk per file over binaryFile — text chunks
    precede the image data stream in practice, so a ranged reader
    stops after KBs; no pixel inflation, no shuffle.
    """
    schema = (
        "fname string, n_text long, n_ztxt long, n_itxt long, "
        "ai_generated long, text_chars long, keywords string"
    )

    def provenance(payload: bytes) -> list[dict]:
        texts = decode_png_text(payload)
        kinds = [t["kind"] for t in texts]
        return [{
            "n_text": kinds.count("tEXt"),
            "n_ztxt": kinds.count("zTXt"),
            "n_itxt": kinds.count("iTXt"),
            "ai_generated": 1 if any(
                t["keyword"] == "parameters" and "Steps:" in t["text"]
                for t in texts
            ) else 0,
            "text_chars": sum(len(t["text"]) for t in texts),
            "keywords": ",".join(sorted(t["keyword"] for t in texts)),
        }]

    return decode_files(
        spark, _scratch(sf_dir, "real_png_prov"), "*.png", provenance,
        schema,
    )
