"""Real MP3 (MPEG-1 Layer III) frame-header decode — dependency-free.

MP3 is the dominant crawl audio format the way JPEG is the dominant
image format; WAV/FLAC readers alone leave the long tail unread. This
module follows the ``sources/gif.py``/``flac.py`` pattern: a
pure-python *writer* that emits real MP3 streams — an ID3v2 tag with
its SYNCHSAFE 28-bit size (7 bits per byte, the classic off-by-8×
trap), then frame after frame with true 11-bit sync words, the V1/L3
bitrate-index table, sample-rate index, and padding bit, each frame's
length derived exactly as decoders do (144·bitrate/samplerate +
padding) — plus a *parser* that skips the tag by synchsafe size and
walks frames by computed length, validating sync/version/layer on
every header.

Malformed input raises ValueError only (the crawl contract, pinned by
tests/test_parser_fuzz.py): a broken sync, a free/bad bitrate index,
a reserved sample-rate index, a non-synchsafe tag byte, or a final
frame that overruns EOF all surface as one catchable type.

Fixture content is stated by an arithmetic formula, so the DuckDB
oracle recomputes every output column — a full value-hash check.

Scale: per-file mapInPandas over a binaryFile scan; the walk reads 4
header bytes per frame and skips audio payloads by size — cost is
frames, not bytes — and one ~8-column row per file leaves the worker.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_MP3S = 8
# MPEG-1 Layer III bitrate table (kbps), index 1..14; 0 = free, 15 = bad
_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
             160, 192, 224, 256, 320)
_RATES = (44100, 48000, 32000)  # sample-rate index 0..2; 3 reserved
_SPF = 1152  # samples per MPEG-1 Layer III frame


def _mp3_meta(i: int) -> dict:
    n_frames = 40 + 9 * i
    sr_idx = i % 3
    cbr = i % 4 == 3

    def idx(f: int) -> int:
        return 5 if cbr else 1 + ((f * 3 + i) % 9)

    def pad(f: int) -> int:
        return (f + i) % 2

    frames = [(idx(f), pad(f)) for f in range(n_frames)]
    sr = _RATES[sr_idx]
    sizes = [144 * _BITRATES[ix] * 1000 // sr + p for ix, p in frames]
    return {
        "n_frames": n_frames,
        "sr_idx": sr_idx,
        "sample_rate": sr,
        "frames": frames,
        "id3_bytes": 30 + 11 * i if i % 2 == 0 else 0,
        "audio_bytes": sum(sizes),
        "bitrate_sum_kbps": sum(_BITRATES[ix] for ix, _ in frames),
        "is_vbr": 0 if cbr else 1,
        "duration_ms": n_frames * _SPF * 1000 // sr,
    }


# ---------- writer ----------


def _synchsafe(v: int) -> bytes:
    return bytes(
        [(v >> 21) & 0x7F, (v >> 14) & 0x7F, (v >> 7) & 0x7F, v & 0x7F]
    )


def encode_mp3(i: int) -> bytes:
    m = _mp3_meta(i)
    out = bytearray()
    if m["id3_bytes"]:
        out += b"ID3" + bytes([3, 0, 0]) + _synchsafe(m["id3_bytes"])
        out += bytes((k * 7 + i) % 128 for k in range(m["id3_bytes"]))
    for f, (ix, p) in enumerate(m["frames"]):
        size = 144 * _BITRATES[ix] * 1000 // m["sample_rate"] + p
        b2 = (ix << 4) | (m["sr_idx"] << 2) | (p << 1)
        out += bytes([0xFF, 0xFB, b2, 0x00])
        # payload bytes are formula noise that never fakes a sync word
        out += bytes((k * 13 + f * 5 + i) % 128 for k in range(size - 4))
    return bytes(out)


# ---------- parser (the op under test) ----------

_P_COLS = (
    "id3_bytes n_frames sample_rate audio_bytes bitrate_sum_kbps "
    "is_vbr duration_ms"
).split()


def decode_mp3_meta(payload: bytes) -> dict:
    """Skip the ID3v2 tag by its synchsafe size, then walk MPEG-1
    Layer III frames by computed length (144·bitrate/samplerate +
    padding), validating sync/version/layer per header. Raises
    ValueError on anything malformed."""
    pos = 0
    id3 = 0
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("truncated MP3: short ID3v2 header")
        ss = payload[6:10]
        if any(b & 0x80 for b in ss):
            raise ValueError("malformed MP3: non-synchsafe ID3 size")
        id3 = (ss[0] << 21) | (ss[1] << 14) | (ss[2] << 7) | ss[3]
        pos = 10 + id3
        if pos > len(payload):
            raise ValueError("truncated MP3: ID3 tag overruns payload")
    n_frames = 0
    audio_bytes = 0
    br_sum = 0
    rates = set()
    brs = set()
    while pos < len(payload):
        if pos + 4 > len(payload):
            raise ValueError("truncated MP3: short frame header")
        b0, b1, b2, _b3 = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError("malformed MP3: lost frame sync")
        if (b1 >> 3) & 0x3 != 0x3:
            raise ValueError("unsupported MP3: not MPEG-1")
        if (b1 >> 1) & 0x3 != 0x1:
            raise ValueError("unsupported MP3: not Layer III")
        ix = b2 >> 4
        if ix == 0 or ix == 15:
            raise ValueError("malformed MP3: free/bad bitrate index")
        sr_idx = (b2 >> 2) & 0x3
        if sr_idx == 3:
            raise ValueError("malformed MP3: reserved sample-rate index")
        pad = (b2 >> 1) & 0x1
        rate = _RATES[sr_idx]
        size = 144 * _BITRATES[ix] * 1000 // rate + pad
        if pos + size > len(payload):
            raise ValueError("truncated MP3: frame overruns payload")
        n_frames += 1
        audio_bytes += size
        br_sum += _BITRATES[ix]
        rates.add(rate)
        brs.add(ix)
        pos += size
    if n_frames == 0:
        raise ValueError("malformed MP3: no audio frames")
    if len(rates) != 1:
        raise ValueError("malformed MP3: mixed sample rates")
    rate = rates.pop()
    return {
        "id3_bytes": id3,
        "n_frames": n_frames,
        "sample_rate": rate,
        "audio_bytes": audio_bytes,
        "bitrate_sum_kbps": br_sum,
        "is_vbr": 1 if len(brs) > 1 else 0,
        "duration_ms": n_frames * _SPF * 1000 // rate,
    }


# ---------- fixtures + registered op ----------


@_fixture
def _fx_mp3_tracks(spark: SparkSession, sf_dir: str) -> None:
    names = [f"track-{i:03d}.mp3" for i in range(_N_MP3S)]
    write_files(_scratch(sf_dir, "real_mp3s"), names, encode_mp3)


_BR_SQL = "CASE 1 + ((f * 3 + i) % 9) " + " ".join(
    f"WHEN {ix} THEN {_BITRATES[ix]}" for ix in range(1, 10)
) + " END"
_RATE_SQL = "CASE i % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END"

_MP3_ORACLE = f"""
    WITH tracks AS (SELECT unnest(range(0, {_N_MP3S})) AS i),
    frames AS (SELECT i, unnest(range(0, 40 + 9 * i)) AS f FROM tracks),
    fr AS (SELECT i, f,
                  CASE WHEN i % 4 = 3 THEN {_BITRATES[5]}
                       ELSE {_BR_SQL} END AS kbps,
                  (f + i) % 2 AS pad,
                  {_RATE_SQL} AS sr
           FROM frames),
    agg AS (SELECT i, MAX(sr) AS sr, COUNT(*) AS n_frames,
                   SUM(144 * kbps * 1000 // sr + pad) AS audio_bytes,
                   SUM(kbps) AS bitrate_sum_kbps,
                   CASE WHEN COUNT(DISTINCT kbps) > 1 THEN 1 ELSE 0 END
                     AS is_vbr
            FROM fr GROUP BY i)
    SELECT printf('track-%03d.mp3', CAST(i AS INT)) AS fname,
           CAST(CASE WHEN i % 2 = 0 THEN 30 + 11 * i ELSE 0 END
                AS BIGINT) AS id3_bytes,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(sr AS BIGINT) AS sample_rate,
           CAST(audio_bytes AS BIGINT) AS audio_bytes,
           CAST(bitrate_sum_kbps AS BIGINT) AS bitrate_sum_kbps,
           CAST(is_vbr AS BIGINT) AS is_vbr,
           CAST(n_frames * {_SPF} * 1000 // sr AS BIGINT) AS duration_ms
    FROM agg
"""


@register(
    "mm_decode_mp3_meta",
    _MP3_ORACLE,
    doc="REAL MP3 frame-header decode: binaryFile + mapInPandas walk — "
    "synchsafe ID3v2 skip, per-frame sync/version/layer validation, "
    "V1/L3 bitrate-table frame sizing (144·kbps/rate + padding), "
    "frame census, VBR detection, exact duration from the 1152-sample "
    "frame constant — hash-checked against the fixture formula",
)
def mm_decode_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dominant crawl audio format, walked for real: 8 fixture
    tracks sweep all three MPEG-1 sample rates, nine bitrate indices
    (VBR) plus a CBR track, alternating padding bits, and ID3v2 tags
    on even tracks — whose SYNCHSAFE size (7 bits per byte) is the
    branch naive parsers read as a plain u32 and overrun by 8×. Audio
    payloads are skipped by the computed frame length, never decoded.

    Scale: see module docstring — per-file mapInPandas, 4 header
    bytes per frame, one row per file out.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _P_COLS)

    return decode_files(
        spark, _scratch(sf_dir, "real_mp3s"), "*.mp3",
        lambda b: [decode_mp3_meta(b)], schema,
    )


# ====================================================================
# ID3v2.3 TEXT FRAMES — the audio-curation metadata the frame walk
# above deliberately SKIPS: title (TIT2), artist (TPE1), album
# (TALB), year (TYER). Frame layout per the public ID3v2.3 spec:
# 4-char id, 4-byte big-endian size (NOT synchsafe in v2.3), 2 flag
# bytes; text frames carry an encoding byte (0 = latin-1, 1 = utf-16
# with BOM) then the string. A curation pipeline reads these for
# source attribution and dedup keys.
# ====================================================================

_ID3_FIELDS = ["TIT2", "TPE1", "TALB", "TYER"]


def _id3_tags(i: int) -> dict[str, str]:
    return {
        "TIT2": f"track {i} sessions",
        "TPE1": f"artist-{i % 3}",
        "TALB": f"album {(i * 7) % 5}",
        "TYER": str(1990 + 3 * i),
    }


def encode_mp3_id3(i: int) -> bytes:
    """A real MP3 whose ID3v2.3 tag carries text frames (latin-1 and
    utf-16 alternating) plus padding, followed by valid audio
    frames reusing the sibling writer's framing."""
    tags = _id3_tags(i)
    frames = bytearray()
    for k, fid in enumerate(_ID3_FIELDS):
        text = tags[fid]
        if (i + k) % 2 == 0:
            body = bytes([0]) + text.encode("latin-1")
        else:
            body = bytes([1]) + b"\xff\xfe" + text.encode("utf-16-le")
        frames += fid.encode("ascii")
        frames += len(body).to_bytes(4, "big")
        frames += b"\x00\x00"
        frames += body
    pad = 17 + i
    tag = (b"ID3" + bytes([3, 0, 0])
           + _synchsafe(len(frames) + pad)
           + bytes(frames) + b"\x00" * pad)
    # audio: two valid MPEG-1 Layer III frames (128 kbps, 44.1 kHz)
    audio = bytearray()
    for f in range(2):
        size = 144 * 128 * 1000 // 44100
        audio += bytes([0xFF, 0xFB, (9 << 4), 0x00])
        audio += bytes((k * 13 + f * 5 + i) % 128
                       for k in range(size - 4))
    return bytes(tag) + bytes(audio)


def decode_mp3_id3(payload: bytes) -> dict:
    """ID3v2.3 text-frame decode → {frame id: text} plus tag census.
    ValueError-only."""
    if payload[:3] != b"ID3":
        raise ValueError("no ID3v2 tag")
    if len(payload) < 10:
        raise ValueError("truncated MP3: short ID3v2 header")
    if payload[3] != 3:
        raise ValueError(f"unsupported ID3v2.{payload[3]} tag")
    if any(b & 0x80 for b in payload[6:10]):
        raise ValueError("malformed MP3: non-synchsafe ID3 size")
    size = (payload[6] << 21) | (payload[7] << 14) \
        | (payload[8] << 7) | payload[9]
    end = 10 + size
    if end > len(payload):
        raise ValueError("truncated MP3: ID3 tag overruns payload")
    p = 10
    out: dict[str, str] = {}
    n_frames = 0
    while p + 10 <= end:
        fid = payload[p : p + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        if not all(65 <= c <= 90 or 48 <= c <= 57 for c in fid):
            raise ValueError("malformed ID3: bad frame id")
        fsize = int.from_bytes(payload[p + 4 : p + 8], "big")
        body = payload[p + 10 : p + 10 + fsize]
        if p + 10 + fsize > end:
            raise ValueError("truncated ID3: frame overruns tag")
        n_frames += 1
        if fid[0:1] == b"T" and fsize >= 1:
            enc = body[0]
            if enc == 0:
                text = body[1:].decode("latin-1")
            elif enc == 1:
                if body[1:3] == b"\xff\xfe":
                    text = body[3:].decode("utf-16-le", "replace")
                elif body[1:3] == b"\xfe\xff":
                    text = body[3:].decode("utf-16-be", "replace")
                else:
                    raise ValueError("malformed ID3: utf-16 sans BOM")
            else:
                raise ValueError(f"unsupported ID3 text encoding {enc}")
            out[fid.decode("ascii")] = text.rstrip("\x00")
        p += 10 + fsize
    if not out:
        raise ValueError("malformed ID3: no text frames")
    return {"tags": out, "n_frames": n_frames, "tag_bytes": size}


def _id3_sql_rows() -> str:
    parts = []
    for i in range(6):
        t = _id3_tags(i)
        parts.append(
            f"SELECT 'id3-{i:03d}.mp3' AS fname,"
            f" '{t['TIT2']}' AS title, '{t['TPE1']}' AS artist,"
            f" '{t['TALB']}' AS album,"
            f" {t['TYER']} AS year_, 4 AS n_frames"
        )
    return " UNION ALL ".join(parts)


_ID3_ORACLE = f"""
    SELECT fname, title, artist, album,
           CAST(year_ AS BIGINT) AS year_,
           CAST(n_frames AS BIGINT) AS n_frames
    FROM ({_id3_sql_rows()})
"""


@_fixture
def _fx_mp3_id3(spark: SparkSession, sf_dir: str) -> None:
    names = [f"id3-{i:03d}.mp3" for i in range(6)]
    write_files(_scratch(sf_dir, "real_mp3_id3"), names, encode_mp3_id3)


@register(
    "mm_id3_tags",
    _ID3_ORACLE,
    doc="ID3v2.3 text-frame decode: title/artist/album/year from the "
    "tag mm_decode_mp3_meta skips — non-synchsafe v2.3 frame sizes, "
    "latin-1 AND utf-16-BOM text encodings alternating per frame, "
    "padding honored — one row per file, hash-checked against the "
    "fixture formula",
)
def mm_id3_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-attribution metadata for audio curation: the frame walk
    validates audio structure, this op reads WHO/WHAT the audio is —
    the natural dedup key (artist, title) and license-era signal
    (year) for a crawled audio corpus. The two ID3 size regimes are
    the classic bug: the TAG header size is synchsafe, v2.3 FRAME
    sizes are not — mixing them up desyncs after the first frame,
    which the utf-16 frames turn into a hash failure.

    Scale: tag-bytes-only per-file map over binaryFile (tags lead
    the file — a ranged reader never touches audio frames).
    """
    schema = (
        "fname string, title string, artist string, album string, "
        "year_ long, n_frames long"
    )

    def id3_row(payload: bytes) -> list[dict]:
        m = decode_mp3_id3(payload)
        t = m["tags"]
        return [{
            "title": t.get("TIT2"),
            "artist": t.get("TPE1"),
            "album": t.get("TALB"),
            "year_": int(t["TYER"]) if "TYER" in t else None,
            "n_frames": m["n_frames"],
        }]

    return decode_files(
        spark, _scratch(sf_dir, "real_mp3_id3"), "*.mp3", id3_row, schema
    )
