"""Matroska/WebM container decode — EBML varint walk, dependency-free.

MKV/WebM is the one mainstream A/V container the engine's mp4/ogg/
wav/flac family didn't cover, and it's structurally different: the
whole file is EBML — (variable-length ID, variable-length size,
payload) elements nested to arbitrary depth, the same wire idea as
protobuf but with length-prefixed framing. A curation pipeline needs
exactly the metadata this walk surfaces: per-track type/codec/
resolution/audio params plus the segment duration, WITHOUT touching
cluster (media) payloads.

Element IDs are from the public Matroska spec: EBML header
0x1A45DFA3 (DocType 0x4282), Segment 0x18538067, Info 0x1549A966
(TimestampScale 0x2AD7B1, Duration 0x4489), Tracks 0x1654AE6B,
TrackEntry 0xAE (TrackNumber 0xD7, TrackType 0x83, CodecID 0x86),
Video 0xE0 (PixelWidth 0xB0, PixelHeight 0xBA), Audio 0xE1
(SamplingFrequency 0xB5, Channels 0x9F). Clusters are skipped by
size — the walk never reads media bytes.

Fixture: one synthetic-but-valid MKV per index (1 video track +
1..2 audio tracks, all fields by formula) so the DuckDB oracle
recomputes every output cell.

Scale: per-file mapInPandas over binaryFile — no shuffle; the walk
reads only header/metadata elements and SEEKS past clusters, the
same ranged-read plan a remote prober issues. Malformed input raises
ValueError only (tests/test_parser_fuzz.py).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_MKV = 4

# stored element IDs (marker bits included, as they appear on the wire)
_ID_EBML = 0x1A45DFA3
_ID_DOCTYPE = 0x4282
_ID_SEGMENT = 0x18538067
_ID_INFO = 0x1549A966
_ID_TSSCALE = 0x2AD7B1
_ID_DURATION = 0x4489
_ID_TRACKS = 0x1654AE6B
_ID_TRACKENTRY = 0xAE
_ID_TRACKNUM = 0xD7
_ID_TRACKTYPE = 0x83
_ID_CODEC = 0x86
_ID_VIDEO = 0xE0
_ID_PIXW = 0xB0
_ID_PIXH = 0xBA
_ID_AUDIO = 0xE1
_ID_SAMPFREQ = 0xB5
_ID_CHANNELS = 0x9F
_ID_CLUSTER = 0x1F43B675

_TT_VIDEO, _TT_AUDIO = 1, 2


# ---------- writer ----------


def _esize(n: int) -> bytes:
    if n < 0x7F:
        return bytes([0x80 | n])
    if n < 0x3FFF:
        return (0x4000 | n).to_bytes(2, "big")
    if n < 0x1FFFFF:
        return (0x200000 | n).to_bytes(3, "big")
    raise ValueError("fixture bug: element too large")


def _eid(i: int) -> bytes:
    return i.to_bytes((i.bit_length() + 7) // 8, "big")


def _el(eid: int, payload: bytes) -> bytes:
    return _eid(eid) + _esize(len(payload)) + payload


def _euint(v: int) -> bytes:
    return v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")


def _efloat(v: float) -> bytes:
    return struct.pack(">d", v)


def _mkv_tracks(i: int) -> list[dict]:
    """Formula track table for fixture file i: one AVC video track +
    1+(i%2) Opus audio tracks."""
    tracks = [{
        "track_number": 1,
        "track_type": _TT_VIDEO,
        "codec_id": "V_MPEG4/ISO/AVC",
        "pixel_w": 640 + 16 * i,
        "pixel_h": 360 + 9 * i,
        "sample_hz": None,
        "channels": None,
    }]
    for t in range(1 + i % 2):
        tracks.append({
            "track_number": 2 + t,
            "track_type": _TT_AUDIO,
            "codec_id": "A_OPUS",
            "pixel_w": None,
            "pixel_h": None,
            "sample_hz": 44100 + 100 * i,
            "channels": 2 + t,
        })
    return tracks


def _mkv_duration_ms(i: int) -> int:
    return 10000 + 1000 * i


def encode_mkv(i: int) -> bytes:
    header = _el(_ID_EBML, _el(_ID_DOCTYPE, b"matroska"))
    info = _el(
        _ID_INFO,
        _el(_ID_TSSCALE, _euint(1_000_000))
        + _el(_ID_DURATION, _efloat(float(_mkv_duration_ms(i)))),
    )
    entries = b""
    for t in _mkv_tracks(i):
        body = (
            _el(_ID_TRACKNUM, _euint(t["track_number"]))
            + _el(_ID_TRACKTYPE, _euint(t["track_type"]))
            + _el(_ID_CODEC, t["codec_id"].encode())
        )
        if t["track_type"] == _TT_VIDEO:
            body += _el(
                _ID_VIDEO,
                _el(_ID_PIXW, _euint(t["pixel_w"]))
                + _el(_ID_PIXH, _euint(t["pixel_h"])),
            )
        else:
            body += _el(
                _ID_AUDIO,
                _el(_ID_SAMPFREQ, _efloat(float(t["sample_hz"])))
                + _el(_ID_CHANNELS, _euint(t["channels"])),
            )
        entries += _el(_ID_TRACKENTRY, body)
    tracks = _el(_ID_TRACKS, entries)
    # one cluster of opaque media bytes the walk must SKIP, not read
    cluster = _el(_ID_CLUSTER, bytes((j * 31 + i) % 256
                                     for j in range(64 + 8 * i)))
    return header + _el(_ID_SEGMENT, info + tracks + cluster)


@_fixture
def _fx_mkv(spark: SparkSession, sf_dir: str) -> None:
    names = [f"clip-{i:03d}.mkv" for i in range(_N_MKV)]
    write_files(_scratch(sf_dir, "real_mkv"), names, encode_mkv)


# ---------- reader ----------


class _EBML:
    """Minimal EBML walker, ValueError-only."""

    def __init__(self, buf: bytes, lo: int = 0, hi: int | None = None):
        self.b = buf
        self.p = lo
        self.hi = len(buf) if hi is None else hi

    def _u8(self) -> int:
        if self.p >= self.hi:
            raise ValueError("truncated mkv: EBML underrun")
        v = self.b[self.p]
        self.p += 1
        return v

    def read_id(self) -> int:
        b0 = self._u8()
        if b0 == 0:
            raise ValueError("malformed mkv: bad element ID")
        n = 8 - b0.bit_length()  # leading zeros -> extra bytes
        v = b0
        for _ in range(n):
            v = (v << 8) | self._u8()
        return v

    def read_size(self) -> int:
        b0 = self._u8()
        if b0 == 0:
            raise ValueError("malformed mkv: bad size marker")
        n = 8 - b0.bit_length()
        v = b0 & (0x7F >> n)
        for _ in range(n):
            v = (v << 8) | self._u8()
        return v

    def children(self) -> Iterator[tuple[int, int, int]]:
        """(id, payload lo, payload hi) for each child element."""
        while self.p < self.hi:
            eid = self.read_id()
            sz = self.read_size()
            lo = self.p
            if lo + sz > self.hi:
                raise ValueError("malformed mkv: element overruns parent")
            self.p = lo + sz
            yield eid, lo, lo + sz


def _ebml_uint(buf: bytes, lo: int, hi: int) -> int:
    if hi - lo > 8 or hi == lo:
        raise ValueError("malformed mkv: bad uint width")
    return int.from_bytes(buf[lo:hi], "big")


def _ebml_float(buf: bytes, lo: int, hi: int) -> float:
    if hi - lo == 4:
        return struct.unpack(">f", buf[lo:hi])[0]
    if hi - lo == 8:
        return struct.unpack(">d", buf[lo:hi])[0]
    raise ValueError("malformed mkv: bad float width")


def decode_mkv_meta(payload: bytes) -> list[dict]:
    """One dict per track with segment-level duration attached.
    ValueError-only."""
    root = _EBML(payload)
    doctype = None
    ts_scale = 1_000_000
    duration_raw = None
    tracks: list[dict] = []
    saw_segment = False
    for eid, lo, hi in root.children():
        if eid == _ID_EBML:
            for cid, clo, chi in _EBML(payload, lo, hi).children():
                if cid == _ID_DOCTYPE:
                    doctype = payload[clo:chi].decode("utf-8", "replace")
        elif eid == _ID_SEGMENT:
            saw_segment = True
            for cid, clo, chi in _EBML(payload, lo, hi).children():
                if cid == _ID_INFO:
                    for gid, glo, ghi in _EBML(
                        payload, clo, chi
                    ).children():
                        if gid == _ID_TSSCALE:
                            ts_scale = _ebml_uint(payload, glo, ghi)
                        elif gid == _ID_DURATION:
                            duration_raw = _ebml_float(
                                payload, glo, ghi
                            )
                elif cid == _ID_TRACKS:
                    for gid, glo, ghi in _EBML(
                        payload, clo, chi
                    ).children():
                        if gid != _ID_TRACKENTRY:
                            continue
                        t: dict = {
                            "track_number": None,
                            "track_type": None,
                            "codec_id": None,
                            "pixel_w": None,
                            "pixel_h": None,
                            "sample_hz": None,
                            "channels": None,
                        }
                        for fid, flo, fhi in _EBML(
                            payload, glo, ghi
                        ).children():
                            if fid == _ID_TRACKNUM:
                                t["track_number"] = _ebml_uint(
                                    payload, flo, fhi
                                )
                            elif fid == _ID_TRACKTYPE:
                                t["track_type"] = _ebml_uint(
                                    payload, flo, fhi
                                )
                            elif fid == _ID_CODEC:
                                t["codec_id"] = payload[
                                    flo:fhi
                                ].decode("utf-8", "replace")
                            elif fid == _ID_VIDEO:
                                for vid, vlo, vhi in _EBML(
                                    payload, flo, fhi
                                ).children():
                                    if vid == _ID_PIXW:
                                        t["pixel_w"] = _ebml_uint(
                                            payload, vlo, vhi
                                        )
                                    elif vid == _ID_PIXH:
                                        t["pixel_h"] = _ebml_uint(
                                            payload, vlo, vhi
                                        )
                            elif fid == _ID_AUDIO:
                                for aid, alo, ahi in _EBML(
                                    payload, flo, fhi
                                ).children():
                                    if aid == _ID_SAMPFREQ:
                                        t["sample_hz"] = int(
                                            _ebml_float(
                                                payload, alo, ahi
                                            )
                                        )
                                    elif aid == _ID_CHANNELS:
                                        t["channels"] = _ebml_uint(
                                            payload, alo, ahi
                                        )
                        if t["track_number"] is None or \
                                t["track_type"] is None:
                            raise ValueError(
                                "malformed mkv: track missing "
                                "number/type"
                            )
                        tracks.append(t)
                # clusters and unknown children: skipped by size
    if doctype not in ("matroska", "webm"):
        raise ValueError("not an mkv: missing/unknown DocType")
    if not saw_segment or not tracks:
        raise ValueError("malformed mkv: no segment/tracks")
    if duration_raw is None:
        raise ValueError("malformed mkv: no duration")
    dur_ms = int(duration_raw * ts_scale / 1_000_000)
    for t in tracks:
        t["duration_ms"] = dur_ms
    return tracks


def _tracks_sql() -> str:
    parts = []
    for i in range(_N_MKV):
        for t in _mkv_tracks(i):
            def q(v):  # noqa: ANN001
                return "NULL" if v is None else str(v)

            parts.append(
                f"SELECT 'clip-{i:03d}.mkv' AS fname,"
                f" {t['track_number']} AS track_number,"
                f" {t['track_type']} AS track_type,"
                f" '{t['codec_id']}' AS codec_id,"
                f" {q(t['pixel_w'])} AS pixel_w,"
                f" {q(t['pixel_h'])} AS pixel_h,"
                f" {q(t['sample_hz'])} AS sample_hz,"
                f" {q(t['channels'])} AS channels,"
                f" {_mkv_duration_ms(i)} AS duration_ms"
            )
    return " UNION ALL ".join(parts)


_MKV_ORACLE = f"""
    SELECT fname,
           CAST(track_number AS BIGINT) AS track_number,
           CAST(track_type AS BIGINT) AS track_type,
           codec_id,
           CAST(pixel_w AS BIGINT) AS pixel_w,
           CAST(pixel_h AS BIGINT) AS pixel_h,
           CAST(sample_hz AS BIGINT) AS sample_hz,
           CAST(channels AS BIGINT) AS channels,
           CAST(duration_ms AS BIGINT) AS duration_ms
    FROM ({_tracks_sql()})
"""


@register(
    "mm_decode_mkv_meta",
    _MKV_ORACLE,
    doc="Matroska/WebM metadata decode: EBML (varint ID, varint "
    "size) element walk — DocType gate, Segment Info "
    "(TimestampScale×Duration → ms), per-TrackEntry type/codec/"
    "resolution/audio params, clusters skipped by size — one row per "
    "track, hash-checked against the fixture formula",
)
def mm_decode_mkv_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the container family (mp4/ogg/wav/flac/mp3/gif/webp
    in sources/) with the EBML wire format none of them share. Two
    walk behaviors the hash pins: duration is TimestampScale-scaled
    (a reader that assumes ms-scale breaks on ns-scale files), and
    cluster payloads are skipped by size — the decoder must never
    depend on media bytes.

    Scale: per-file mapInPandas over binaryFile; metadata elements
    only, clusters seeked past — the remote-probe read pattern.
    """
    schema = (
        "fname string, track_number long, track_type long, "
        "codec_id string, pixel_w long, pixel_h long, "
        "sample_hz long, channels long, duration_ms long"
    )

    return decode_files(
        spark, _scratch(sf_dir, "real_mkv"), "*.mkv",
        decode_mkv_meta, schema,
    )
