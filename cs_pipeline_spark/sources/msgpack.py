"""MessagePack wire-format decode — dependency-free, spec-complete
for the core type family.

MessagePack is the compact binary JSON of event buses, Redis/Kafka
payloads, and Fluentd log shipping — a crawl/ingest engine meets it
as concatenated record streams (the msgpack analog of JSONL). This
module hand-decodes the wire format per the public spec: positive/
negative fixint, fixmap/fixarray/fixstr, nil, bool, bin 8/16/32,
float 32/64, uint 8-64, int 8-64, str 8/16/32, array 16/32,
map 16/32 — every header byte class the format defines (ext types
raise ``unsupported``, like the avro snappy branch).

The fixture is written by this module's own minimal-canonical
encoder (smallest header that fits, the rule real writers follow),
then decoded back — and the value census is hash-checked against the
fixture formula in DuckDB, so a wrong varlen read or sign extension
anywhere desyncs the stream and fails loudly (concatenated records
make framing self-checking: record N+1 starts exactly where record N
ends, and the file must end on a record boundary).

Malformed input raises ValueError only (the crawl contract, pinned
by tests/test_parser_fuzz.py); recursion depth and element counts
are bounded.

Scale: per-file mapInPandas over a binaryFile scan — records decode
sequentially within a file (length-prefixed, not sync-marked, so no
intra-file splits without an outer framing layer), files fan out
across executors; the Fluentd/Kafka-archive reality at 100 TB.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_MSGPACK = 4
_MAX_DEPTH = 32
_MAX_ELEMS = 1_000_000


def _n_records(i: int) -> int:
    return 400 + 131 * i


# ---------- fixture record formula ----------
# Record r of file i spans the header families: fixint and uint16/32
# ids, negative fixint, fixstr, float64 (exact eighths), fixarray of
# fixints, nil-or-bool, bin8 payload.


def _rec_vals(i: int, r: int):
    rid = r * 181 + i  # crosses fixint (<128) into uint8/uint16 land
    neg = -((r % 40) + 1)  # negative fixint (−1..−32) and int8
    v = f"k{r % 23}"
    x = ((r * 13 + i) % 800) / 8.0
    tags = [(r + t) % 100 for t in range(r % 4)]
    flag = None if r % 7 == 0 else bool(r % 2)
    blob = bytes((r + j + i) % 256 for j in range(r % 5))
    return rid, neg, v, x, tags, flag, blob


# ---------- minimal-canonical encoder ----------


def _enc_int(v: int) -> bytes:
    if 0 <= v < 0x80:
        return bytes([v])
    if -32 <= v < 0:
        return bytes([v & 0xFF])
    if 0 <= v <= 0xFF:
        return b"\xcc" + bytes([v])
    if 0 <= v <= 0xFFFF:
        return b"\xcd" + struct.pack(">H", v)
    if 0 <= v <= 0xFFFFFFFF:
        return b"\xce" + struct.pack(">I", v)
    if v >= 0:
        return b"\xcf" + struct.pack(">Q", v)
    if v >= -0x80:
        return b"\xd0" + struct.pack(">b", v)
    if v >= -0x8000:
        return b"\xd1" + struct.pack(">h", v)
    if v >= -0x80000000:
        return b"\xd2" + struct.pack(">i", v)
    return b"\xd3" + struct.pack(">q", v)


def _enc_str(s: str) -> bytes:
    b = s.encode()
    if len(b) < 32:
        return bytes([0xA0 | len(b)]) + b
    if len(b) <= 0xFF:
        return b"\xd9" + bytes([len(b)]) + b
    return b"\xda" + struct.pack(">H", len(b)) + b


def _enc_obj(o) -> bytes:
    if o is None:
        return b"\xc0"
    if o is True:
        return b"\xc3"
    if o is False:
        return b"\xc2"
    if isinstance(o, int):
        return _enc_int(o)
    if isinstance(o, float):
        return b"\xcb" + struct.pack(">d", o)
    if isinstance(o, str):
        return _enc_str(o)
    if isinstance(o, bytes):
        if len(o) <= 0xFF:
            return b"\xc4" + bytes([len(o)]) + o
        return b"\xc5" + struct.pack(">H", len(o)) + o
    if isinstance(o, list):
        if len(o) < 16:
            head = bytes([0x90 | len(o)])
        else:
            head = b"\xdc" + struct.pack(">H", len(o))
        return head + b"".join(_enc_obj(e) for e in o)
    if isinstance(o, dict):
        if len(o) < 16:
            head = bytes([0x80 | len(o)])
        else:
            head = b"\xde" + struct.pack(">H", len(o))
        return head + b"".join(
            _enc_obj(k) + _enc_obj(v) for k, v in o.items()
        )
    raise TypeError(f"unencodable: {type(o)}")


def encode_msgpack_stream(i: int) -> bytes:
    out = bytearray()
    for r in range(_n_records(i)):
        rid, neg, v, x, tags, flag, blob = _rec_vals(i, r)
        out += _enc_obj({
            "id": rid, "neg": neg, "v": v, "x": x,
            "tags": tags, "flag": flag, "blob": blob,
        })
    return bytes(out)


# ---------- decoder ----------


class _MR:
    __slots__ = ("b", "p")

    def __init__(self, b: bytes, p: int = 0) -> None:
        self.b = b
        self.p = p

    def take(self, n: int) -> bytes:
        if n < 0 or self.p + n > len(self.b):
            raise ValueError("truncated msgpack: payload underrun")
        s = self.b[self.p : self.p + n]
        self.p += n
        return s

    def u8(self) -> int:
        return self.take(1)[0]


def _decode_obj(r: _MR, depth: int = 0):
    if depth > _MAX_DEPTH:
        raise ValueError("malformed msgpack: nesting too deep")
    t = r.u8()
    if t < 0x80:  # positive fixint
        return t
    if t >= 0xE0:  # negative fixint
        return t - 256
    if 0x80 <= t <= 0x8F:  # fixmap
        return _dec_map(r, t & 0x0F, depth)
    if 0x90 <= t <= 0x9F:  # fixarray
        return _dec_arr(r, t & 0x0F, depth)
    if 0xA0 <= t <= 0xBF:  # fixstr
        return r.take(t & 0x1F).decode("utf-8", "replace")
    if t == 0xC0:
        return None
    if t == 0xC1:
        raise ValueError("malformed msgpack: reserved 0xc1")
    if t == 0xC2:
        return False
    if t == 0xC3:
        return True
    if t == 0xC4:
        return bytes(r.take(r.u8()))
    if t == 0xC5:
        return bytes(r.take(struct.unpack(">H", r.take(2))[0]))
    if t == 0xC6:
        n = struct.unpack(">I", r.take(4))[0]
        if n > _MAX_ELEMS:
            raise ValueError("malformed msgpack: bin32 too large")
        return bytes(r.take(n))
    if 0xC7 <= t <= 0xC9 or 0xD4 <= t <= 0xD8:
        raise ValueError("unsupported msgpack: ext type")
    if t == 0xCA:
        return struct.unpack(">f", r.take(4))[0]
    if t == 0xCB:
        return struct.unpack(">d", r.take(8))[0]
    if t == 0xCC:
        return r.u8()
    if t == 0xCD:
        return struct.unpack(">H", r.take(2))[0]
    if t == 0xCE:
        return struct.unpack(">I", r.take(4))[0]
    if t == 0xCF:
        return struct.unpack(">Q", r.take(8))[0]
    if t == 0xD0:
        return struct.unpack(">b", r.take(1))[0]
    if t == 0xD1:
        return struct.unpack(">h", r.take(2))[0]
    if t == 0xD2:
        return struct.unpack(">i", r.take(4))[0]
    if t == 0xD3:
        return struct.unpack(">q", r.take(8))[0]
    if t == 0xD9:
        return r.take(r.u8()).decode("utf-8", "replace")
    if t == 0xDA:
        return r.take(struct.unpack(">H", r.take(2))[0]) \
            .decode("utf-8", "replace")
    if t == 0xDB:
        n = struct.unpack(">I", r.take(4))[0]
        if n > _MAX_ELEMS:
            raise ValueError("malformed msgpack: str32 too large")
        return r.take(n).decode("utf-8", "replace")
    if t == 0xDC:
        return _dec_arr(r, struct.unpack(">H", r.take(2))[0], depth)
    if t == 0xDD:
        n = struct.unpack(">I", r.take(4))[0]
        if n > _MAX_ELEMS:
            raise ValueError("malformed msgpack: array32 too large")
        return _dec_arr(r, n, depth)
    if t == 0xDE:
        return _dec_map(r, struct.unpack(">H", r.take(2))[0], depth)
    if t == 0xDF:
        n = struct.unpack(">I", r.take(4))[0]
        if n > _MAX_ELEMS:
            raise ValueError("malformed msgpack: map32 too large")
        return _dec_map(r, n, depth)
    raise ValueError(f"malformed msgpack: unknown header 0x{t:02x}")


def _dec_arr(r: _MR, n: int, depth: int) -> list:
    if n > _MAX_ELEMS:
        raise ValueError("malformed msgpack: array too large")
    return [_decode_obj(r, depth + 1) for _ in range(n)]


def _dec_map(r: _MR, n: int, depth: int) -> dict:
    if n > _MAX_ELEMS:
        raise ValueError("malformed msgpack: map too large")
    out = {}
    for _ in range(n):
        # read key then value in explicit order (the avro metadata
        # right-side-first assignment bug)
        k = _decode_obj(r, depth + 1)
        if not isinstance(k, (str, int)):
            raise ValueError("malformed msgpack: non-scalar map key")
        out[k] = _decode_obj(r, depth + 1)
    return out


def decode_msgpack_stream(payload: bytes) -> dict:
    """Concatenated top-level maps → census. The file must end
    exactly on a record boundary. ValueError-only."""
    r = _MR(payload)
    stats = {"n_records": 0, "id_sum": 0, "neg_sum": 0, "s_chars": 0,
             "qx_sum": 0, "tag_items": 0, "tag_sum": 0, "n_nil": 0,
             "n_true": 0, "blob_bytes": 0}
    if not payload:
        raise ValueError("truncated msgpack: empty payload")
    while r.p < len(payload):
        rec = _decode_obj(r)
        if not isinstance(rec, dict):
            raise ValueError("malformed msgpack: top-level not a map")
        stats["n_records"] += 1
        if stats["n_records"] > _MAX_ELEMS:
            raise ValueError("malformed msgpack: too many records")
        rid = rec.get("id")
        if not isinstance(rid, int):
            raise ValueError("malformed msgpack: record missing int id")
        stats["id_sum"] += rid
        neg = rec.get("neg")
        if isinstance(neg, int):
            stats["neg_sum"] += neg
        v = rec.get("v")
        if isinstance(v, str):
            stats["s_chars"] += len(v)
        x = rec.get("x")
        if isinstance(x, float):
            if x != x or x in (float("inf"), float("-inf")):
                # int(nan) raises ValueError but int(inf) raises
                # OverflowError — normalize to the crawl contract
                raise ValueError("malformed msgpack: non-finite float")
            stats["qx_sum"] += int(x * 8)
        tags = rec.get("tags")
        if isinstance(tags, list):
            stats["tag_items"] += len(tags)
            for t in tags:
                if not isinstance(t, int):
                    raise ValueError("malformed msgpack: non-int tag")
                stats["tag_sum"] += t
        flag = rec.get("flag")
        if flag is None and "flag" in rec:
            stats["n_nil"] += 1
        elif flag is True:
            stats["n_true"] += 1
        blob = rec.get("blob")
        if isinstance(blob, bytes):
            stats["blob_bytes"] += len(blob)
    return stats


# ---------- fixture + registered op ----------


@_fixture
def _fx_msgpack(spark: SparkSession, sf_dir: str) -> None:
    names = [f"part-{i:03d}.msgpack" for i in range(_N_MSGPACK)]
    write_files(_scratch(sf_dir, "real_msgpack"), names, encode_msgpack_stream)


_MP_COLS = ("n_records id_sum neg_sum s_chars qx_sum tag_items "
            "tag_sum n_nil n_true blob_bytes").split()

_MSGPACK_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_MSGPACK})) AS i),
    m AS (SELECT i, 400 + 131 * i AS n FROM files),
    rows_ AS (SELECT i, n, unnest(range(0, n)) AS r FROM m),
    v AS (SELECT i, r,
      r * 181 + i AS id,
      -((r % 40) + 1) AS neg,
      length(printf('k%d', CAST(r % 23 AS INT))) AS sc,
      (r * 13 + i) % 800 AS qx,
      r % 4 AS ntags,
      -- Σ_t (r+t) % 100 for t in 0..(r%4)-1
      CASE r % 4 WHEN 0 THEN 0
                 WHEN 1 THEN r % 100
                 WHEN 2 THEN r % 100 + (r + 1) % 100
                 ELSE r % 100 + (r + 1) % 100 + (r + 2) % 100
      END AS tagsum,
      CASE WHEN r % 7 = 0 THEN 1 ELSE 0 END AS is_nil,
      CASE WHEN r % 7 <> 0 AND r % 2 = 1 THEN 1 ELSE 0 END AS is_true,
      r % 5 AS blob_n
     FROM rows_)
    SELECT printf('part-%03d.msgpack', CAST(i AS INT)) AS fname,
      CAST(COUNT(*) AS BIGINT) AS n_records,
      CAST(SUM(id) AS BIGINT) AS id_sum,
      CAST(SUM(neg) AS BIGINT) AS neg_sum,
      CAST(SUM(sc) AS BIGINT) AS s_chars,
      CAST(SUM(qx) AS BIGINT) AS qx_sum,
      CAST(SUM(ntags) AS BIGINT) AS tag_items,
      CAST(SUM(tagsum) AS BIGINT) AS tag_sum,
      CAST(SUM(is_nil) AS BIGINT) AS n_nil,
      CAST(SUM(is_true) AS BIGINT) AS n_true,
      CAST(SUM(blob_n) AS BIGINT) AS blob_bytes
    FROM v GROUP BY i
"""


@register(
    "scan_msgpack_records",
    _MSGPACK_ORACLE,
    doc="MessagePack concatenated-record decode from raw bytes: "
    "every core header family (fixint/fixmap/fixarray/fixstr, nil/"
    "bool, bin, float64, uint/int 8-64, str/array/map 16-32), "
    "minimal-canonical writer, self-checking framing (file must end "
    "on a record boundary) — value census hash-checked against the "
    "fixture formula",
)
def scan_msgpack_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event-bus row format: Fluentd ships logs, Redis caches
    blobs, and Kafka archives land as concatenated msgpack records —
    the binary JSONL a crawl pipeline triages before conversion.
    Record ids deliberately cross the fixint → uint8 → uint16 header
    boundaries and negatives cross fixint → int8, so a decoder that
    muddles sign extension or header width desyncs immediately (the
    next header byte is then garbage, and the census dies loudly
    instead of drifting). Floats are exact eighths (Σ 8·x integer).

    Scale: see module docstring — per-file map work; msgpack has no
    sync markers, so splitting within a file needs an outer framing
    layer (WARC-style), which is exactly how log archives wrap it.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _MP_COLS)

    return decode_files(
        spark, _scratch(sf_dir, "real_msgpack"), "*.msgpack",
        lambda b: [decode_msgpack_stream(b)], schema,
    )
