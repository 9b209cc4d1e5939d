"""BitTorrent metainfo (.torrent) decode — bencode grammar + SHA-1
piece verification against the payload files it describes.

Large public datasets distribute over BitTorrent (the Internet
Archive publishes a .torrent beside every item; academic corpus
mirrors do the same), so an ingest pipeline meets metainfo files as
MANIFESTS: the authoritative statement of what the payload should
be, piece by piece. This module decodes bencode from first
principles — ``i<int>e`` integers (leading-zero and ``-0``
rejections per BEP 3), ``<len>:<bytes>`` strings, ``l…e`` lists,
``d…e`` dicts with byte-string keys required to be SORTED (the
canonical-form rule that makes infohashes well-defined) — then
verifies the torrent against its payload: every piece's SHA-1 from
the ``pieces`` blob is recomputed over the actual file bytes, the
declared ``length`` must match, and the piece count must equal
ceil(length / piece length).

The Spark shape is a two-sided join (the ``scan_manifest`` /
``align-files`` genre): one binaryFile frame of .torrent files, one
of payload files, equi-joined on the derived payload name, verified
inside one mapInPandas — manifest and content may land on different
executors at 100 TB, and the join is what brings each pair together
without any driver-side staging.

Malformed input raises ValueError only (the crawl contract, pinned
by tests/test_parser_fuzz.py).

Scale: the torrent side is metadata-sized and broadcastable; the
payload side streams. Piece hashing is per-file map work —
embarrassingly parallel, and piece boundaries would let one huge
payload split across tasks with a first/last-piece stitch.
"""

from __future__ import annotations

import hashlib
import struct  # noqa: F401  (kept for parity with sibling decoders)
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_TORRENT = 4
_PIECE_LEN = 4096


def _payload_len(i: int) -> int:
    return 9_000 + 4_321 * i  # non-multiple of piece length


def _byte_at(i: int, r: int) -> int:
    return ((r % 101) * 3 + (r // 101) + i * 19) % 256


def _payload_bytes(i: int) -> bytes:
    return bytes(_byte_at(i, r) for r in range(_payload_len(i)))


def _announces(i: int) -> list[str]:
    return [f"http://tr{k}.example/announce" for k in range((i % 2) + 1)]


# ---------- bencode ----------


def bencode(obj) -> bytes:
    if isinstance(obj, int):
        return b"i%de" % obj
    if isinstance(obj, bytes):
        return b"%d:%s" % (len(obj), obj)
    if isinstance(obj, str):
        return bencode(obj.encode())
    if isinstance(obj, list):
        return b"l" + b"".join(bencode(e) for e in obj) + b"e"
    if isinstance(obj, dict):
        items = sorted(
            (k.encode() if isinstance(k, str) else k, v)
            for k, v in obj.items()
        )
        return b"d" + b"".join(
            bencode(k) + bencode(v) for k, v in items
        ) + b"e"
    raise TypeError(f"unbencodable: {type(obj)}")


def bdecode(b: bytes, p: int = 0, depth: int = 0):
    """One bencoded value at ``p`` → (value, next_pos); dict keys
    must be sorted byte strings (canonical form). ValueError-only."""
    if depth > 32:
        raise ValueError("malformed bencode: nesting too deep")
    if p >= len(b):
        raise ValueError("truncated bencode: value underrun")
    c = b[p]
    if c == 0x69:  # 'i'
        end = b.find(b"e", p + 1)
        if end < 0 or end - p > 25:
            raise ValueError("truncated bencode: unterminated integer")
        s = b[p + 1 : end]
        if not s or s in (b"-", b"-0") \
                or (s[0:1] == b"0" and len(s) > 1) \
                or (s[0:1] == b"-" and s[1:2] == b"0"):
            raise ValueError("malformed bencode: non-canonical integer")
        if not s.lstrip(b"-").isdigit():
            raise ValueError("malformed bencode: bad integer")
        return int(s), end + 1
    if 0x30 <= c <= 0x39:  # digit: byte string
        colon = b.find(b":", p)
        if colon < 0 or colon - p > 12:
            raise ValueError("truncated bencode: unterminated length")
        ls = b[p:colon]
        if not ls.isdigit() or (ls[0:1] == b"0" and len(ls) > 1):
            raise ValueError("malformed bencode: bad string length")
        ln = int(ls)
        if colon + 1 + ln > len(b):
            raise ValueError("truncated bencode: string overrun")
        return b[colon + 1 : colon + 1 + ln], colon + 1 + ln
    if c == 0x6C:  # 'l'
        p += 1
        out = []
        while True:
            if p >= len(b):
                raise ValueError("truncated bencode: unterminated list")
            if b[p] == 0x65:  # 'e'
                return out, p + 1
            v, p = bdecode(b, p, depth + 1)
            out.append(v)
            if len(out) > 1_000_000:
                raise ValueError("malformed bencode: list too large")
    if c == 0x64:  # 'd'
        p += 1
        out: dict[bytes, object] = {}
        last_key = None
        while True:
            if p >= len(b):
                raise ValueError("truncated bencode: unterminated dict")
            if b[p] == 0x65:
                return out, p + 1
            k, p = bdecode(b, p, depth + 1)
            if not isinstance(k, bytes):
                raise ValueError("malformed bencode: non-string dict key")
            if last_key is not None and k <= last_key:
                raise ValueError("malformed bencode: dict keys not "
                                 "sorted (non-canonical)")
            last_key = k
            v, p = bdecode(b, p, depth + 1)
            out[k] = v
            if len(out) > 1_000_000:
                raise ValueError("malformed bencode: dict too large")
    raise ValueError(f"malformed bencode: bad type byte 0x{c:02x}")


# ---------- torrent decode + verify ----------


def decode_torrent(meta_bytes: bytes, payload: bytes) -> dict:
    """Metainfo decode + piece-hash verification against the payload
    bytes. ValueError-only for malformed METAINFO; hash mismatches
    are counted, not raised (the audit-report posture)."""
    root, end = bdecode(meta_bytes)
    if end != len(meta_bytes):
        raise ValueError("malformed bencode: trailing bytes")
    if not isinstance(root, dict) or b"info" not in root:
        raise ValueError("malformed torrent: no info dict")
    info = root[b"info"]
    if not isinstance(info, dict):
        raise ValueError("malformed torrent: info is not a dict")
    plen = info.get(b"piece length")
    length = info.get(b"length")
    name = info.get(b"name", b"")
    pieces = info.get(b"pieces", b"")
    if not isinstance(plen, int) or plen <= 0 \
            or not isinstance(length, int) or length < 0 \
            or not isinstance(pieces, bytes) or len(pieces) % 20:
        raise ValueError("malformed torrent: bad info fields")
    n_pieces = len(pieces) // 20
    if n_pieces != (length + plen - 1) // plen:
        raise ValueError("malformed torrent: piece count does not "
                         "match declared length")
    announce_n = 1 if b"announce" in root else 0
    alist = root.get(b"announce-list")
    if isinstance(alist, list):
        announce_n = sum(len(t) for t in alist
                         if isinstance(t, list))
    ok = 0
    length_match = 1 if len(payload) == length else 0
    for k in range(n_pieces):
        piece = payload[k * plen : (k + 1) * plen]
        if hashlib.sha1(piece).digest() == pieces[k * 20 : k * 20 + 20]:
            ok += 1
    return {
        "n_pieces": n_pieces,
        "pieces_ok": ok,
        "length": length,
        "length_match": length_match,
        "name_chars": len(name),
        "announce_n": announce_n,
        "private": int(info.get(b"private", 0) == 1),
    }


# ---------- fixture + registered op ----------


def encode_torrent(i: int) -> bytes:
    """Canonical metainfo for fixture payload i (single-file mode)."""
    payload = _payload_bytes(i)
    pieces = b"".join(
        hashlib.sha1(payload[k : k + _PIECE_LEN]).digest()
        for k in range(0, len(payload), _PIECE_LEN)
    )
    meta = {
        "announce": _announces(i)[0],
        "announce-list": [[a] for a in _announces(i)],
        "info": {
            "name": f"payload-{i:03d}.bin",
            "piece length": _PIECE_LEN,
            "length": len(payload),
            "pieces": pieces,
            "private": i % 2,
        },
    }
    return bencode(meta)


@_fixture
def _fx_torrent(spark: SparkSession, sf_dir: str) -> None:
    out_dir = _scratch(sf_dir, "real_torrent")
    names = [f"payload-{i:03d}.bin" for i in range(_N_TORRENT)]
    write_files(out_dir, names, _payload_bytes)
    names = [f"part-{i:03d}.torrent" for i in range(_N_TORRENT)]
    write_files(out_dir, names, encode_torrent)


_TO_COLS = ("n_pieces pieces_ok length length_match name_chars "
            "announce_n private").split()

_TORRENT_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_TORRENT})) AS i),
    m AS (SELECT i, 9000 + 4321 * i AS n FROM files)
    SELECT printf('part-%03d.torrent', CAST(i AS INT)) AS fname,
      CAST((n + {_PIECE_LEN - 1}) // {_PIECE_LEN} AS BIGINT)
        AS n_pieces,
      CAST((n + {_PIECE_LEN - 1}) // {_PIECE_LEN} AS BIGINT)
        AS pieces_ok,
      CAST(n AS BIGINT) AS length,
      CAST(1 AS BIGINT) AS length_match,
      CAST(length(printf('payload-%03d.bin', CAST(i AS INT)))
           AS BIGINT) AS name_chars,
      CAST((i % 2) + 1 AS BIGINT) AS announce_n,
      CAST(i % 2 AS BIGINT) AS private
    FROM m
"""


@register(
    "scan_torrent_manifest",
    _TORRENT_ORACLE,
    doc="BitTorrent metainfo decode + payload verification: bencode "
    "grammar from scratch (canonical integers, sorted dict keys "
    "enforced), piece-count-vs-length cross-check, every SHA-1 "
    "piece hash recomputed over the actual payload bytes via a "
    "manifest-to-payload equi-join of two binaryFile frames — "
    "audit census hash-checked against the fixture formula",
)
def scan_torrent_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-distribution manifest: archive mirrors publish a
    .torrent beside every payload, and the piece table is the
    integrity statement — this op IS the 'did the mirror give us
    the right bytes' audit. Bencode's canonical-form rules (sorted
    keys, no leading zeros) are enforced because the infohash is
    only well-defined over canonical bytes; a decoder that accepts
    sloppy bencode would verify the wrong identity. Piece hashes
    are counted pass/fail rather than raised — a partially
    corrupted mirror yields an audit row, not a dead task.

    Scale: see module docstring — manifest side broadcastable,
    payload side streams, SHA-1 work is per-file map parallel.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _TO_COLS)

    base = _scratch(sf_dir, "real_torrent")
    torrents = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.torrent")
        .load(base)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("fname"),
            F.col("content").alias("meta_bytes"),
            F.regexp_replace(
                F.element_at(F.split("path", "/"), -1),
                r"^part-(\d+)\.torrent$", r"payload-$1.bin",
            ).alias("payload_name"),
        )
    )
    payloads = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(base)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("payload_name"),
            F.col("content").alias("payload_bytes"),
        )
    )
    joined = torrents.join(F.broadcast(payloads), "payload_name")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["fname", *_TO_COLS]
        for pdf in it:
            rows = []
            for fname, mb, pb in zip(
                pdf["fname"], pdf["meta_bytes"], pdf["payload_bytes"]
            ):
                m = decode_torrent(bytes(mb), bytes(pb))
                m["fname"] = fname
                rows.append({k: m[k] for k in cols})
            yield pd.DataFrame(rows, columns=cols)

    return joined.select(
        "fname", "meta_bytes", "payload_bytes"
    ).mapInPandas(batches, schema=schema)
