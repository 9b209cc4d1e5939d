"""Delta DELETION VECTORS — inline Z85 + Roaring portable decode.

Modern Delta (reader version 3) ships row-level deletes as DELETION
VECTORS on add actions: ``deletionVector: {storageType: "i",
pathOrInlineDv: <z85 bytes>, sizeInBytes, cardinality}`` where the
bytes are a serialized Roaring bitmap of deleted row positions — the
Delta-side twin of Iceberg's position-delete files
(sources/iceberg.py `scan_iceberg_deletes`). A reader computes each
file's effective row count at PLAN time from the DV cardinality and
masks rows at SCAN time from the decoded positions.

This module implements both public encodings dependency-free:
ZeroMQ Z85 (4 bytes → 5 chars over the 85-char alphabet; Delta's
inline-DV text encoding) and the standard Roaring portable format
(RoaringFormatSpec: cookie 12346, container count, per-container
(key, cardinality−1) descriptors, offset table, then ARRAY
containers as sorted uint16s and BITMAP containers as fixed 8 KiB
bitsets once cardinality exceeds 4096). Delta's outer
RoaringBitmapArray wrapper (a magic + count prefix over one portable
bitmap per 2^32 block) is a straight outer loop over this decoder
and is noted, not fixtured — the per-bitmap format is the substance.

Fixture: one commit JSON whose adds carry DVs exercising an array
container, a BITMAP container (5000 dense positions), a TWO-container
bitmap (positions straddling the 65536 key boundary), and a no-DV
file. All positions are stated by formula so the DuckDB oracle
recomputes cardinality, live rows, and the exact position sum.

Scale: DVs are metadata-attached (KBs per file); the decode is
per-add-action map work — at 100 TB this is exactly why DVs beat
copy-on-write: a 1-row delete rewrites a bitmap, not a 1 GB file.
Malformed input raises ValueError only (tests/test_parser_fuzz.py).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_Z85 = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INV = {c: i for i, c in enumerate(_Z85)}

_COOKIE_NO_RUN = 12346
_ARRAY_MAX = 4096  # above this a container serializes as a bitset


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError("z85: input not a multiple of 4")
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            v, r = divmod(v, 85)
            chunk.append(_Z85[r])
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError("z85: input not a multiple of 5")
    out = bytearray()
    for i in range(0, len(text), 5):
        v = 0
        for c in text[i : i + 5]:
            d = _Z85_INV.get(c)
            if d is None:
                raise ValueError("z85: invalid character")
            v = v * 85 + d
        if v > 0xFFFFFFFF:
            raise ValueError("z85: chunk overflows 32 bits")
        out += v.to_bytes(4, "big")
    return bytes(out)


def roaring_serialize(positions: list[int]) -> bytes:
    """Standard Roaring portable serialization (writer side — used
    by the fixture; the reader below is the op under test)."""
    containers: dict[int, list[int]] = {}
    for pos in sorted(set(positions)):
        if not 0 <= pos < 1 << 32:
            raise ValueError("roaring: position out of range")
        containers.setdefault(pos >> 16, []).append(pos & 0xFFFF)
    keys = sorted(containers)
    out = bytearray()
    out += _COOKIE_NO_RUN.to_bytes(4, "little")
    out += len(keys).to_bytes(4, "little")
    for k in keys:
        out += k.to_bytes(2, "little")
        out += (len(containers[k]) - 1).to_bytes(2, "little")
    # offset table (always present for the no-run cookie)
    off = len(out) + 4 * len(keys)
    bodies = []
    for k in keys:
        vals = containers[k]
        if len(vals) > _ARRAY_MAX:
            bits = bytearray(8192)
            for v in vals:
                bits[v >> 3] |= 1 << (v & 7)
            bodies.append(bytes(bits))
        else:
            b = bytearray()
            for v in vals:
                b += v.to_bytes(2, "little")
            bodies.append(bytes(b))
    for body in bodies:
        out += off.to_bytes(4, "little")
        off += len(body)
    for body in bodies:
        out += body
    return bytes(out)


def roaring_deserialize(buf: bytes) -> list[int]:
    """Standard Roaring portable decode → sorted positions.
    ValueError-only; run-container streams are rejected as
    unsupported (the fixture writer never emits them)."""
    if len(buf) < 8:
        raise ValueError("roaring: truncated header")
    cookie = int.from_bytes(buf[0:4], "little")
    if cookie != _COOKIE_NO_RUN:
        raise ValueError("roaring: unsupported cookie (run containers?)")
    n = int.from_bytes(buf[4:8], "little")
    if n <= 0 or n > 1 << 16:
        raise ValueError("roaring: bad container count")
    p = 8
    desc = []
    if p + 4 * n > len(buf):
        raise ValueError("roaring: truncated descriptors")
    for _ in range(n):
        key = int.from_bytes(buf[p : p + 2], "little")
        card = int.from_bytes(buf[p + 2 : p + 4], "little") + 1
        desc.append((key, card))
        p += 4
    keys = [k for k, _c in desc]
    if keys != sorted(set(keys)):
        raise ValueError("roaring: container keys not strictly sorted")
    if p + 4 * n > len(buf):
        raise ValueError("roaring: truncated offset table")
    offs = []
    for _ in range(n):
        offs.append(int.from_bytes(buf[p : p + 4], "little"))
        p += 4
    out: list[int] = []
    for (key, card), off in zip(desc, offs):
        base = key << 16
        if card > _ARRAY_MAX:
            if off + 8192 > len(buf):
                raise ValueError("roaring: bitmap container overruns")
            got = 0
            for byte_i in range(8192):
                b = buf[off + byte_i]
                while b:
                    low = b & -b
                    out.append(base + (byte_i << 3)
                               + low.bit_length() - 1)
                    got += 1
                    b ^= low
            if got != card:
                raise ValueError("roaring: bitmap cardinality mismatch")
        else:
            if off + 2 * card > len(buf):
                raise ValueError("roaring: array container overruns")
            prev = -1
            for j in range(card):
                v = int.from_bytes(
                    buf[off + 2 * j : off + 2 * j + 2], "little"
                )
                if v <= prev:
                    raise ValueError("roaring: array values not sorted")
                prev = v
                out.append(base + v)
    return out


# ---------- fixture: commit JSON with inline DVs ----------


def _dv_positions(name: str) -> list[int] | None:
    """Formula position sets — the oracle recomputes these exactly."""
    if name == "dv-a":  # small array container
        return [10 * j + 1 for j in range(300)]
    if name == "dv-b":  # one BITMAP container (card > 4096)
        return [2 * j for j in range(5000)]
    if name == "dv-c":  # two containers straddling the key boundary
        return [3 * j for j in range(100)] + [
            65536 + 5 * j for j in range(200)
        ]
    return None  # dv-none: no deletion vector


_DV_FILES = [
    ("dv-a", 10000),
    ("dv-b", 20000),
    ("dv-c", 100000),
    ("dv-none", 5000),
]


def encode_dv_blob(name: str) -> tuple[str, int, int]:
    """(z85 text, sizeInBytes, cardinality) for one fixture DV."""
    positions = _dv_positions(name)
    blob = roaring_serialize(positions)
    size = len(blob)
    if size % 4:
        blob += b"\x00" * (4 - size % 4)
    return z85_encode(blob), size, len(positions)


def _dv_log() -> bytes:
    lines = [json.dumps({
        "protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                     "readerFeatures": ["deletionVectors"]}
    })]
    for name, recs in _DV_FILES:
        add = {"path": f"{name}.parquet", "numRecords": recs,
               "dataChange": True}
        if _dv_positions(name) is not None:
            text, size, card = encode_dv_blob(name)
            add["deletionVector"] = {
                "storageType": "i",
                "pathOrInlineDv": text,
                "sizeInBytes": size,
                "cardinality": card,
            }
        lines.append(json.dumps({"add": add}))
    return ("\n".join(lines) + "\n").encode()


@_fixture
def _fx_delta_dv(spark: SparkSession, sf_dir: str) -> None:
    write_files(
        _scratch(sf_dir, "real_delta_dv"), [f"{0:020d}.json"],
        lambda _: _dv_log(),
    )


_DV_ORACLE = """
    WITH a AS (SELECT 'dv-a.parquet' AS path, 10000 AS recs,
                      COUNT(*) AS card, SUM(10 * j + 1) AS psum
               FROM (SELECT unnest(range(0, 300)) AS j)),
    b AS (SELECT 'dv-b.parquet' AS path, 20000 AS recs,
                 COUNT(*) AS card, SUM(2 * j) AS psum
          FROM (SELECT unnest(range(0, 5000)) AS j)),
    c AS (SELECT 'dv-c.parquet' AS path, 100000 AS recs,
                 COUNT(*) AS card, SUM(p) AS psum
          FROM (SELECT 3 * j AS p
                FROM (SELECT unnest(range(0, 100)) AS j)
                UNION ALL
                SELECT 65536 + 5 * j AS p
                FROM (SELECT unnest(range(0, 200)) AS j))),
    n AS (SELECT 'dv-none.parquet' AS path, 5000 AS recs,
                 0 AS card, 0 AS psum),
    u AS (SELECT * FROM a UNION ALL SELECT * FROM b
          UNION ALL SELECT * FROM c UNION ALL SELECT * FROM n)
    SELECT path,
           CAST(recs AS BIGINT) AS num_records,
           CAST(card AS BIGINT) AS dv_cardinality,
           CAST(recs - card AS BIGINT) AS live_rows,
           CAST(psum AS BIGINT) AS pos_sum,
           CAST(1 AS BIGINT) AS card_match
    FROM u
"""


@register(
    "scan_delta_dv",
    _DV_ORACLE,
    doc="Delta deletion-vector decode: inline DV (storageType 'i') "
    "Z85-decoded to sizeInBytes bytes, Roaring portable bitmap "
    "walked (array containers as sorted uint16s, BITMAP containers "
    "as 8 KiB bitsets, multi-container keys) — per-file effective "
    "row count, decoded-vs-declared cardinality verdict, and the "
    "exact position sum, hash-checked against the fixture formula",
)
def scan_delta_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Delta twin of scan_iceberg_deletes: merge-on-read row
    tombstones, but attached to the add action as a serialized
    bitmap instead of living in separate delete files. The position
    SUM (not just the count) pins the whole decode: an off-by-one in
    the bitset walk or a dropped high-key container changes the sum
    even when the cardinality happens to survive. card_match pins
    decoded count == the action's declared cardinality — the
    cross-check a real reader performs before trusting plan-time
    arithmetic.

    Scale: DV blobs are KB-scale metadata regardless of table size;
    decode is per-action map work in one mapInPandas over the log
    rows — no shuffle, no data-file reads. Delta's outer
    RoaringBitmapArray wrapper (64-bit positions as one portable
    bitmap per 2^32 block) is an outer loop over exactly this
    decoder.
    """
    log_dir = _scratch(sf_dir, "real_delta_dv")
    adds = (
        spark.read.option("pathGlobFilter", "*.json")
        .text(log_dir)
        .select(
            F.get_json_object("value", "$.add.path").alias("path"),
            F.get_json_object("value", "$.add.numRecords")
            .cast("long")
            .alias("num_records"),
            F.get_json_object(
                "value", "$.add.deletionVector.pathOrInlineDv"
            ).alias("dv_text"),
            F.get_json_object(
                "value", "$.add.deletionVector.sizeInBytes"
            ).cast("long").alias("dv_size"),
            F.get_json_object(
                "value", "$.add.deletionVector.cardinality"
            ).cast("long").alias("dv_card"),
        )
        .filter(F.col("path").isNotNull())
    )

    schema = (
        "path string, num_records long, dv_cardinality long, "
        "live_rows long, pos_sum long, card_match long"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["path", "num_records", "dv_cardinality", "live_rows",
                "pos_sum", "card_match"]
        for pdf in it:
            rows = []
            for _i, r in pdf.iterrows():
                recs = int(r["num_records"])
                if pd.isna(r["dv_text"]) or r["dv_text"] is None:
                    rows.append({
                        "path": r["path"], "num_records": recs,
                        "dv_cardinality": 0, "live_rows": recs,
                        "pos_sum": 0, "card_match": 1,
                    })
                    continue
                blob = z85_decode(str(r["dv_text"]))
                size = int(r["dv_size"])
                if size > len(blob):
                    raise ValueError("dv: sizeInBytes beyond blob")
                positions = roaring_deserialize(blob[:size])
                card = len(positions)
                rows.append({
                    "path": r["path"], "num_records": recs,
                    "dv_cardinality": card,
                    "live_rows": recs - card,
                    "pos_sum": sum(positions),
                    "card_match": 1 if card == int(r["dv_card"]) else 0,
                })
            yield pd.DataFrame(rows, columns=cols)

    return adds.mapInPandas(batches, schema=schema)
