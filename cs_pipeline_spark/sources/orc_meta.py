"""ORC postscript + footer triage — byte-level, no ORC reader.

The format-audit family's missing third leg next to
``scan_parquet_footer`` / ``scan_parquet_data_pages`` (columnar) and
``scan_avro_blocks`` (row): ORC. An ORC file ends with a protobuf
PostScript (footer length, compression kind, block size, magic) whose
own length is the file's LAST byte; the Footer protobuf before it —
compressed in the file's general codec, framed in ORC's 3-byte
chunk headers — declares content length, total row count, and one
StripeInformation per stripe (offset/index/data/footer lengths, row
count). This module decodes that chain with a minimal protobuf-wire
reader (varint + length-delimited; public ORC spec / orc_proto.proto
field ids) and the repo's raw-snappy decompressor
(sources/parquet_pages.py), cross-checking Σ stripe rows against the
footer's declared total.

Fixture: the documents table written as REAL ORC by Spark itself
(the independent implementation, like pyarrow for the parquet
fixtures), one shard directory per 100 docs, snappy-compressed —
so the byte decoder is exercised against genuine writer output, and
the oracle recomputes every census column from the documents table.

Scale: per-file tail reads (one ranged GET of the last few KB on
object storage) fanned out by binaryFile + mapInPandas — no shuffle;
this is the nightly "is every landed ORC file internally consistent"
gate, O(files), independent of data volume.

Malformed input raises ValueError only (tests/test_parser_fuzz.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.parquet_pages import snappy_decompress
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_ORC_SHARD_DOCS = 100

# orc_proto.proto CompressionKind
_CK_NONE, _CK_ZLIB, _CK_SNAPPY = 0, 1, 2


def _pb_varint(buf: bytes, p: int) -> tuple[int, int]:
    v = 0
    shift = 0
    for _ in range(10):
        if p >= len(buf):
            raise ValueError("malformed ORC: protobuf varint underrun")
        b = buf[p]
        p += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, p
        shift += 7
    raise ValueError("malformed ORC: protobuf varint too long")


def pb_fields(buf: bytes) -> dict[int, list]:
    """One protobuf message level → {field_id: [values]}; varints as
    ints, length-delimited as bytes, fixed32/64 as raw bytes.
    ValueError-only."""
    out: dict[int, list] = {}
    p = 0
    while p < len(buf):
        tag, p = _pb_varint(buf, p)
        fid, wt = tag >> 3, tag & 7
        if fid == 0:
            raise ValueError("malformed ORC: protobuf field id 0")
        if wt == 0:
            v, p = _pb_varint(buf, p)
        elif wt == 2:
            ln, p = _pb_varint(buf, p)
            if ln < 0 or p + ln > len(buf):
                raise ValueError("malformed ORC: protobuf bytes overrun")
            v = buf[p : p + ln]
            p += ln
        elif wt == 5:
            if p + 4 > len(buf):
                raise ValueError("malformed ORC: fixed32 underrun")
            v = buf[p : p + 4]
            p += 4
        elif wt == 1:
            if p + 8 > len(buf):
                raise ValueError("malformed ORC: fixed64 underrun")
            v = buf[p : p + 8]
            p += 8
        else:
            raise ValueError(f"malformed ORC: protobuf wire type {wt}")
        out.setdefault(fid, []).append(v)
    return out


def _dechunk(raw: bytes, kind: int) -> bytes:
    """ORC compressed-stream framing: 3-byte little-endian headers,
    LSB = is-original flag, rest = chunk length."""
    import zlib

    out = bytearray()
    p = 0
    while p < len(raw):
        if p + 3 > len(raw):
            raise ValueError("malformed ORC: chunk header truncated")
        h = int.from_bytes(raw[p : p + 3], "little")
        p += 3
        ln, orig = h >> 1, h & 1
        if p + ln > len(raw):
            raise ValueError("malformed ORC: chunk overruns stream")
        chunk = raw[p : p + ln]
        p += ln
        if orig:
            out += chunk
        elif kind == _CK_SNAPPY:
            out += snappy_decompress(chunk)
        elif kind == _CK_ZLIB:
            try:
                out += zlib.decompress(chunk, wbits=-15)
            except zlib.error as e:
                raise ValueError(f"malformed ORC: bad zlib chunk: {e}")
        else:
            raise ValueError(f"unsupported ORC compression kind {kind}")
    return bytes(out)


def decode_orc_postscript(payload: bytes) -> dict:
    """PostScript → Footer → stripe walk: returns the metadata census
    (stripe count, declared vs Σ-stripe rows, compression kind,
    content length). ValueError-only."""
    if len(payload) < 8 or payload[:3] != b"ORC":
        raise ValueError("not an ORC file: bad magic")
    pslen = payload[-1]
    if pslen < 1 or pslen + 1 + 3 > len(payload):
        raise ValueError("malformed ORC: postscript length outside file")
    ps = pb_fields(payload[-1 - pslen : -1])
    magic = ps.get(8000, [b""])[0]
    if magic != b"ORC":
        raise ValueError("malformed ORC: postscript magic mismatch")
    flen_l = ps.get(1)
    if not flen_l or not isinstance(flen_l[0], int) or flen_l[0] <= 0:
        raise ValueError("malformed ORC: postscript missing footer len")
    flen = flen_l[0]
    kind = ps.get(2, [0])[0]
    if not isinstance(kind, int):
        raise ValueError("malformed ORC: compression kind not varint")
    if flen + pslen + 1 + 3 > len(payload):
        raise ValueError("malformed ORC: footer outside file")
    fraw = payload[-1 - pslen - flen : -1 - pslen]
    if kind != _CK_NONE:
        fraw = _dechunk(fraw, kind)
    ft = pb_fields(fraw)
    rows_l = ft.get(6)
    if not rows_l or not isinstance(rows_l[0], int):
        raise ValueError("malformed ORC: footer missing numberOfRows")
    stripe_rows = 0
    n_stripes = 0
    for sb in ft.get(3, []):
        if not isinstance(sb, bytes):
            raise ValueError("malformed ORC: stripe not a message")
        sp = pb_fields(sb)
        sr = sp.get(5, [None])[0]
        if not isinstance(sr, int):
            raise ValueError("malformed ORC: stripe missing row count")
        stripe_rows += sr
        n_stripes += 1
    content_l = ft.get(2, [0])[0]
    if not isinstance(content_l, int):
        raise ValueError("malformed ORC: contentLength not varint")
    return {
        "n_stripes": n_stripes,
        "n_rows": rows_l[0],
        "stripe_rows": stripe_rows,
        "rows_match": 1 if stripe_rows == rows_l[0] else 0,
        "compression_kind": kind,
        "content_length": content_l,
    }


def _pb_tag(fid: int, wt: int) -> bytes:
    out = bytearray()
    v = (fid << 3) | wt
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pb_uv(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def encode_orc_meta(i: int) -> bytes:
    """Fuzz-harness writer: a minimal metadata-consistent ORC file
    (uncompressed footer, stripes with consistent row counts)."""
    n_stripes = 2 + i % 3
    rows = [100 + 10 * i + k for k in range(n_stripes)]
    stripes = b""
    off = 3
    for rc in rows:
        s = (
            _pb_tag(1, 0) + _pb_uv(off)
            + _pb_tag(2, 0) + _pb_uv(10)
            + _pb_tag(3, 0) + _pb_uv(20)
            + _pb_tag(4, 0) + _pb_uv(5)
            + _pb_tag(5, 0) + _pb_uv(rc)
        )
        stripes += _pb_tag(3, 2) + _pb_uv(len(s)) + s
        off += 35
    footer = (
        _pb_tag(1, 0) + _pb_uv(3)
        + _pb_tag(2, 0) + _pb_uv(off)
        + stripes
        + _pb_tag(6, 0) + _pb_uv(sum(rows))
    )
    ps = (
        _pb_tag(1, 0) + _pb_uv(len(footer))
        + _pb_tag(2, 0) + _pb_uv(_CK_NONE)
        + _pb_tag(8000, 2) + _pb_uv(3) + b"ORC"
    )
    body = b"ORC" + bytes(off - 3)
    return body + footer + ps + bytes([len(ps)])


@_fixture
def _fx_orc_tbl(spark: SparkSession, sf_dir: str) -> None:
    import os

    from cs_pipeline_spark.tables import load

    out = _scratch(sf_dir, "real_orc_tbl")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return
    docs = load(spark, "documents", sf_dir).select(
        "doc_id",
        F.expr(f"doc_id div {_ORC_SHARD_DOCS}").alias("shard"),
        F.length("text").alias("tlen"),
    )
    (
        docs.repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .option("compression", "snappy")
        .orc(out)
    )


_ORC_ORACLE = f"""
    SELECT CAST(doc_id // {_ORC_SHARD_DOCS} AS BIGINT) AS shard,
           CAST(1 AS BIGINT) AS n_stripes,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS stripe_rows,
           CAST(1 AS BIGINT) AS rows_match,
           CAST({_CK_SNAPPY} AS BIGINT) AS compression_kind
    FROM documents GROUP BY 1
"""


@register(
    "scan_orc_postscript",
    _ORC_ORACLE,
    doc="ORC postscript + footer triage from raw bytes: protobuf-wire "
    "PostScript (footer length, compression kind, magic), snappy "
    "de-chunked Footer, per-stripe row counts summed and "
    "cross-checked against the declared numberOfRows — per-shard "
    "census of REAL Spark-written ORC files, hash-checked against "
    "the documents table",
)
def scan_orc_postscript(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reader-side triage pairing the existing ORC write path
    (`sink_orc_roundtrip`): is every landed ORC file internally
    consistent — postscript magic, footer framing, stripe row sums?
    The fixture is genuine Spark writer output (an independent
    implementation), so the 3-byte chunk framing, snappy blocks, and
    protobuf field ids are validated against the real format, and a
    single-stripe/row-count census per shard hashes against the
    documents table the shards were written from.

    Scale: see module docstring — tail-bytes reads per file, no
    shuffle; on object storage this is one ranged GET per file.
    """
    schema = (
        "shard long, n_stripes long, n_rows long, stripe_rows long, "
        "rows_match long, compression_kind long"
    )
    cols = ["shard", "n_stripes", "n_rows", "stripe_rows",
            "rows_match", "compression_kind"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                m = re.search(r"shard=(\d+)/", path)
                if not m:
                    continue
                d = decode_orc_postscript(bytes(content))
                rows.append({
                    "shard": int(m.group(1)),
                    "n_stripes": d["n_stripes"],
                    "n_rows": d["n_rows"],
                    "stripe_rows": d["stripe_rows"],
                    "rows_match": d["rows_match"],
                    "compression_kind": d["compression_kind"],
                })
            yield pd.DataFrame(rows, columns=cols)

    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.orc")
        .option("recursiveFileLookup", "true")
        .load(_scratch(sf_dir, "real_orc_tbl"))
    )
    # a shard's rows land in ONE file (repartition on the shard key),
    # so per-file census == per-shard census; aggregate defensively
    # anyway so a multi-file shard would fail the hash loudly via
    # n_stripes, not silently duplicate rows
    raw = bf.select("path", "content").mapInPandas(batches, schema=schema)
    return raw.groupBy("shard").agg(
        F.sum("n_stripes").cast("long").alias("n_stripes"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("stripe_rows").cast("long").alias("stripe_rows"),
        F.min("rows_match").cast("long").alias("rows_match"),
        F.max("compression_kind").cast("long").alias("compression_kind"),
    )


# ====================================================================
# File-level COLUMN STATISTICS — ORC's zone maps. Footer field 7 is
# one ColumnStatistics per schema column id (0 = root struct):
# numberOfValues (field 1) + IntegerStatistics (field 2: min/max/sum
# as zigzag sint64). The ORC twin of scan_parquet_col_stats
# (sources/parquet_pages.py) — what predicate pushdown reads.
# ====================================================================


def _pb_zz(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def decode_orc_col_stats(payload: bytes) -> list[dict]:
    """File-level integer column statistics per column id (root
    struct and non-integer columns are skipped). ValueError-only."""
    if len(payload) < 8 or payload[:3] != b"ORC":
        raise ValueError("not an ORC file: bad magic")
    pslen = payload[-1]
    if pslen < 1 or pslen + 1 + 3 > len(payload):
        raise ValueError("malformed ORC: postscript length outside file")
    ps = pb_fields(payload[-1 - pslen : -1])
    flen_l = ps.get(1)
    if not flen_l or not isinstance(flen_l[0], int) or flen_l[0] <= 0:
        raise ValueError("malformed ORC: postscript missing footer len")
    flen = flen_l[0]
    kind = ps.get(2, [0])[0]
    if not isinstance(kind, int):
        raise ValueError("malformed ORC: compression kind not varint")
    if flen + pslen + 1 + 3 > len(payload):
        raise ValueError("malformed ORC: footer outside file")
    fraw = payload[-1 - pslen - flen : -1 - pslen]
    if kind != _CK_NONE:
        fraw = _dechunk(fraw, kind)
    ft = pb_fields(fraw)
    out: list[dict] = []
    for ci, sb in enumerate(ft.get(7, [])):
        if not isinstance(sb, bytes):
            raise ValueError("malformed ORC: statistics not a message")
        st = pb_fields(sb)
        nv = st.get(1, [None])[0]
        if not isinstance(nv, int):
            raise ValueError("malformed ORC: stats missing value count")
        ints = st.get(2)
        if ints is None:
            continue  # root struct / non-integer column
        if not isinstance(ints[0], bytes):
            raise ValueError("malformed ORC: intStatistics not message")
        ii = pb_fields(ints[0])
        mn = ii.get(1, [None])[0]
        mx = ii.get(2, [None])[0]
        sm = ii.get(3, [None])[0]
        if not all(isinstance(x, int) for x in (mn, mx, sm)):
            raise ValueError("malformed ORC: intStatistics incomplete")
        mn, mx, sm = _pb_zz(mn), _pb_zz(mx), _pb_zz(sm)
        if mn > mx:
            raise ValueError("malformed ORC: stat min > max")
        out.append({
            "col_id": ci, "n_values": nv,
            "stat_min": mn, "stat_max": mx, "stat_sum": sm,
        })
    if not out:
        raise ValueError("malformed ORC: no integer column statistics")
    return out


_OCS_COLS = "col_id col_name n_values stat_min stat_max stat_sum".split()

_OCS_ORACLE = f"""
    WITH base AS (SELECT doc_id // {_ORC_SHARD_DOCS} AS shard,
                         doc_id, length(text) AS tlen
                  FROM documents),
    a AS (SELECT shard, 1 AS col_id, 'doc_id' AS col_name,
                 COUNT(*) AS n, MIN(doc_id) AS mn, MAX(doc_id) AS mx,
                 SUM(doc_id) AS sm
          FROM base GROUP BY shard),
    b AS (SELECT shard, 2 AS col_id, 'tlen' AS col_name,
                 COUNT(*) AS n, MIN(tlen) AS mn, MAX(tlen) AS mx,
                 SUM(tlen) AS sm
          FROM base GROUP BY shard),
    u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(col_id AS BIGINT) AS col_id,
           col_name,
           CAST(n AS BIGINT) AS n_values,
           CAST(mn AS BIGINT) AS stat_min,
           CAST(mx AS BIGINT) AS stat_max,
           CAST(sm AS BIGINT) AS stat_sum
    FROM u
"""

_OCS_NAMES = {1: "doc_id", 2: "tlen"}


@register(
    "scan_orc_col_stats",
    _OCS_ORACLE,
    doc="ORC file-level column statistics decode: Footer field 7 "
    "ColumnStatistics per column id — numberOfValues + "
    "IntegerStatistics min/max/sum as zigzag sint64, through the "
    "snappy chunk de-framing — on SPARK-written ORC (independent "
    "writer), per-shard values hash-checked against the documents "
    "table they were written from (the ORC twin of "
    "scan_parquet_col_stats)",
)
def scan_orc_col_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC's zone maps, decoded from the bytes predicate pushdown
    actually reads. Unlike the parquet twin (whose fixture is
    pyarrow-written with formula stats), this one closes the loop on
    REAL Spark output: every min/max/sum must equal what the
    documents table says was written — a writer/decoder disagreement
    anywhere in the protobuf walk, zigzag, or chunk de-framing
    changes the hash. The SUM is the strong check: min/max survive
    many desyncs, an int64 sum over every row does not.

    Scale: footer bytes only — one tail ranged GET per file; per-file
    map over binaryFile, then a shard-keyed 2-row aggregate. No data
    streams touched.
    """
    schema = "shard long, " + ", ".join(
        f"{c} long" if c != "col_name" else "col_name string"
        for c in _OCS_COLS
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["shard", *_OCS_COLS]
        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                import re

                m = re.search(r"shard=(\d+)/", path)
                if not m:
                    raise ValueError("orc fixture: shard dir missing")
                shard = int(m.group(1))
                for st in decode_orc_col_stats(bytes(content)):
                    st["shard"] = shard
                    st["col_name"] = _OCS_NAMES.get(
                        st["col_id"], f"col{st['col_id']}"
                    )
                    rows.append(st)
            yield pd.DataFrame(rows, columns=cols)

    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.orc")
        .option("recursiveFileLookup", "true")
        .load(_scratch(sf_dir, "real_orc_tbl"))
    )
    per_file = bf.select("path", "content").mapInPandas(
        batches, schema=schema
    )
    # multiple files per shard dir fold exactly (sums add, min/max
    # nest) — robust to writer task-count changes
    return (
        per_file.groupBy("shard", "col_id", "col_name")
        .agg(
            F.sum("n_values").cast("long").alias("n_values"),
            F.min("stat_min").cast("long").alias("stat_min"),
            F.max("stat_max").cast("long").alias("stat_max"),
            F.sum("stat_sum").cast("long").alias("stat_sum"),
        )
        .select("shard", "col_id", "col_name", "n_values",
                "stat_min", "stat_max", "stat_sum")
    )
