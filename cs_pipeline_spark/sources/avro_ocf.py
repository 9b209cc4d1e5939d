"""Avro Object Container File decode — dependency-free block walker.

Avro OCF is what Kafka archival jobs and many CDC pipelines land on
disk — the row-oriented counterpart to parquet in almost every lake.
Spark ships avro support as a separate package, so a dependency-free
engine needs its own reader for triage: block framing, codec, row
counts, and typed decode of flat records. This module follows the
``sources/parquet_footer.py`` posture: the wire format is decoded
from bytes — magic ``Obj\\x01``, the metadata MAP (zigzag-varint
block counts, string pairs: ``avro.schema`` JSON + ``avro.codec``),
the 16-byte sync marker, then data blocks of (row count, byte size,
payload, sync) with the sync REQUIRED to match the header's after
every block (framing validation — a wrong block size desyncs loudly).

Typed decode: the schema JSON is parsed (stdlib json) and flat
records of ``long`` / ``string`` / ``double`` fields decode row by
row — zigzag varints, length-prefixed UTF-8, 8-byte LE doubles.
``null`` and ``deflate`` codecs supported (stdlib zlib, raw window).

Malformed input raises ValueError only (the crawl contract, pinned by
tests/test_parser_fuzz.py).

Scale: per-file mapInPandas over a binaryFile scan; blocks decode
sequentially within a file and files fan out across executors — the
same shape every Avro splittable-input reader uses (sync markers are
exactly what makes OCF block-splittable at 100 TB).
"""

from __future__ import annotations

import json
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_AVRO = 4
_ROWS_PER_BLOCK = 64

_SCHEMA = json.dumps({
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "v", "type": "string"},
        {"name": "x", "type": "double"},
    ],
})


def _avro_meta(i: int) -> dict:
    n = 300 + 77 * i
    return {
        "n_rows": n,
        "n_blocks": (n + _ROWS_PER_BLOCK - 1) // _ROWS_PER_BLOCK,
        "deflate": i % 2 == 1,
    }


def _row_vals(i: int, r: int) -> tuple[int, str, float]:
    return (r * 3 + i, f"val{r % 100}", float((r * 7 + i) % 1000) / 8.0)


# ---------- writer ----------


def _zz(v: int) -> bytes:
    """zigzag + ULEB128 varint encode."""
    u = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _avro_string(s: str) -> bytes:
    b = s.encode()
    return _zz(len(b)) + b


def _sync(i: int) -> bytes:
    return bytes((i * 31 + k * 7) % 256 for k in range(16))


def encode_avro_ocf(i: int) -> bytes:
    m = _avro_meta(i)
    out = bytearray(b"Obj\x01")
    # metadata map: one block of 2 entries, then empty terminator
    out += _zz(2)
    out += _avro_string("avro.schema") + _avro_string(_SCHEMA)
    out += _avro_string("avro.codec") + _avro_string(
        "deflate" if m["deflate"] else "null"
    )
    out += _zz(0)
    out += _sync(i)
    for b0 in range(0, m["n_rows"], _ROWS_PER_BLOCK):
        rows = bytearray()
        for r in range(b0, min(b0 + _ROWS_PER_BLOCK, m["n_rows"])):
            rid, v, x = _row_vals(i, r)
            rows += _zz(rid) + _avro_string(v) + struct.pack("<d", x)
        data = bytes(rows)
        if m["deflate"]:
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = co.compress(data) + co.flush()
        out += _zz(min(_ROWS_PER_BLOCK, m["n_rows"] - b0))
        out += _zz(len(data)) + data + _sync(i)
    return bytes(out)


# ---------- parser ----------


class _AR:
    def __init__(self, buf: bytes, pos: int = 0) -> None:
        self.b = buf
        self.p = pos

    def u8(self) -> int:
        if self.p >= len(self.b):
            raise ValueError("truncated avro: varint underrun")
        v = self.b[self.p]
        self.p += 1
        return v

    def long(self) -> int:
        u = 0
        shift = 0
        for _ in range(10):
            b = self.u8()
            u |= (b & 0x7F) << shift
            if not b & 0x80:
                return (u >> 1) ^ -(u & 1)
            shift += 7
        raise ValueError("malformed avro: varint too long")

    def bytes_(self) -> bytes:
        ln = self.long()
        if ln < 0 or self.p + ln > len(self.b):
            raise ValueError("truncated avro: bytes overrun")
        s = self.b[self.p : self.p + ln]
        self.p += ln
        return s

    def double(self) -> float:
        if self.p + 8 > len(self.b):
            raise ValueError("truncated avro: double underrun")
        v = struct.unpack("<d", self.b[self.p : self.p + 8])[0]
        self.p += 8
        return v


def _read_ocf_header(payload: bytes):
    """Magic + metadata map + schema + sync walk shared by the census
    and row decoders → (reader, field_names, field_types, codec,
    sync). ValueError-only."""
    if payload[:4] != b"Obj\x01":
        raise ValueError("not an avro OCF: bad magic")
    r = _AR(payload, 4)
    meta: dict[bytes, bytes] = {}
    while True:
        count = r.long()
        if count == 0:
            break
        if count < 0:  # spec: negative count is followed by byte size
            count = -count
            r.long()
        if count > 1_000_000:
            raise ValueError("malformed avro: metadata map too large")
        for _ in range(count):
            # NB: assignment targets evaluate RIGHT side first in
            # python — read key and value in explicit order
            k = bytes(r.bytes_())
            meta[k] = r.bytes_()
    codec = meta.get(b"avro.codec", b"null")
    if codec not in (b"null", b"deflate"):
        raise ValueError(f"unsupported avro codec: {codec!r}")
    try:
        schema = json.loads(meta.get(b"avro.schema", b""))
    except json.JSONDecodeError as e:
        raise ValueError(f"malformed avro: schema not JSON: {e}")
    if not isinstance(schema, dict) or schema.get("type") != "record":
        raise ValueError("unsupported avro: flat record schemas only")
    ftypes = []
    fnames = []
    for f in schema.get("fields", []):
        t = f.get("type")
        if t not in ("long", "string", "double", "int"):
            raise ValueError(f"unsupported avro field type: {t}")
        ftypes.append(t)
        fnames.append(str(f.get("name", f"f{len(fnames)}")))
    if not ftypes:
        raise ValueError("malformed avro: record has no fields")
    if r.p + 16 > len(payload):
        raise ValueError("truncated avro: missing header sync")
    sync = payload[r.p : r.p + 16]
    r.p += 16
    return r, fnames, ftypes, codec, sync


def _iter_ocf_blocks(r: _AR, payload: bytes, codec: bytes, sync: bytes):
    """Yield (row_count, decompressed_block_bytes) validating the sync
    marker after EVERY block. ValueError-only."""
    while r.p < len(payload):
        count = r.long()
        size = r.long()
        if count <= 0 or size < 0 or r.p + size + 16 > len(payload):
            raise ValueError("truncated avro: block overruns file")
        data = payload[r.p : r.p + size]
        r.p += size
        if payload[r.p : r.p + 16] != sync:
            raise ValueError("malformed avro: sync marker mismatch")
        r.p += 16
        if codec == b"deflate":
            try:
                data = zlib.decompress(data, wbits=-15)
            except zlib.error as e:
                raise ValueError(f"malformed avro: bad deflate block: {e}")
        yield count, data


def decode_avro_flat(payload: bytes) -> tuple[list[str], list[tuple]]:
    """Row-level decode of a flat-record OCF → (field_names, rows).
    The Iceberg manifest reader is built on this: manifests and
    manifest lists ARE Avro OCF, and the snapshot replay needs the
    actual entries, not a census. ValueError-only."""
    r, fnames, ftypes, codec, sync = _read_ocf_header(payload)
    rows: list[tuple] = []
    n_blocks = 0
    for count, data in _iter_ocf_blocks(r, payload, codec, sync):
        br = _AR(data)
        for _ in range(count):
            vals = []
            for t in ftypes:
                if t in ("long", "int"):
                    vals.append(br.long())
                elif t == "string":
                    vals.append(br.bytes_().decode("utf-8", "replace"))
                else:
                    vals.append(br.double())
            rows.append(tuple(vals))
        if br.p != len(data):
            raise ValueError("malformed avro: block has trailing bytes")
        n_blocks += 1
    if n_blocks == 0:
        raise ValueError("malformed avro: no data blocks")
    return fnames, rows


def decode_avro_ocf(payload: bytes) -> dict:
    """Header map + sync + block walk + typed flat-record decode →
    per-file census. ValueError-only."""
    r, _fnames, ftypes, codec, sync = _read_ocf_header(payload)
    n_blocks = n_rows = id_sum = v_chars = 0
    qx_sum = 0  # Σ floor(x·8) — fixture doubles are exact eighths
    for count, data in _iter_ocf_blocks(r, payload, codec, sync):
        br = _AR(data)
        for _ in range(count):
            for t in ftypes:
                if t in ("long", "int"):
                    val = br.long()
                    id_sum += val
                elif t == "string":
                    v_chars += len(br.bytes_())
                else:
                    qx_sum += int(br.double() * 8)
        if br.p != len(data):
            raise ValueError("malformed avro: block has trailing bytes")
        n_blocks += 1
        n_rows += count
    if n_blocks == 0:
        raise ValueError("malformed avro: no data blocks")
    return {
        "n_blocks": n_blocks,
        "n_rows": n_rows,
        "n_fields": len(ftypes),
        "id_sum": id_sum,
        "v_chars": v_chars,
        "qx_sum": qx_sum,
        "deflate": 1 if codec == b"deflate" else 0,
    }


# ---------- fixtures + registered op ----------


@_fixture
def _fx_avro_ocf(spark: SparkSession, sf_dir: str) -> None:
    names = [f"part-{i:03d}.avro" for i in range(_N_AVRO)]
    write_files(_scratch(sf_dir, "real_avro_ocf"), names, encode_avro_ocf)


_A_COLS = "n_blocks n_rows n_fields id_sum v_chars qx_sum deflate".split()

_AVRO_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_AVRO})) AS i),
    m AS (SELECT i, 300 + 77 * i AS n FROM files),
    rows_ AS (SELECT i, n, unnest(range(0, n)) AS r FROM m),
    v AS (SELECT i, n, r,
                 r * 3 + i AS id,
                 length(printf('val%d', CAST(r % 100 AS INT))) AS vc,
                 (r * 7 + i) % 1000 AS qx
          FROM rows_)
    SELECT printf('part-%03d.avro', CAST(i AS INT)) AS fname,
           CAST((MAX(n) + {_ROWS_PER_BLOCK - 1}) // {_ROWS_PER_BLOCK}
                AS BIGINT) AS n_blocks,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(3 AS BIGINT) AS n_fields,
           CAST(SUM(id) AS BIGINT) AS id_sum,
           CAST(SUM(vc) AS BIGINT) AS v_chars,
           CAST(SUM(qx) AS BIGINT) AS qx_sum,
           CAST(MAX(i) % 2 AS BIGINT) AS deflate
    FROM v GROUP BY i
"""


@register(
    "scan_avro_blocks",
    _AVRO_ORACLE,
    doc="Avro OCF decode from raw bytes: Obj magic, zigzag-varint "
    "metadata map (schema JSON + codec), 16-byte sync validated "
    "after EVERY block, typed flat-record decode (long/string/"
    "double) under null and deflate codecs — per-file block/row/"
    "value census hash-checked against the fixture formula",
)
def scan_avro_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The row-format twin of ``scan_parquet_footer``: Kafka archive
    and CDC landing zones are Avro, and triage (block framing, row
    counts, codec mix, value sums) is the first pass before any
    conversion job. The per-block sync check is the real contract —
    it is what makes OCF splittable, and a writer that miscounts a
    block's byte size fails the very next sync compare instead of
    silently desyncing the rest of the file. Doubles in the fixture
    are exact eighths, so the value checksum stays integer-exact
    (Σ x·8) with no float aggregation in the hash path.

    Scale: see module docstring — per-file map work; at 100 TB the
    sync markers allow block-level splits WITHIN large files, the
    standard Avro input-format behavior this decode mirrors.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _A_COLS)

    return decode_files(
        spark, _scratch(sf_dir, "real_avro_ocf"), "*.avro",
        lambda b: [decode_avro_ocf(b)], schema,
    )


# ---------- sink: pack documents into REAL Avro OCF shards ----------

_SINK_SCHEMA = json.dumps({
    "type": "record",
    "name": "doc",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "v", "type": "string"},
    ],
})

_AVRO_SHARD_DOCS = 100


def encode_avro_rows(rows: list[tuple[int, str]], sync_seed: int,
                     deflate: bool) -> bytes:
    """One OCF file from (id, text) rows — the write path the block
    decoder verifies. Deterministic sync from the shard id."""
    out = bytearray(b"Obj\x01")
    out += _zz(2)
    out += _avro_string("avro.schema") + _avro_string(_SINK_SCHEMA)
    out += _avro_string("avro.codec") + _avro_string(
        "deflate" if deflate else "null"
    )
    out += _zz(0)
    sync = _sync(sync_seed)
    out += sync
    for b0 in range(0, len(rows), _ROWS_PER_BLOCK):
        blk = bytearray()
        chunk = rows[b0 : b0 + _ROWS_PER_BLOCK]
        for rid, v in chunk:
            blk += _zz(rid) + _avro_string(v)
        data = bytes(blk)
        if deflate:
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = co.compress(data) + co.flush()
        out += _zz(len(chunk)) + _zz(len(data)) + data + sync
    return bytes(out)


@register(
    "sink_avro_roundtrip",
    f"""
    WITH norm AS (
      SELECT doc_id, doc_id // {_AVRO_SHARD_DOCS} AS shard,
             -- UTF-8 BYTES, not characters: the decoder counts the
             -- raw avro string length (octets), so the oracle must
             -- too or any non-ASCII doc text diverges
             octet_length(encode(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
               AS nb
      FROM documents)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST((COUNT(*) + {_ROWS_PER_BLOCK - 1}) // {_ROWS_PER_BLOCK}
                AS BIGINT) AS n_blocks,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(nb) AS BIGINT) AS v_chars,
           CAST(shard % 2 AS BIGINT) AS deflate
    FROM norm GROUP BY shard
    """,
    doc="Avro SINK: documents packed into REAL OCF shards (one .avro "
    "per 100-doc group, alternating null/deflate codecs, written "
    "distributed via applyInPandas), then decoded BACK with the "
    "sync-validating block walker — the write/read interop check for "
    "the row format, census hash-checked against the documents table",
)
def sink_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka-archival WRITE path: each 100-doc group becomes one
    real OCF written by an executor (atomic tmp+rename, idempotent),
    alternating codecs so both the stored and deflate paths exercise
    the writer, then the registered block decoder re-reads every
    shard — block counts, row counts, id sums, and byte masses must
    reproduce the documents table exactly. A writer that miscounts a
    block's byte size fails the decoder's sync compare loudly.
    ``v_chars`` is UTF-8 BYTES (what an avro string length prefixes),
    matched in the oracle via octet_length(encode(...)) so non-ASCII
    corpora stay byte-exact (ADVICE r9).

    Scale: one shuffle on the shard key, then per-shard sequential
    writes — the production landing-zone shape; the verify read is
    per-file map work. Shard size is the knob (100 docs here, ~128 MB
    in production).
    """
    import os

    from cs_pipeline_spark.operators.dedup import _NORM
    from cs_pipeline_spark.tables import load
    from pyspark.sql import functions as F

    out_dir = _scratch(sf_dir, "avro_out")
    docs = load(spark, "documents", sf_dir).select(
        "doc_id",
        F.expr(_NORM).alias("s"),
        F.expr(f"doc_id div {_AVRO_SHARD_DOCS}").alias("shard"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        pdf = pdf.sort_values("doc_id")
        rows = [
            (int(r["doc_id"]), str(r["s"])) for _, r in pdf.iterrows()
        ]
        write_files(
            out_dir, [f"docs-{shard:05d}.avro"],
            lambda _: encode_avro_rows(rows, shard, shard % 2 == 1),
        )
        return pd.DataFrame({"shard": [shard], "n": [len(rows)]})

    os.makedirs(out_dir, exist_ok=True)
    docs.groupBy("shard").applyInPandas(
        pack, schema="shard long, n long"
    ).count()

    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "docs-*.avro")
        .load(out_dir)
    )

    def census(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["shard", "n_blocks", "n_rows", "id_sum", "v_chars",
                "deflate"]
        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                shard = int(path.rsplit("docs-", 1)[-1].split(".")[0])
                m = decode_avro_ocf(bytes(content))
                rows.append({
                    "shard": shard,
                    "n_blocks": m["n_blocks"],
                    "n_rows": m["n_rows"],
                    "id_sum": m["id_sum"],
                    "v_chars": m["v_chars"],
                    "deflate": m["deflate"],
                })
            yield pd.DataFrame(rows, columns=cols)

    return back.select("path", "content").mapInPandas(
        census,
        schema="shard long, n_blocks long, n_rows long, id_sum long, "
        "v_chars long, deflate long",
    )


# ====================================================================
# Schema RESOLUTION (evolution) — the Avro spec rules every long-lived
# ingest hits: fields match by NAME not position, writer fields the
# reader dropped are skipped, reader fields the writer predates take
# the reader DEFAULT, and int promotes to long. The fixture has three
# writer generations (v1: int id + string; v2: +score, id widened;
# v3: fields REORDERED + tag added) all resolved against one reader
# schema — the "read the whole lake with today's schema" operation.
# ====================================================================

_EVO_READER = [
    ("id", "long", None),
    ("v", "string", None),
    ("score", "double", 0.25),   # exact binary fraction
    ("tag", "string", "none"),
]


def _evo_writer_fields(g: int) -> list[tuple[str, str]]:
    if g == 0:
        return [("id", "int"), ("v", "string")]
    if g == 1:
        return [("id", "long"), ("v", "string"), ("score", "double")]
    # v3: reordered + extra field the reader keeps
    return [("score", "double"), ("id", "long"), ("v", "string"),
            ("tag", "string")]


def _evo_n(g: int) -> int:
    return 120 + 30 * g


def _evo_row(g: int, r: int) -> dict:
    row = {"id": 5 * r + g, "v": f"w{r % 20}"}
    if g >= 1:
        row["score"] = (r % 40) / 4.0  # exact quarters
    if g >= 2:
        row["tag"] = f"t{r % 5}"
    return row


def encode_avro_evolved(g: int) -> bytes:
    """One OCF written under generation g's writer schema."""
    fields = _evo_writer_fields(g % 3)
    schema = json.dumps({
        "type": "record",
        "name": "d",
        "fields": [{"name": n, "type": t} for n, t in fields],
    })
    out = bytearray(b"Obj\x01")
    out += _zz(2)
    out += _avro_string("avro.schema") + _avro_string(schema)
    out += _avro_string("avro.codec") + _avro_string("null")
    out += _zz(0)
    sync = _sync(50 + g)
    out += sync
    blk = bytearray()
    n = _evo_n(g % 3)
    for r in range(n):
        row = _evo_row(g % 3, r)
        for fname, t in fields:
            v = row[fname]
            if t in ("int", "long"):
                blk += _zz(int(v))
            elif t == "string":
                blk += _avro_string(str(v))
            else:
                blk += struct.pack("<d", float(v))
    out += _zz(n) + _zz(len(blk)) + bytes(blk) + sync
    return bytes(out)


@_fixture
def _fx_avro_evolved(spark: SparkSession, sf_dir: str) -> None:
    names = [f"gen-{g}.avro" for g in range(3)]
    write_files(_scratch(sf_dir, "real_avro_evo"), names, encode_avro_evolved)


def resolve_avro_evolved(payload: bytes) -> dict:
    """Decode under the WRITER schema, resolve to the reader schema
    by name (defaults for missing fields, int→long promotion), and
    return the per-file census. ValueError-only."""
    fnames, rows = decode_avro_flat(payload)
    name_to_i = {n: i for i, n in enumerate(fnames)}
    n_rows = 0
    id_sum = 0
    score_q_sum = 0
    tag_none = 0
    defaulted_score = 0
    for row in rows:
        n_rows += 1
        resolved = {}
        for rname, _rt, dflt in _EVO_READER:
            wi = name_to_i.get(rname)
            if wi is None:
                resolved[rname] = dflt
            else:
                resolved[rname] = row[wi]
        if resolved["id"] is None:
            raise ValueError("avro resolution: id unresolvable")
        id_sum += int(resolved["id"])
        sq = resolved["score"] * 4.0
        if sq != int(sq):
            raise ValueError("avro resolution: score not a quarter")
        score_q_sum += int(sq)
        if "score" not in name_to_i:
            defaulted_score += 1
        if resolved["tag"] == "none":
            tag_none += 1
    return {
        "n_rows": n_rows,
        "id_sum": id_sum,
        "score_q_sum": score_q_sum,
        "tag_none_rows": tag_none,
        "defaulted_score_rows": defaulted_score,
        "resolved_fields": len(_EVO_READER),
    }


_EVO_COLS = (
    "n_rows id_sum score_q_sum tag_none_rows defaulted_score_rows "
    "resolved_fields".split()
)

_EVO_ORACLE = """
    WITH g AS (SELECT unnest(range(0, 3)) AS g),
    rows_ AS (SELECT g, unnest(range(0, 120 + 30 * g)) AS r FROM g)
    SELECT printf('gen-%d.avro', CAST(g AS INT)) AS fname,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(5 * r + g) AS BIGINT) AS id_sum,
           CAST(SUM(CASE WHEN g >= 1 THEN r % 40 ELSE 1 END)
                AS BIGINT) AS score_q_sum,
           CAST(SUM(CASE WHEN g >= 2 THEN 0 ELSE 1 END)
                AS BIGINT) AS tag_none_rows,
           CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS defaulted_score_rows,
           CAST(4 AS BIGINT) AS resolved_fields
    FROM rows_ GROUP BY g
"""


@register(
    "scan_avro_evolved",
    _EVO_ORACLE,
    doc="Avro schema RESOLUTION across three writer generations "
    "(field added with reader default, int id widened to long, "
    "fields reordered): name-based matching per the Avro spec, "
    "defaults for pre-evolution files, promotion on decode — "
    "per-file census of resolved values (id sum, quarter-quantized "
    "score sum incl. defaults, default-tag rows), hash-checked "
    "against the generation formulas",
)
def scan_avro_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a long-lived lake actually contains: files written under
    LAST YEAR'S schema, readable only because resolution is by name.
    The reorder generation (v3 leads with score) is the hash's teeth:
    positional decode would put doubles where longs belong and the
    id/score sums explode; the v1 generation pins default injection
    (score_q_sum counts 0.25 defaults as exactly 1 per row).

    Scale: per-file map over binaryFile, no shuffle; resolution is a
    per-file dict lookup — at 100 TB this is why readers never
    rewrite old files on schema change.
    """
    schema = "fname string, " + ", ".join(
        f"{c} long" for c in _EVO_COLS
    )

    return decode_files(
        spark, _scratch(sf_dir, "real_avro_evo"), "*.avro",
        lambda b: [resolve_avro_evolved(b)], schema,
    )
