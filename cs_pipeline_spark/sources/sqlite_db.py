"""SQLite database-file decode — dependency-free b-tree page walk.

SQLite files are the most widely deployed database format on earth:
app exports, telemetry bundles, ML-dataset manifests (e.g. WebDataset
indexes), and browser/history dumps all land in crawls as ``.db``
files. Spark has no reader for them; triage needs one that does not
round-trip through a driver-side sqlite3 connection (that would
serialize the cluster through one process). This module decodes the
PUBLIC file format from bytes, per the "Database File Format" spec:

- 100-byte header (magic, page size, reserved bytes, text encoding),
- table b-trees: interior pages (0x05, child pointers + right-most
  pointer) and leaf pages (0x0D, cell pointer array → [payload-len
  varint, rowid varint, record]),
- SQLite varints (7-bit big-endian, 9th byte carries 8 bits — the
  opposite bit order of Avro's zigzag LEB128),
- the record format: header-length varint, serial-type varints, then
  values — NULL(0), 1/2/3/4/6/8-byte big-endian signed ints (1-6),
  float64(7), the constant 0 and 1 types (8/9), blob(even ≥ 12),
  text(odd ≥ 13),
- ``sqlite_master`` on page 1 is itself a table b-tree; the walk
  reads it first to resolve each user table's root page — exactly
  how SQLite itself bootstraps.

INTEGER PRIMARY KEY columns are rowid aliases (stored as NULL in the
record, value taken from the cell's rowid varint) — the decoder
honors that. Overflow payloads, WITHOUT ROWID tables, non-UTF8
encodings, and index pages raise ValueError("unsupported ...").

The fixture is written by the REFERENCE writer (stdlib sqlite3) at
``PRAGMA page_size=1024`` with enough rows that the docs b-tree has
interior levels — the recursive walk is exercised, not just a single
leaf. Value census hash-checked against the fixture formula; page
COUNT is allocation-dependent (not formula-derivable) and is pinned
by pytest instead.

Malformed input raises ValueError only (the crawl contract, pinned
by tests/test_parser_fuzz.py).

Scale: per-file mapInPandas over a binaryFile scan — a .db file is
one serial b-tree walk (pages reference pages; no sync markers),
files fan out across executors. At 100 TB the right move is exactly
this: decode each SQLite artifact where it lands, emit columnar rows,
and never ship .db files to a coordinator.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_SQLITE = 4
_PAGE_SIZE = 1024


def _n_rows(i: int) -> int:
    return 500 + 170 * i


def _doc_vals(i: int, r: int):
    rid = r * 2 + i
    v = f"doc{r % 29}"
    x = ((r * 19 + i) % 640) / 8.0
    b = bytes((r + j + i) % 256 for j in range(r % 7))
    flag = None if r % 5 == 3 else (r % 2)
    # rows past r ≈ 469 exceed 2^47 → serial type 6 (8-byte); below
    # stay type 5 (6-byte): both int widths occur in every file
    big = r * 300_000_000_000 + i
    return rid, v, x, b, flag, big


_N_META = 3


# ---------- varint + record ----------


def _varint(b: bytes, p: int) -> tuple[int, int]:
    """SQLite varint: 7 bits per byte BIG-endian, at most 9 bytes,
    the 9th contributing a full 8 bits."""
    v = 0
    for _ in range(8):
        if p >= len(b):
            raise ValueError("truncated sqlite: varint underrun")
        c = b[p]
        p += 1
        v = (v << 7) | (c & 0x7F)
        if not c & 0x80:
            return v, p
    if p >= len(b):
        raise ValueError("truncated sqlite: varint underrun")
    return (v << 8) | b[p], p + 1


_INT_BYTES = {1: 1, 2: 2, 3: 3, 4: 4, 5: 6, 6: 8}


def _record(payload: bytes) -> list:
    """Record format → python values; every byte accounted for."""
    hlen, p = _varint(payload, 0)
    if hlen > len(payload):
        raise ValueError("malformed sqlite: record header overrun")
    stypes: list[int] = []
    while p < hlen:
        st, p = _varint(payload, p)
        stypes.append(st)
    if p != hlen:
        raise ValueError("malformed sqlite: record header misaligned")
    vals: list = []
    for st in stypes:
        if st == 0:
            vals.append(None)
        elif st in _INT_BYTES:
            nb = _INT_BYTES[st]
            raw = payload[p : p + nb]
            if len(raw) < nb:
                raise ValueError("truncated sqlite: int value")
            vals.append(int.from_bytes(raw, "big", signed=True))
            p += nb
        elif st == 7:
            if p + 8 > len(payload):
                raise ValueError("truncated sqlite: float value")
            vals.append(struct.unpack_from(">d", payload, p)[0])
            p += 8
        elif st == 8:
            vals.append(0)
        elif st == 9:
            vals.append(1)
        elif st >= 12 and st % 2 == 0:
            ln = (st - 12) // 2
            vals.append(bytes(payload[p : p + ln]))
            p += ln
        elif st >= 13:
            ln = (st - 13) // 2
            vals.append(payload[p : p + ln].decode("utf-8", "replace"))
            p += ln
        else:
            raise ValueError(f"unsupported sqlite serial type {st}")
    if p != len(payload):
        raise ValueError("malformed sqlite: record trailing bytes")
    return vals


# ---------- b-tree walk ----------


class _SQLiteFile:
    def __init__(self, data: bytes) -> None:
        if len(data) < 100 or data[:16] != b"SQLite format 3\x00":
            raise ValueError("not sqlite: bad magic")
        ps = struct.unpack_from(">H", data, 16)[0]
        self.page_size = 65536 if ps == 1 else ps
        if self.page_size < 512 or self.page_size & (self.page_size - 1):
            raise ValueError("malformed sqlite: bad page size")
        self.reserved = data[20]
        self.usable = self.page_size - self.reserved
        self.n_pages = struct.unpack_from(">I", data, 28)[0]
        if self.n_pages * self.page_size > len(data):
            raise ValueError("truncated sqlite: page count overruns file")
        if struct.unpack_from(">I", data, 56)[0] != 1:
            raise ValueError("unsupported sqlite: non-UTF8 encoding")
        self.data = data

    def _page(self, no: int) -> bytes:
        if no < 1 or no > self.n_pages:
            raise ValueError("malformed sqlite: page out of range")
        off = (no - 1) * self.page_size
        pg = self.data[off : off + self.page_size]
        if len(pg) < self.page_size:
            raise ValueError("truncated sqlite: short page")
        return pg

    def walk_table(self, rootpage: int,
                   depth: int = 0) -> Iterator[tuple[int, bytes]]:
        """Yield (rowid, record payload) left-to-right from a table
        b-tree — interior 0x05 pages recurse, leaf 0x0D pages emit."""
        if depth > 32:
            raise ValueError("malformed sqlite: b-tree too deep")
        pg = self._page(rootpage)
        hoff = 100 if rootpage == 1 else 0  # page 1 carries the header
        ptype = pg[hoff]
        ncells = struct.unpack_from(">H", pg, hoff + 3)[0]
        if ncells > self.page_size // 2:
            raise ValueError("malformed sqlite: cell count too large")
        if ptype == 0x0D:  # leaf table
            cp0 = hoff + 8
            for c in range(ncells):
                coff = struct.unpack_from(">H", pg, cp0 + 2 * c)[0]
                plen, p = _varint(pg, coff)
                rowid, p = _varint(pg, p)
                if plen > self.usable - 35:
                    raise ValueError(
                        "unsupported sqlite: overflow payload"
                    )
                payload = pg[p : p + plen]
                if len(payload) < plen:
                    raise ValueError("truncated sqlite: cell payload")
                yield rowid, payload
        elif ptype == 0x05:  # interior table
            cp0 = hoff + 12
            right = struct.unpack_from(">I", pg, hoff + 8)[0]
            for c in range(ncells):
                coff = struct.unpack_from(">H", pg, cp0 + 2 * c)[0]
                if coff + 4 > len(pg):
                    raise ValueError("truncated sqlite: interior cell")
                child = struct.unpack_from(">I", pg, coff)[0]
                yield from self.walk_table(child, depth + 1)
            yield from self.walk_table(right, depth + 1)
        else:
            raise ValueError(
                f"unsupported sqlite page type 0x{ptype:02x}"
            )


def decode_sqlite_db(data: bytes) -> dict:
    """sqlite_master bootstrap → per-table b-tree walks → census.
    ValueError-only."""
    db = _SQLiteFile(data)
    stats = {"page_size": db.page_size, "n_pages": db.n_pages,
             "n_tables": 0, "n_rows": 0, "id_sum": 0, "s_chars": 0,
             "qx_sum": 0, "blob_bytes": 0, "n_flag_null": 0,
             "flag_sum": 0, "big_sum": 0, "meta_val_sum": 0}
    tables: dict[str, int] = {}
    for _rowid, payload in db.walk_table(1):
        vals = _record(payload)
        if len(vals) != 5:
            raise ValueError("malformed sqlite: sqlite_master arity")
        typ, name, _tbl, root, _sql = vals
        if typ == "table":
            if not isinstance(root, int):
                raise ValueError("malformed sqlite: non-int root page")
            stats["n_tables"] += 1
            tables[str(name)] = root
    if "docs" not in tables:
        raise ValueError("malformed sqlite: no docs table")
    for rowid, payload in db.walk_table(tables["docs"]):
        vals = _record(payload)
        if len(vals) != 6:
            raise ValueError("malformed sqlite: docs arity")
        vid, v, x, b, flag, big = vals
        rid = rowid if vid is None else vid  # IPK = rowid alias
        if not isinstance(rid, int) or not isinstance(v, str) \
                or not isinstance(b, bytes) or not isinstance(big, int) \
                or not isinstance(x, (int, float)) \
                or not isinstance(flag, (int, type(None))):
            raise ValueError("malformed sqlite: docs column types")
        if isinstance(x, float) and (x != x or abs(x) > 2.0**60):
            raise ValueError("malformed sqlite: x out of census range")
        stats["n_rows"] += 1
        stats["id_sum"] += rid
        stats["s_chars"] += len(v)
        stats["qx_sum"] += int(x * 8)  # exact eighths in the fixture
        stats["blob_bytes"] += len(b)
        if flag is None:
            stats["n_flag_null"] += 1
        elif isinstance(flag, int):
            stats["flag_sum"] += flag
        stats["big_sum"] += big
    if "meta" in tables:
        for _rowid, payload in db.walk_table(tables["meta"]):
            vals = _record(payload)
            if len(vals) != 2 or not isinstance(vals[1], int):
                raise ValueError("malformed sqlite: meta arity")
            stats["meta_val_sum"] += vals[1]
    return stats


# ---------- fixture + registered op ----------


def encode_sqlite_db(i: int) -> bytes:
    """One fixture file via the REFERENCE writer (stdlib sqlite3):
    1024-byte pages so the docs b-tree grows interior levels."""
    import os
    import sqlite3
    import tempfile

    fd, path = tempfile.mkstemp(suffix=".db")
    os.close(fd)
    os.unlink(path)
    try:
        con = sqlite3.connect(path)
        con.execute(f"PRAGMA page_size={_PAGE_SIZE}")
        con.execute("PRAGMA journal_mode=MEMORY")
        con.execute(
            "CREATE TABLE docs (id INTEGER PRIMARY KEY, v TEXT, "
            "x REAL, b BLOB, flag INTEGER, big INTEGER)"
        )
        con.execute("CREATE TABLE meta (k TEXT, val INTEGER)")
        for r in range(_n_rows(i)):
            con.execute("INSERT INTO docs VALUES (?,?,?,?,?,?)",
                        _doc_vals(i, r))
        for k in range(_N_META):
            con.execute("INSERT INTO meta VALUES (?,?)",
                        (f"m{k}", k * 7 + i))
        con.commit()
        con.close()
        with open(path, "rb") as fh:
            return fh.read()
    finally:
        if os.path.exists(path):
            os.unlink(path)


@_fixture
def _fx_sqlite_db(spark: SparkSession, sf_dir: str) -> None:
    names = [f"part-{i:03d}.db" for i in range(_N_SQLITE)]
    write_files(_scratch(sf_dir, "real_sqlite_db"), names, encode_sqlite_db)


_SQ_COLS = ("page_size n_tables n_rows id_sum s_chars qx_sum "
            "blob_bytes n_flag_null flag_sum big_sum "
            "meta_val_sum").split()

_SQLITE_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_SQLITE})) AS i),
    m AS (SELECT i, 500 + 170 * i AS n FROM files),
    rows_ AS (SELECT i, n, unnest(range(0, n)) AS r FROM m),
    v AS (SELECT i, r,
      r * 2 + i AS id,
      length(printf('doc%d', CAST(r % 29 AS INT))) AS sc,
      (r * 19 + i) % 640 AS qx,
      r % 7 AS blob_n,
      CASE WHEN r % 5 = 3 THEN NULL ELSE r % 2 END AS flag,
      r * 300000000000 + i AS big
     FROM rows_),
    meta AS (SELECT i, SUM(k * 7 + i) AS mv
             FROM files, (SELECT unnest(range(0, {_N_META})) AS k)
             GROUP BY i)
    SELECT printf('part-%03d.db', CAST(v.i AS INT)) AS fname,
      CAST({_PAGE_SIZE} AS BIGINT) AS page_size,
      CAST(2 AS BIGINT) AS n_tables,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(id) AS BIGINT) AS id_sum,
      CAST(SUM(sc) AS BIGINT) AS s_chars,
      CAST(SUM(qx) AS BIGINT) AS qx_sum,
      CAST(SUM(blob_n) AS BIGINT) AS blob_bytes,
      CAST(SUM(CASE WHEN flag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_flag_null,
      CAST(SUM(COALESCE(flag, 0)) AS BIGINT) AS flag_sum,
      CAST(SUM(big) AS BIGINT) AS big_sum,
      CAST(MAX(mv) AS BIGINT) AS meta_val_sum
    FROM v JOIN meta ON v.i = meta.i GROUP BY v.i
"""


@register(
    "scan_sqlite_db",
    _SQLITE_ORACLE,
    doc="SQLite database-file decode from raw bytes: header, "
    "sqlite_master bootstrap, recursive table b-tree walk (interior "
    "0x05 + leaf 0x0D pages), SQLite varints, full record serial-"
    "type decode (NULL, 1-8-byte ints, float64, const 0/1, blob, "
    "text), INTEGER-PRIMARY-KEY rowid aliasing — value census over "
    "two tables hash-checked against the fixture formula",
)
def scan_sqlite_db(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most-deployed database format, read without a database:
    app exports and telemetry bundles arrive as .db files, and the
    triage census (tables, rows, typed value sums) must run where
    the bytes land. Rows deliberately exercise every serial-type
    family — the ``big`` column crosses the 6-byte/8-byte int line,
    ``flag`` hits the constant-0/1 types and NULL, ``x`` is float64
    in exact eighths (Σ 8·x integer) — and the 1024-byte page size
    forces interior b-tree levels, so the recursive walk (not just a
    single leaf page) is what the hash gate certifies.

    Scale: see module docstring — per-file map work; .db files are
    not internally splittable (pages point at pages), so parallelism
    is across files, never within one.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _SQ_COLS)

    return decode_files(
        spark, _scratch(sf_dir, "real_sqlite_db"), "*.db",
        lambda b: [decode_sqlite_db(b)], schema,
    )
