"""Parquet PAGE INDEX decode — ColumnIndex + OffsetIndex, byte-level.

The page index (parquet-format PageIndex.md) is the modern scan
accelerator: per-PAGE min/max/null_count (ColumnIndex) plus per-page
file offsets and first-row indices (OffsetIndex), stored after the
row groups and pointed at by ColumnChunk fields 6/7 and 4/5. A reader
uses it to skip PAGES inside a row group the zone-map row-group stats
(scan_parquet_col_stats) cannot prune — the difference between
reading 100 MB and 4 KB on a selective point lookup.

This module decodes both structures from raw bytes with the repo's
thrift-compact reader (sources/parquet_footer.py `_TC`) on files
written by pyarrow with ``write_page_index=True`` — an independent
writer, so the hash check cannot self-cancel. Page geometry is pinned
by construction: ``write_batch_size=100`` + ``data_page_size=1``
flushes a page every 100 values, so every page boundary, per-page
min/max, and per-page null count is stated by formula and the DuckDB
oracle recomputes all of them from a row-number CTE.

Scale: footer + page-index bytes only — two tail ranged GETs per file
at 100 TB, never a data page; per-file mapInPandas over binaryFile,
no shuffle. Malformed input raises ValueError only
(tests/test_parser_fuzz.py).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.parquet_footer import (
    _T_LIST,
    _TC,
    _read_i,
    _read_list_of_structs,
)
from cs_pipeline_spark.sources.parquet_pages import (
    _read_strlist,
    _read_struct_h,
)
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_PIDX = 4
_PAGE_ROWS = 100  # write_batch_size — every page is exactly 100 rows


def _pidx_meta(i: int) -> tuple[int, int]:
    """(n_rows, row_group_size) — row groups are multiples of the
    page size so page boundaries are formula-stable."""
    return 1000 + 137 * i, 400 + 100 * i


def encode_parquet_pageidx(i: int) -> bytes:
    import io

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n, rgs = _pidx_meta(i)
    idx = np.arange(n, dtype=np.int64)
    tbl = pa.table({
        "a": pa.array(idx * 7 + i, type=pa.int64()),
        "b": pa.array(
            [None if k % 10 == 0 else k for k in range(n)],
            type=pa.int64(),
        ),
    })
    buf = io.BytesIO()
    pq.write_table(
        tbl,
        buf,
        row_group_size=rgs,
        compression="snappy",
        write_page_index=True,
        data_page_size=1,
        write_batch_size=_PAGE_ROWS,
    )
    return buf.getvalue()


@_fixture
def _fx_parquet_pageidx(spark: SparkSession, sf_dir: str) -> None:
    names = [f"pidx-{i:03d}.parquet" for i in range(_N_PIDX)]
    write_files(
        _scratch(sf_dir, "real_parquet_pageidx"), names, encode_parquet_pageidx
    )


# ---------- thrift handlers (parquet.thrift PageIndex structs) ----------


def _read_boollist(r: _TC, t: int, _d: int) -> list[bool]:
    if t != _T_LIST:
        raise ValueError("malformed page index: expected bool list")
    size, et = r.list_header()
    if et not in (1, 2):
        raise ValueError("malformed page index: bool list element type")
    return [r.u8() == 1 for _ in range(size)]


def _read_i64list(r: _TC, t: int, _d: int) -> list[int]:
    if t != _T_LIST:
        raise ValueError("malformed page index: expected int list")
    size, _et = r.list_header()
    return [r.zigzag() for _ in range(size)]


# ColumnIndex: null_pages/min_values/max_values/boundary_order/null_counts
_CIDX = {
    1: _read_boollist,
    2: _read_strlist,
    3: _read_strlist,
    4: _read_i,
    5: _read_i64list,
}
# OffsetIndex: page_locations list of (offset, compressed_size, first_row)
_PAGELOC = {1: _read_i, 2: _read_i, 3: _read_i}
_OIDX = {1: _read_list_of_structs(_PAGELOC)}

# ColumnChunk: meta_data(3) + offset_index(4/5) + column_index(6/7)
_COLMETA_I = {3: _read_strlist}
_COLCHUNK_I = {
    3: _read_struct_h(_COLMETA_I),
    4: _read_i,
    5: _read_i,
    6: _read_i,
    7: _read_i,
}
_ROWGROUP_I = {1: _read_list_of_structs(_COLCHUNK_I), 3: _read_i}
_FILEMETA_I = {3: _read_i, 4: _read_list_of_structs(_ROWGROUP_I)}


def decode_parquet_page_index(payload: bytes) -> list[dict]:
    """Per (row group, column, page): first_row_index + page row count
    (OffsetIndex) joined with min/max/null_count (ColumnIndex, INT64
    LE). ValueError-only."""
    if (
        len(payload) < 12
        or payload[:4] != b"PAR1"
        or payload[-4:] != b"PAR1"
    ):
        raise ValueError("not a parquet file: bad magic")
    flen = int.from_bytes(payload[-8:-4], "little")
    if flen <= 0 or flen + 8 > len(payload):
        raise ValueError("malformed parquet: footer length outside file")
    fm = _TC(payload[-8 - flen : -8]).read_struct(_FILEMETA_I)
    if 4 not in fm:
        raise ValueError("malformed parquet: footer missing row groups")
    rows: list[dict] = []
    for rgi, rg in enumerate(fm[4]):
        rg_rows = rg.get(3)
        if rg_rows is None or rg_rows < 0:
            raise ValueError("malformed parquet: row group missing rows")
        for ch in rg.get(1, []):
            path = ch.get(3, {}).get(3)
            if not path:
                raise ValueError("malformed parquet: chunk missing path")
            col = b".".join(path).decode("utf-8", "replace")
            oio, oil = ch.get(4), ch.get(5)
            cio, cil = ch.get(6), ch.get(7)
            if None in (oio, oil, cio, cil):
                raise ValueError("malformed parquet: page index absent")
            if (
                oio < 0 or oil <= 0 or oio + oil > len(payload)
                or cio < 0 or cil <= 0 or cio + cil > len(payload)
            ):
                raise ValueError("malformed parquet: page index bounds")
            ci = _TC(payload[cio : cio + cil]).read_struct(_CIDX)
            oi = _TC(payload[oio : oio + oil]).read_struct(_OIDX)
            locs = oi.get(1)
            mins, maxs = ci.get(2), ci.get(3)
            if not locs or mins is None or maxs is None:
                raise ValueError("malformed page index: empty structs")
            ncs = ci.get(5) or [0] * len(locs)
            if not (len(locs) == len(mins) == len(maxs) == len(ncs)):
                raise ValueError("malformed page index: length mismatch")
            fris = [loc.get(3, 0) for loc in locs]
            if fris[0] != 0 or any(
                b <= a for a, b in zip(fris, fris[1:])
            ):
                raise ValueError(
                    "malformed page index: first_row_index not "
                    "increasing from 0"
                )
            if fris[-1] >= rg_rows:
                raise ValueError("malformed page index: page past rows")
            for p, (fri, bmin, bmax, nc) in enumerate(
                zip(fris, mins, maxs, ncs)
            ):
                if len(bmin) != 8 or len(bmax) != 8:
                    raise ValueError(
                        "unsupported page index: stats not INT64"
                    )
                nxt = fris[p + 1] if p + 1 < len(fris) else rg_rows
                rows.append({
                    "col": col,
                    "row_group": rgi,
                    "page": p,
                    "first_row_index": fri,
                    "page_rows": nxt - fri,
                    "null_count": nc,
                    "stat_min": int.from_bytes(
                        bmin, "little", signed=True
                    ),
                    "stat_max": int.from_bytes(
                        bmax, "little", signed=True
                    ),
                })
    if not rows:
        raise ValueError("malformed parquet: no indexed chunks")
    return rows


_PI_COLS = (
    "row_group page first_row_index page_rows null_count "
    "stat_min stat_max".split()
)

_PI_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_PIDX})) AS i),
    m AS (SELECT i, 1000 + 137 * i AS n, 400 + 100 * i AS rgs
          FROM files),
    rows_ AS (SELECT i, rgs, unnest(range(0, n)) AS k FROM m),
    pg AS (SELECT i, k, k // rgs AS rg,
                  (k % rgs) // {_PAGE_ROWS} AS page
           FROM rows_),
    a AS (SELECT i, rg, page,
                 MIN(k * 7 + i) AS mn, MAX(k * 7 + i) AS mx,
                 0 AS nulls, COUNT(*) AS prows
          FROM pg GROUP BY i, rg, page),
    b AS (SELECT i, rg, page,
                 MIN(CASE WHEN k % 10 <> 0 THEN k END) AS mn,
                 MAX(CASE WHEN k % 10 <> 0 THEN k END) AS mx,
                 SUM(CASE WHEN k % 10 = 0 THEN 1 ELSE 0 END) AS nulls,
                 COUNT(*) AS prows
          FROM pg GROUP BY i, rg, page),
    u AS (SELECT i, 'a' AS col, rg, page, mn, mx, nulls, prows FROM a
          UNION ALL
          SELECT i, 'b' AS col, rg, page, mn, mx, nulls, prows FROM b)
    SELECT printf('pidx-%03d.parquet', CAST(i AS INT)) AS fname,
           col,
           CAST(rg AS BIGINT) AS row_group,
           CAST(page AS BIGINT) AS page,
           CAST(page * {_PAGE_ROWS} AS BIGINT) AS first_row_index,
           CAST(prows AS BIGINT) AS page_rows,
           CAST(nulls AS BIGINT) AS null_count,
           CAST(mn AS BIGINT) AS stat_min,
           CAST(mx AS BIGINT) AS stat_max
    FROM u
"""


@register(
    "scan_parquet_page_index",
    _PI_ORACLE,
    doc="parquet PAGE INDEX decode: ColumnIndex (per-page min/max/"
    "null_count, INT64 LE) + OffsetIndex (per-page first_row_index) "
    "from their ColumnChunk 4/5/6/7 offsets via the thrift-compact "
    "walk, on pyarrow-written files with 100-row pages pinned by "
    "write_batch_size — every page boundary, stat, and null count "
    "hash-checked against the fixture formula",
)
def scan_parquet_page_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The page-skip accelerator scan_parquet_col_stats
    (parquet_pages.py) stops short of: row-group zone maps prune
    whole row groups, the page index prunes PAGES inside surviving
    row groups — on a selective predicate that is a further ~rgs/100×
    read reduction. The hash pins the exact geometry (first_row_index
    monotone from 0, page row counts incl. the trailing partial
    page), per-page INT64 min/max for both a dense and a nullable
    column, and per-page null counts — plausible-but-wrong stats
    would admit wrong page skips, which is why every value is checked
    against the generating formula, not just shapes.

    Scale: see module docstring — index bytes only, per-file map, no
    shuffle.
    """
    schema = "fname string, col string, " + ", ".join(
        f"{c} long" for c in _PI_COLS
    )

    return decode_files(
        spark, _scratch(sf_dir, "real_parquet_pageidx"), "*.parquet",
        decode_parquet_page_index, schema,
    )
