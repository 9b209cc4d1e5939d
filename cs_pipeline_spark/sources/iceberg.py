"""Iceberg snapshot → manifest-list → manifest replay (Avro-backed).

The other half of the open-table-format market next to Delta
(sources/delta_log.py): Iceberg's commit metadata is a JSON table
file naming SNAPSHOTS, each snapshot pointing at a MANIFEST LIST
(an Avro OCF of manifest entries), each manifest an Avro OCF of data
FILE entries carrying a status (1=ADDED, 0=EXISTING, 2=DELETED) and
the file's stats. A reader plans a snapshot by walking exactly this
chain — which is what this module implements, byte-level, on the
repo's own dependency-free Avro OCF decoder
(sources/avro_ocf.py `decode_avro_flat`): no Iceberg library.

Fixture: ``metadata/v1.metadata.json`` with ``_N_SNAPSHOTS``
snapshots (ids 3000+7s); snapshot s's manifest list ``snap-<id>.avro``
names manifests 0..s (the Iceberg append pattern: a new snapshot
reuses all prior manifests plus one new one); manifest k ADDs 3 files
``data/f-k-j.parquet`` and, for k ≥ 2, DELETEs the file manifest k−2
added (the rewrite/compaction pattern — the deleting entry carries
the file's original stats, as real v2 manifests do). Everything is
stated by formula so the DuckDB oracle recomputes the full
time-travel census.

Scale: manifests are metadata — KBs per commit regardless of data
size, and the manifest-list indirection is exactly what keeps
planning O(manifests touched) instead of O(files) at 100 TB. The
replay is a broadcast join of the (tiny) snapshot→manifest map onto
per-file manifest entries, then one (snapshot, path) latest-status
aggregate — no fact-scale input anywhere.
"""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.avro_ocf import (
    _avro_string,
    _sync,
    _zz,
    decode_avro_flat,
)
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_SNAPSHOTS = 4
_FILES_PER_MANIFEST = 3

_ST_EXISTING, _ST_ADDED, _ST_DELETED = 0, 1, 2


def _snap_id(s: int) -> int:
    return 3000 + 7 * s


def _file_info(k: int, j: int) -> tuple[str, int, int]:
    return (
        f"data/f-{k}-{j}.parquet",
        2000 + 200 * k + 20 * j,
        80 + 8 * k + j,
    )


def encode_ocf_generic(
    fields: list[tuple[str, str]],
    rows: list[tuple],
    sync_seed: int,
) -> bytes:
    """One single-block Avro OCF from (name, type) fields + rows —
    the writer for manifest / manifest-list fixtures; decodable by
    sources/avro_ocf.py's flat-record walker."""
    schema = json.dumps({
        "type": "record",
        "name": "m",
        "fields": [{"name": n, "type": t} for n, t in fields],
    })
    out = bytearray(b"Obj\x01")
    out += _zz(2)
    out += _avro_string("avro.schema") + _avro_string(schema)
    out += _avro_string("avro.codec") + _avro_string("null")
    out += _zz(0)
    sync = _sync(sync_seed)
    out += sync
    blk = bytearray()
    for row in rows:
        for (_n, t), v in zip(fields, row):
            if t in ("long", "int"):
                blk += _zz(int(v))
            elif t == "string":
                blk += _avro_string(str(v))
            else:
                blk += struct.pack("<d", float(v))
    data = bytes(blk)
    out += _zz(len(rows)) + _zz(len(data)) + data + sync
    return bytes(out)


_MANIFEST_FIELDS = [
    ("status", "int"),
    ("seq", "long"),  # data sequence number = adding manifest's index
    ("file_path", "string"),
    ("file_size", "long"),
    ("record_count", "long"),
]

_MLIST_FIELDS = [
    ("manifest_path", "string"),
    ("added_snapshot_id", "long"),
]


def _manifest_rows(k: int) -> list[tuple]:
    rows = [
        (_ST_ADDED, k, *_file_info(k, j))
        for j in range(_FILES_PER_MANIFEST)
    ]
    if k >= 2:
        # the deleting entry carries the ORIGINAL file stats (v2
        # manifests do), so stat recovery never re-reads old manifests
        rows.append((_ST_DELETED, k, *_file_info(k - 2, k % 3)))
    return rows


def _table_metadata() -> bytes:
    return json.dumps({
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000001",
        "current-snapshot-id": _snap_id(_N_SNAPSHOTS - 1),
        "snapshots": [
            {
                "snapshot-id": _snap_id(s),
                "sequence-number": s,
                "manifest-list": f"snap-{_snap_id(s)}.avro",
            }
            for s in range(_N_SNAPSHOTS)
        ],
    }).encode()


@_fixture
def _fx_iceberg(spark: SparkSession, sf_dir: str) -> None:
    md = f"{_scratch(sf_dir, 'real_iceberg')}/metadata"
    names = [f"manifest-{k:04d}.avro" for k in range(_N_SNAPSHOTS)]
    write_files(md, names, lambda k: encode_ocf_generic(
        _MANIFEST_FIELDS, _manifest_rows(k), 100 + k
    ))
    names = [f"snap-{_snap_id(s)}.avro" for s in range(_N_SNAPSHOTS)]
    write_files(md, names, lambda s: encode_ocf_generic(
        _MLIST_FIELDS,
        [(f"manifest-{k:04d}.avro", _snap_id(k)) for k in range(s + 1)],
        200 + s,
    ))
    write_files(md, ["v1.metadata.json"], lambda _: _table_metadata())


_ICEBERG_ORACLE = f"""
    WITH mans AS (SELECT unnest(range(0, {_N_SNAPSHOTS})) AS k),
    adds AS (SELECT k,
                    printf('data/f-%d-%d.parquet', CAST(k AS INT),
                           CAST(j.j AS INT)) AS path,
                    2000 + 200 * k + 20 * j.j AS sz,
                    80 + 8 * k + j.j AS recs
             FROM mans,
                  (SELECT unnest(range(0, {_FILES_PER_MANIFEST})) AS j)
                  j),
    dels AS (SELECT k,
                    printf('data/f-%d-%d.parquet', CAST(k - 2 AS INT),
                           CAST(k % 3 AS INT)) AS path,
                    2000 + 200 * (k - 2) + 20 * (k % 3) AS sz,
                    80 + 8 * (k - 2) + (k % 3) AS recs
             FROM mans WHERE k >= 2),
    entries AS (
      SELECT k AS seq, path, {_ST_ADDED} AS status, sz, recs FROM adds
      UNION ALL
      SELECT k AS seq, path, {_ST_DELETED} AS status, sz, recs
      FROM dels),
    snaps AS (SELECT unnest(range(0, {_N_SNAPSHOTS})) AS s),
    -- snapshot s's manifest list names manifests 0..s
    vis AS (SELECT s.s, e.seq, e.path, e.status, e.sz, e.recs
            FROM snaps s JOIN entries e ON e.seq <= s.s),
    ranked AS (
      SELECT s, path, status, sz, recs,
             ROW_NUMBER() OVER (PARTITION BY s, path
                                ORDER BY seq DESC, status DESC) AS rn
      FROM vis),
    live AS (SELECT s, path, sz, recs FROM ranked
             WHERE rn = 1 AND status <> {_ST_DELETED})
    SELECT CAST(3000 + 7 * s AS BIGINT) AS snapshot_id,
           CAST(COUNT(*) AS BIGINT) AS n_live_files,
           CAST(SUM(sz) AS BIGINT) AS live_bytes,
           CAST(SUM(recs) AS BIGINT) AS live_records
    FROM live GROUP BY s
"""


def _avro_records(payload: bytes) -> list[dict]:
    """One row per decoded Avro record."""
    names, rows = decode_avro_flat(payload)
    return [dict(zip(names, r)) for r in rows]


_MANIFEST_SCHEMA = (
    "fname string, status long, seq long, file_path string, "
    "file_size long, record_count long"
)


@register(
    "scan_iceberg_manifest",
    _ICEBERG_ORACLE,
    doc="Iceberg snapshot replay from raw bytes: table-metadata JSON "
    "→ per-snapshot manifest LIST (Avro OCF, decoded by the repo's "
    "own block walker) → manifest data-file entries (status/seq/"
    "stats) → latest-status-wins per (snapshot, path) with DELETED "
    "filtered — the live file/byte/record census AS OF every "
    "snapshot, hash-checked against the fixture formula",
)
def scan_iceberg_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel, Iceberg-style: where Delta replays a linear JSON
    log (sources/delta_log.py:125), Iceberg snapshots name their
    COMPLETE manifest set, so the fold is per-snapshot over the
    manifests its list references — a reused manifest contributes to
    every snapshot that lists it, and a file deleted by a later
    manifest loses to the deleting entry on (seq, status) order.
    Both Avro layers (manifest list, manifest) go through
    decode_avro_flat (avro_ocf.py) — the sync-validated OCF walk, no
    Iceberg library.

    Scale: see module docstring — metadata-only reads; snapshot map
    broadcast; one (snapshot, path) aggregate bounded by manifest
    entries × snapshots, both log-sized.
    """
    import os

    md = os.path.join(_scratch(sf_dir, "real_iceberg"), "metadata")

    meta_schema = (
        "`current-snapshot-id` long, "
        "snapshots array<struct<`snapshot-id`: long, "
        "`sequence-number`: long, `manifest-list`: string>>"
    )
    meta = (
        spark.read.text(f"{md}/v1.metadata.json", wholetext=True)
        .select(F.from_json("value", meta_schema).alias("m"))
        .select(F.explode("m.snapshots").alias("s"))
        .select(
            F.col("s.`snapshot-id`").alias("snapshot_id"),
            F.col("s.`manifest-list`").alias("mlist_fname"),
        )
    )

    mlists = decode_files(
        spark, md, "snap-*.avro", _avro_records,
        "fname string, manifest_path string, added_snapshot_id long",
    )

    manifests = decode_files(
        spark, md, "manifest-*.avro", _avro_records, _MANIFEST_SCHEMA
    )

    # snapshot -> manifest fname map (metadata-sized, broadcast)
    snap_mans = meta.join(
        mlists, meta["mlist_fname"] == mlists["fname"]
    ).select("snapshot_id", F.col("manifest_path").alias("man_fname"))

    vis = manifests.join(
        F.broadcast(snap_mans),
        manifests["fname"] == F.col("man_fname"),
    )
    latest = (
        vis.groupBy("snapshot_id", "file_path")
        .agg(
            F.max(
                F.struct("seq", "status", "file_size", "record_count")
            ).alias("a")
        )
        .filter(F.col("a.status") != _ST_DELETED)
    )
    return (
        latest.groupBy("snapshot_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_live_files"),
            F.sum("a.file_size").cast("long").alias("live_bytes"),
            F.sum("a.record_count").cast("long").alias("live_records"),
        )
        .select(
            F.col("snapshot_id").cast("long").alias("snapshot_id"),
            "n_live_files",
            "live_bytes",
            "live_records",
        )
    )


def encode_iceberg_manifest(i: int) -> bytes:
    """Fuzz-harness adapter (tests/test_parser_fuzz.py): one valid
    manifest OCF per seed, including a DELETED entry."""
    return encode_ocf_generic(_MANIFEST_FIELDS, _manifest_rows(i + 2),
                              100 + i)


# ====================================================================
# Orphan-file census — the cleanup pass every Iceberg operator runs:
# files present in the object-store listing but referenced by NO
# manifest (failed-commit leftovers). Files referenced by ANY
# manifest — even only as DELETED entries — are NOT orphans: older
# snapshots still plan against them (time travel safety).
# ====================================================================

_N_ORPHANS = 3


def _orphan_info(m: int) -> tuple[str, int]:
    return (f"data/orphan-{m}.parquet", 500 + 10 * m)


def _listing_jsonl() -> bytes:
    lines = []
    seen = set()
    for k in range(_N_SNAPSHOTS):
        for row in _manifest_rows(k):
            _status, _seq, path, sz, _recs = row
            if path not in seen:
                seen.add(path)
                lines.append(json.dumps({"path": path, "size": sz}))
    for m in range(_N_ORPHANS):
        path, sz = _orphan_info(m)
        lines.append(json.dumps({"path": path, "size": sz}))
    return ("\n".join(lines) + "\n").encode()


@_fixture
def _fx_iceberg_listing(spark: SparkSession, sf_dir: str) -> None:
    """Object-store listing fixture: every path any manifest
    references (data files, including later-deleted ones) plus
    planted orphans from aborted writes."""
    write_files(
        _scratch(sf_dir, "real_iceberg"), ["listing.jsonl"],
        lambda _: _listing_jsonl(),
    )


_ORPHAN_ORACLE = f"""
    WITH orphans AS (SELECT unnest(range(0, {_N_ORPHANS})) AS m)
    SELECT printf('data/orphan-%d.parquet', CAST(m AS INT)) AS path,
           CAST(500 + 10 * m AS BIGINT) AS size_bytes
    FROM orphans
"""


@register(
    "lake_orphan_files",
    _ORPHAN_ORACLE,
    doc="Iceberg orphan-file census: object-store listing anti-joined "
    "against the union of every manifest's referenced paths (DELETED "
    "entries count as referenced — older snapshots still need them), "
    "leaving exactly the failed-commit leftovers safe to delete — "
    "hash-checked against the planted-orphan formula",
)
def lake_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`remove_orphan_files`, the other cleanup next to the Delta
    vacuum planner (delta_log.py): vacuum deletes files the LOG says
    are dead; orphan cleanup deletes files the log has never heard
    of. The referenced set is ALL manifest entries regardless of
    status — treating DELETED entries as unreferenced would eat
    time-travel data, which is why the census anti-joins the union,
    not the head snapshot's live set.

    Scale: the listing is the big side (billions of objects at
    100 TB) and streams through the anti-join; the referenced set is
    manifest-sized metadata and broadcasts. No shuffle on the listing
    beyond the broadcast probe.
    """
    import os

    md = _scratch(sf_dir, "real_iceberg")
    listing = (
        spark.read.option("pathGlobFilter", "listing.jsonl")
        .json(md)
        .select("path", F.col("size").cast("long").alias("size_bytes"))
    )
    manifests = decode_files(
        spark, os.path.join(md, "metadata"), "manifest-*.avro",
        _avro_records, _MANIFEST_SCHEMA,
    )
    referenced = manifests.select(
        F.col("file_path").alias("path")
    ).distinct()
    return listing.join(F.broadcast(referenced), "path", "left_anti")


# ====================================================================
# v2 merge-on-read: POSITION DELETES. A delete manifest (content=1)
# references delete files — Avro/parquet files of (data file path,
# row position) tombstones — and a reader subtracts the applicable
# tombstones from each data file's record count at plan time. The
# sequence-number gate is the subtle part: a position delete applies
# to a data file only when delete.seq >= data.seq (you cannot delete
# rows from a file written AFTER the delete was committed).
# ====================================================================

# (delete-file index, its data sequence number, [(target path, pos)])
# del-0 (seq 3): hits live f-0-0 (3 rows) + live f-2-1 (2 rows) and a
#   DEAD file f-0-2 (compacted away at manifest 2 — must be ignored).
# del-1 (seq 1): one more f-0-0 row (applies: 1 >= 0) and 4 rows on
#   f-3-0, whose data seq 3 > 1 — the gate must reject them.
_DELETE_FILES: list[tuple[int, int, list[tuple[str, int]]]] = [
    (0, 3, [
        ("data/f-0-0.parquet", 0),
        ("data/f-0-0.parquet", 10),
        ("data/f-0-0.parquet", 20),
        ("data/f-2-1.parquet", 5),
        ("data/f-2-1.parquet", 15),
        ("data/f-0-2.parquet", 0),
        ("data/f-0-2.parquet", 10),
    ]),
    (1, 1, [
        ("data/f-0-0.parquet", 30),
        ("data/f-3-0.parquet", 0),
        ("data/f-3-0.parquet", 1),
        ("data/f-3-0.parquet", 2),
        ("data/f-3-0.parquet", 3),
    ]),
]

_DEL_FILE_FIELDS = [("file_path", "string"), ("pos", "long")]
_DEL_MANIFEST_FIELDS = [
    ("seq", "long"),
    ("delete_file", "string"),
    ("record_count", "long"),
]


@_fixture
def _fx_iceberg_deletes(spark: SparkSession, sf_dir: str) -> None:
    base = _scratch(sf_dir, "real_iceberg")
    names = [f"del-{d}.avro" for d, _seq, _rows in _DELETE_FILES]
    write_files(f"{base}/deletes", names, lambda k: encode_ocf_generic(
        _DEL_FILE_FIELDS, _DELETE_FILES[k][2], 300 + _DELETE_FILES[k][0]
    ))
    man_rows = [
        (seq, f"del-{d}.avro", len(rows)) for d, seq, rows in _DELETE_FILES
    ]
    write_files(
        f"{base}/metadata", ["delete-manifest-0000.avro"],
        lambda _: encode_ocf_generic(_DEL_MANIFEST_FIELDS, man_rows, 400),
    )


def _del_rows_sql() -> str:
    parts = []
    for _d, seq, rows in _DELETE_FILES:
        for target, pos in rows:
            parts.append(
                f"SELECT {seq} AS del_seq, '{target}' AS target,"
                f" {pos} AS pos"
            )
    return " UNION ALL ".join(parts)


_ICEBERG_DELETES_ORACLE = f"""
    WITH mans AS (SELECT unnest(range(0, {_N_SNAPSHOTS})) AS k),
    adds AS (SELECT k,
                    printf('data/f-%d-%d.parquet', CAST(k AS INT),
                           CAST(j.j AS INT)) AS path,
                    80 + 8 * k + j.j AS recs
             FROM mans,
                  (SELECT unnest(range(0, {_FILES_PER_MANIFEST})) AS j)
                  j),
    dels AS (SELECT k,
                    printf('data/f-%d-%d.parquet', CAST(k - 2 AS INT),
                           CAST(k % 3 AS INT)) AS path,
                    80 + 8 * (k - 2) + (k % 3) AS recs
             FROM mans WHERE k >= 2),
    entries AS (
      SELECT k AS seq, path, {_ST_ADDED} AS status, recs FROM adds
      UNION ALL
      SELECT k AS seq, path, {_ST_DELETED} AS status, recs FROM dels),
    -- head snapshot: latest status per path over ALL manifests
    ranked AS (
      SELECT path, status, seq, recs,
             ROW_NUMBER() OVER (PARTITION BY path
                                ORDER BY seq DESC, status DESC) AS rn
      FROM entries),
    live AS (SELECT path, seq, recs FROM ranked
             WHERE rn = 1 AND status <> {_ST_DELETED}),
    del_rows AS ({_del_rows_sql()}),
    applied AS (
      SELECT l.path, COUNT(*) AS n
      FROM del_rows d JOIN live l
        ON l.path = d.target AND d.del_seq >= l.seq
      GROUP BY l.path)
    SELECT l.path,
           CAST(l.recs AS BIGINT) AS record_count,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_pos_deletes,
           CAST(l.recs - COALESCE(a.n, 0) AS BIGINT) AS live_rows
    FROM live l LEFT JOIN applied a ON a.path = l.path
"""


@register(
    "scan_iceberg_deletes",
    _ICEBERG_DELETES_ORACLE,
    doc="Iceberg v2 merge-on-read position deletes: delete manifest "
    "(Avro) -> delete files (Avro rows of data-file path + row pos) "
    "subtracted from each HEAD-live data file's record count under "
    "the sequence gate delete.seq >= data.seq (tombstones on dead "
    "files ignored, tombstones older than their target rejected) — "
    "per-data-file effective row count, hash-checked against the "
    "fixture formula",
)
def scan_iceberg_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a v2 reader computes at plan time before it ever opens a
    data file: effective (post-delete) row counts. Three semantics
    the hash pins: (1) tombstones targeting a file that compaction
    already removed contribute nothing (they join to no live file);
    (2) a delete file with sequence number LOWER than its target's
    data sequence number does not apply — del-1 (seq 1) carries 4
    tombstones for f-3-0 (seq 3) that must all be rejected; (3)
    counts aggregate per file across ALL applicable delete files.
    Both Avro layers ride decode_avro_flat (avro_ocf.py), no Iceberg
    library.

    Scale: delete manifests are metadata; delete FILES are the only
    potentially large input and they stream through one broadcast
    join (live-file set is plan-sized) + one path-keyed count — at
    100 TB the tombstone scan is a fraction of the data scan it
    replaces, which is the whole point of merge-on-read.
    """
    import os

    base = _scratch(sf_dir, "real_iceberg")
    md = os.path.join(base, "metadata")

    manifests = decode_files(
        spark, md, "manifest-*.avro", _avro_records, _MANIFEST_SCHEMA
    )
    live = (
        manifests.groupBy("file_path")
        .agg(F.max(F.struct("seq", "status", "record_count")).alias("a"))
        .filter(F.col("a.status") != _ST_DELETED)
        .select(
            F.col("file_path").alias("path"),
            F.col("a.seq").alias("data_seq"),
            F.col("a.record_count").alias("record_count"),
        )
    )

    del_manifest = (
        decode_files(
            spark, md, "delete-manifest-*.avro", _avro_records,
            "fname string, seq long, delete_file string, "
            "record_count long",
        )
        .select(F.col("delete_file").alias("dfname"),
                F.col("seq").alias("del_seq"))
    )
    del_rows = (
        decode_files(
            spark, os.path.join(base, "deletes"), "del-*.avro",
            _avro_records, "fname string, file_path string, pos long",
        )
        .join(F.broadcast(del_manifest),
              F.col("fname") == F.col("dfname"))
        .select(F.col("file_path").alias("target"), "del_seq")
    )

    applied = (
        del_rows.join(
            F.broadcast(live),
            (F.col("target") == F.col("path"))
            & (F.col("del_seq") >= F.col("data_seq")),
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        live.join(applied, "path", "left")
        .select(
            "path",
            F.col("record_count").cast("long").alias("record_count"),
            F.coalesce(F.col("n"), F.lit(0))
            .cast("long")
            .alias("n_pos_deletes"),
            (F.col("record_count") - F.coalesce(F.col("n"), F.lit(0)))
            .cast("long")
            .alias("live_rows"),
        )
    )
