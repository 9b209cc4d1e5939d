"""Hudi timeline replay — the third open-table format.

Delta replays a linear add/remove log (sources/delta_log.py) and
Iceberg replays snapshot→manifest chains (sources/iceberg.py); Hudi's
unit of MVCC is the FILE GROUP: an upsert does not add+remove, it
writes a NEW SLICE of the same file group (same fileId, newer instant),
and a reader's snapshot view is the latest slice per file group. The
timeline lives in ``.hoodie/`` as one file per instant —
``<yyyyMMddHHmmss>.commit`` for completed commits (JSON
HoodieCommitMetadata with ``partitionToWriteStats``),
``<ts>.replacecommit`` for clustering/insert-overwrite (which KILLS
whole file groups via ``partitionToReplaceFileIds`` and writes their
clustered replacements), and ``.inflight``/``.requested`` sidecars for
in-progress instants that a snapshot reader must skip.

Fixture: ``_N_HUDI_COMMITS`` completed commits (instant index c writes
3 file groups; c ≥ 2 also UPSERTS a slice into a file group from
commit c−2 — the latest-slice-wins case), then one replacecommit that
replaces two file groups (one of them the already-upserted fg-1-0 —
replace must win over the group's newer slice history) and writes two
clustered outputs, then an inflight+requested commit pair that the
replay must ignore. All stats are stated by formula so the DuckDB
oracle recomputes the full per-instant census.

Note: reading a dot-directory (``.hoodie``) emits a benign
``WARN DataSource: All paths were ignored`` from Spark's preliminary
path-resolution pass — the actual file listing reads the non-hidden
children fine (same benign-noise class as the FileStreamSink note in
CLAUDE.md round-9 conventions). Kept because the dot-name IS the
Hudi on-disk contract.

Scale: the timeline is metadata — one small JSON file per commit
regardless of table size (a 100 TB table's timeline is MBs). Replay is
a bounded instant fan-out then one (instant, partition, fileId)
latest-slice aggregate; the replaced-group set is timeline-sized and
broadcasts into a left_anti probe. No fact-scale input anywhere.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_HUDI_COMMITS = 5  # completed commits, instant idx 0..4
_GROUPS_PER_COMMIT = 3
_REPL_IDX = 5  # the replacecommit's instant index
_PENDING_IDX = 6  # inflight/requested instant (must be skipped)
_BASE_INSTANT = 20260101000000  # yyyyMMddHHmmss; idx adds seconds


def _instant(i: int) -> int:
    return _BASE_INSTANT + i


def _create_info(c: int, k: int) -> tuple[str, str, int, int]:
    """(fileId, partition, size, records) for commit c's k-th new
    file group."""
    return (
        f"fg-{c}-{k}",
        f"p{k % 2}",
        1000 + 100 * c + 10 * k,
        50 + 10 * c + k,
    )


def _update_info(c: int) -> tuple[str, str, int, int]:
    """Commit c's upsert slice into the file group commit c−2
    created (new slice of an EXISTING group — Hudi's distinguishing
    move vs Delta's add+remove)."""
    k = c % 3
    return (f"fg-{c - 2}-{k}", f"p{k % 2}", 2000 + 100 * c, 70 + 5 * c)


# the replacecommit kills fg-0-0 (never updated) and fg-1-0 (upserted
# at commit 3 — replace must beat the group's newer slice), and writes
# two clustered outputs
_REPLACED = [("fg-0-0", "p0"), ("fg-1-0", "p0")]
_REPL_WRITES = [
    ("fg-r-0", "p0", 5000, 300),
    ("fg-r-1", "p1", 6000, 350),
]


@_fixture
def _fx_hudi_timeline(spark: SparkSession, sf_dir: str) -> None:
    hd = f"{_scratch(sf_dir, 'real_hudi')}/.hoodie"

    def _write(fname: str, obj: dict | None) -> None:
        write_files(hd, [fname], lambda _: (
            b"" if obj is None else json.dumps(obj).encode()
        ))

    for c in range(_N_HUDI_COMMITS):
        stats: dict[str, list[dict]] = {}
        for k in range(_GROUPS_PER_COMMIT):
            fid, part, sz, recs = _create_info(c, k)
            stats.setdefault(part, []).append({
                "fileId": fid,
                "numWrites": recs,
                "fileSizeInBytes": sz,
                "prevCommit": "null",
            })
        if c >= 2:
            fid, part, sz, recs = _update_info(c)
            stats.setdefault(part, []).append({
                "fileId": fid,
                "numWrites": recs,
                "fileSizeInBytes": sz,
                "prevCommit": str(_instant(c - 2)),
            })
        _write(
            f"{_instant(c)}.commit",
            {"partitionToWriteStats": stats, "operationType": "UPSERT"},
        )

    repl_stats: dict[str, list[dict]] = {}
    for fid, part, sz, recs in _REPL_WRITES:
        repl_stats.setdefault(part, []).append({
            "fileId": fid,
            "numWrites": recs,
            "fileSizeInBytes": sz,
            "prevCommit": "null",
        })
    repl_ids: dict[str, list[str]] = {}
    for fid, part in _REPLACED:
        repl_ids.setdefault(part, []).append(fid)
    _write(
        f"{_instant(_REPL_IDX)}.replacecommit",
        {
            "partitionToWriteStats": repl_stats,
            "partitionToReplaceFileIds": repl_ids,
            "operationType": "CLUSTER",
        },
    )

    # pending instant: requested + inflight sidecars, no completed
    # file — a snapshot reader must not see it
    _write(f"{_instant(_PENDING_IDX)}.commit.requested", None)
    _write(f"{_instant(_PENDING_IDX)}.commit.inflight", {})


def _repl_writes_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT {_REPL_IDX} AS c, '{fid}' AS fileId, '{part}' AS part,"
        f" {sz} AS sz, {recs} AS recs"
        for fid, part, sz, recs in _REPL_WRITES
    )


def _replaced_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT {_REPL_IDX} AS rc, '{fid}' AS fileId, '{part}' AS part"
        for fid, part in _REPLACED
    )


_HUDI_ORACLE = f"""
    WITH commits AS (
      SELECT unnest(range(0, {_N_HUDI_COMMITS})) AS c),
    creates AS (
      SELECT c, printf('fg-%d-%d', CAST(c AS INT), CAST(k.k AS INT))
               AS fileId,
             printf('p%d', CAST(k.k % 2 AS INT)) AS part,
             1000 + 100 * c + 10 * k.k AS sz,
             50 + 10 * c + k.k AS recs
      FROM commits,
           (SELECT unnest(range(0, {_GROUPS_PER_COMMIT})) AS k) k),
    updates AS (
      SELECT c, printf('fg-%d-%d', CAST(c - 2 AS INT),
                       CAST(c % 3 AS INT)) AS fileId,
             printf('p%d', CAST((c % 3) % 2 AS INT)) AS part,
             2000 + 100 * c AS sz, 70 + 5 * c AS recs
      FROM commits WHERE c >= 2),
    slices AS (
      SELECT * FROM creates UNION ALL SELECT * FROM updates
      UNION ALL {_repl_writes_sql()}),
    replaced AS ({_replaced_sql()}),
    v AS (SELECT unnest(range(0, {_REPL_IDX + 1})) AS v),
    -- latest slice per (snapshot, partition, file group)
    ranked AS (
      SELECT v.v, s.part, s.fileId, s.sz, s.recs,
             ROW_NUMBER() OVER (PARTITION BY v.v, s.part, s.fileId
                                ORDER BY s.c DESC) AS rn
      FROM v JOIN slices s ON s.c <= v.v),
    alive AS (
      SELECT r.v, r.part, r.fileId, r.sz, r.recs
      FROM ranked r
      WHERE r.rn = 1 AND NOT EXISTS (
        SELECT 1 FROM replaced x
        WHERE x.rc <= r.v AND x.fileId = r.fileId
          AND x.part = r.part))
    SELECT CAST({_BASE_INSTANT} + v AS BIGINT) AS instant,
           CAST(COUNT(*) AS BIGINT) AS n_file_groups,
           CAST(SUM(sz) AS BIGINT) AS total_bytes,
           CAST(SUM(recs) AS BIGINT) AS total_records
    FROM alive GROUP BY v
"""

_STATS_SCHEMA = (
    "partitionToWriteStats map<string, array<struct<"
    "fileId: string, numWrites: long, fileSizeInBytes: long, "
    "prevCommit: string>>>, "
    "partitionToReplaceFileIds map<string, array<string>>"
)


def _read_instants(
    spark: SparkSession, hd: str, glob: str
) -> DataFrame:
    """One row per completed instant file: (idx, parsed metadata).
    Pending .inflight/.requested sidecars never match the completed
    glob — exactly how a real snapshot reader filters the timeline."""
    return (
        spark.read.option("pathGlobFilter", glob)
        .text(hd, wholetext=True)
        .select(
            (
                F.regexp_extract(
                    F.input_file_name(), r"(\d{14})\.\w+$", 1
                ).cast("long")
                - F.lit(_BASE_INSTANT)
            ).alias("idx"),
            F.from_json("value", _STATS_SCHEMA).alias("m"),
        )
    )


def _slices_of(inst: DataFrame) -> DataFrame:
    """(idx, part, fileId, sz, recs) — one row per written slice."""
    return (
        inst.select(
            "idx", F.explode("m.partitionToWriteStats").alias("part", "ws")
        )
        .select("idx", "part", F.explode("ws").alias("w"))
        .select(
            "idx",
            "part",
            F.col("w.fileId").alias("fileId"),
            F.col("w.fileSizeInBytes").alias("sz"),
            F.col("w.numWrites").alias("recs"),
        )
    )


@register(
    "scan_hudi_timeline",
    _HUDI_ORACLE,
    doc="Hudi timeline replay (.hoodie/<instant>.commit + "
    ".replacecommit JSON): latest SLICE per file group wins (an "
    "upsert is a new slice of the same fileId, not add+remove), "
    "replacecommits kill whole file groups from their instant "
    "onward, pending .inflight/.requested instants are skipped — "
    "per-instant snapshot census of live file groups / bytes / "
    "records, hash-checked against the fixture formula",
)
def scan_hudi_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third table-format replay next to scan_delta_log
    (delta_log.py:218) and scan_iceberg_manifest (iceberg.py:251),
    pinning the semantics the other two don't have: (1) upserts
    version a FILE GROUP in place — the census must count the group
    once with its latest slice's stats, never sum slices; (2) a
    replacecommit beats every slice of the groups it replaces, even
    slices written AFTER the group's creation (the fixture replaces
    fg-1-0, which was upserted at commit 3, at instant 5); (3) the
    pending instant at the timeline tip is invisible.

    Scale: see module docstring — metadata-only; bounded instant
    fan-out; replaced set broadcast into a left_anti.
    """
    import os

    hd = os.path.join(_scratch(sf_dir, "real_hudi"), ".hoodie")
    commits = _read_instants(spark, hd, "*.commit")
    repls = _read_instants(spark, hd, "*.replacecommit")

    slices = _slices_of(commits).unionByName(_slices_of(repls))
    replaced = (
        repls.select(
            F.col("idx").alias("rc"),
            F.explode("m.partitionToReplaceFileIds").alias("part", "ids"),
        )
        .select("rc", "part", F.explode("ids").alias("fileId"))
    )

    # bounded fan-out: a slice at idx i is visible at snapshots i..R
    fan = slices.select(
        "part",
        "fileId",
        "idx",
        "sz",
        "recs",
        F.explode(
            F.sequence(F.col("idx"), F.lit(_REPL_IDX))
        ).alias("v"),
    )
    latest = fan.groupBy("v", "part", "fileId").agg(
        F.max(F.struct("idx", "sz", "recs")).alias("a")
    )
    dead = replaced.select(
        "part",
        "fileId",
        F.explode(
            F.sequence(F.col("rc"), F.lit(_REPL_IDX))
        ).alias("v"),
    )
    alive = latest.join(
        F.broadcast(dead), ["v", "part", "fileId"], "left_anti"
    )
    return (
        alive.groupBy("v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_file_groups"),
            F.sum("a.sz").cast("long").alias("total_bytes"),
            F.sum("a.recs").cast("long").alias("total_records"),
        )
        .select(
            (F.lit(_BASE_INSTANT) + F.col("v"))
            .cast("long")
            .alias("instant"),
            "n_file_groups",
            "total_bytes",
            "total_records",
        )
    )
