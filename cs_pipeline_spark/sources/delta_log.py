"""Lakehouse transaction-log replay — Delta-style commit JSON.

Every lakehouse table format (Delta, Iceberg, Hudi) is "parquet files
+ an ordered commit log of add/remove actions", and the primitive
every reader implements is LOG REPLAY: fold the actions up to a
version and you have that version's live file set — which is also
exactly how time travel works. This module implements the replay as
a DataFrame program over the raw commit JSON (no lakehouse library):
one row per (version, action), latest-action-wins per path with
remove beating add on version ties, and a per-version snapshot
census — the file count / byte / record mass a reader AS OF each
version would plan against.

Fixture: a ``_delta_log``-shaped directory of ``%020d.json`` commit
files; commit 0 carries protocol/metaData lines (skipped by the
replay, as real readers skip them for file listing), every commit
adds 3 files, commits ≥ 2 remove one file two commits back (the
compaction/rewrite pattern), and commit 4 RE-ADDS the path commit 2
removed — the case that forces latest-action-wins replay (a naive
"removed once = dead forever" fold gets it wrong; ADVICE r9). Every
action carries Delta's millisecond timestamp (commit c at _T0 + c
hours), which the vacuum planner ages against. All sizes/record
counts are stated by formula, so the DuckDB oracle recomputes the
full time-travel table.

Scale: the log is metadata (KBs per commit); replay is one
path-keyed aggregate after a bounded version fan-out. Production
Delta adds parquet checkpoints every 10 commits so replay reads
O(10) JSON files — the same fold from a later starting state;
noted in the docstring as the long-log path.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_COMMITS = 6
_ADDS_PER_COMMIT = 3
# fixture clock: commit c lands at _T0 + c hours (epoch seconds);
# actions carry Delta's millisecond timestamps derived from this
_T0 = 1_700_000_000
# commit 4 RE-ADDS the path commit 2 removed (part-0-2) — the
# re-add-after-remove case that distinguishes latest-action-wins
# replay from a naive "removed once = dead forever" NOT EXISTS fold
_READD_COMMIT = 4
_READD_PATH = "part-0-2.parquet"
_READD_SZ = 4242
_READD_RECS = 99


def _commit_ts_ms(c: int) -> int:
    return (_T0 + 3600 * c) * 1000


def _add_info(c: int, k: int) -> tuple[str, int, int]:
    return (
        f"part-{c}-{k}.parquet",
        1000 + 100 * c + 10 * k,
        50 + 10 * c + k,
    )


def _remove_path(c: int) -> str:
    return f"part-{c - 2}-{c % 3}.parquet"


def _commit_json(c: int) -> bytes:
    lines = []
    if c == 0:
        lines.append(json.dumps({
            "protocol": {"minReaderVersion": 1, "minWriterVersion": 2}
        }))
        lines.append(json.dumps({
            "metaData": {"id": "tbl", "format": {"provider": "parquet"}}
        }))
    for k in range(_ADDS_PER_COMMIT):
        path, sz, recs = _add_info(c, k)
        lines.append(json.dumps({
            "add": {"path": path, "size": sz, "numRecords": recs,
                    "modificationTime": _commit_ts_ms(c),
                    "dataChange": True}
        }))
    if c == _READD_COMMIT:
        lines.append(json.dumps({
            "add": {"path": _READD_PATH, "size": _READD_SZ,
                    "numRecords": _READD_RECS,
                    "modificationTime": _commit_ts_ms(c),
                    "dataChange": True}
        }))
    if c >= 2:
        lines.append(json.dumps({
            "remove": {"path": _remove_path(c),
                       "deletionTimestamp": _commit_ts_ms(c),
                       "dataChange": True}
        }))
    return ("\n".join(lines) + "\n").encode()


@_fixture
def _fx_delta_log(spark: SparkSession, sf_dir: str) -> None:
    names = [f"{c:020d}.json" for c in range(_N_COMMITS)]
    write_files(_scratch(sf_dir, "real_delta_log"), names, _commit_json)


def _read_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the commit JSON into one row per file action:
    (version, path, is_remove, sz, recs, ts_ms). Shared by the
    time-travel replay and the vacuum planner; protocol/metaData
    lines drop out of the add/remove-path filter."""
    log_dir = _scratch(sf_dir, "real_delta_log")
    raw = (
        spark.read.option("pathGlobFilter", "*.json")
        .text(log_dir)
        .select(
            F.regexp_extract(
                F.input_file_name(), r"(\d{20})\.json$", 1
            )
            .cast("long")
            .alias("version"),
            "value",
        )
    )
    acts = raw.select(
        "version",
        F.get_json_object("value", "$.add.path").alias("add_path"),
        F.get_json_object("value", "$.add.size")
        .cast("long")
        .alias("sz"),
        F.get_json_object("value", "$.add.numRecords")
        .cast("long")
        .alias("recs"),
        F.get_json_object("value", "$.remove.path").alias("rm_path"),
        F.coalesce(
            F.get_json_object(
                "value", "$.add.modificationTime"
            ).cast("long"),
            F.get_json_object(
                "value", "$.remove.deletionTimestamp"
            ).cast("long"),
        ).alias("ts_ms"),
    ).filter(
        F.col("add_path").isNotNull() | F.col("rm_path").isNotNull()
    )
    return acts.select(
        "version",
        F.coalesce("add_path", "rm_path").alias("path"),
        F.col("rm_path").isNotNull().cast("int").alias("is_remove"),
        "sz",
        "recs",
        "ts_ms",
    )


_DELTA_ORACLE = f"""
    WITH commits AS (SELECT unnest(range(0, {_N_COMMITS})) AS c),
    adds AS (SELECT c,
                    printf('part-%d-%d.parquet', CAST(c AS INT),
                           CAST(k.k AS INT)) AS path,
                    1000 + 100 * c + 10 * k.k AS sz,
                    50 + 10 * c + k.k AS recs
             FROM commits,
                  (SELECT unnest(range(0, {_ADDS_PER_COMMIT})) AS k) k
             UNION ALL
             SELECT {_READD_COMMIT} AS c, '{_READD_PATH}' AS path,
                    {_READD_SZ} AS sz, {_READD_RECS} AS recs),
    rems AS (SELECT c AS rc,
                    printf('part-%d-%d.parquet', CAST(c - 2 AS INT),
                           CAST(c % 3 AS INT)) AS path
             FROM commits WHERE c >= 2),
    v AS (SELECT unnest(range(0, {_N_COMMITS})) AS v),
    actions AS (
      SELECT c AS av, path, 0 AS is_remove, sz, recs FROM adds
      UNION ALL
      SELECT rc AS av, path, 1 AS is_remove,
             NULL::BIGINT AS sz, NULL::BIGINT AS recs FROM rems),
    -- latest-action-wins per (snapshot, path), remove beating add on
    -- version ties — the SAME fold as the Spark side, so a re-added
    -- path correctly comes back to life (NOT EXISTS would not)
    ranked AS (
      SELECT v.v, a.path, a.is_remove, a.sz, a.recs,
             ROW_NUMBER() OVER (
               PARTITION BY v.v, a.path
               ORDER BY a.av DESC, a.is_remove DESC) AS rn
      FROM v JOIN actions a ON a.av <= v.v),
    live AS (SELECT v, path, sz, recs FROM ranked
             WHERE rn = 1 AND is_remove = 0)
    SELECT CAST(v AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_live_files,
           CAST(SUM(sz) AS BIGINT) AS live_bytes,
           CAST(SUM(recs) AS BIGINT) AS live_records
    FROM live GROUP BY v
"""


@register(
    "scan_delta_log",
    _DELTA_ORACLE,
    doc="lakehouse transaction-log replay (Delta-style %020d.json "
    "commits): add/remove actions folded latest-action-wins per path "
    "(remove beats add on version ties) into the live file set AS OF "
    "every version — the time-travel snapshot census, one row per "
    "version, hash-checked against the fixture formula",
)
def scan_delta_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The primitive under every lakehouse reader: fold the commit
    log to a version, get that version's file list. Protocol/metaData
    lines are skipped exactly as real file-listing replay skips them;
    the compaction pattern (commit c rewrites a file from commit c−2)
    makes the snapshots genuinely differ per version, so an
    off-by-one in the fold (≤ v vs < v, or add beating remove on a
    tie) changes the hash.

    Scale: commit JSON is metadata — KBs per commit regardless of
    data size. The replay is a bounded version fan-out (versions ×
    actions, both log-sized) then a (version, path) latest-action
    aggregate. Long logs use the checkpoint pattern: start the fold
    from the last parquet checkpoint instead of version 0 — same
    aggregate, O(10) JSON files read.
    """
    actions = _read_actions(spark, sf_dir)
    # bounded fan-out WITHOUT a nested-loop join: an action at
    # version x is visible in snapshots x..N-1 — explode the range
    fan = actions.select(
        "path",
        "version",
        "is_remove",
        "sz",
        "recs",
        F.explode(
            F.sequence(F.col("version"), F.lit(_N_COMMITS - 1))
        ).alias("v"),
    )
    latest = (
        fan.groupBy("v", "path")
        .agg(
            F.max(
                F.struct("version", "is_remove", "sz", "recs")
            ).alias("a")
        )
        .filter(F.col("a.is_remove") == 0)
    )
    return (
        latest.groupBy("v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_live_files"),
            F.sum("a.sz").cast("long").alias("live_bytes"),
            F.sum("a.recs").cast("long").alias("live_records"),
        )
        .select(
            F.col("v").cast("long").alias("version"),
            "n_live_files",
            "live_bytes",
            "live_records",
        )
    )


# ====================================================================
# Vacuum planner — the other half of the commit-log story: which
# tombstoned files can physically be deleted without breaking any
# reader inside the retention horizon?
# ====================================================================

_VACUUM_RETENTION_H = 1  # retention horizon, hours (Delta default 168)

_VACUUM_ORACLE = f"""
    WITH commits AS (SELECT unnest(range(0, {_N_COMMITS})) AS c),
    adds AS (SELECT c,
                    printf('part-%d-%d.parquet', CAST(c AS INT),
                           CAST(k.k AS INT)) AS path,
                    1000 + 100 * c + 10 * k.k AS sz,
                    50 + 10 * c + k.k AS recs,
                    CAST({_T0} + 3600 * c AS BIGINT) * 1000 AS ts
             FROM commits,
                  (SELECT unnest(range(0, {_ADDS_PER_COMMIT})) AS k) k
             UNION ALL
             SELECT {_READD_COMMIT} AS c, '{_READD_PATH}' AS path,
                    {_READD_SZ} AS sz, {_READD_RECS} AS recs,
                    CAST({_T0} + 3600 * {_READD_COMMIT} AS BIGINT) * 1000 AS ts),
    rems AS (SELECT c,
                    printf('part-%d-%d.parquet', CAST(c - 2 AS INT),
                           CAST(c % 3 AS INT)) AS path,
                    CAST({_T0} + 3600 * c AS BIGINT) * 1000 AS ts
             FROM commits WHERE c >= 2),
    actions AS (
      SELECT c AS av, path, 0 AS is_remove, ts FROM adds
      UNION ALL
      SELECT c AS av, path, 1 AS is_remove, ts FROM rems),
    -- latest action per path over the FULL log (vacuum plans against
    -- HEAD): a re-added path's latest action is the add, so it is
    -- live and must NOT appear in the tombstone census
    latest AS (
      SELECT path, av, is_remove, ts,
             ROW_NUMBER() OVER (PARTITION BY path
                                ORDER BY av DESC, is_remove DESC) AS rn
      FROM actions),
    tomb AS (SELECT path, av AS removed_version, ts AS del_ts
             FROM latest WHERE rn = 1 AND is_remove = 1),
    -- each tombstone's size/records come from its last add at or
    -- before the removing commit
    lastadd AS (
      SELECT t.path, t.removed_version, t.del_ts, a.sz, a.recs,
             ROW_NUMBER() OVER (PARTITION BY t.path
                                ORDER BY a.c DESC) AS rn
      FROM tomb t JOIN adds a
        ON a.path = t.path AND a.c <= t.removed_version)
    SELECT path,
           CAST(removed_version AS BIGINT) AS removed_version,
           CAST(sz AS BIGINT) AS size_bytes,
           CAST(recs AS BIGINT) AS num_records,
           CAST(({_commit_ts_ms(_N_COMMITS - 1)} - del_ts) // 3600000
                AS BIGINT) AS age_hours,
           CAST(CASE WHEN del_ts <=
                  {_commit_ts_ms(_N_COMMITS - 1)
                   - _VACUUM_RETENTION_H * 3600000}
                THEN 1 ELSE 0 END AS BIGINT) AS removable
    FROM lastadd WHERE rn = 1
"""


@register(
    "lake_vacuum_plan",
    _VACUUM_ORACLE,
    doc="Delta-style VACUUM planner: fold the full commit log "
    "latest-action-wins per path, census the tombstones (paths whose "
    "latest action is a remove — a re-added path is live and "
    "excluded), recover each tombstone's size/records from its last "
    "add before removal, age the deletionTimestamp against the "
    "retention horizon, and flag which files are physically "
    "removable — one row per tombstone, hash-checked against the "
    "fixture formula",
)
def lake_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What `VACUUM table RETAIN n HOURS DRY RUN` computes: the
    physically-deletable file list. Two subtleties the hash pins:
    (1) tombstones come from the latest-action-wins fold, so the
    fixture's re-added path (removed at commit 2, re-added at commit
    4) is live and MUST NOT be vacuumed — a naive "every removed path"
    scan would delete a live file; (2) the newest tombstone is inside
    the retention horizon (readers at older snapshots may still scan
    it) and flags removable=0. "Now" is pinned to the latest commit's
    timestamp so the plan is deterministic.

    Scale: the log is metadata — KBs per commit regardless of table
    size. One path-keyed aggregate over the actions, then a broadcast
    join of the (tiny) tombstone set back to the adds for size
    recovery; no fact-scale input anywhere. Long logs start the fold
    from the last checkpoint exactly as scan_delta_log notes.
    """
    actions = _read_actions(spark, sf_dir)
    now_ms = _commit_ts_ms(_N_COMMITS - 1)
    cutoff_ms = now_ms - _VACUUM_RETENTION_H * 3600000
    latest = actions.groupBy("path").agg(
        F.max(F.struct("version", "is_remove", "ts_ms")).alias("a")
    )
    tomb = latest.filter(F.col("a.is_remove") == 1).select(
        "path",
        F.col("a.version").alias("removed_version"),
        F.col("a.ts_ms").alias("del_ts"),
    )
    adds = actions.filter(F.col("is_remove") == 0).select(
        "path", "version", "sz", "recs"
    )
    joined = adds.join(F.broadcast(tomb), "path").filter(
        F.col("version") <= F.col("removed_version")
    )
    lastadd = joined.groupBy("path", "removed_version", "del_ts").agg(
        F.max(F.struct("version", "sz", "recs")).alias("a")
    )
    return lastadd.select(
        "path",
        F.col("removed_version").cast("long").alias("removed_version"),
        F.col("a.sz").cast("long").alias("size_bytes"),
        F.col("a.recs").cast("long").alias("num_records"),
        F.expr(f"({now_ms} - del_ts) div 3600000")
        .cast("long")
        .alias("age_hours"),
        F.when(F.col("del_ts") <= F.lit(cutoff_ms), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("removable"),
    )


# ====================================================================
# Checkpoint replay — the long-log path: fold from a materialized
# state table + only the commits AFTER it, instead of from version 0.
# ====================================================================

_CKPT_VERSION = 3


def _ckpt_state() -> list[tuple]:
    """Latest-action state per path as of _CKPT_VERSION, stated by
    the same fixture formulas the oracle recomputes — what a real
    engine materializes into %020d.checkpoint.parquet."""
    state: dict[str, tuple] = {}
    for c in range(_CKPT_VERSION + 1):
        for k in range(_ADDS_PER_COMMIT):
            path, sz, recs = _add_info(c, k)
            state[path] = (path, c, 0, sz, recs, _commit_ts_ms(c))
        if c == _READD_COMMIT:  # above the checkpoint in this fixture
            state[_READD_PATH] = (
                _READD_PATH, c, 0, _READD_SZ, _READD_RECS,
                _commit_ts_ms(c),
            )
        if c >= 2:
            rp = _remove_path(c)
            state[rp] = (rp, c, 1, None, None, _commit_ts_ms(c))
    return sorted(state.values())


@_fixture
def _fx_delta_checkpoint(spark: SparkSession, sf_dir: str) -> None:
    """Checkpoint parquet (sibling scratch dir: scan_delta_log globs
    *.json in the log dir, and a Spark parquet write is a DIRECTORY
    that would break the text reader's listing if nested there)."""
    import os

    out = _scratch(sf_dir, "real_delta_ckpt")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return
    schema = (
        "path string, version long, is_remove int, sz long, "
        "recs long, ts_ms long"
    )
    spark.createDataFrame(_ckpt_state(), schema=schema).coalesce(
        1
    ).write.mode("overwrite").parquet(out)


_CKPT_ORACLE = f"""
    WITH commits AS (SELECT unnest(range(0, {_N_COMMITS})) AS c),
    adds AS (SELECT c,
                    printf('part-%d-%d.parquet', CAST(c AS INT),
                           CAST(k.k AS INT)) AS path,
                    1000 + 100 * c + 10 * k.k AS sz,
                    50 + 10 * c + k.k AS recs
             FROM commits,
                  (SELECT unnest(range(0, {_ADDS_PER_COMMIT})) AS k) k
             UNION ALL
             SELECT {_READD_COMMIT} AS c, '{_READD_PATH}' AS path,
                    {_READD_SZ} AS sz, {_READD_RECS} AS recs),
    rems AS (SELECT c AS rc,
                    printf('part-%d-%d.parquet', CAST(c - 2 AS INT),
                           CAST(c % 3 AS INT)) AS path
             FROM commits WHERE c >= 2),
    v AS (SELECT unnest(range({_CKPT_VERSION}, {_N_COMMITS})) AS v),
    actions AS (
      SELECT c AS av, path, 0 AS is_remove, sz, recs FROM adds
      UNION ALL
      SELECT rc AS av, path, 1 AS is_remove,
             NULL::BIGINT AS sz, NULL::BIGINT AS recs FROM rems),
    ranked AS (
      SELECT v.v, a.path, a.is_remove, a.sz, a.recs,
             ROW_NUMBER() OVER (
               PARTITION BY v.v, a.path
               ORDER BY a.av DESC, a.is_remove DESC) AS rn
      FROM v JOIN actions a ON a.av <= v.v),
    live AS (SELECT v, path, sz, recs FROM ranked
             WHERE rn = 1 AND is_remove = 0)
    SELECT CAST(v AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_live_files,
           CAST(SUM(sz) AS BIGINT) AS live_bytes,
           CAST(SUM(recs) AS BIGINT) AS live_records
    FROM live GROUP BY v
"""


@register(
    "scan_delta_checkpoint",
    _CKPT_ORACLE,
    doc="Delta checkpoint replay: fold from the materialized "
    "checkpoint state table + only the commits AFTER it (the O(10)-"
    "files long-log path), latest-action-wins exactly as the full "
    "replay — per-version snapshot census for the checkpoint-and-"
    "later versions, hash-checked against the same formula the full "
    "replay hashes against (the two paths cannot drift)",
)
def scan_delta_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Why production replay is O(checkpoint interval), not O(log):
    the engine periodically materializes its folded state to parquet,
    and a reader folds that STATE TABLE plus the JSON tail. The state
    rows re-enter the fold carrying their original versions, so the
    same latest-action-wins aggregate serves both paths — and because
    this op and `scan_delta_log` hash against the same formula over
    their shared versions, an inconsistency between the two replay
    paths is a hash failure, not a silent drift.

    Scale: the checkpoint is O(live files) parquet (columnar, predicate-
    prunable), the tail is O(interval) JSON — the replay never touches
    older commits. Same path-keyed aggregate as the full fold.
    """
    ck = spark.read.parquet(_scratch(sf_dir, "real_delta_ckpt"))
    tail = _read_actions(spark, sf_dir).filter(
        F.col("version") > _CKPT_VERSION
    )
    actions = ck.select(
        "path", "version", "is_remove", "sz", "recs"
    ).unionByName(tail.select("path", "version", "is_remove", "sz", "recs"))
    fan = actions.select(
        "path",
        "version",
        "is_remove",
        "sz",
        "recs",
        F.explode(
            F.sequence(
                F.greatest(F.col("version"), F.lit(_CKPT_VERSION)),
                F.lit(_N_COMMITS - 1),
            )
        ).alias("v"),
    )
    latest = (
        fan.groupBy("v", "path")
        .agg(
            F.max(
                F.struct("version", "is_remove", "sz", "recs")
            ).alias("a")
        )
        .filter(F.col("a.is_remove") == 0)
    )
    return (
        latest.groupBy("v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_live_files"),
            F.sum("a.sz").cast("long").alias("live_bytes"),
            F.sum("a.recs").cast("long").alias("live_records"),
        )
        .select(
            F.col("v").cast("long").alias("version"),
            "n_live_files",
            "live_bytes",
            "live_records",
        )
    )
