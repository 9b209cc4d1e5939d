"""Decode quarantine — the operational use of the ValueError contract.

Every binary parser in sources/ guarantees ValueError-only on
malformed input (tests/test_parser_fuzz.py). This op is WHY: on a
real crawl, corrupt files are routine and the pipeline must count
and quarantine them, not die. The fixture dir holds valid AND
deliberately broken files (odd indices truncated mid-structure — a
cut that provably desyncs each format: a GIF missing its trailer, an
MP3 cut mid-frame); the decode stage wraps each parse in the one
catchable type and emits a per-format good/quarantined census — the
scan_csv_quarantine posture extended to the binary-decode path.

Fixture corruption is index-determined, so the DuckDB oracle
recomputes the census from the formula — a full value-hash check
that the quarantine boundary routes EXACTLY the broken files (a
parser that crashes on valid input or accepts truncated input both
hash-fail).

Scale: per-file mapInPandas; the except branch costs nothing on the
happy path, and quarantined (path, error) rows are the retry/audit
queue a production ingest writes to a side table.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.gif import decode_gif_meta, encode_gif
from cs_pipeline_spark.sources.mp3 import decode_mp3_meta, encode_mp3
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_Q = 8  # per format; odd indices are corrupted


def _q_payload(fmt: str, i: int) -> bytes:
    raw = encode_gif(i) if fmt == "gif" else encode_mp3(i)
    if i % 2 == 1:
        # structural truncation that provably breaks each format:
        # GIF loses its 0x3B trailer; MP3 loses mid-frame bytes
        return raw[:-1] if fmt == "gif" else raw[:-7]
    return raw


@_fixture
def _fx_quarantine(spark: SparkSession, sf_dir: str) -> None:
    files = [(fmt, i) for fmt in ("gif", "mp3") for i in range(_N_Q)]
    write_files(
        _scratch(sf_dir, "real_quarantine"),
        [f"q-{fmt}-{i:03d}.{fmt}" for fmt, i in files],
        lambda k: _q_payload(*files[k]),
    )


_Q_ORACLE = f"""
    WITH files AS (
      SELECT fmt, unnest(range(0, {_N_Q})) AS i
      FROM (VALUES ('gif'), ('mp3')) AS t(fmt))
    SELECT fmt AS format,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN i % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quarantined
    FROM files GROUP BY fmt
"""


@register(
    "mm_decode_quarantine",
    _Q_ORACLE,
    doc="binary-decode quarantine census: a mixed valid/corrupted "
    "fixture dir decoded with the ValueError contract as the "
    "quarantine boundary — per-format good/quarantined counts, "
    "hash-checked against the index-determined corruption formula "
    "(crash-on-valid and accept-on-truncated both fail the hash); "
    "the scan_csv_quarantine posture for the binary crawl path",
)
def mm_decode_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ingest shape: decode everything, catch the ONE
    contracted exception type, route failures to a quarantine count
    instead of failing the job. Odd-indexed fixtures are truncated
    mid-structure, so exactly half of each format must quarantine —
    the oracle pins both directions of the boundary.

    Scale: per-file mapInPandas with a try/except around the parse;
    at 100 TB the quarantined (path, error) rows feed a side table
    for retry/audit while the job keeps its throughput.
    """
    schema = (
        "format string, n_files long, n_ok long, n_quarantined long"
    )

    def census(payload: bytes) -> list[dict]:
        # both formats keep their magic: corruption truncates the tail
        fmt = "gif" if payload[:3] == b"GIF" else "mp3"
        try:
            (decode_gif_meta if fmt == "gif" else decode_mp3_meta)(payload)
            ok = 1
        except ValueError:
            ok = 0
        return [{"format": fmt, "n_files": 1, "n_ok": ok,
                 "n_quarantined": 1 - ok}]

    partial = decode_files(
        spark, _scratch(sf_dir, "real_quarantine"), "q-*", census, schema
    )
    # one census row per file — merge to per-format totals
    from pyspark.sql import functions as F

    return partial.groupBy("format").agg(
        F.sum("n_files").cast("long").alias("n_files"),
        F.sum("n_ok").cast("long").alias("n_ok"),
        F.sum("n_quarantined").cast("long").alias("n_quarantined"),
    )
