"""SubRip (.srt) subtitle decode — pure JVM-side text parsing.

Subtitles are the aligned-text modality of video corpora: every
captioned clip carries (time span, text) pairs that ASR/translation
training consumes directly, and reading-speed (chars/sec) is a
standard caption-quality filter. Unlike the binary decoders
(mapInPandas walkers), SRT is line-structured text — so this parser
stays ENTIRELY in the JVM: ``spark.read.text(wholetext=true)`` per
file, blank-line split to cues, ``regexp_extract`` on the
``HH:MM:SS,mmm --> HH:MM:SS,mmm`` line, array ops over the text
lines. Whole-stage codegen end to end; no Python workers at all.

Fixture content is stated by an arithmetic formula, so the DuckDB
oracle recomputes every output column — a full value-hash check.

Scale: one text scan, per-row split/explode, no shuffle — the same
per-file map shape as the binary decoders but cheaper (no Arrow
hop). Malformed cue time-lines yield NULL timestamps from
regexp_extract rather than errors; the op surfaces them as
``valid_times = 0`` rows so a curation filter can count them (text
formats degrade row-by-row, unlike binary containers where one bad
length desyncs everything after it — hence flag-and-continue here
vs ValueError there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_SRTS = 6


def _srt_cues(f: int) -> list[dict]:
    cues = []
    for c in range(10 + 4 * f):
        start = c * 2500 + 100 * f
        end = start + 1500 + (c * 83 + f * 29) % 1200
        n_lines = 1 + (c + f) % 2
        lines = [
            " ".join(
                f"w{(c * 7 + k * 3 + j) % 50}"
                for j in range(3 + (c * 2 + k) % 5)
            )
            for k in range(n_lines)
        ]
        cues.append(
            {"idx": c + 1, "start_ms": start, "end_ms": end,
             "lines": lines}
        )
    return cues


def _fmt_ts(ms: int) -> str:
    h, rem = divmod(ms, 3600000)
    m, rem = divmod(rem, 60000)
    s, ms3 = divmod(rem, 1000)
    return f"{h:02d}:{m:02d}:{s:02d},{ms3:03d}"


def encode_srt(f: int) -> str:
    blocks = []
    for cue in _srt_cues(f):
        blocks.append(
            f"{cue['idx']}\n"
            f"{_fmt_ts(cue['start_ms'])} --> {_fmt_ts(cue['end_ms'])}\n"
            + "\n".join(cue["lines"])
        )
    return "\n\n".join(blocks) + "\n"


@_fixture
def _fx_srt_caps(spark: SparkSession, sf_dir: str) -> None:
    names = [f"cap-{f:03d}.srt" for f in range(_N_SRTS)]
    write_files(
        _scratch(sf_dir, "real_srts"), names, lambda f: encode_srt(f).encode()
    )


# n_chars counts the text glyphs (line chars, no newlines); the
# reading-speed signal is chars/sec in exact integer ppm of cps.
_SRT_ORACLE = f"""
    WITH caps AS (SELECT unnest(range(0, {_N_SRTS})) AS f),
    cues AS (SELECT f, unnest(range(0, 10 + 4 * f)) AS c FROM caps),
    lines AS (
      SELECT f, c, unnest(range(0, 1 + (c + f) % 2)) AS k FROM cues),
    words AS (
      SELECT f, c, k, unnest(range(0, 3 + (c * 2 + k) % 5)) AS j
      FROM lines),
    linechars AS (
      -- 'w%d' word lengths + single spaces between words
      SELECT f, c, k,
             SUM(length(printf('w%d', CAST((c * 7 + k * 3 + j) % 50
                                           AS INT)))) + COUNT(*) - 1
               AS chars
      FROM words GROUP BY f, c, k),
    cuestats AS (
      SELECT l.f, l.c,
             COUNT(*) AS n_lines,
             SUM(l.chars) AS n_chars
      FROM linechars l GROUP BY l.f, l.c)
    SELECT printf('cap-%03d.srt', CAST(s.f AS INT)) AS fname,
           CAST(s.c + 1 AS BIGINT) AS cue_idx,
           CAST(s.c * 2500 + 100 * s.f AS BIGINT) AS start_ms,
           CAST(s.c * 2500 + 100 * s.f + 1500
                + (s.c * 83 + s.f * 29) % 1200 AS BIGINT) AS end_ms,
           CAST(1500 + (s.c * 83 + s.f * 29) % 1200 AS BIGINT) AS dur_ms,
           CAST(s.n_lines AS BIGINT) AS n_lines,
           CAST(s.n_chars AS BIGINT) AS n_chars,
           CAST(1 AS BIGINT) AS valid_times,
           CAST(s.n_chars * 1000000 * 1000
                // (1500 + (s.c * 83 + s.f * 29) % 1200) AS BIGINT)
             AS cps_ppm
    FROM cuestats s
"""

_TS_RE = (
    r"(\d{2}):(\d{2}):(\d{2}),(\d{3})\s*-->\s*"
    r"(\d{2}):(\d{2}):(\d{2}),(\d{3})"
)


# inside a Spark SQL string literal backslashes are escapes — the
# pattern needs them doubled there, while the Column-API rlike takes
# the raw regex
_TS_RE_SQL = _TS_RE.replace("\\", "\\\\")


def _ts_ms(prefix: int) -> str:
    """SQL for one timestamp's ms from regexp groups g..g+3."""
    g = prefix
    return (
        f"(cast(regexp_extract(tline, '{_TS_RE_SQL}', {g}) as bigint) * 3600000"
        f" + cast(regexp_extract(tline, '{_TS_RE_SQL}', {g + 1}) as bigint) * 60000"
        f" + cast(regexp_extract(tline, '{_TS_RE_SQL}', {g + 2}) as bigint) * 1000"
        f" + cast(regexp_extract(tline, '{_TS_RE_SQL}', {g + 3}) as bigint))"
    )


@register(
    "scan_srt_cues",
    _SRT_ORACLE,
    doc="SubRip subtitle decode, pure JVM (wholetext + blank-line "
    "split + regexp timestamp parse — zero Python workers): per cue "
    "the span, line/char census, and the chars-per-second "
    "reading-speed signal in integer ppm — the aligned-text modality "
    "of video corpora, hash-checked against the fixture formula",
)
def scan_srt_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption parsing as a quality filter sees it: cues exploded from
    blank-line-separated blocks, ``HH:MM:SS,mmm --> HH:MM:SS,mmm``
    decomposed by one regexp (8 groups), text lines counted and
    measured, and cps = chars/duration as an exact integer ppm — the
    threshold captioners use (~17 cps readable, > 25 machine-junk).
    A cue whose time line fails the regexp keeps its row with
    valid_times = 0 instead of failing the file (see module
    docstring on text-vs-binary degradation).

    Scale: text scan → split/explode → codegen expressions; no
    shuffle, no UDF, no Arrow. The 100 TB shape is identical.
    """
    raw = (
        spark.read.text(
            _scratch(sf_dir, "real_srts") + "/*.srt", wholetext=True
        )
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias(
                "fname"
            ),
            "value",
        )
    )
    cues = raw.select(
        "fname",
        F.explode(
            F.filter(
                F.split(F.col("value"), r"\r?\n\r?\n"),
                lambda b: F.trim(b) != "",
            )
        ).alias("block"),
    )
    parts = cues.select(
        "fname",
        F.split(F.col("block"), r"\r?\n").alias("ls"),
    ).select(
        "fname",
        F.element_at("ls", 1).cast("long").alias("cue_idx"),
        F.element_at("ls", 2).alias("tline"),
        F.expr("filter(slice(ls, 3, size(ls) - 2), x -> x != '')").alias(
            "text_lines"
        ),
    )
    start = F.expr(_ts_ms(1))
    end = F.expr(_ts_ms(5))
    valid = F.col("tline").rlike(_TS_RE)
    n_chars = F.expr(
        "aggregate(text_lines, 0L, (acc, x) -> acc + length(x))"
    )
    return parts.select(
        "fname",
        "cue_idx",
        F.when(valid, start).otherwise(F.lit(None)).alias("start_ms"),
        F.when(valid, end).otherwise(F.lit(None)).alias("end_ms"),
        F.when(valid, end - start).otherwise(F.lit(None)).alias("dur_ms"),
        F.size("text_lines").cast("long").alias("n_lines"),
        n_chars.alias("n_chars"),
        valid.cast("long").alias("valid_times"),
        F.when(
            valid & (end - start > 0),
            F.expr(
                f"aggregate(text_lines, 0L, (acc, x) -> acc + length(x))"
                f" * 1000000 * 1000 div ({_ts_ms(5)} - {_ts_ms(1)})"
            ),
        ).alias("cps_ppm"),
    )


# ---------- cross-modal: caption-to-keyframe alignment ----------
#
# Video-text training pairs need each caption cue anchored to the
# video frame it starts on — in practice the latest KEYFRAME at or
# before the cue start, because that is where a decoder can seek.
# This composes the two registered decoders BY REFERENCE (srt cues ×
# mp4 GOP census; the mm_curate_e2e contract) with an as-of join.

_ALIGN_N = 6  # pairs: cap-00k.srt ↔ gclip-00k.mp4 for k < 6
_GOP_MOVIE_MS = 30000  # gclip fixtures: mvhd 600*30 at timescale 600


def _align_oracle() -> str:
    import cs_pipeline_spark.sources.mp4  # noqa: F401  (provider)
    from cs_pipeline_spark.registry import _REGISTRY

    gop = _REGISTRY["mm_video_keyframes"].oracle
    srt = _REGISTRY["scan_srt_cues"].oracle
    return f"""
    WITH cues AS (
      SELECT CAST(substr(fname, 5, 3) AS BIGINT) AS pair_id,
             cue_idx, start_ms
      FROM ({srt})
      WHERE CAST(substr(fname, 5, 3) AS BIGINT) < {_ALIGN_N}),
    kf AS (
      SELECT CAST(substr(fname, 7, 3) AS BIGINT) AS pair_id,
             gop_idx, keyframe_sample,
             SUM(gop_len) OVER (PARTITION BY fname) AS n_samples
      FROM ({gop})
      WHERE CAST(substr(fname, 7, 3) AS BIGINT) < {_ALIGN_N}),
    kfts AS (
      SELECT pair_id, gop_idx,
             CAST((keyframe_sample - 1) * {_GOP_MOVIE_MS} // n_samples
                  AS BIGINT) AS kf_pts_ms
      FROM kf),
    best AS (
      SELECT c.pair_id, c.cue_idx, c.start_ms,
             CAST(MAX(k.kf_pts_ms) AS BIGINT) AS kf_pts_ms
      FROM cues c JOIN kfts k
        ON k.pair_id = c.pair_id AND k.kf_pts_ms <= c.start_ms
      GROUP BY c.pair_id, c.cue_idx, c.start_ms)
    SELECT b.pair_id, b.cue_idx, b.start_ms,
           CAST(MAX(k.gop_idx) AS BIGINT) AS gop_idx,
           CAST(b.kf_pts_ms AS BIGINT) AS kf_pts_ms,
           CAST(b.start_ms - b.kf_pts_ms AS BIGINT) AS seek_gap_ms
    FROM best b JOIN kfts k
      ON k.pair_id = b.pair_id AND k.kf_pts_ms = b.kf_pts_ms
    GROUP BY b.pair_id, b.cue_idx, b.start_ms, b.kf_pts_ms
    """


@register(
    "mm_caption_align",
    _align_oracle(),
    doc="cross-modal caption-to-keyframe as-of alignment: each SRT cue "
    "start anchored to the latest decoded keyframe at or before it "
    "(seekable decode point), with the seek gap in ms — composes the "
    "registered scan_srt_cues and mm_video_keyframes oracles by "
    "reference; ties on keyframe pts resolve to the max gop_idx on "
    "both sides",
)
def mm_caption_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video-text pairing step: a training sample (cue text,
    frame span) is only loadable from the nearest preceding KEYFRAME,
    so each cue is as-of joined to the GOP census (cue.start ≥
    keyframe pts, argmax pts). Keyframe pts come from the decoded
    sample index scaled by the movie clock (the gclip fixtures run a
    fixed 30 s). Cues past the video end legitimately anchor to the
    final keyframe.

    Scale: the join is pair-keyed on BOTH sides with per-key fan-out
    bounded by keyframes-per-video (seconds of video / GOP length —
    never corpus-scale); the argmax is a groupBy on the cue key. The
    same shape at 100 TB is the documented bounded-fanout as-of
    pattern (join_asof_tolerance's disposition).
    """
    from cs_pipeline_spark.sources.mp4 import mm_video_keyframes
    from pyspark.sql import Window

    cues = (
        scan_srt_cues(spark, sf_dir)
        .select(
            F.substring("fname", 5, 3).cast("long").alias("pair_id"),
            "cue_idx",
            "start_ms",
        )
        .filter(F.col("pair_id") < _ALIGN_N)
    )
    kf = (
        mm_video_keyframes(spark, sf_dir)
        .select(
            F.substring("fname", 7, 3).cast("long").alias("pair_id"),
            "gop_idx",
            "keyframe_sample",
            F.sum("gop_len")
            .over(Window.partitionBy("fname"))
            .alias("n_samples"),
        )
        .filter(F.col("pair_id") < _ALIGN_N)
        .select(
            "pair_id",
            "gop_idx",
            F.expr(
                f"(keyframe_sample - 1) * {_GOP_MOVIE_MS} div n_samples"
            ).alias("kf_pts_ms"),
        )
    )
    j = cues.join(kf, "pair_id").filter(
        F.col("kf_pts_ms") <= F.col("start_ms")
    )
    return (
        j.groupBy("pair_id", "cue_idx", "start_ms")
        .agg(
            F.max(
                F.struct(F.col("kf_pts_ms"), F.col("gop_idx"))
            ).alias("m")
        )
        .select(
            "pair_id",
            "cue_idx",
            "start_ms",
            F.col("m.gop_idx").alias("gop_idx"),
            F.col("m.kf_pts_ms").alias("kf_pts_ms"),
            (F.col("start_ms") - F.col("m.kf_pts_ms")).alias(
                "seek_gap_ms"
            ),
        )
    )
