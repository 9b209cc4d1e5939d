"""Wikipedia multistream dump decode — bz2 ranged reads + wikitext.

Wikipedia is a canonical pretraining source, and its dump format is
its own ingestion problem: ``pages-articles-multistream.xml.bz2`` is
a CONCATENATION of independent bz2 streams (~100 pages each) plus an
index file of ``offset:page_id:title`` lines, so a reader can seek to
one stream and inflate it without touching the rest of the dump —
the same ranged-read pattern as CommonCrawl's CDX (sources/warc.py's
``scan_cdx_ranged_fetch``), with stdlib ``bz2`` instead of zlib.

Two ops:
- ``scan_bz2_multistream``: index-driven stream census — group index
  entries per dump, bound each stream by the NEXT index offset,
  inflate it standalone (decompressor ``eof`` + empty ``unused_data``
  = the stale-index check), parse the ``<page>`` XML blocks, census
  pages per stream against the index's own page ids.
- ``text_wiki_markup_strip``: the WikiExtractor step — bold/italic
  quotes, ``[[target|display]]`` piped links, ``{{template}}``
  removal — as a PURE JVM ``regexp_replace`` chain over the decoded
  page text (no Python in the strip), hash-checked against the
  fixture formula's expected plain text.

Malformed input raises ValueError only (the crawl contract, pinned by
tests/test_parser_fuzz.py).

Scale: dumps shard naturally by stream; index entries group per dump
file and co-locate with the shard scan (bounded by pages-per-dump);
stream-at-a-time inflation keeps peak memory at one ~1 MB stream.
The strip stage is whole-stage-codegen map work over page rows.
"""

from __future__ import annotations

import bz2
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import decode_files, write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_DUMPS = 4
_PAGES_PER_STREAM = 5


def _dump_n_pages(i: int) -> int:
    return 12 + 4 * i


def _page_text(pid: int) -> str:
    k, j = pid % 7, pid % 3
    if pid % 2 == 0:
        return f"'''A{pid}''' is [[T{k}|topic {k}]] {{{{s{j}}}}}."
    return f"''A{pid}'' is [[T{k}]] {{{{s{j}}}}}."


def _page_plain(pid: int) -> str:
    k = pid % 7
    if pid % 2 == 0:
        return f"A{pid} is topic {k} ."
    return f"A{pid} is T{k} ."


def _page_xml(pid: int) -> bytes:
    return (
        f"<page><title>A{pid}</title><id>{pid}</id>"
        f"<text>{_page_text(pid)}</text></page>"
    ).encode()


def encode_wikidump(i: int) -> bytes:
    """Multistream writer: pages batched 5-per-stream, each batch its
    own complete bz2 stream, streams concatenated."""
    n = _dump_n_pages(i)
    out = bytearray()
    for s0 in range(0, n, _PAGES_PER_STREAM):
        block = b"".join(
            _page_xml(p + 1)
            for p in range(s0, min(s0 + _PAGES_PER_STREAM, n))
        )
        out += bz2.compress(block, 6)
    return bytes(out)


def _dump_index_lines(i: int) -> list[str]:
    """offset:page_id:title lines, one per page (the dump's own
    multistream-index format) — offsets are stream starts."""
    n = _dump_n_pages(i)
    lines = []
    off = 0
    for s0 in range(0, n, _PAGES_PER_STREAM):
        pids = range(s0 + 1, min(s0 + _PAGES_PER_STREAM, n) + 1)
        block = b"".join(_page_xml(p) for p in pids)
        for p in pids:
            lines.append(f"{off}:{p}:A{p}")
        off += len(bz2.compress(block, 6))
    return lines


_PAGE_RE = re.compile(
    rb"<page><title>([^<]*)</title><id>(\d+)</id><text>(.*?)</text>"
    rb"</page>",
    re.S,
)


def decode_bz2_stream(shard: bytes, offset: int, end: int) -> list[tuple]:
    """Inflate ONE bz2 stream at shard[offset:end] and parse its page
    blocks → [(pid, text_bytes)]. ValueError-only: a stale index
    (offset not at a stream start, end not at the stream boundary)
    fails loudly."""
    if offset < 0 or end > len(shard) or end - offset < 4:
        raise ValueError("stale dump index: range outside shard")
    blob = shard[offset:end]
    if blob[:3] != b"BZh":
        raise ValueError("stale dump index: offset not at a bz2 stream")
    d = bz2.BZ2Decompressor()
    try:
        data = d.decompress(blob)
    except OSError as e:  # bz2 raises OSError on corrupt streams
        raise ValueError(f"malformed bz2 stream: {e}")
    if not d.eof:
        raise ValueError("truncated dump: bz2 stream unterminated")
    if d.unused_data:
        raise ValueError("stale dump index: range spans stream boundary")
    pages = _PAGE_RE.findall(data)
    if not pages:
        raise ValueError("malformed dump: stream has no page blocks")
    return [(int(pid), text) for _t, pid, text in pages]


def decode_wikidump_pages(shard: bytes) -> list[tuple[int, bytes]]:
    """Walk ALL streams of a multistream dump (no index) →
    [(pid, text_bytes)]. ValueError-only."""
    if shard[:3] != b"BZh":
        raise ValueError("not a bz2 multistream dump")
    pages: list[tuple[int, bytes]] = []
    pos = 0
    while pos < len(shard):
        d = bz2.BZ2Decompressor()
        try:
            data = d.decompress(shard[pos:])
        except OSError as e:
            raise ValueError(f"malformed bz2 stream: {e}")
        if not d.eof:
            raise ValueError("truncated dump: bz2 stream unterminated")
        found = _PAGE_RE.findall(data)
        if not found:
            raise ValueError("malformed dump: stream has no page blocks")
        pages.extend((int(pid), text) for _t, pid, text in found)
        pos = len(shard) - len(d.unused_data)
    return pages


@_fixture
def _fx_wikidumps(spark: SparkSession, sf_dir: str) -> None:
    out_dir = _scratch(sf_dir, "real_wikidumps")
    names = [f"dump-{i:03d}.xml.bz2" for i in range(_N_DUMPS)]
    write_files(out_dir, names, encode_wikidump)
    names = [f"dump-{i:03d}-index.txt" for i in range(_N_DUMPS)]
    write_files(
        out_dir, names,
        lambda i: ("\n".join(_dump_index_lines(i)) + "\n").encode(),
    )


# SQL twin of _page_text's length (quotes doubled for the literal)
_SQL_TEXT_LEN = (
    "length(CASE WHEN pid % 2 = 0 THEN printf("
    "'''''''A%d'''''' is [[T%d|topic %d]] {{s%d}}.', "
    "pid, pid % 7, pid % 7, pid % 3) "
    "ELSE printf('''''A%d'''' is [[T%d]] {{s%d}}.', "
    "pid, pid % 7, pid % 3) END)"
)

_WIKI_SCAN_ORACLE = f"""
    WITH dumps AS (SELECT unnest(range(0, {_N_DUMPS})) AS i),
    m AS (SELECT i, 12 + 4 * i AS n FROM dumps),
    p AS (SELECT i, n, unnest(range(0, n)) AS p FROM m),
    pg AS (SELECT i, p // {_PAGES_PER_STREAM} AS stream_idx,
                  p + 1 AS pid
           FROM p)
    SELECT printf('dump-%03d.xml.bz2', CAST(i AS INT)) AS fname,
           CAST(stream_idx AS BIGINT) AS stream_idx,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(MIN(pid) AS BIGINT) AS min_pid,
           CAST(MAX(pid) AS BIGINT) AS max_pid,
           CAST(SUM({_SQL_TEXT_LEN}) AS BIGINT) AS text_chars
    FROM pg GROUP BY i, stream_idx
"""


@register(
    "scan_bz2_multistream",
    _WIKI_SCAN_ORACLE,
    doc="Wikipedia multistream dump decode: index (offset:page_id:"
    "title) entries group per dump, each stream bounded by the NEXT "
    "index offset and inflated standalone via stdlib bz2 (eof + no "
    "unused_data = stale-index check), page XML blocks parsed — "
    "per-stream page census cross-checked against the index's own "
    "page ids, hash-checked against the fixture formula",
)
def scan_bz2_multistream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wiki-dump twin of ``scan_cdx_ranged_fetch``: nobody
    serially inflates a 20 GB multistream dump — the index names each
    stream's offset and readers fan out stream-at-a-time. The decoder
    verifies the index is live (offset lands on ``BZh``, the range
    covers exactly one stream) and that the pages found INSIDE the
    stream are the pages the index claimed (id set equality — a
    shifted index fails loudly, never miscounts silently).

    Scale: index lines group per dump (collect_list bounded by
    pages-per-dump) and join the shard scan on filename — one task
    per dump shard, each inflating only its streams; on object
    storage the same plan issues ranged GETs per stream.
    """
    schema = (
        "fname string, stream_idx long, n_pages long, min_pid long, "
        "max_pid long, text_chars long"
    )
    cols = [
        "fname", "stream_idx", "n_pages", "min_pid", "max_pid",
        "text_chars",
    ]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for fname, content, entries in zip(
                pdf["fname"], pdf["content"], pdf["entries"]
            ):
                shard = bytes(content)
                by_off: dict[int, set] = {}
                for e in entries:
                    by_off.setdefault(int(e["offset"]), set()).add(
                        int(e["pid"])
                    )
                offs = sorted(by_off)
                bounds = offs[1:] + [len(shard)]
                for s_idx, (off, end) in enumerate(zip(offs, bounds)):
                    pages = decode_bz2_stream(shard, off, end)
                    pids = {p for p, _ in pages}
                    if pids != by_off[off]:
                        raise ValueError(
                            "stale dump index: stream pages != index"
                        )
                    rows.append({
                        "fname": fname,
                        "stream_idx": s_idx,
                        "n_pages": len(pages),
                        "min_pid": min(pids),
                        "max_pid": max(pids),
                        "text_chars": sum(len(t) for _, t in pages),
                    })
            yield pd.DataFrame(rows, columns=cols)

    fdir = _scratch(sf_dir, "real_wikidumps")
    idx = (
        spark.read.option("pathGlobFilter", "*-index.txt")
        .text(fdir)
        .withColumn("fn", F.input_file_name())
    )
    entries = idx.select(
        F.concat(
            F.regexp_extract(F.col("fn"), r"(dump-\d+)-index\.txt$", 1),
            F.lit(".xml.bz2"),
        ).alias("filename"),
        F.split_part(F.col("value"), F.lit(":"), F.lit(1))
        .cast("long")
        .alias("offset"),
        F.split_part(F.col("value"), F.lit(":"), F.lit(2))
        .cast("long")
        .alias("pid"),
    )
    per_dump = entries.groupBy("filename").agg(
        F.collect_list(F.struct("offset", "pid")).alias("entries")
    )
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.xml.bz2")
        .load(fdir)
        .select(
            F.substring_index(F.col("path"), "/", -1).alias("fname"),
            "content",
        )
    )
    joined = bf.join(
        per_dump, bf["fname"] == per_dump["filename"]
    ).select("fname", "content", "entries")
    return joined.mapInPandas(batches, schema=schema)


# ---------- wikitext markup strip (the WikiExtractor step) ----------

_WIKI_STRIP_ORACLE = f"""
    WITH dumps AS (SELECT unnest(range(0, {_N_DUMPS})) AS i),
    m AS (SELECT i, 12 + 4 * i AS n FROM dumps),
    p AS (SELECT i, unnest(range(0, n)) AS p FROM m),
    pg AS (SELECT i, p + 1 AS pid FROM p),
    px AS (SELECT i, pid,
                  CASE WHEN pid % 2 = 0
                       THEN printf('A%d is topic %d .', pid, pid % 7)
                       ELSE printf('A%d is T%d .', pid, pid % 7)
                  END AS plain
           FROM pg)
    SELECT printf('dump-%03d.xml.bz2', CAST(i AS INT)) AS fname,
           CAST(pid AS BIGINT) AS pid,
           plain,
           CAST(length(plain) AS BIGINT) AS plain_chars
    FROM px
"""


@register(
    "text_wiki_markup_strip",
    _WIKI_STRIP_ORACLE,
    doc="wikitext → plain text (the WikiExtractor step) as a PURE JVM "
    "regexp_replace chain over decoded dump pages: '''bold''' and "
    "''italic'' quotes unwrapped, [[target|display]] piped links keep "
    "the display text, [[target]] links keep the target, "
    "{{templates}} removed — per-page plain text + char counts "
    "hash-checked against the fixture formula",
)
def text_wiki_markup_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The strip every Wikipedia-sourced corpus runs. Decode stays in
    the per-file worker (same stream walk as scan_bz2_multistream);
    the markup strip itself is four chained ``regexp_replace``
    columns — whole-stage codegen, no Python in the hot path, which
    is what survives a 20 GB dump × 300 languages.

    Rule order matters and is pinned by the hash: bold before italic
    (''' is a prefix of ''), piped links before plain links
    (the piped pattern is more specific).

    Scale: decode is stream-bounded map work; the strip is a codegen
    Project over page rows — no shuffle anywhere.
    """
    schema = "fname string, pid long, wikitext string"

    pages = decode_files(
        spark, _scratch(sf_dir, "real_wikidumps"), "*.xml.bz2",
        lambda b: [
            {"pid": pid, "wikitext": text.decode()}
            for pid, text in decode_wikidump_pages(b)
        ],
        schema,
    )
    plain = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.col("wikitext"), r"'''([^']*)'''", r"$1"
                ),
                r"''([^']*)''",
                r"$1",
            ),
            r"\{\{[^}]*\}\}",
            "",
        ),
        r"\[\[([^\]|]*)\|([^\]]*)\]\]",
        r"$2",
    )
    plain = F.regexp_replace(plain, r"\[\[([^\]]*)\]\]", r"$1")
    return pages.select(
        "fname",
        "pid",
        plain.alias("plain"),
        F.length(plain).cast("long").alias("plain_chars"),
    )
