"""The binary-file scaffold (cs_pipeline_spark/sources/binfiles.py):
``write_files`` writes each fixture file once, atomically;
``decode_files`` is the one binaryFile + mapInPandas decode plan every
binary source shares. A structural guard keeps hand-written scans and
writers from growing back outside it."""

from __future__ import annotations

import ast
import glob
import os

import pytest

from cs_pipeline_spark.sources.binfiles import decode_files, write_files

_PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                    "cs_pipeline_spark")


def _bins(d: str, payloads: list[bytes]) -> list[str]:
    names = [f"f-{k}.bin" for k in range(len(payloads))]
    return write_files(d, names, lambda k: payloads[k])


def test_one_row_decoder(spark, tmp_path):
    d = str(tmp_path)
    _bins(d, [b"\x05", b"\x07\x01", b"\x09\x02\x03"])
    df = decode_files(
        spark, d, "*.bin",
        lambda b: [{"first": b[0], "n": len(b)}],
        "fname string, n long, first long",
    )
    assert df.columns == ["fname", "n", "first"]
    got = {tuple(r) for r in df.collect()}
    assert got == {("f-0.bin", 1, 5), ("f-1.bin", 2, 7), ("f-2.bin", 3, 9)}


def test_many_rows_decoder(spark, tmp_path):
    d = str(tmp_path)
    _bins(d, [b"ab", b"cde", b"f"])
    df = decode_files(
        spark, d, "*.bin",
        lambda b: [{"i": i, "byte": c} for i, c in enumerate(b)],
        "fname string, i long, byte long",
    )
    got = sorted(tuple(r) for r in df.collect())
    assert got == [
        ("f-0.bin", 0, ord("a")), ("f-0.bin", 1, ord("b")),
        ("f-1.bin", 0, ord("c")), ("f-1.bin", 1, ord("d")),
        ("f-1.bin", 2, ord("e")), ("f-2.bin", 0, ord("f")),
    ]


def test_zero_row_file_with_array_column(spark, tmp_path):
    """A batch whose files all decode to no rows must still convert
    to every schema type; an empty float64 frame cannot become
    array<long>, an empty object frame can."""
    d = str(tmp_path)

    def scan():
        return decode_files(
            spark, d, "*.bin",
            lambda b: [] if b == b"\x00" else [{"xs": list(b)}],
            "fname string, xs array<long>",
        ).collect()

    _bins(d, [b"\x00"])
    assert scan() == []
    _bins(d, [b"\x00", b"\x01\x02"])
    assert sorted(tuple(r) for r in scan()) == [("f-1.bin", [1, 2])]


def test_value_error_fails_the_job(spark, tmp_path):
    d = str(tmp_path)
    _bins(d, [b"ok", b"bad"])

    def decode(b: bytes) -> list[dict]:
        if b == b"bad":
            raise ValueError("truncated payload")
        return [{"n": len(b)}]

    df = decode_files(spark, d, "*.bin", decode, "fname string, n long")
    with pytest.raises(Exception, match="ValueError: truncated payload"):
        df.collect()


def test_write_files_is_idempotent_and_leaves_no_tmp(tmp_path):
    d = str(tmp_path / "out")
    calls = []

    def encode(k: int) -> bytes:
        calls.append(k)
        return f"payload-{k}".encode()

    paths = write_files(d, ["a.bin", "b.bin"], encode)
    assert paths == [f"{d}/a.bin", f"{d}/b.bin"]
    assert calls == [0, 1]
    assert open(paths[1], "rb").read() == b"payload-1"
    mtimes = [os.stat(p).st_mtime_ns for p in paths]
    assert write_files(d, ["a.bin", "b.bin"], encode) == paths
    assert calls == [0, 1]
    assert [os.stat(p).st_mtime_ns for p in paths] == mtimes
    assert sorted(os.listdir(d)) == ["a.bin", "b.bin"]
    assert not glob.glob(f"{d}/*.tmp*")


# Each raw binaryFile scan outside binfiles.py, keyed by (module,
# top-level function), with why it cannot go through decode_files.
_SCAN_ALLOWLIST = {
    ("sources/scans.py", "scan_binary_files"):
        "the raw (path, length, content) scan itself; nothing decoded",
    ("sources/orc_meta.py", "scan_orc_postscript"):
        "recursiveFileLookup over shard=N/ dirs; the key is the dir",
    ("sources/orc_meta.py", "scan_orc_col_stats"):
        "recursiveFileLookup over shard=N/ dirs; the key is the dir",
    ("sources/wikidump.py", "scan_bz2_multistream"):
        "joined input: dump bytes meet their index entries first",
    ("sources/warc.py", "scan_cdx_ranged_fetch"):
        "joined input: shard bytes meet their CDX byte ranges first",
    ("sources/torrent.py", "scan_torrent_manifest"):
        "joined input: manifest bytes meet their payload bytes first",
    ("sources/tar.py", "sink_wds_shards"):
        "write-then-read census keyed by the shard number in the name",
    ("sources/avro_ocf.py", "sink_avro_roundtrip"):
        "write-then-read census keyed by the shard number in the name",
}
# Atomic fixture writes (tmp file + os.replace) belong to write_files.
_REPLACE_ALLOWLIST: dict[tuple[str, str], str] = {}


def _sites(pattern: str) -> set[tuple[str, str]]:
    found = set()
    for path in glob.glob(f"{_PKG}/**/*.py", recursive=True):
        rel = os.path.relpath(path, _PKG)
        if rel == os.path.join("sources", "binfiles.py"):
            continue
        src = open(path).read()
        if pattern not in src:
            continue
        tops = [n for n in ast.parse(src).body
                if isinstance(n, (ast.FunctionDef, ast.ClassDef))]
        for ln, line in enumerate(src.split("\n"), start=1):
            if pattern in line:
                owner = next((n.name for n in tops
                              if n.lineno <= ln <= n.end_lineno), "<module>")
                found.add((rel, owner))
    return found


def test_binary_scans_go_through_the_scaffold():
    extra = _sites('format("binaryFile")') - set(_SCAN_ALLOWLIST)
    assert not extra, f"use binfiles.decode_files instead: {sorted(extra)}"


def test_fixture_writes_go_through_the_scaffold():
    extra = _sites("os.replace(") - set(_REPLACE_ALLOWLIST)
    assert not extra, f"use binfiles.write_files instead: {sorted(extra)}"
