"""The binary-file fixture format, both ends: one writer, one decode plan.

A binary source under ``sources/`` stores its fixtures one file per
item and reads them back as a ``binaryFile`` scan filtered by
``pathGlobFilter``, projected to ``(path, content)``, with one pandas
function per Arrow batch under ``mapInPandas``. This module writes that
pattern once, so the decode policy (how files map to Python tasks, what
a bad file does) is a change to ``decode_files`` alone.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType


def write_files(
    out_dir: str, names: Sequence[str], encode: Callable[[int], bytes]
) -> list[str]:
    """Write ``out_dir/names[k]`` as ``encode(k)`` for every name whose
    file is missing; return all the paths in ``names`` order.

    A file that exists is not encoded again (the fixture sweep re-runs
    on every set-up). Each file appears atomically: bytes go to a tmp
    name unique to this process, then ``os.replace`` moves them into
    place, so concurrent writers — executors included — never expose
    or clobber a partial file.
    """
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k, name in enumerate(names):
        path = f"{out_dir}/{name}"
        if not os.path.exists(path):
            data = encode(k)  # before the tmp file: a raise leaves none
            tmp = f"{path}.tmp-{os.getpid()}"
            with open(tmp, "wb") as fh:
                fh.write(data)
            os.replace(tmp, path)
        paths.append(path)
    return paths


def decode_files(
    spark: SparkSession,
    path: str,
    glob: str,
    decode: Callable[[bytes], list[dict]],
    schema: str,
) -> DataFrame:
    """``binaryFile`` scan of ``path`` filtered by ``glob``, each file's
    bytes turned into rows by ``decode(payload) -> list[dict]``, every
    row tagged with the file's base name as ``fname``.

    The columns, in order, are those of the DDL ``schema``; a row key
    the schema lacks is dropped. A parser's ``ValueError`` fails the
    job.
    """
    row_type = DataType.fromDDL(schema)
    cols = row_type.names

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                fname = p.rsplit("/", 1)[-1]
                for row in decode(bytes(content)):
                    row["fname"] = fname
                    rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return bf.select("path", "content").mapInPandas(batches, schema=row_type)
