"""Output check: each op's collected result against its DuckDB oracle.

Results are compared in ``tools/check.py``'s canonical form (sorted
column names, rows sorted, cells typed and ``repr``-exact), so a pass
here is a pass of the repository's correctness gate. Oracle results
are cached on disk, keyed by the oracle text and a digest of the input
tables: some oracles take far longer than the op they check.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from tools.check import _canon_df


def _tuples(x):
    return tuple(_tuples(v) for v in x) if isinstance(x, list) else x


class OracleChecker:
    def __init__(self, sf_dir: str, tables, cache_dir: str, tmp_dir: str):
        self._con = duckdb.connect()
        self._con.execute(f"SET temp_directory='{tmp_dir}'")
        h = hashlib.blake2b(digest_size=12)
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            with open(path, "rb") as f:
                h.update(t.encode() + f.read())
        self._data = h.hexdigest()
        self._cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def expected(self, sql: str):
        """Canonical ``(columns, rows)`` of the oracle's result."""
        key = hashlib.blake2b(
            (self._data + "\0" + sql).encode(), digest_size=16
        ).hexdigest()
        path = os.path.join(self._cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                cols, rows = json.load(f)
            return cols, [_tuples(r) for r in rows]
        cols, rows = _canon_df(self._con.cursor().execute(sql).fetchdf())
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump([cols, rows], f)
        os.replace(tmp, path)
        return cols, rows

    def mismatch(self, sql: str, pdf) -> str | None:
        """None when ``pdf`` equals the oracle's result, else why not."""
        try:
            ocols, orows = self.expected(sql)
        except duckdb.Error as e:
            return f"oracle failed: {e}"
        scols, srows = _canon_df(pdf)
        if scols != ocols:
            return f"columns {scols} vs oracle {ocols}"
        if len(srows) != len(orows):
            return f"{len(srows)} rows vs oracle {len(orows)}"
        if srows != orows:
            bad = sum(a != b for a, b in zip(srows, orows))
            return f"{bad}/{len(srows)} rows differ from the oracle"
        return None

    def close(self) -> None:
        self._con.close()
