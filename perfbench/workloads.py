"""The benchmark's workloads: which registered ops one pass calls.

Each op carries a group. ``decode`` ops scan small binary files through
``binaryFile`` + ``mapInPandas`` and ``sink`` ops write a table and read
it back; their pass times are summed into ``sources.decode_s`` and
``sources.sink_s``. Every op listed here has a DuckDB oracle that runs
in a few seconds at the benchmark's scale.
"""

from __future__ import annotations

from dataclasses import dataclass

# Row counts follow the sf0.001 test tables. A run must stay under about
# a minute, since each workload is run many times in a row, and on 4
# CPUs a run spends 30-40 s starting the JVM and making the first, checked
# pass. At sf0.1 the full fixture sweep took about 46 s and one pass over
# the ops 35-45 s. For the same reason each workload keeps few ops, and
# none whose first call on a new JVM is slow for its steady cost:
# ``text_pdf_extract`` took 8.4 s first and 0.45 s later,
# ``join_enrich_co2`` 6.9 s and 0.9 s, ``sink_avro_roundtrip`` 4.7 s and
# 1.1 s.
SF = 0.001


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    # evict the op's memoized plan before every call (registry miss path)
    cold: bool
    # (op id, group) in registry order; the seed permutes it per pass
    ops: tuple[tuple[str, str], ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="etl_warm",
            why=(
                "the paper's clip-predictors-resample-gapfill pipeline plus "
                "join- and shuffle-heavy ops on memoized plans: registry hit "
                "path, time is Spark execution"
            ),
            cold=False,
            ops=(
                ("process_point_e2e", "etl"),
                ("convert_predictors", "etl"),
                ("agg_resample_daily", "etl"),
                ("join_gapfill_station", "etl"),
                ("q3_top_orders", "etl"),
            ),
        ),
        Workload(
            name="cold_rebuild",
            why=(
                "evict before every call: iterative builders that run jobs "
                "while building, binary decoders at one task per file, and "
                "write-then-read sinks: registry miss and evict path"
            ),
            cold=True,
            ops=(
                ("text_bpe_train3", "iterative"),
                ("mm_decode_flac_meta", "decode"),
                ("sink_jsonl_roundtrip", "sink"),
            ),
        ),
    )
}


def all_op_ids() -> list[str]:
    """Every op of every workload, each once, in workload order."""
    seen: dict[str, None] = {}
    for w in WORKLOADS.values():
        for op, _ in w.ops:
            seen.setdefault(op)
    return list(seen)
