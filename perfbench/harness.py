"""Closed-loop driver for one workload, and the metrics it reports.

One client calls the workload's ops one after another, each call
starting when the previous one returned. A call goes through the
public API in two phases: **build** is
``registry.all_specs()[op].fn(spark, sf_dir)``, which constructs (or,
on a registry hit, returns) the op's DataFrame; **action** runs the
whole plan with a ``noop`` write, so no column is pruned. A cold
workload first drops the op's memoized plan with
``registry.evict(..., blocking=True)``, the **evict** phase.

With tracing on, every phase also records the ids of the Spark jobs it
ran (see ``sparkstats``), and after each pass, outside its timing, the
jobs' stage counters are read and kept as spans in memory.
"""

from __future__ import annotations

import gc
import random
import statistics
import time
import weakref
from contextlib import contextmanager
from dataclasses import dataclass, field

from procstats import cpu_steal_s
from sparkstats import STAGE_FIELDS, JobReader, PhaseStats, union_length

# (name, unit) of every metric a run prints, in print order
END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("ok_op_ratio", "ratio"),
    ("retained_heap_mb", "MB"),
)

_PHASE_LAYER = (
    [("build.wall_s", "s"), ("build.driver_s", "s"), ("build.jobs", "count"),
     ("build.tasks", "count"), ("build.executor_run_s", "s")]
    + [("action.wall_s", "s"), ("action.jobs", "count")]
    + [
        (f"action.{k}", "s" if k.endswith("_s") else
         "bytes" if k.endswith("_bytes") else "count")
        for k in STAGE_FIELDS
    ]
    + [("action.core_utilisation", "ratio")]
)


# per-layer set-up metrics; the first two are medians over a run's
# set-up rounds, the parts of ``setup_s``
SETUP_LAYER = (
    "session.start_s",
    "sources.fixtures_s",
    "session.first_start_s",
    "sources.first_fixtures_s",
    "setup.warmup_s",
)


def per_layer(op_ids) -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, for the given op ids."""
    return (
        [(name, "s") for name in SETUP_LAYER]
        + [("registry.hit_ratio", "ratio"), ("registry.evict_s", "s"),
           ("registry.persisted_rdds", "count")]
        + _PHASE_LAYER
        + [("sources.decode_s", "s"), ("sources.sink_s", "s")]
        + [("process.peak_rss_mb", "MB")]
        + [("trace.pass_s", "s"), ("trace.unaccounted_s", "s"),
           ("trace.unattributed_jobs", "count")]
        + [(f"op.{op}.s", "s") for op in op_ids]
    )


def noop_write(df) -> None:
    """Full-compute action: every column of every row is produced."""
    df.write.format("noop").mode("overwrite").save()


def collect(df):
    return df.toPandas()


_OFFSET = time.time() - time.perf_counter()


def now() -> float:
    """Monotonic clock in epoch seconds, comparable with Spark's job
    submission and completion times."""
    return time.perf_counter() + _OFFSET


@dataclass
class Call:
    op: str
    group: str
    hit: bool = False
    error: str = ""
    # phase -> (start, end), epoch seconds
    spans: dict[str, tuple[float, float]] = field(default_factory=dict)
    # phase -> (first job id, end job id); traced runs only
    job_ids: dict[str, tuple[int, int]] = field(default_factory=dict)
    stats: dict[str, PhaseStats] = field(default_factory=dict)
    persisted_rdds: int = 0

    def seconds(self, phase: str) -> float:
        a, b = self.spans.get(phase, (0.0, 0.0))
        return b - a

    @property
    def latency(self) -> float:
        """What the caller waits for: build plus action."""
        return self.seconds("build") + self.seconds("action")


@dataclass
class Pass:
    start: float
    end: float
    calls: list[Call]
    # CPU time the hypervisor gave to other guests during the pass
    steal_s: float = 0.0
    # jobs found by submission time but not attributed by id, and the
    # reverse; 0 when attribution is complete
    unattributed_jobs: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Runner:
    """Runs passes of one workload against one session."""

    def __init__(self, spark, specs, sf_dir, workload, seed, trace, evict):
        self.spark = spark
        self.specs = specs
        self.sf_dir = sf_dir
        self.workload = workload
        self.evict = evict
        self.rng = random.Random(seed)
        self.reader = JobReader(spark.sparkContext) if trace else None
        self._last: dict[str, weakref.ref] = {}

    @contextmanager
    def _phase(self, call: Call, phase: str):
        first = self.reader.next_job_id() if self.reader else 0
        t0 = now()
        try:
            yield
        finally:
            call.spans[phase] = (t0, now())
            if self.reader:
                call.job_ids[phase] = (first, self.reader.next_job_id())

    def call(self, op: str, group: str, action):
        """One closed-loop call; returns the Call and the action's result."""
        c = Call(op, group)
        try:
            if self.workload.cold:
                with self._phase(c, "evict"):
                    self.evict(op, self.spark, self.sf_dir, blocking=True)
            with self._phase(c, "build"):
                df = self.specs[op].fn(self.spark, self.sf_dir)
            last = self._last.get(op)
            c.hit = last is not None and last() is df
            self._last[op] = weakref.ref(df)
            with self._phase(c, "action"):
                result = action(df)
        except Exception as e:  # the op failed; count it and go on
            c.error = f"{type(e).__name__}: {e}"[:500]
            return c, None
        if self.reader:
            c.persisted_rdds = self.reader.persisted_rdds()
        return c, result

    def run_pass(self, action):
        """Call every op once, in an order drawn from the seed."""
        order = list(self.workload.ops)
        self.rng.shuffle(order)
        results = {}
        steal0 = cpu_steal_s()
        t0 = now()
        calls = []
        for op, group in order:
            c, results[op] = self.call(op, group, action)
            calls.append(c)
        p = Pass(t0, now(), calls, cpu_steal_s() - steal0)
        if self.reader:
            self._read(p)
        return p, results

    def _read(self, p: Pass) -> None:
        self.reader.drain()
        attributed: set[int] = set()
        for c in p.calls:
            for phase, (first, end) in c.job_ids.items():
                t0, t1 = c.spans[phase]
                c.stats[phase] = self.reader.phase(first, end, t0, t1)
                attributed.update(range(first, end))
        # job submission times have millisecond resolution
        by_time = self.reader.jobs_submitted_between(p.start - 2e-3, p.end + 2e-3)
        p.unattributed_jobs = len(attributed ^ by_time)


# Pass counts are fixed, not set by how fast the program is: the JVM is
# still warming up for the first passes of a run (on 4 CPUs the first
# ``etl_warm`` passes after the checked one took 4.9, 4.3, 3.7, 3.6 and
# 3.2 s, and one pass in three still 10% less than the one before), so
# a run that chose its passes by time would measure a faster program at
# a later, faster point of that curve. More warm-up passes do not fit:
# a run must stay near a minute.
WARMUP_PASSES = 1
MEASURED_PASSES = 5


def checked_pass(runner: Runner, checker):
    """One pass whose action collects each result, compared with the
    oracle. Returns the pass and ``(op, why)`` for every call that
    raised or whose result differs from the oracle's."""
    p, results = runner.run_pass(collect)
    failed = []
    for c in p.calls:
        why = c.error or checker.mismatch(runner.specs[c.op].oracle,
                                          results[c.op])
        if why:
            failed.append((c.op, why))
    return p, failed


def measure(runner: Runner, seconds: float):
    """Warm-up passes, at least ``WARMUP_PASSES`` and until ``seconds``
    of them have run, then ``MEASURED_PASSES`` passes; both run the
    measured action."""
    warmups = [runner.run_pass(noop_write)[0]]
    while (len(warmups) < WARMUP_PASSES
           or sum(p.wall for p in warmups) < seconds):
        warmups.append(runner.run_pass(noop_write)[0])
    passes = [runner.run_pass(noop_write)[0] for _ in range(MEASURED_PASSES)]
    return warmups, passes


def errors(passes: list[Pass]) -> list[tuple[str, str]]:
    """``(op, error)`` for every call that raised."""
    return [(c.op, c.error) for p in passes for c in p.calls if c.error]


def spans(passes: list[Pass]) -> list[dict]:
    """pass -> op -> phase -> Spark job spans, each with its parent."""
    out: list[dict] = []

    def add(name, start, end, parent, **attrs):
        out.append(dict(id=len(out), parent=parent, name=name,
                        start=start, end=end, **attrs))
        return len(out) - 1

    for i, p in enumerate(passes):
        pid = add("pass", p.start, p.end, None, index=i)
        for c in p.calls:
            if not c.spans:
                continue
            first = min(a for a, _ in c.spans.values())
            last = max(b for _, b in c.spans.values())
            oid = add("op", first, last, pid, op=c.op, hit=c.hit, error=c.error)
            for phase, (a, b) in c.spans.items():
                fid = add(phase if phase != "evict" else "registry.evict",
                          a, b, oid)
                st = c.stats.get(phase)
                if st:
                    for s, e in st.intervals:
                        add("spark.job", s, e, fid)
    return out


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def op_medians(passes: list[Pass]) -> dict[str, float]:
    """Each op's median call time over the passes (failed calls left out)."""
    times: dict[str, list[float]] = {}
    for p in passes:
        for c in p.calls:
            if not c.error:
                times.setdefault(c.op, []).append(c.latency)
    return {op: _median(xs) for op, xs in times.items()}


def retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use after collections: what the session
    keeps alive (memoized plans, pinned blocks, broadcasts).

    Each round collects Python first, so py4j releases the JVM objects
    it no longer references, then the JVM, then pauses so Spark's context
    cleaner can drop the blocks of collected broadcasts and shuffles.
    The least of three rounds is kept, since a requested collection may
    not run in full. On a 4-CPU machine one JVM collection read 515 to
    847 MB on consecutive passes of ``etl_warm``."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(3):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.4)
        used.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
    return min(used)


def end_to_end(setup_s, passes, attempted, failed, heap_mb):
    return {
        "setup_s": setup_s,
        "pass_s": _median([p.wall for p in passes]),
        "ok_op_ratio": 1.0 - failed / attempted,
        "retained_heap_mb": heap_mb,
    }


def layers(setup: dict[str, float], passes: list[Pass], cores: int,
           op_ids, peak_rss_mb: float = 0.0) -> dict[str, float]:
    """Per-layer metrics of a traced run: ``setup`` holds the
    ``SETUP_LAYER`` values; the rest are per-pass sums, median over
    passes, so the phase walls add up to ``trace.pass_s``."""
    rows = []
    for p in passes:
        r: dict[str, float] = {
            "pass_s": p.wall, "evict_s": 0.0, "decode_s": 0.0, "sink_s": 0.0,
            "build.wall_s": 0.0, "build.driver_s": 0.0,
            "action.wall_s": 0.0,
        }
        for phase in ("build", "action"):
            r[f"{phase}.jobs"] = 0
            for k in STAGE_FIELDS:
                r[f"{phase}.{k}"] = 0.0
        for c in p.calls:
            r["evict_s"] += c.seconds("evict")
            for phase in ("build", "action"):
                r[f"{phase}.wall_s"] += c.seconds(phase)
                st = c.stats.get(phase)
                if st is None:
                    continue
                r[f"{phase}.jobs"] += st.jobs
                for k, v in st.counters.items():
                    r[f"{phase}.{k}"] += v
            if "build" in c.stats:
                r["build.driver_s"] += c.seconds("build") - union_length(
                    c.stats["build"].intervals)
            if c.group in ("decode", "sink"):
                r[f"{c.group}_s"] += c.latency
        r["unaccounted_s"] = p.wall - r["evict_s"] - r["build.wall_s"] \
            - r["action.wall_s"]
        r["action.core_utilisation"] = (
            r["action.executor_run_s"] / (r["action.wall_s"] * cores)
            if r["action.wall_s"] > 0 else 0.0)
        rows.append(r)

    def med(key):
        return _median([r[key] for r in rows])

    calls = [c for p in passes for c in p.calls]
    out = {
        **{name: setup[name] for name in SETUP_LAYER},
        "registry.hit_ratio": sum(c.hit for c in calls) / max(1, len(calls)),
        "registry.evict_s": med("evict_s"),
        "registry.persisted_rdds": max(
            (c.persisted_rdds for c in calls), default=0),
        "sources.decode_s": med("decode_s"),
        "sources.sink_s": med("sink_s"),
        "process.peak_rss_mb": peak_rss_mb,
        "trace.pass_s": med("pass_s"),
        "trace.unaccounted_s": med("unaccounted_s"),
        "trace.unattributed_jobs": sum(p.unattributed_jobs for p in passes),
    }
    for name, _ in _PHASE_LAYER:
        out[name] = med(name)
    per_op = op_medians(passes)
    for op in op_ids:
        out[f"op.{op}.s"] = per_op.get(op, 0.0)
    return out
