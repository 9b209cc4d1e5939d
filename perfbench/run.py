"""Run one benchmark workload and print its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload etl_warm --seed 1 --seconds 2 --trace 0

A run generates the input tables (the same in every run), starts a
session on ``local[<cpus>]``, builds the engine's scratch fixtures into a
fresh directory and makes a checked pass (each result collected and
compared with its DuckDB oracle), warm-up passes and a fixed number of
measured passes; the seed draws the order of the calls in each pass.
Then it makes ``SETUP_ROUNDS`` set-up rounds, each a new session and a
fresh fixture generation, and reports their median as ``setup_s``.
With ``--trace 0`` it prints the end-to-end metrics, with ``--trace 1``
the per-layer ones (see ``README.md``). The last stdout line is one JSON
object; one record per run is appended to ``history.jsonl`` beside this
file. Everything else it writes goes under ``.perfbench_state/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import harness  # noqa: E402
from procstats import PeakRss, cpu_steal_s  # noqa: E402
from workloads import SF, WORKLOADS, all_op_ids  # noqa: E402

# seed of the generated tables, the same for every run
DATA_SEED = 1


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _digest(pkg: str) -> str:
    """Digest of the Python sources under ``pkg``, for checkouts without
    git."""
    h = hashlib.blake2b(digest_size=8)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(d, fn), "rb") as f:
                    h.update(fn.encode() + f.read())
    return h.hexdigest()


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to end."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def _start_session(tmp):
    from cs_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _build_fixtures(spark, sf_dir, specs, workload, scans, scratch) -> None:
    """Build the scratch fixtures the workload's ops read into a fresh
    generation under ``scratch``, so every run pays the same set-up.

    Those are the fixtures registered by the modules that define the
    ops. The engine's own sweep (``scans.ensure_fixtures``) builds all
    80-odd fixtures: about 10 s more per run on a new JVM, which a run
    that must stay under about a minute cannot afford. The generation is
    then marked swept, so the registry does not start that sweep on the
    first call."""
    scans._SCRATCH = scratch
    modules = {specs[op].fn.__wrapped__.__module__ for op, _ in workload.ops}
    for fn in scans._FIXTURES:
        if fn.__module__ in modules:
            fn(spark, sf_dir)
    tag = os.path.basename(os.path.normpath(sf_dir))
    scans._ENSURED.add(
        os.path.join(scratch, f"{tag}-{scans._sf_fingerprint(sf_dir)}"))


# Set-up is repeated in every run and its median reported as ``setup_s``.
# After the measured passes, a round starts a new session on the run's
# JVM and builds the fixtures into a new generation. Launching the JVM
# costs 30-40 s more on 4 CPUs (its first session start, fixture sweep
# and checked pass), and a new session's first call of every op 6-9 s,
# too much to repeat, so the former are per-layer metrics.
SETUP_ROUNDS = 3


def run(workload, seed: int, seconds: float, trace: bool, log) -> dict:
    state = os.path.join(ROOT, ".perfbench_state")
    work = os.path.join(state, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every temporary file of Python, the JVM and DuckDB inside
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    cpus = _cpus()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    sys.path.insert(0, ROOT)

    # The tables are the same in every run: the seed only orders the
    # calls, so runs differ in nothing but the program's own variation.
    sf_dir = os.path.join(work, "data", f"sf{SF}")
    datagen.write(sf_dir, DATA_SEED, SF)
    scratch = os.path.join(work, "scratch")

    setup: dict[str, float] = {}
    steal0 = cpu_steal_s()
    with PeakRss(os.getpid()) if trace else contextlib.nullcontext() as rss:
        t0 = harness.now()
        from cs_pipeline_spark import registry
        from cs_pipeline_spark.sources import scans
        from cs_pipeline_spark.tables import TABLE_NAMES

        spark = _start_session(tmp)
        specs = registry.all_specs()
        setup["session.first_start_s"] = harness.now() - t0
        try:
            t0 = harness.now()
            _build_fixtures(spark, sf_dir, specs, workload, scans,
                            os.path.join(scratch, "0"))
            setup["sources.first_fixtures_s"] = harness.now() - t0

            from oracle import OracleChecker

            def runner(trace=False):
                return harness.Runner(spark, specs, sf_dir, workload, seed,
                                      trace, registry.evict)

            checker = OracleChecker(
                sf_dir, TABLE_NAMES, os.path.join(state, "oracle-cache"), tmp)
            try:
                checked, failed = harness.checked_pass(runner(), checker)
            finally:
                checker.close()

            warmups, passes = harness.measure(runner(trace), seconds)
            heap_mb = harness.retained_heap_mb(spark)

            rounds = []
            for i in range(1, SETUP_ROUNDS + 1):
                for op, _ in workload.ops:
                    registry.evict(op, spark, sf_dir, blocking=True)
                spark.stop()
                t0 = harness.now()
                spark = _start_session(tmp)
                t1 = harness.now()
                _build_fixtures(spark, sf_dir, specs, workload, scans,
                                os.path.join(scratch, str(i)))
                rounds.append((t1 - t0, harness.now() - t1))
        finally:
            _stop(spark)
    steal = cpu_steal_s() - steal0

    failed += harness.errors(warmups + passes)
    for op, why in failed:
        print(f"# FAIL {op}: {why}", file=log)
    attempted = sum(len(p.calls) for p in [checked] + warmups + passes)
    setup_s = statistics.median(a + b for a, b in rounds)
    setup["session.start_s"] = statistics.median(a for a, _ in rounds)
    setup["sources.fixtures_s"] = statistics.median(b for _, b in rounds)
    setup["setup.warmup_s"] = checked.wall + sum(p.wall for p in warmups)

    if trace:
        values = harness.layers(setup, passes, cpus, all_op_ids(),
                                rss.peak / 2**20)
        units = dict(harness.per_layer(all_op_ids()))
        with open(os.path.join(state, "spans.json"), "w") as f:
            json.dump(harness.spans(passes), f)
    else:
        values = harness.end_to_end(
            setup_s, passes, attempted, len(failed), heap_mb)
        units = dict(harness.END_TO_END)
    return {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        "setup_rounds": [[round(a, 4), round(b, 4)] for a, b in rounds],
        "warmup_walls": [round(p.wall, 4) for p in [checked] + warmups],
        "pass_walls": [round(p.wall, 4) for p in passes],
        "pass_steal_s": [round(p.steal_s, 2) for p in passes],
        "op_medians": {k: round(v, 4) for k, v in
                       harness.op_medians(passes).items()},
        "cpus": cpus,
        "cpu_steal_s": round(steal, 2),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cs_pipeline_spark", "registry.py")):
        print(f"perfbench: no cs_pipeline_spark package in {ROOT}",
              file=sys.stderr)
        return 2

    out = run(WORKLOADS[args.workload], args.seed, args.seconds,
              bool(args.trace), sys.stderr)
    record = {
        "time": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
        "git_sha": _git_sha(),
        "code_digest": _digest(os.path.join(ROOT, "cs_pipeline_spark")),
        "bench_digest": _digest(HERE),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "sf": SF,
        **out,
    }
    with open(os.path.join(HERE, "history.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")

    for name, m in out["metrics"].items():
        print(f"{name:40s} {m['value']:14.6g} {m['unit']}")
    print(json.dumps({k: out[k] for k in ("correct", "attempted", "failed",
                                           "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
