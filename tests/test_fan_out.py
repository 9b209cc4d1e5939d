"""registry.fan_out and helpers.agg_report: the one build-time
fan-out the concurrent flagships share (ordered results, width
min(n, 10), errors reach the caller, pin() inside a worker ties to the
caller's LRU entry)."""

import threading
import time

import pytest
from pyspark.sql import functions as F

from cs_pipeline_spark import registry
from cs_pipeline_spark.operators.helpers import agg_report


def test_results_come_back_in_order():
    # later calls finish first: order must follow the list, not
    # completion
    calls = [
        lambda i=i: time.sleep(0.01 * (12 - i)) or i for i in range(12)
    ]
    assert registry.fan_out(calls) == list(range(12))
    assert registry.fan_out([]) == []


@pytest.mark.parametrize("n", [1, 3, 14])
def test_peak_concurrency_is_min_n_and_cap(n):
    cap = min(n, registry._FAN_OUT_MAX)
    cond = threading.Condition()
    state = {"active": 0, "peak": 0}

    def call():
        with cond:
            state["active"] += 1
            state["peak"] = max(state["peak"], state["active"])
            cond.notify_all()
            # hold until `cap` calls are in flight together, then a
            # little longer so a pool wider than the cap would show
            cond.wait_for(lambda: state["peak"] >= cap, timeout=10)
        time.sleep(0.2)
        with cond:
            state["active"] -= 1

    registry.fan_out([call] * n)
    assert state["peak"] == cap


def test_exception_reaches_the_caller():
    ran = []

    def boom():
        raise ValueError("call 2 failed")

    def ok(i):
        ran.append(i)
        return i

    with pytest.raises(ValueError, match="call 2 failed"):
        registry.fan_out([lambda: ok(1), boom, lambda: ok(3)])
    # the pool waits for every call before re-raising
    assert sorted(ran) == [1, 3]


def test_pin_inside_worker_ties_to_callers_key(spark, sf_dir):
    name = "__fan_out_pin_test__"
    pinned = []

    @registry.register(name, None)
    def _op(sess, sd):
        def part(i):
            df = registry.pin(sess.range(i + 5))
            df.count()
            return df

        pinned.extend(registry.fan_out([lambda i=i: part(i) for i in range(3)]))
        return sess.range(1)

    try:
        _op(spark, sf_dir)
        key = (name, spark, sf_dir)
        assert registry._PINNED[key] and len(registry._PINNED[key]) == 3
        assert all(df.storageLevel.useMemory for df in pinned)
        assert registry.evict(name, spark, sf_dir, blocking=True)
        assert key not in registry._PINNED
        assert not any(df.storageLevel.useMemory for df in pinned)
    finally:
        registry.evict(name, spark, sf_dir, blocking=True)
        registry._REGISTRY.pop(name, None)


def test_agg_report_rows_in_declared_order_cast_to_long(spark, sf_dir):
    threads = set()

    def builder(n):
        def build(sess, sd):
            assert sd == sf_dir
            threads.add(threading.current_thread().name)
            return sess.range(n)

        return build

    rows = agg_report(
        spark,
        sf_dir,
        [
            (builder(10), [
                ("a", "n", F.count(F.lit(1))),
                ("a", "sum", F.sum("id")),
                ("a", "avg", F.avg("id")),  # 4.5 → 4
            ]),
            (builder(3), [("b", "max", F.max("id"))]),
            (builder(0), [("c", "sum", F.sum("id"))]),  # NULL stays None
        ],
    )
    assert rows == [
        ("a", "n", 10),
        ("a", "sum", 45),
        ("a", "avg", 4),
        ("b", "max", 2),
        ("c", "sum", None),
    ]
    assert all(type(v) is int for _, _, v in rows[:4])
    # builders ran inside the fan_out workers, not on the caller
    assert threading.current_thread().name not in threads
