"""registry.pin: intermediate persists share their builder's LRU
lifetime — eviction unpersists them (the round-2 OOM class was raw
.persist() on intermediates outliving evicted builders)."""

from pyspark.sql import functions as F

from cs_pipeline_spark import registry


def test_pin_unpersists_on_eviction(spark, sf_dir):
    pinned = {}

    def builder(sess, sd):
        df = registry.pin(sess.range(10).select((F.col("id") * 2).alias("id")))
        pinned["df"] = df
        return df.agg(F.sum("id").alias("s"))

    key = ("__pin_test__", spark, sf_dir)
    stack = getattr(registry._PIN_STACK, "s", None)
    if stack is None:
        stack = []
        registry._PIN_STACK.s = stack
    stack.append(key)
    try:
        out = builder(spark, sf_dir)
    finally:
        stack.pop()
    registry._lru_put(key, out)
    assert out.count() == 1
    assert pinned["df"].storageLevel.useMemory  # pinned while live

    # flood the LRU to force eviction of our key
    for i in range(registry._PLAN_LRU_MAX + 2):
        registry._lru_put(
            (f"__flood_{i}__", spark, sf_dir), spark.range(1)
        )
    assert key not in registry._PLAN_LRU
    assert key not in registry._PINNED
    assert not pinned["df"].storageLevel.useMemory  # unpersisted


def test_pin_outside_builder_is_noop(spark):
    # no builder key on the stack → nothing to tie the blocks to →
    # pin() must NOT persist (an untracked persist is the leak class
    # pin exists to kill); it returns the frame unchanged
    df = registry.pin(spark.range(5))
    assert not df.storageLevel.useMemory
    assert df.count() == 5


def test_pin_error_path_unpersists(spark, sf_dir):
    """A builder that pins then raises must not leak the persisted
    intermediates: the key never enters the LRU, so the wrapper's
    error path has to unpersist them eagerly."""
    pinned = {}

    @registry.register("__pin_err_test__", None)
    def _bad(sess, sd):
        df = registry.pin(sess.range(7))
        df.count()  # materialize the cache
        pinned["df"] = df
        raise RuntimeError("builder exploded")

    try:
        import pytest

        with pytest.raises(RuntimeError, match="builder exploded"):
            _bad(spark, sf_dir)
        key = ("__pin_err_test__", spark, sf_dir)
        assert key not in registry._PINNED
        assert key not in registry._PLAN_LRU
        assert not pinned["df"].storageLevel.useMemory
    finally:
        registry._REGISTRY.pop("__pin_err_test__", None)


def test_pinned_builders_still_hash_correct(spark, sf_dir):
    # the pinned multi-pass ops must return identical results on
    # repeated calls (cache hit) and fresh rebuilds (post-eviction)
    q = registry.queries()
    first = sorted(map(tuple, q["ml_decision_stump"](spark, sf_dir).collect()))
    again = sorted(map(tuple, q["ml_decision_stump"](spark, sf_dir).collect()))
    assert first == again


def test_sim_mmr_rerank_evict_releases_its_caches(spark, sf_dir):
    """sim_mmr_rerank caches its relevance pool and P×P sim matrix;
    both must go with the op's LRU entry, so every RDD the build
    cached is gone after a blocking evict. Its per-round
    localCheckpoint RDDs are not caches: evict cannot release them
    without breaking live plans built on them (ROADMAP item 5), and
    ContextCleaner reclaims them."""
    from cs_pipeline_spark.operators.similarity import sim_mmr_rerank

    jsc = spark.sparkContext._jsc

    def cached_rdds():
        m = jsc.getPersistentRDDs()
        return {k for k in m.keys() if not m[k].rdd().isLocallyCheckpointed()}

    registry.evict("sim_mmr_rerank", spark, sf_dir, blocking=True)
    before = cached_rdds()
    assert sim_mmr_rerank(spark, sf_dir).collect()
    assert cached_rdds() - before  # the pins are live while memoized
    assert registry.evict("sim_mmr_rerank", spark, sf_dir, blocking=True)
    assert not cached_rdds() - before


def test_no_raw_persist_outside_pin():
    """Structural guard: a raw .persist()/.cache() on an intermediate
    outlives its builder's eviction (the round-2 OOM class), so the
    package persists only through registry.pin."""
    import ast
    import pathlib

    import cs_pipeline_spark

    root = pathlib.Path(cs_pipeline_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path == root / "registry.py":
            pin = next(
                n
                for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "pin"
            )
            allowed = set(range(pin.lineno, pin.end_lineno + 1))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache")
                and node.lineno not in allowed
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not offenders, offenders
