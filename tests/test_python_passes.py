"""Laws of plan_audit's `max_python_per_task`: the number of Python
exec nodes one task pipelines between stage boundaries, i.e. how many
Python workers that task holds at once.

Two chained `mapInPandas` passes in one stage hold two workers per
task; a repartition between them gives each stage's task one.  The
media fixtures of `profile_media` and `profile_docs` end their encoder
pass at such a boundary, so their decode holds the only worker."""

import importlib.util
from pathlib import Path

import pytest
from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parent.parent


_spec = importlib.util.spec_from_file_location(
    "plan_audit", ROOT / "tools" / "plan_audit.py")
plan_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_audit)


def _per_task(df):
    """`max_python_per_task` of ``df``'s static plan (AQE off, as the
    audit reads it)."""
    conf = df.sparkSession.conf
    was = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return plan_audit.max_python_per_task(
            df._jdf.queryExecution().executedPlan())
    finally:
        conf.set("spark.sql.adaptive.enabled", was)


def _same(batches):
    yield from batches


def _pass(df):
    return df.mapInPandas(_same, "id long")


@pytest.fixture
def base(spark):
    return spark.range(64)


def test_chained_passes_stack_in_one_task(base):
    assert _per_task(_pass(base)) == 1
    assert _per_task(_pass(_pass(base))) == 2
    assert _per_task(_pass(_pass(_pass(base)))) == 3


def test_stage_boundary_splits_the_chain(base):
    assert _per_task(_pass(_pass(base).repartition(4, "id"))) == 1
    assert _per_task(_pass(_pass(base).repartition(4))) == 1


def test_union_takes_the_max_of_its_children(base):
    assert _per_task(_pass(base).union(_pass(base))) == 1
    assert _per_task(_pass(base).union(_pass(_pass(base)))) == 2


def test_other_multi_child_nodes_sum(spark, base):
    # a cartesian product reads both inputs in the same task; a
    # broadcast side runs as its own job
    a, b = _pass(base), _pass(base).withColumnRenamed("id", "k")
    was = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert _per_task(a.crossJoin(b)) == 2
        assert _per_task(a.crossJoin(F.broadcast(b))) == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", was)


def test_walk_descends_into_a_cached_plan(base):
    cached = _pass(base).persist()
    try:
        assert _per_task(_pass(cached)) == 2
    finally:
        cached.unpersist()


@pytest.mark.parametrize("name", ["profile_media", "profile_docs"])
def test_media_pins_hold_one_python_worker_per_task(spark, sf_dir, name):
    import __spark_entry__ as entry
    qs = dict(entry.queries(), **entry.bench_extras())
    assert _per_task(qs[name](spark, sf_dir)) <= 1
