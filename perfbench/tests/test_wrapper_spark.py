"""Wrapper transparency against a real session: a traced query is still
lazy when built, and returns the same rows as the untraced one."""

import os

import pytest

pyspark = pytest.importorskip("pyspark")

import datagen  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import LAYERS, PKG  # noqa: E402


@pytest.fixture(scope="module")
def spark_and_data(tmp_path_factory):
    from fiap_machine_learning_tech_challenge_2_etl_spark.session import get_session

    data = datagen.write_tables(3, str(tmp_path_factory.mktemp("perfbench") / "input"))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    spark = get_session("perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield spark, data
    spark.stop()


def test_wrapped_query_stays_lazy_and_returns_same_rows(spark_and_data):
    import __spark_entry__ as ent

    spark, data = spark_and_data
    sc = spark.sparkContext
    name = "moving_average"
    plain = sorted(map(tuple, ent.queries()[name](spark, data).collect()))
    tr = Tracer()
    tr.wrap_modules(LAYERS, PKG)
    try:
        tr.enabled = True
        root = tr.start_query(f"0:{name}")
        sc.setJobGroup("perfbench-lazy", "build only")
        df = ent.queries()[name](spark, data)
        jobs_at_build = len(sc.statusTracker().getJobIdsForGroup("perfbench-lazy"))
        tr.end_query(root)
        traced = sorted(map(tuple, df.collect()))
    finally:
        tr.enabled = False
        tr.unwrap_all()
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs_at_build == 0
    assert traced == plain
    assert {s.name for s in tr.spans} >= {"query", "windows.moving_average"}
