"""Engine facade: the three user doors work against one session."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dbx_workspace_and_emr_iceberg_spark.engine import Engine

from tests.conftest import SF_DIR


@pytest.fixture()
def eng(spark):
    wh = tempfile.mkdtemp(prefix="eng_wh_")
    e = Engine(spark, warehouse=wh)
    e.register_fixtures(SF_DIR)
    yield e
    shutil.rmtree(wh, ignore_errors=True)


def test_sql_door(eng):
    n = eng.sql("SELECT count(*) AS n FROM lineitem").collect()[0].n
    assert n == 6000


def test_dataframe_door(eng):
    top = (
        eng.table("orders", SF_DIR)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc())
        .first()
    )
    assert top.n > 0


def test_managed_table_door(eng):
    src = eng.table("nation", SF_DIR)
    t = eng.create_table("nation_gold", src)
    assert eng.sql("SELECT count(*) AS n FROM nation_gold").collect()[0].n == 25
    t.delete_where(F.col("n_regionkey") == 0)
    assert eng.managed("nation_gold").read().count() < 25
    assert eng.table_snapshot("nation_gold", 1).count() == 25  # time travel
    # SQL door sees DML only after refresh (views pin their snapshot)
    eng.refresh_view("nation_gold")
    assert eng.sql("SELECT count(*) AS n FROM nation_gold").collect()[0].n < 25


# --- ADVICE r15: get_spark reuse-warning keying ------------------------------


def test_get_spark_reuse_warns_only_on_dropped_settings(spark):
    """getOrCreate applies MODIFIABLE confs to a reused session (it
    calls applyModifiableSettings), so runtime-only extra_conf must not
    warn; an explicit cpus ask or a static key must (ADVICE r15)."""
    import warnings

    from dbx_workspace_and_emr_iceberg_spark.session import get_spark

    # runtime-only conf: applied on reuse, no warning
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            s = get_spark(extra_conf={"spark.sql.shuffle.partitions": "7"})
        assert s.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)

    # cpus on a reused session is silently ignored -> must warn
    with pytest.warns(RuntimeWarning, match="NOT applied"):
        get_spark(cpus=8)

    # a static (non-modifiable) key is dropped -> must warn, naming it
    with pytest.warns(RuntimeWarning, match="spark.sql.warehouse.dir"):
        get_spark(extra_conf={"spark.sql.warehouse.dir": "/tmp/nope"})


def test_get_spark_keeps_every_generated_class(spark):
    """Spark's generated-class cache is JVM-wide and keyed on the Java
    source; at its default of 100 entries a session that has run a few
    queries compiles the same source again."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192"


# the perfbench analytic mix plus four class-heavy queries: ~170
# generated classes at sf0.001, more than Spark's default cache holds
_SECOND_PASS_MIX = (
    "q1_pricing_summary",
    "q10_returned_items",
    "w3_frames",
    "x29_random_projection",
    "j9_star_multiway",
    "x2_minhash_lsh",
    "x3_topk_cosine",
    "x8_sessionization",
)


def test_second_pass_compiles_nothing(spark):
    """A session that runs the same queries again reuses every class it
    generated the first time: Janino's compile count stays put."""
    from dbx_workspace_and_emr_iceberg_spark.registry import all_queries

    queries = all_queries()
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def one_pass():
        before = compiles.getCount()
        for name in _SECOND_PASS_MIX:
            spark.catalog.clearCache()
            queries[name].fn(spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
        return compiles.getCount() - before

    one_pass()
    assert one_pass() == 0
