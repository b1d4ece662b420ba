"""Session defaults from ``session.get_spark``: compiled generated code
stays cached across passes over the short-query working set."""

from __future__ import annotations

from job_datapipeline_spark.plans.queries import REGISTRY

from conftest import SF_SMOKE

# The queries perfbench's ``sql_short`` workload samples.
SQL_SHORT = (
    "window_ntile_quartiles",
    "agg_percentiles",
    "join_salted_skew",
    "events_twap_daily",
    "tpch_returned_items",
    "orders_survival_km",
    "agg_chi2_independence",
)


def _compilations(spark) -> int:
    """Janino compilations so far in this JVM (whole-stage and expression
    classes; a cache hit compiles nothing)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _clear_codegen_cache(spark) -> None:
    """Empty the JVM-wide compiled-class cache (private to
    ``CodeGenerator``), so that what earlier tests compiled does not hide
    the first round's compilations."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    cache = cls.getDeclaredField("cache")
    cache.setAccessible(True)
    cache.get(cls.getDeclaredField("MODULE$").get(None)).invalidateAll()


def test_get_spark_raises_codegen_cache_above_spark_default(spark):
    # Spark's default is 100 classes, less than one sql_short pass needs.
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) > 100


def test_second_sql_short_round_compiles_nothing(spark):
    _clear_codegen_cache(spark)
    rounds = []
    for _ in range(2):
        before = _compilations(spark)
        for name in SQL_SHORT:
            REGISTRY[name].fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        rounds.append(_compilations(spark) - before)
    assert rounds[0] > 0
    assert rounds[1] == 0, f"compilations per round: {rounds}"
