"""Session defaults and the one-time work a steady session must not redo:
Janino compiles of generated code it already compiled, and parquet
schema inference for a table whose files have not changed."""

from __future__ import annotations

import pytest

from fec_cn_support_etl_spark.plans import catalog
from fec_cn_support_etl_spark.session import default_driver_memory
from fec_cn_support_etl_spark.sources.tpch import load_table


@pytest.mark.parametrize(
    "mem_total_kb, heap",
    [
        (16_385_128, "9600m"),  # a 15.6 GiB host: 60%
        (4 * 1024 * 1024, "2457m"),
        (80 * 1024 * 1024, "49152m"),  # 60% of 80g is 48g exactly
        (512 * 1024 * 1024, "49152m"),  # capped at 48g
    ],
)
def test_default_driver_memory_is_host_sized(mem_total_kb, heap):
    assert default_driver_memory(mem_total_kb) == heap


def _compiles(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_repeated_queries(spark, sf_dir):
    """Catalog queries that together generate more classes than Spark's
    default 100-entry codegen cache (121 on the sf0.001 fixture: q5 21, sessionize
    22, fec_final 20, quantile 33, q3 12, simhash 13) and whose code text
    repeats run to run: a second run must compile nothing, i.e. every
    class of the first run is still cached. The first run may itself
    hit classes earlier tests compiled; under the old default the
    cyclic reuse of more classes than the cache holds evicts them all."""
    names = (
        "q5_local_supplier_volume",
        "sessionize_gap_windows",
        "fec_final_support_analog",
        "quantile_sketch_rollup",
        "q3_shipping_priority",
        "simhash_neardup_pairs",
    )

    def run():
        for n in names:
            catalog.QUERIES[n](spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()
    before = _compiles(spark)
    run()
    assert _compiles(spark) - before == 0


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_load_table_infers_each_schema_once(spark, tmp_path):
    """A second load of an unchanged table fires no Spark job (the
    inferred schema is reused); a table rewritten with an extra column
    is inferred again and comes back with the new schema."""
    path = str(tmp_path / "region.parquet")
    spark.range(5).selectExpr("id AS r_regionkey").write.parquet(path)
    load_table(spark, str(tmp_path), "region")

    jobs = _next_job_id(spark)
    df = load_table(spark, str(tmp_path), "region")
    assert _next_job_id(spark) == jobs
    assert df.columns == ["r_regionkey"]
    assert df.count() == 5

    spark.range(3).selectExpr("id AS r_regionkey", "'x' AS r_name").write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(r.r_name for r in df.collect()) == ["x"] * 3
