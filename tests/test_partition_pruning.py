"""Column pruning and filter pushdown: a filtered projection must reach
the parquet scan as a narrow ReadSchema and pushed filters."""

from __future__ import annotations

from datapipelinedemo_spark.tables import table


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_column_pruning_and_filter_pushdown(spark, sf_dir):
    from pyspark.sql import functions as F

    li = table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    # only the two referenced columns in ReadSchema; the filter pushed
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]" in plan
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert rs and "l_extendedprice" not in rs[0]
