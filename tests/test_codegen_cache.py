"""The codegen class cache holds the engine's working set: a second pass
over more distinct generated classes than Spark's default cache size (100)
compiles nothing."""

from belb_spark.session import codegen_compiles

N_PROJECTIONS = 150


def _compile_round(spark) -> int:
    before = codegen_compiles(spark)
    for k in range(1, N_PROJECTIONS + 1):
        # toRdd plans and compiles on the driver without running a job
        spark.range(8).selectExpr(f"id * {k} + {k} AS x")._jdf.queryExecution().toRdd()
    return codegen_compiles(spark) - before


def test_second_round_compiles_nothing(spark):
    first = _compile_round(spark)
    assert first > 100, first  # more keys than the default cache holds
    assert _compile_round(spark) == 0
