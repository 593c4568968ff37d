"""Spark's generated-code cache holds the reference queries' working set.

Compiled whole-stage and projection classes live in one JVM-wide LRU of
``spark.sql.codegen.cache.maxEntries`` classes. At Spark's default of
100, one pass of the 30 reference queries (~288 distinct classes) evicts
every class before its next use, and each pass compiles ~280 classes
again; ``get_spark`` sizes the cache so a repeated pass compiles none.
"""

from hhek2sqlite_spark.operators.util import owned_result
from hhek2sqlite_spark.plans.reference import QUERIES
from hhek2sqlite_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles


def _reference_pass(spark, sf_dir) -> int:
    before = codegen_compiles(spark)
    for name in sorted(QUERIES):
        with owned_result(QUERIES[name](spark, sf_dir)) as df:
            df.write.format("noop").mode("overwrite").save()
    return codegen_compiles(spark) - before


def test_a_repeated_reference_pass_compiles_nothing(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES) == "2048"
    _reference_pass(spark, sf_dir)
    assert _reference_pass(spark, sf_dir) == 0
