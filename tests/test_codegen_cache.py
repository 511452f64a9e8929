"""The engine session's codegen cache holds its working set: a plan
shape compiles once per JVM, not once per pass over a repeated mix."""

from dbcut_spark.session import compiled_classes


def test_repeated_plans_compile_once(spark):
    def run():
        start = compiled_classes()
        for i in range(150):
            # each inlined literal is a distinct generated class
            df = spark.range(4).selectExpr(f"id * {i} + {i} AS codegen_reuse")
            df.write.format("noop").mode("overwrite").save()
        return compiled_classes() - start

    # more classes than Spark's default cache of 100 holds, so at that
    # cap each one is evicted before the second run reuses it
    assert run() > 100
    assert run() == 0
