from vanus_spark.plans.compiler import CompileFallback, compile_transformer  # noqa: F401
