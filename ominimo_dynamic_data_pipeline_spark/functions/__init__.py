from ominimo_dynamic_data_pipeline_spark.functions.registry import (
    build_function_column,
)

__all__ = ["build_function_column"]
