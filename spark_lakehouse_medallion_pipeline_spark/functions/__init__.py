from spark_lakehouse_medallion_pipeline_spark.functions.scalars import (  # noqa: F401
    clean_email,
    clean_phone,
    count_if,
    floor_round,
    hex_bigint,
    standardize_city,
    standardize_state,
    uniform,
)
