from spark_lakehouse_medallion_pipeline_spark.functions.scalars import (  # noqa: F401
    cents,
    clean_email,
    clean_phone,
    count_if,
    floor_round,
    hex_bigint,
    mean_cents,
    money,
    standardize_city,
    standardize_state,
    sum_cents,
    uniform,
)
