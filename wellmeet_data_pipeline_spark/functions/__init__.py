from wellmeet_data_pipeline_spark.functions import text  # noqa: F401
