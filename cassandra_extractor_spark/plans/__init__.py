from cassandra_extractor_spark.plans.spec import ExtractionSpec  # noqa: F401
