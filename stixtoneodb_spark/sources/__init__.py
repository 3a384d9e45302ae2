from stixtoneodb_spark.sources.tables import load_table  # noqa: F401
