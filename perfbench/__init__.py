"""Benchmark of pyspark_ingestion_spark: see README.md."""
