"""Queries registered through ``__spark_entry__``: :mod:`scikg_spark.ops.kg`
materializes a corpus's graph tables and runs the extraction reads and graph
analytics; ``text``, ``dedup``, ``sampling`` and ``multimodal`` are the
training-data operators over the document table. Each query is a
``(spark, sf_dir) -> DataFrame`` callable with, where SQL-expressible, a
DuckDB mirror in its module's ``ORACLE``."""
