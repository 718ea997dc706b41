"""scikg_spark — a PySpark-native conditional-statement KG-construction engine.

A from-scratch rebuild (NOT a port) of the capabilities of DM2-ND/SciKG
(KDD'19 "MIMO" conditional statement extraction) as a 4-stage Spark
DataFrame pipeline over Common-Crawl-style page tables:

    pages -> statements -> tuples -> entities -> graph tables

Layout:
  scikg_spark.core      pure Python (no Spark): decode/correct/metric
                        semantics faithful to the reference, unit-tested.
  scikg_spark.pipeline  Spark stages (vectorized pandas/Arrow UDFs only).
  scikg_spark.ops       the KG queries (ops.kg): materialized graph tables,
                        extraction reads and graph analytics; and the
                        training-data operators (text quality, dedup,
                        sampling, multimodal) over the document table.
  scikg_spark.jobs      command-line entry points (pipeline, training,
                        evaluation, graph queries).
"""

from scikg_spark import zipcache

zipcache.install()

__version__ = "0.1.0"
