"""hfcommunity_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of SOM-Research/HFCommunity.

The reference (read-only snapshot at /root/reference) is an ETL pipeline
(extractor/databaseImport.py) feeding a 17-table MariaDB schema whose
query surface is plain SQL (reference README.md:5).  This package
re-expresses that capability Spark-first:

- ``schema``     : explicit StructTypes for the 17-table HFC model
                   (reference extractor/databaseImport.py:184-251)
- ``session``    : SparkSession factory (UTC, AQE, tuned shuffles)
- ``io``         : Parquet readers/writers, snapshot dirs, testdata loaders
- ``operators``  : relational query library, upsert/merge semantics,
                   dedup, similarity search, text analysis, multimodal
- ``runtime``    : checkpoint bookkeeping and the bucketed-parquet layout
                   the operators share
- ``etl``        : the reference's ETL dataflow as set-oriented transforms
- ``streaming``  : Structured Streaming layer over the events table
- ``queries``    : the declared, oracle-checked query inventory
"""

__version__ = "0.1.0"
