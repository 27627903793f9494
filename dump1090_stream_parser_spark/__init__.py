"""dump1090-stream-parser-spark: a PySpark-native analytics engine.

A from-scratch, Spark-first engine with the query and data-processing
capabilities of ``yanofsky/dump1090-stream-parser`` (see SURVEY.md; the
reference is a ~185-line SBS-1 -> SQLite ingest script whose analytic
surface is SQLite SQL over the ``squitters`` table, reconstructed at
SURVEY.md Appendix A), extended with large-scale training-data pipeline
operators (dedup, similarity search, text analysis, multimodal columns).

Layout
------
- ``session``    SparkSession factory + runtime conf (AQE, UTC, nanos).
- ``tables``     testdata loaders (TPC-H-ish star schema + events/docs/embeddings).
- ``operators``  the relational + extension query surface (SURVEY.md §2).
- ``sources``    SBS-1 parsing and the custom ``sbs1-jvm`` streaming source.
- ``streaming``  Structured Streaming pipelines (Bronze -> Silver -> Gold).
- ``functions``  reusable column expressions (geo, vectors, portable hashing).
- ``plans``      plan inspection / scale-posture helpers.
"""

__version__ = "0.1.0"
