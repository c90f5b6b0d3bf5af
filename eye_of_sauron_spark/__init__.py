"""eye_of_sauron_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
the reference stream-processing pipeline (rohit-mehra/eye_of_sauron),
re-expressed Spark-first: DataFrame/SQL logical plans optimized by
Catalyst, Structured Streaming for the streaming surface, and
Arrow-vectorized pandas UDFs for the ML-inference slow path.

Layout
------
- ``session``    : SparkSession factory tuned for local[32] testing and
                   cluster-scale defaults (AQE, Arrow, shuffle partitions).
- ``sources``    : table registry over the driver parquet fixtures and
                   the Kafka source contract (reader options, frame
                   codec); the file-source replay feed is in
                   ``streaming.harness``.
- ``functions``  : column-level function library — vector math over
                   array<float>, text analysis, tensor codec (the
                   reference's base64 triple), JSON helpers.
- ``operators``  : non-relational composite operators — multimodal
                   binary-column codec / mapInPandas decode / frame
                   sampling, batch partitioned/routed sinks.
- ``plans``      : the query registry and every relational operator —
                   joins (incl. as-of / interval / theta), aggregation,
                   windows, dedup (exact, MinHash-LSH, SimHash, n-gram
                   Jaccard, embedding-cosine), similarity search, text
                   analysis — each a named ``(spark, sf_dir) ->
                   DataFrame`` with matching DuckDB oracle SQL
                   (consumed by ``__spark_entry__``).
- ``streaming``  : Structured Streaming pipelines — the face-pipeline
                   analog (detect → broadcast-match → route), watermarked
                   windows, stateful per-key reorder buffer.
- ``ml``         : deterministic stub inference models behind pandas
                   UDFs (detect / embed / match / annotate).
"""

__version__ = "0.1.0"
