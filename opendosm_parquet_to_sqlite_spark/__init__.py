"""PySpark-native analytics engine with the capabilities of
arma7x/opendosm-parquet-to-sqlite (reference: /root/reference, read-only).

The reference is a single-binary Rust ETL (src/main.rs:1-328) that merges
three parquet files into a queryable SQLite artifact. This package rebuilds
that surface Spark-first — DataFrame/SQL plans optimized by Catalyst, no
row-at-a-time paths — and extends it with the LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis) required for
100 TB-scale training-data workloads.

Layout:
  session    — tuned SparkSession builder (AQE, shuffle sizing, Arrow)
  schemas    — explicit StructType per table (reference declares schemas as
               comments + DDL, src/main.rs:20,30,48,192-207)
  sources/   — parquet scan helpers, remote catalog discovery, caching ingest
  operators/ — cleanse, dedup, neardup, joins, aggregates, similarity, text,
               multimodal (binary payload metadata + mapInPandas decode)
  plans/     — queries registry + the end-to-end PriceCatcher pipeline
               (the reference's main(), re-expressed lazily; plans.pipeline)
  sinks/     — SQLite + zip artifact writers (src/main.rs:284-325) and the
               parquet dataset writer (write_dataset)
  streaming/ — the Structured Streaming top-up of the SQLite artifact
               (stream_prices_to_sqlite)
"""

__version__ = "0.1.0"
