"""PySpark-native analytics engine with the capabilities of
arma7x/opendosm-parquet-to-sqlite (reference: /root/reference, read-only).

The reference is a single-binary Rust ETL (src/main.rs:1-328) that merges
three parquet files into a queryable SQLite artifact. This package rebuilds
that surface Spark-first — DataFrame/SQL plans optimized by Catalyst, no
row-at-a-time paths — and extends it with the LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis) required for
100 TB-scale training-data workloads.

Layout:
  session    — SparkSession builder: local[N] and shuffle partitions from
               the CPUs, AQE's 64k coalescing floor, Arrow, UTC; every
               other setting is Spark's default
  schemas    — explicit StructType per table (reference declares schemas as
               comments + DDL, src/main.rs:20,30,48,192-207)
  sources/   — parquet scan helpers, remote catalog discovery, caching ingest
  operators/ — cleanse, dedup, neardup, joins, aggregates, similarity, text,
               multimodal (binary payload metadata + mapInPandas decode)
  plans/     — queries registry + the end-to-end PriceCatcher pipeline
               (the reference's main(), re-expressed lazily; plans.pipeline)
  sinks/     — the reference's SQLite artifact and its zip
               (src/main.rs:192-207,284-325), and the parquet dataset
               writer (sinks.dataset.write_dataset)
  streaming/ — the Structured Streaming top-up of the SQLite artifact
               (streaming.pipeline.stream_prices_to_sqlite)
"""

__version__ = "0.1.0"
