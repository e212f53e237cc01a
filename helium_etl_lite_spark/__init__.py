"""helium_etl_lite_spark — a PySpark-native analytics engine.

Brand-new engine (not a port) with the query and data-processing
capabilities of the reference ``dewi-alliance/helium-etl-lite``
(read-only at /root/reference): an incremental ETL ingest pipeline
(reference src/follower.rs, src/block_processor.rs) plus the full
relational query surface its output schema implies, extended with
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing) per the north star, designed for 100 TB scale.

Layout:
  session.py    SparkSession factory (AQE, UTC, nanos-parquet handling)
  tables.py     loaders for the driver's synthetic parquet tables
  registry.py   query/oracle registry the driver contract reads
  queries/      SURVEY.md §2.4 declared operator inventory (A..J)
  operators/    reusable operator implementations (as-of join, dedup,
                knn, text analysis, multimodal plumbing)
  etl/          reference-pipeline parity: transforms, modes, the
                follower and its snapshot sink, backfill (SURVEY §2.1)
  sources/      the follower's block sources (landed files, JSON-RPC)
  streaming/    change-feed followers and foreachBatch consumers behind
                the stream_* queries
"""

__version__ = "0.1.0"
