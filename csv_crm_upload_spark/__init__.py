"""csv_crm_upload_spark — a PySpark-native engine with the query and
data-processing capabilities of the reference `dbyington/csv-crm-upload`
pipeline (validated CSV ingest → dedup'd store → incremental filtered scan →
idempotent side-effecting sink), rebuilt Spark-first and widened with the
operators a large-scale training-data pipeline needs (dedup, similarity
search, text analysis, multimodal plumbing).

Layout:
  session    — SparkSession factory tuned for local testing / cluster scale
  schemas    — explicit StructTypes for the customer CSV, the store
               and the testdata tables, each read under its declared
               schema (reference addresses CSV columns positionally:
               cmd/csvreader/csvreader.go:120-128)
  sources/   — CSV + parquet table readers (S1-S3)
  operators/ — validate/quarantine (V1-V3), dedup/anti-join (D1-D2),
               mutation/defaults (U1-U3), store append + pending scan (S4-S5)
  sinks/     — HTTP REST sink with fibonacci backoff (S6, T4, T5)
  streaming/ — Structured Streaming pipeline (T1-T3, T6)
  functions/ — the canonical 60-bit md5 hash every oracle shares
  analytics/ — widened surface: TPC-H-style queries, dedup family,
               similarity search, text stats, multimodal plumbing
"""

__version__ = "0.1.0"
