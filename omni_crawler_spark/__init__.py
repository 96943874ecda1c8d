"""omni_crawler_spark — a PySpark-native web-crawl + analytics engine.

A from-scratch reimplementation of the capabilities of the reference
crawler (AtmadeepD/omni-crawler, analyzed in SURVEY.md) as idiomatic
Spark: declarative DataFrame/SQL plans, vectorized pandas/Arrow UDFs
where Python is unavoidable, explicit partitioning/skew handling for
a 10^10-URL frontier, and a snapshot-based table layer for
checkpoint/resume.

Subpackages
-----------
- ``session``   : SparkSession factory tuned for the target workload.
- ``lakehouse`` : parquet + JSON-manifest snapshot tables (sandbox
  stand-in for Iceberg — no Iceberg runtime jar ships in this
  environment; the API mirrors append/overwrite/merge + time travel).
- ``functions`` : pure-column scalar/enrichment expressions (URL
  canonicalization, HTML/text cleaning, validation, quality scoring).
- ``frontier``  : the from-scratch URL frontier — exact seen anti-join,
  per-host politeness priority queue, batched fetch+validate.
- ``operators`` : dedup (exact/minhash-LSH/simhash), similarity
  search, multimodal column plumbing.
- ``analytics`` : the reference's dashboard/export query surface as
  named DataFrame builders with DuckDB-oracle SQL twins.
- ``streaming`` : alerting/metrics analogs (stateful cooldown dedup,
  trailing windows).
"""

__version__ = "0.1.0"
