"""bread_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of bachkaxyz/bread, rebuilt Spark-first.

Layout (see SURVEY.md §7):
  session.py    SparkSession factory tuned for scale (AQE, shuffle sizing)
  schemas.py    explicit StructTypes for raw blockchain JSON + silver tables
  io.py         table catalog over parquet dirs, partitioned writes
  parse.py      bronze→silver blockchain parser (blocks/tx_result/log_attributes/events)
  models.py     gold model DAG — aggregations, windows, joins, set ops
  queries.py    named-query registry with ${ref} chaining (Evidence analog)
  ingest.py     RPC ingestion client: range planning, pagination, retry, backfill
  pipeline.py   end-to-end flow driver (plan → extract → parse → gold)
  serve.py      query serving: markdown extraction, chain inlining, caching
  functions/    scalar/text function library (JSON, base64, text analysis,
                PII redaction, chunking, deterministic sampling)
  extensions/   LLM-data-pipeline operators: dedup, similarity, multimodal
  operators/    relational ops Spark lacks: as-of join, interval join
  plans/        physical-plan helpers: materialized seams, two-pass global rank
"""

__version__ = "0.1.0"
