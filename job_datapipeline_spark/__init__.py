"""job_datapipeline_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the public
``Switchfools/job-datapipeline`` reference (a four-stage pandas/BS4 batch ETL:
scrape -> clean -> aggregate -> serve), rebuilt Spark-first:

- declarative DataFrame / Spark SQL plans (Catalyst optimizes; no hand
  scheduling),
- explicit ``StructType`` schemas everywhere (schema-on-write),
- broadcast joins for every small dimension,
- partitioned Parquet at rest,
- Structured Streaming for the incremental-batch semantics the reference
  implements with date-stamped files,
- plus the large-scale training-data-pipeline surface (dedup, similarity
  search, text analysis, multimodal columns).

Layout:
    session.py    SparkSession factory (AQE on, UTC, sane shuffle sizing)
    schemas.py    explicit StructTypes of the testdata tables
    catalog.py    table reads with the declared schemas
    functions/    column-expression libraries (cleaning, text incl. quality/
                  lang-ID/repetition/PII-redaction, vectors)
    operators/    composite DataFrame->DataFrame operators (topk, dedup incl.
                  minhash-LSH + simhash hamming bands, similarity, asof,
                  skew, deterministic sampling)
    pipelines/    the clean and populate stage plans
    sources/      readers/sinks (csv/parquet/kv/json) + html extraction
    streaming/    Structured Streaming pipelines + applyInPandasWithState
                  custom stateful operators over the events table
    plans/        the named query registry (Spark fn + DuckDB oracle SQL),
                  one module per query family plus common.py (shared
                  helpers) and registry.py
    deploy.py     ships the package to executor Python workers (addPyFile)
"""

__version__ = "0.1.0"
