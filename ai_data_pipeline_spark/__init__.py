"""ai_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
the reference document-ETL pipeline (``Zoranmihov/ai_data_pipeline``),
re-expressed Spark-first:

- the reference's dataflow operators (PDF ingest, page windowing,
  recursive chunking, LLM enrichment, JSON validation, JSONL sinks,
  embedding, exact kNN retrieval with threshold rejection) as
  composable DataFrame-emitting library functions, and
- the relational / streaming surface those pipelines sit on
  (joins, aggregations, windows, set ops, JSON/array/date functions,
  watermarked streaming aggregation), which is stock Spark, plus
- the LLM-data-pipeline operator family designed for 100 TB scale:
  exact + near deduplication (MinHash-LSH, SimHash, n-gram Jaccard,
  embedding cosine), similarity search (brute-force + IVF/LSH),
  text analysis (language id, quality scoring, token counting,
  fingerprinting) and multimodal binary-column plumbing.

Design rule ("library over engine", SURVEY.md §4): every operator
emits a declarative DataFrame plan so Catalyst applies predicate
pushdown, column pruning, join selection and AQE to it like any user
query. No custom Catalyst rules; Python touches data only through
Arrow-batched pandas UDFs where built-ins genuinely cannot express
the semantics.
"""

from ai_data_pipeline_spark import _pyworker

# Python workers import this package when they unpickle its UDFs; this
# makes each later task on that worker skip re-reading pyspark.zip.
_pyworker.install()

from ai_data_pipeline_spark.session import get_spark  # noqa: E402
from ai_data_pipeline_spark.catalog import TABLE_NAMES, load_table, load_tables, register_views

__all__ = [
    "get_spark",
    "TABLE_NAMES",
    "load_table",
    "load_tables",
    "register_views",
]

__version__ = "0.1.0"
