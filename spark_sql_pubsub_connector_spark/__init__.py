"""PySpark-native analytics engine with the capabilities of the
``spark-sql-pubsub-connector`` reference (see /root/repo/SURVEY.md).

Layout:
  sources/    Pub/Sub-shaped streaming source + sink on the Python
              DataSource API, fake broker, stream registry.
  plans/      declarative query corpus (DataFrame builders + DuckDB
              oracle SQL) — the relational layer the reference
              delegates to Spark SQL.
  operators/  extension operators: dedup (exact/MinHash/SimHash),
              similarity search, text analysis, multimodal columns.
  functions/  reusable column-expression helpers (vector math, text).
  streaming/  structured-streaming pipelines (watermark dedup,
              windowed aggs, connector round trips).
"""

__version__ = "0.1.0"

from .session import get_spark, ensure_confs  # noqa: F401
