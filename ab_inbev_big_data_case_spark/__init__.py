"""ab_inbev_big_data_case_spark — a PySpark-native analytics engine.

A brand-new engine with the query/data-processing capabilities of the
``Cakaliman/AB-InBev-Big-Data-Case`` reference (a medallion bronze/silver/gold
batch-ETL pipeline: JSON ingestion, null-filtering, key dedup, CASE-WHEN
enrichment, partitioned writes, group-by aggregation — see
``/root/reference/glue/etl_api.py`` and ``airflow/dags/etl_api.py``),
re-expressed Spark-first (DataFrame API + Spark SQL + Structured Streaming)
and extended with a full relational operator set, a streaming surface, and
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns) designed for 100 TB scale.

No custom execution layer: every operator declares a logical plan via the
DataFrame/SQL API and lets Catalyst + Tungsten pick the physical strategy.
"""

# applies the Python-worker patch in any process that loads engine code
import ab_inbev_big_data_case_spark.operators.pyworker  # noqa: F401
from ab_inbev_big_data_case_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
