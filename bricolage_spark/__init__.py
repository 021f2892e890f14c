"""bricolage_spark — a PySpark-native ETL/analytics engine.

A from-scratch re-expression of the capabilities of bricolages/bricolage
(a Redshift-oriented SQL batch framework) on Apache Spark:

- **Execution layer**: the SQL surface bricolage delegates to Redshift is
  served by Spark SQL / DataFrame + Catalyst (see ``queries/``).
- **Orchestration layer**: the part bricolage itself implements — job files,
  ``$var`` templating, job classes, jobnet DAGs, resumable queues — is
  rebuilt idiomatically in Python (see ``sqltext``, ``jobs/``, ``jobnet``,
  ``taskqueue``).
- **Scale extensions**: LLM-data-pipeline operators (dedup, similarity
  search, text analysis) designed partition-parallel for 100 TB
  workloads, as Catalyst expressions with no Python worker on a batch
  data path (see ``operators/``).
"""

__version__ = "0.1.0"

from bricolage_spark.session import get_spark, stop_spark  # noqa: F401
