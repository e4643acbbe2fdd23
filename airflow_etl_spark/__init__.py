"""airflow_etl_spark — a PySpark-native analytics/ETL engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference repo `thh6282/AirFlow-ETL` (an Airflow + Trino +
dbt Data Vault 2.0 lakehouse pipeline), extended with large-scale
training-data-pipeline operators (dedup, similarity search, multimodal
plumbing, text analysis).

Design principles (see SURVEY.md):
- DataFrame/SQL declarative plans; Catalyst does pushdown/pruning/join planning.
- Control-flow (run ledger, resume-skip, fan-out) lives in a driver-side
  workflow runner, replacing Airflow; state lives in small parquet-backed
  ledger tables, replacing the Airflow metadata DB + Trino control tables.
- Data-path operators never collect() to the driver; only control tables
  (a few hundred rows) are ever driver-materialized.
"""

__version__ = "0.2.0"

from .session import get_spark  # noqa: F401
from .catalog import TABLES, load_table, register_views  # noqa: F401
from .ledger import Ledger  # noqa: F401
from .pipeline import (  # noqa: F401
    EntityConfig,
    LinkConfig,
    MultiSourceConfig,
    Pipeline,
    SourceConfig,
)
from .sources import read_table  # noqa: F401
