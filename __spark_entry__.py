"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over `auron_spark.registry` — every operator registered there is
exposed to the driver's smoke/correctness harness.  See SURVEY.md §2 for the
inventory and `tests/` for the local differential harness.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Make the repo importable regardless of the driver's cwd.
_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from auron_spark import registry, session  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    session.tune_session(spark)
    specs = registry.load_all()
    return specs["q1_pricing_summary"].build(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in registration
    order."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each oracle-checkable query."""
    return registry.oracle_sql()
