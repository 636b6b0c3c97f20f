"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over sparkstreaming_gmall_demo_spark.plans.REGISTRY — the
single source of truth pairing each declared query (SURVEY.md §2.10)
with its DuckDB oracle SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkstreaming_gmall_demo_spark.plans import REGISTRY  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the sale-detail 3-way
    denormalization join (Q5) — exercises the reader's declared
    schemas and decimal policy, full-outer + broadcast joins, and
    decimal aggregation."""
    return REGISTRY["q5_sale_detail_join"].build(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.build for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query. Every registry entry is
    oracle-paired (an omitted oracle records an `err: no_oracle` row
    in the driver's CORRECTNESS artifact, not a weaker check — the
    r05 BPE lesson), so this returns one SQL string per entry."""
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}
