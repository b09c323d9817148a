"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``logparserhelper_spark.plans.contract_queries``: exactly
50 exposed queries (the driver's correctness file records 50 rows) covering
every implemented operator from SURVEY.md §2 plus the
training-data-pipeline operators (dedup / similarity / text analysis),
EVERY one with DuckDB oracle SQL. The 22 operator paths no exposed query
covers live in ``EXTRA_QUERIES``/``EXTRA_ORACLES`` (same gate, run by
tests/test_extra_queries.py and ``scripts/check_entry.py --extras``);
COVERAGE.md maps both sets.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from logparserhelper_spark.plans.contract_queries import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's core operator (multi-pattern span
    extraction, multicast classes, unmatched first-class) as per-pattern
    coverage counts over sf0.001 documents."""
    return QUERIES["doc_pattern_coverage"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
