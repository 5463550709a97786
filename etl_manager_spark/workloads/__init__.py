"""Workload catalog: every implemented query/operator from SURVEY §2,
as (Spark callable, DuckDB oracle SQL) pairs.

The registry is what ``__spark_entry__.py`` exposes to the driver. Each
entry's Spark side is idiomatic DataFrame code over the engine's operators;
the oracle side is ANSI SQL for DuckDB over the same parquet views. Column
names/aliases match exactly (the driver sorts columns by name and
value-hashes). Float outputs follow the decimal-exact discipline of
:mod:`etl_manager_spark.functions.exact` so both engines produce bitwise-
identical doubles.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Workload:
    """One catalog entry: a Spark query + optional DuckDB oracle SQL.

    ``oracle_spec`` is either the SQL string itself or a factory
    ``(sf_dir) -> str``. Factories exist for oracles that embed
    data-derived literals (e.g. the IVF centroids, trained from the same
    parquet dir the Spark side reads) — building those at import time
    would add I/O to every import, so they run on first access and
    memoize per data dir."""

    fn: Callable[[SparkSession, str], DataFrame]
    # None → non-SQL-expressible, rows-only check
    oracle_spec: Optional[str | Callable[[str], str]]
    category: str

    def oracle_for(self, sf_dir: str) -> Optional[str]:
        """The oracle SQL to check a Spark run over ``sf_dir`` against."""
        if callable(self.oracle_spec):
            return self.oracle_spec(sf_dir)
        return self.oracle_spec

    @property
    def oracle(self) -> Optional[str]:
        """The oracle at the oracle scale: $SPARK_GRAFT_ORACLE_SF_DIR,
        default sf0.01 — the dir ``oracle_sql()`` is checked against."""
        return self.oracle_for(
            os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
        )


REGISTRY: dict[str, Workload] = {}


def workload(name: str, oracle: Optional[str | Callable[[str], str]], category: str):
    """Decorator registering a (spark, sf_dir) -> DataFrame query."""

    def deco(fn):
        # one entry per data dir checked against: a handful per process
        spec = functools.lru_cache(maxsize=None)(oracle) if callable(oracle) else oracle
        REGISTRY[name] = Workload(fn=fn, oracle_spec=spec, category=category)
        return fn

    return deco


def load_registry() -> dict[str, Workload]:
    """Import all workload modules (side-effect: fills REGISTRY) and return
    the catalog in registration order. The verification order of
    ``queries()`` is ``__spark_entry__._staleness_order``."""
    from etl_manager_spark.workloads import (  # noqa: F401
        analytics,
        audit,
        curation,
        graphs,
        hygiene,
        metrics,
        pipeline,
        relational,
        streams,
        tpch_extra,
    )

    return dict(REGISTRY)
