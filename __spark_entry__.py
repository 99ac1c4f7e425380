"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship run — build the deterministic synthetic wiki corpus
from sf0.001 documents.parquet, run the full knowledge-graph pipeline
(prescan pass -> dictionary side-load -> transform pass -> edges) and return
the unified (subj, pred, obj, prop) triple stream.

queries()/oracle_sql(): per-operator DataFrame callables and their DuckDB
oracles (see wikiprep_spark/plans/queries.py and plans/oracles.py).
Every query carries an exact oracle — hash-specific operators (minhash,
simhash, hyperplane LSH) use cross-engine-reproducible hashes whose SQL
twins are generated alongside the Spark expressions.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from wikiprep_spark.plans.queries import kg_pipeline

    return kg_pipeline(spark, "/root/testdata/sf0.001")["triples"]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from wikiprep_spark.plans.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from wikiprep_spark.plans.oracles import all_oracles

    return all_oracles()
