"""Driver-faithful stringify-and-hash gate (VERDICT r1 "What's wrong" §4).

The per-round driver is stricter than the value-normalized oracle: it
compares ``str()``-ified pandas frames, so a dtype/rendering drift (Spark
Decimal scale vs DuckDB float64, HUGEINT→float64, raw array cells) fails
there while passing oracle.py.  This suite replicates that canonicalization
(duckdb_read_spark.drivercanon) for EVERY declared and operator query, so
local CI fails exactly when CORRECTNESS_r{N}.json would.
"""

from __future__ import annotations

import pytest

from duckdb_read_spark import op_queries
from duckdb_read_spark.drivercanon import compare_frames, first_diff, frame_hash
from duckdb_read_spark.queries import QUERIES

from .golden import SF_DIR  # same fixture dir the rest of the oracle uses

# the session ``engine`` fixture registers the fixture tables as views:
# lifecycle runners (the CLONE and CDF ones) read ``customer`` by name,
# so every test here must also pass when run alone
pytestmark = pytest.mark.usefixtures("engine")


def _oracle_pdf(duck, sql):
    return duck.execute(sql).fetchdf()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_declared_driver_hash(name, engine, duck):
    spec = QUERIES[name]
    spark_pdf = engine.sql(spec.spark).toPandas()
    oracle_pdf = _oracle_pdf(duck, spec.duckdb_sql)
    row = compare_frames(spark_pdf, oracle_pdf)
    assert row["err"] is None, row
    assert row["rows_match"] and row["schema_match"] and row["hash_match"], (
        f"{row}\n{first_diff(spark_pdf, oracle_pdf)}"
    )


@pytest.mark.parametrize(
    "name", sorted(n for n, s in op_queries.OP_QUERIES.items() if s.duckdb_sql)
)
def test_operator_driver_hash(name, spark, duck):
    spec = op_queries.OP_QUERIES[name]
    spark_pdf = spec.runner(spark, SF_DIR).toPandas()
    oracle_pdf = _oracle_pdf(duck, spec.duckdb_sql)
    row = compare_frames(spark_pdf, oracle_pdf)
    assert row["err"] is None, row
    assert row["rows_match"] and row["schema_match"] and row["hash_match"], (
        f"{row}\n{first_diff(spark_pdf, oracle_pdf)}"
    )


@pytest.mark.parametrize(
    "name", sorted(n for n, s in op_queries.OP_QUERIES.items() if not s.duckdb_sql)
)
def test_rows_only_canonicalizes(name, spark):
    """Rows-only queries still pass through the driver's canonicalizer —
    their outputs must not crash it (round-1 q42 failure mode)."""
    spec = op_queries.OP_QUERIES[name]
    pdf = spec.runner(spark, SF_DIR).toPandas()
    frame_hash(pdf)  # raises on unsortable/unstringifiable cells
