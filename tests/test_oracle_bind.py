"""Every registry oracle binds against the corpus schema (no Spark)."""

from __future__ import annotations

import duckdb

from hive_udf_spark.plans import oracle_sql_map
from hive_udf_spark.sources.tables import TABLES


def test_every_oracle_binds(sf_dir):
    """DuckDB plans each oracle (``EXPLAIN``) over views of the fixture
    tables, so an oracle composed wrongly from a shared SQL helper or
    constant, or one naming a column the corpus lacks, fails here without
    running the Spark side of the registry."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = oracle_sql_map()
    failed = {}
    for name, sql in oracles.items():
        try:
            con.execute("EXPLAIN " + sql)
        except duckdb.Error as ex:
            failed[name] = str(ex).splitlines()[0]
    assert len(oracles) >= 311
    assert not failed, failed
