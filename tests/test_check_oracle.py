"""The oracle gate's type guard: result columns the gate's hasher cannot
compare across engines (DuckDB HUGEINT / UHUGEINT / DECIMAL, Spark
DecimalType) fail ``scripts/check_oracle.py`` by name instead of surfacing
as a value mismatch, or not at all."""

from __future__ import annotations

import duckdb

from scripts.check_oracle import SF_DIR, duckdb_type_problems, spark_type_problems

# The shape that turned pack_sequences red: a running window sum over a
# BIGINT column, which DuckDB widens to HUGEINT.
WINDOW_SUM = """
    WITH t AS (SELECT range AS doc_id, 7::BIGINT AS tokens FROM range(5))
    SELECT doc_id,
           coalesce(sum(tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0){cast}
             AS global_offset
    FROM t
"""


def test_guard_catches_hugeint_oracle():
    con = duckdb.connect()
    assert duckdb_type_problems(con.sql(WINDOW_SUM.format(cast=""))) == [
        "global_offset HUGEINT"
    ]
    assert duckdb_type_problems(con.sql(WINDOW_SUM.format(cast="::BIGINT"))) == []


def test_guard_catches_every_banned_duckdb_type():
    rel = duckdb.connect().sql(
        "SELECT 1::UHUGEINT AS u, 1.5 AS d, [1::HUGEINT] AS l, 2 AS i, 2.5::DOUBLE AS f, 'x' AS s"
    )
    assert [p.split()[0] for p in duckdb_type_problems(rel)] == ["u", "d", "l"]


def test_guard_catches_spark_decimal(spark):
    df = spark.sql(
        "SELECT 1.5 AS d, CAST(1 AS BIGINT) AS i, 2.5D AS f, "
        "array(CAST(1 AS DECIMAL(10,2))) AS l"
    )
    assert spark_type_problems(df.schema) == ["d decimal(2,1)", "l array<decimal(10,2)>"]


def test_pack_sequences_oracle_is_bigint():
    from __spark_entry__ import oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    assert duckdb_type_problems(con.sql(oracle_sql()["pack_sequences"])) == []
