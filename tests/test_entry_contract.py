"""Driver-contract smoke tests: entry(), queries(), oracle_sql()."""

from __future__ import annotations

from .conftest import SF_SMOKE, assert_parity


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert "mes" in df.columns and "taxa_variacao_media" in df.columns


def test_every_query_has_callable_and_runs(spark):
    import __spark_entry__ as e

    qs = e.queries()
    assert qs, "queries() must not be empty"
    for name, fn in qs.items():
        df = fn(spark, SF_SMOKE)
        assert df.count() >= 0, name


def test_all_queries_match_oracle_sf0001(spark, duck):
    """Every SQL-expressible query hash-matches DuckDB at sf0.001
    (the driver repeats this at sf0.01)."""
    import __spark_entry__ as e

    oracles = e.oracle_sql()
    for name, fn in e.queries().items():
        if name not in oracles:
            continue
        assert_parity(fn(spark, SF_SMOKE), duck, oracles[name])


def test_flagship_oracle_rounds_to_unsigned_zero(spark):
    """A change of -0.001 % rounds to zero.  Spark (and the reference's
    PostgreSQL numeric) print 0.0; DuckDB's ROUND of a double gives -0.0,
    which the gate's string comparison reads as a different value, so
    the oracle must give 0.0 too."""
    import datetime as dt

    import duckdb

    from ida_dataengineerproject_spark.plans.taxa_variacao import (
        TAXA_VARIACAO_ORACLE_SQL,
        _taxa_from_tables,
    )

    orders = spark.createDataFrame(
        [(1, dt.datetime(1995, 1, 10)), (2, dt.datetime(1995, 2, 10))],
        "o_orderkey long, o_orderdate timestamp",
    )
    lineitem = spark.createDataFrame(
        [(1, "A", 1000.0, "F"), (2, "A", 999.99, "F")],
        "l_orderkey long, l_returnflag string, l_extendedprice double, "
        "l_linestatus string",
    )
    con = duckdb.connect()
    con.register("orders", orders.toPandas())
    con.register("lineitem", lineitem.toPandas())
    assert_parity(_taxa_from_tables(lineitem, orders), con, TAXA_VARIACAO_ORACLE_SQL)
    got = con.execute(TAXA_VARIACAO_ORACLE_SQL).fetchall()
    assert [tuple(map(str, r)) for r in got] == [
        ("1995-02", "0.0", "0.0", "None", "None")
    ]
