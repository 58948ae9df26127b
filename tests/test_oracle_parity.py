"""Every registered query with an oracle must hash-match DuckDB at sf0.01.

This mirrors the driver's CORRECTNESS gate so breakage surfaces locally.
"""

from __future__ import annotations

import pytest

from pulsar_spark_spark.plans import ORACLES, QUERIES
from tests.conftest import SF_DIR
from tests.oracle_utils import compare


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, duck):
    spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(ORACLES[name]).fetchdf()
    problems = compare(spark_pdf, duck_pdf)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_all_queries_return_rows(spark):
    """Weak check for oracle-less queries: they run and have stable schema."""
    for name, fn in QUERIES.items():
        df = fn(spark, SF_DIR)
        assert df.columns, name
        df.limit(1).collect()


def test_money_sums_round_half_cents_like_the_oracle(spark, tmp_path):
    """One order whose exact discounted revenue is 397487.715 (the
    eight lines of order 11438 in the benchmark's seed-3 data): a
    double sum lands just below the half cent, and Spark and DuckDB
    then round it to different cents. Summed as DECIMAL(15,2) both
    give 397487.72 in q1, q3 and q5."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    lines = [
        (100098.65, 0.01), (71937.05, 0.04), (41455.23, 0.08),
        (76799.53, 0.03), (37640.46, 0.08), (70002.27, 0.05),
        (7971.76, 0.04), (8694.35, 0.09),
    ]
    day = lambda *d: dt.datetime(*d)  # noqa: E731
    tables = {
        "lineitem": {
            "l_orderkey": [11438] * 8, "l_partkey": [1] * 8,
            "l_suppkey": [7] * 8, "l_linenumber": list(range(1, 9)),
            "l_quantity": [1.0] * 8,
            "l_extendedprice": [p for p, _ in lines],
            "l_discount": [d for _, d in lines], "l_tax": [0.0] * 8,
            "l_returnflag": ["N"] * 8, "l_linestatus": ["O"] * 8,
            "l_shipdate": [day(1997, 1, 1)] * 8,
        },
        "orders": {
            "o_orderkey": [11438], "o_custkey": [500],
            "o_orderstatus": ["O"], "o_totalprice": [0.0],
            "o_orderdate": [day(1995, 3, 12)],
            "o_orderpriority": ["1-URGENT"],
        },
        "customer": {
            "c_custkey": [500], "c_name": ["c"], "c_nationkey": [8],
            "c_acctbal": [0.0], "c_mktsegment": ["BUILDING"],
        },
        "supplier": {
            "s_suppkey": [7], "s_name": ["s"], "s_nationkey": [8],
            "s_acctbal": [0.0],
        },
        "nation": {"n_nationkey": [8], "n_name": ["INDIA"], "n_regionkey": [2]},
        "region": {"r_regionkey": [2], "r_name": ["ASIA"]},
    }
    con = duckdb.connect()
    for name, cols in tables.items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table(cols), path)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    for name, col in [
        ("q1_pricing_summary", "sum_disc_price"),
        ("q3_shipping_priority", "revenue"),
        ("q5_region_revenue", "revenue"),
    ]:
        spark_pdf = QUERIES[name](spark, str(tmp_path)).toPandas()
        duck_pdf = con.execute(ORACLES[name]).fetchdf()
        assert spark_pdf[col].tolist() == [397487.72], name
        problems = compare(spark_pdf, duck_pdf)
        assert not problems, f"{name}: " + "; ".join(problems)
