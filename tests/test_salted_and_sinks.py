"""Salted join equivalence + S10 debug-artifact sinks."""

from __future__ import annotations


from conftest import SF_ORACLE

from vector_db_light_spark.operators.relational import salted_join


def test_salted_join_equals_plain_join(spark):
    orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    cust = spark.read.parquet(f"{SF_ORACLE}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    plain = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .count()
    )
    salted = (
        salted_join(orders, cust, "o_custkey", "c_custkey", n_salts=8)
        .groupBy("c_mktsegment")
        .count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


