"""Salted skew mitigation gives exact results."""

from __future__ import annotations

from pyspark.sql import functions as F

from vectordbfaiss_spark.operators.skew import salted_sum
from vectordbfaiss_spark.session import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_salted_sum_is_exact(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    salted = salted_sum(li, "l_returnflag", "l_quantity", n_salts=8)
    plain = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sum_l_quantity"), F.count("*").alias("n_rows")
    )
    a = {(r[0], round(r[1], 6), r[2]) for r in salted.collect()}
    b = {(r[0], round(r[1], 6), r[2]) for r in plain.collect()}
    assert a == b
