"""The DuckDB contract as a test: every queries() entry against its
oracle_sql() at sf0.01, through scripts/check_contract.py's compare
(repr-exact values, integer dtypes gated)."""

from __future__ import annotations

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "check_contract",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "check_contract.py"))
check_contract = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_contract)


@pytest.mark.skipif(
    not os.path.isdir(check_contract.DEFAULT_SF_DIR),
    reason=f"contract tables not generated at {check_contract.DEFAULT_SF_DIR}")
def test_contract_sf001(spark):
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(check_contract.SHUFFLE_PARTITIONS))
    try:
        n, failures = check_contract.compare(
            spark, check_contract.DEFAULT_SF_DIR)
    finally:
        spark.conf.set(key, saved)
    assert failures == []
    assert n == 82, "queries() changed size; update the count with it"
