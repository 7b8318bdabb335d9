"""Every span-extraction gate in the driver registry's table against its
single-process expectation parquet (tests/expected/, written by
scripts/gen_expected.py from the same table), compared the way the
driver's gate does: rows, columns and order-insensitive values."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as e
from parity import compare

SF = e._SMOKE_SF_DIR   # sf0.001, 500 docs: at least the gates' doc cap


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


@pytest.mark.parametrize("name", list(e._SPAN_GATES))
def test_span_gate_matches_expectation(spark, con, name):
    assert con.execute(f"SELECT count(*) FROM '{SF}/documents.parquet'"
                       ).fetchone()[0] >= e._MEDIA_DOC_CAP
    sql = e.oracle_sql()[name]
    assert "read_parquet" in sql
    compare(e.queries()[name](spark, SF), con, sql, name)
