"""Regression tests for the correctness gate's canonicalizer.

Round-3 post-mortem: three driver rows (events_sessionize,
stream_sessionize, pivot_event_counts) were red at the driver but
green locally for three rounds running.  Root cause: DuckDB
``sum(integer)`` returns HUGEINT, pandas converts HUGEINT to float64,
and the old ``%.6g`` float canonicalization mapped float 1.0 and int 1
to the same string, so the local gate could not reproduce the driver's
int/float sensitivity.  These tests pin the fixed behavior: float and
int cells must NEVER canonicalize to the same string, and a
HUGEINT-emitting oracle must fail the local compare against an
integer-typed Spark result.
"""

from __future__ import annotations

import datetime

import duckdb
import numpy as np
import pandas as pd

from tests import util
from tools.gate import canon_cell, canon_frame


def test_float_int_cells_are_distinct():
    assert canon_cell(1.0) != canon_cell(1)
    assert canon_cell(np.float64(1.0)) != canon_cell(np.int64(1))
    assert canon_cell(0.0) != canon_cell(0)
    assert canon_cell(-3.0) != canon_cell(-3)
    # genuine fractions / exponent forms still canonical
    assert canon_cell(1.5) == "1.5"
    assert canon_cell(1e30) == "1e+30"
    assert canon_cell(float("nan")) == "nan"
    assert canon_cell(float("inf")) == "inf"
    assert canon_cell(float("-inf")) == "-inf"
    assert canon_cell(2.5) == "2.5"
    # collect() datetimes and toPandas() Timestamps canonicalize alike
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 6)
    assert canon_cell(ts) == canon_cell(pd.Timestamp(ts))
    assert canon_cell(ts) == "2024-01-02T03:04:05.000006"


def test_util_canon_matches_verify_local_policy():
    """The tests' collect()-path rows follow the gate's policy."""
    assert util.canon_rows(["a"], [(1.0,)]) != util.canon_rows(["a"], [(1,)])
    assert util.canon_rows(["a"], [(0.0,)]) != util.canon_rows(["a"], [(0,)])
    assert util.canon_rows(["a"], [(2.5,)]) == ["2.5"]
    assert util.canon_rows(["b", "a"], [(1, 2.5)]) == ["2.5|1"]


def test_hugeint_oracle_fails_against_int_spark_result():
    """A DuckDB HUGEINT sum (read through pandas, the driver's path)
    must NOT match an int64 Spark-side frame of the same values."""
    con = duckdb.connect()
    dpdf = con.execute(
        "SELECT sum(x) AS s FROM (VALUES (1), (2)) t(x)"
    ).df()
    # HUGEINT must not arrive as an integer dtype (DuckDB versions map
    # it to float64 today; object/decimal would equally fail the
    # compare, which is the property that matters)
    assert not np.issubdtype(dpdf["s"].dtype, np.integer)
    spdf = pd.DataFrame({"s": np.array([3], dtype=np.int64)})
    assert canon_frame(spdf) != canon_frame(dpdf)
    # and the ::BIGINT cast is exactly what makes it match
    dpdf2 = con.execute(
        "SELECT (sum(x))::BIGINT AS s FROM (VALUES (1), (2)) t(x)"
    ).df()
    assert canon_frame(spdf) == canon_frame(dpdf2)
