"""Catalog-wide oracle parity — the local mirror of the driver's
CORRECTNESS gate.  Every query with an oracle must match DuckDB on
sf0.001; queries without an oracle must at least run and return a
stable schema."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

import __spark_entry__ as entry_mod
from tests.util import assert_same


def _cases():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    return [(name, fn, oracles.get(name)) for name, fn in sorted(qs.items())]


@pytest.mark.parametrize("name,fn,oracle", _cases(), ids=[c[0] for c in _cases()])
def test_query_matches_oracle(spark, duck, sf_dir, name, fn, oracle):
    sdf = fn(spark, sf_dir)
    if oracle is None:
        rows = sdf.collect()
        assert sdf.columns, f"{name}: empty schema"
        assert rows is not None
    else:
        assert_same(sdf, duck, oracle)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "expires_on" in df.columns and "_id" in df.columns


def test_survey_rows_are_a_bijection_onto_the_catalog():
    """SURVEY.md §2's numbering is a BIJECTION onto the catalog: every
    "| N | `key` |" row has a unique number and a unique key, and
    the key set equals the registered catalog exactly (retired/vacant
    numbers carry no backticked key and are skipped).  A count check
    alone let the duplicate ann_lsh_buckets row (#32/#125) through."""
    text = (Path(__file__).resolve().parent.parent / "SURVEY.md").read_text()
    # a (number, key) pair may legitimately repeat across §2's summary
    # and detail tables; conflicts are one number with two KEYS or one
    # key with two NUMBERS
    pairs = sorted(
        {
            (int(n), k)
            for n, k in re.findall(r"^\| (\d+) \| `(\w+)` \|", text, re.M)
        }
    )
    nums = [n for n, _k in pairs]
    keys = [k for _n, k in pairs]
    dup_nums = {n for n in nums if nums.count(n) > 1}
    dup_keys = {k for k in keys if keys.count(k) > 1}
    assert not dup_nums, f"SURVEY §2 numbers with two keys: {sorted(dup_nums)}"
    assert not dup_keys, f"SURVEY §2 keys with two numbers: {sorted(dup_keys)}"
    names = set(entry_mod.queries())
    missing = names - set(keys)
    extra = set(keys) - names
    assert not missing, f"catalog keys missing a SURVEY §2 row: {sorted(missing)}"
    assert not extra, f"SURVEY §2 rows with no catalog entry: {sorted(extra)}"
