"""Order-insensitive Spark-vs-DuckDB comparisons used across tests.

Cells go through the correctness gate's canonicalizer
(``tools.gate.canon_cell``); rows come from ``collect()`` and
``fetchall()``, columns sorted by name, rows sorted by canonical string.
"""

from __future__ import annotations

from bugzilla_etl_spark.plans import catalog
from tools import gate


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["|".join(gate.canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def assert_same(sdf, duck_con, sql: str):
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    res = duck_con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), f"columns {sorted(scols)} != {sorted(dcols)}"
    assert len(srows) == len(drows), f"rowcount {len(srows)} != {len(drows)}"
    a, b = canon_rows(scols, srows), canon_rows(dcols, drows)
    assert a == b, next(
        f"row {i}:\n spark={x}\n duck ={y}" for i, (x, y) in enumerate(zip(a, b)) if x != y
    )


def assert_oracle_slice(spark, sf_dir, names):
    """Each named query value-equal to its oracle over ``sf_dir``,
    through the gate's driver-shaped per-query compare."""
    catalog.load_all()
    con = gate.duck(sf_dir)
    for n in names:
        rec = gate.check_oracle(spark, con, n, sf_dir)
        assert rec["status"] == "pass", f"{n} diverges from oracle on {sf_dir}: {rec['detail']}"
