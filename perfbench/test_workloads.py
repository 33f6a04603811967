"""Each workload's output against the catalog's DuckDB oracles, on a
small seed.

Run from the root of a checkout:

    python3 -m pytest perfbench/test_workloads.py -q
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workloads as W  # noqa: E402
from spans import Tracer  # noqa: E402
from tests.util import assert_same  # noqa: E402

SEED = 7


@pytest.fixture(scope="module")
def spark():
    from bugzilla_etl_spark.session import get_spark

    s = get_spark("perfbench-test", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def oracles():
    from bugzilla_etl_spark.plans import catalog

    catalog.load_all()
    return catalog.ORACLES


def duck_over(**tables: str):
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def test_full_history_matches_full_oracle(spark, oracles, tmp_path):
    wl = W.FullHistory(W.Ctx(spark, str(tmp_path), SEED, Tracer(False)),
                       n_bugs=60, n_events=1500, max_changes=200)
    wl.setup()
    res = wl.op(0)
    assert res.problems == []
    store = spark.read.parquet(str(tmp_path / "store_0")).drop("block")
    con = duck_over(events=os.path.join(wl.in_dir, "events.parquet"))
    assert_same(store, con, oracles["bug_version_full"])


def test_incremental_cycles_match_full_oracle(spark, oracles, tmp_path):
    import pyarrow as pa

    wl = W.IncrementalCycles(
        W.Ctx(spark, str(tmp_path), SEED, Tracer(False)),
        n_bugs=60, n_events=1500, max_changes=200, share=0.05,
    )
    wl.setup()
    for i in range(3):
        assert wl.op(i).problems == []
    path = str(tmp_path / "all_events.parquet")
    W.write_parquet(pa.concat_tables(wl.tables), path)
    store = spark.read.parquet(wl.docs_dir).drop("bucket")
    assert_same(store, duck_over(events=path), oracles["bug_version_full"])


def test_corpus_dedup_matches_invindex_oracle(spark, oracles, tmp_path):
    wl = W.CorpusDedup(W.Ctx(spark, str(tmp_path), SEED, Tracer(False)),
                       n_docs=400)
    wl.setup()
    docs_path = os.path.join(wl.in_dir, "documents.parquet")
    con = duck_over(all_documents=docs_path)
    # one doc per exact group, as the workload's pair step sees them
    exact = oracles["dedup_exact"].replace("documents", "all_documents")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM all_documents WHERE doc_id "
        f"IN (SELECT doc_id FROM ({exact}) WHERE doc_id = canonical_id)"
    )
    pairs = con.execute(oracles["dedup_jaccard_invindex"]).fetchall()
    ids = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
    # kept = the lowest id of every connected component
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    expected = sorted({find(i) for i in ids})

    res = wl.op(0)
    assert res.problems == []
    kept = W.read_parquet_dir(wl._out(0), ["doc_id"])["doc_id"].to_pylist()
    assert sorted(kept) == expected
    assert wl.corpus.near_pairs, "the corpus plants near-duplicate pairs"
