"""Round-14 additions:

* bpe_learn round persist (ADVICE 2): exactly one vocab-grain cache
  handle lives after training (the final round's input), so the
  per-round collect cannot recompute prior rounds' merge folds.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def test_triangle_count_scaled_second_setting(spark, duck, sf_dir):
    """Oracle parity at a SECOND (frac_bp, min_cap) setting beyond
    the registered default — the knob is data-scaled, so both the
    cap arithmetic (integer basis points) and the histogram-threshold
    edge selection must track the oracle at any setting (round-13
    verdict task 2: 'oracle-checked form at two settings')."""
    from bugzilla_etl_spark.plans.queries_analytics import (
        _tri_scaled_oracle,
        triangle_count_scaled,
    )
    from tests.util import assert_same

    sdf = triangle_count_scaled(spark, sf_dir, frac_bp=500, min_cap=100)
    assert_same(sdf, duck, _tri_scaled_oracle(frac_bp=500, min_cap=100))


def test_triangle_count_scaled_surfaces_kept_fraction(spark, sf_dir):
    """kept_fraction rides every output row and reflects the actual
    cap/n_edges ratio — the no-silent-caps contract."""
    from bugzilla_etl_spark.plans.queries_analytics import (
        triangle_count_scaled,
    )

    rows = triangle_count_scaled(spark, sf_dir).collect()
    assert rows, "sf0.001 graph should have triangles"
    fracs = {r.kept_fraction for r in rows}
    assert len(fracs) == 1
    assert 0.0 < fracs.pop() <= 1.0


def _gram_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_gram_index_probe_zero_exchange_on_index_side(spark, tmp_path):
    """The 100 TB ExactSubstr probe shape (r13 verdict task 4): the
    persisted gram index is a real bucketed table, and the per-batch
    semi join reads its bucket layout directly — the executed plan
    carries bucket metadata on the index scan and EXACTLY ONE
    exchange (the micro-batch-sized probe side), zero on the
    corpus-grain index side."""
    import re

    from bugzilla_etl_spark.operators.dedup import (
        probe_gram_index,
        write_gram_index,
    )

    corpus = _gram_docs(
        spark,
        [(2, "a b c d e f g h i j k l"), (4, "a b c d e f g h x y z w")],
    )
    name = write_gram_index(
        corpus, "bes_gramidx_plan_t", str(tmp_path / "idx")
    )
    batch = _gram_docs(spark, [(1, "a b c d e f g h q r s t")])
    hits = probe_gram_index(spark.table(name), batch)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "LeftSemi" in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "SelectedBucketsCount" in plan, plan
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_gram_index_incremental_append(spark, tmp_path):
    """Incremental corpus growth appends bucket files to the stored
    index; later probes see BOTH increments, and the semi join stays
    exact when the increments share grams (appended duplicates must
    not amplify hits)."""
    from bugzilla_etl_spark.operators.dedup import (
        probe_gram_index,
        write_gram_index,
    )

    inc_a = _gram_docs(spark, [(2, "a b c d e f g h i j k l")])
    # shares the 'a..h' gram with inc_a -> duplicate hash in store
    inc_b = _gram_docs(spark, [(4, "q r s t u v w x a b c d e f g h")])
    path = str(tmp_path / "idx")
    name = write_gram_index(inc_a, "bes_gramidx_inc_t", path)
    batch = _gram_docs(
        spark, [(1, "q r s t u v w x y z zz zzz"), (3, "a b c d e f g h z")]
    )
    before = probe_gram_index(spark.table(name), batch).collect()
    # only doc 3's 'a..h' gram is indexed so far
    assert {(r.doc_id, r.pos) for r in before} == {(3, 0)}
    write_gram_index(inc_b, name, path, mode="append")
    after = probe_gram_index(spark.table(name), batch).collect()
    # doc 1's q..x gram now hits; doc 3's hit did NOT amplify
    assert {(r.doc_id, r.pos) for r in after} == {(1, 0), (3, 0)}
    assert len(after) == 2
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_stream_dedup_spans_bucketed_matches_oracle(spark, duck, sf_dir):
    """The parameterized entry at index_mode='bucketed' is oracle-
    checked like the default: identical results from the persisted-
    index probe (the driver checks the default; this pins the
    parameter)."""
    import __spark_entry__ as entry_mod
    from bugzilla_etl_spark.plans.queries_history import (
        stream_dedup_spans,
    )
    from tests.util import assert_same

    sdf = stream_dedup_spans(spark, sf_dir, index_mode="bucketed")
    assert_same(sdf, duck, entry_mod.oracle_sql()["stream_dedup_spans"])


def test_stream_bug_versions_split_and_pin_restore(spark, sf_dir):
    """The r14 diagnosis wiring: the run records a per-phase wall
    split (restore/discover/append/rebuild_write/swap) in its stats
    for the streambench lane, and the lifetime shuffle-partition pin
    (17.91 -> 16.94 s at sf0.1 in the streaming lane) is
    RESTORED after the query — the r13 attribution fix's
    regression-test discipline applied to this entry."""
    from bugzilla_etl_spark.plans import catalog

    catalog.load_all()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with catalog.run("stream_bug_versions", spark, sf_dir) as run:
        run.frame.collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    split = run.stats["split"]
    assert split["n_batches"] == 3
    assert set(split) >= {
        "restore", "discover", "append", "rebuild_write", "swap",
    }
    # rebuild_write is the designed dominant phase; but a wall-clock
    # RATIO can flake on a loaded host (r14 ADVICE), so the check is
    # presence + positivity; the streambench lane records the split
    # as an artifact for the dominance reading.
    assert split["rebuild_write"] > 0


def test_bpe_learn_caches_one_round_input(spark):
    """After bpe_learn, exactly one cached vocab-grain frame remains
    (the final round's persisted input — the returned plan's parent);
    every earlier round's handle was unpersisted.  Guards the ADVICE-2
    fix: without the persist chain, round r's collect() re-runs all
    prior rounds' interpreted merge folds."""
    from bugzilla_etl_spark.operators.text import bpe_learn

    sc = spark.sparkContext
    before = {rid for rid, _ in sc._jsc.getPersistentRDDs().items()}
    vocab = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        "term string, f int",
    )
    out = bpe_learn(vocab, rounds=3)
    rows = {r.term: r.bpe for r in out.collect()}
    assert set(rows) == {"low", "lower", "newest", "widest"}
    # merge rounds ran: at least one multi-char symbol appeared
    assert any(" " not in sym or len(sym) > 1
               for bpe in rows.values() for sym in bpe.split(" "))
    after = {rid for rid, _ in sc._jsc.getPersistentRDDs().items()}
    new = after - before
    assert len(new) <= 1, f"leaked {len(new)} cached frames: {sorted(new)}"
    for rid in new:
        sc._jsc.getPersistentRDDs()[rid].unpersist()
