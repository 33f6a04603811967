"""The correctness gate: every catalog query against its DuckDB oracle,
on clean and on hostile inputs.

One loop on one Spark session, no subprocesses.  For each query it
builds the frame, collects it the way the driver does (``toPandas``,
columns sorted by name, then ``sort_values`` over ALL columns -- this
is what raises ``unhashable type: 'list'`` on array outputs; the gate
must fail the same way the driver fails), compares canonical cell
strings (floats to 6 significant digits, timestamps to ISO micros),
then releases the query's scratch state.

A variant is an input builder, a compare mode and a default query set:

  base        the sf dir as given                     oracle  catalog
  empty       zero-row copy of every table            runs    catalog
  null        1-in-7 payload NULLs per column         oracle  catalog
  unicode     multi-byte snippets woven into text     oracle  catalog
  skew        30-50% of rows moved onto one hot key   oracle  catalog
  partitions  the sf dir as given                     self    catalog
  order       time-densified events, scrambled        oracle  streaming
              arrival (rows are ``query@corpus``)
  sf1         10x disjoint-id replication             oracle  SF1_SLICE

Compare modes: ``oracle`` -- value-equal to the oracle over the same
parquet; ``runs`` -- the query only has to run; ``self`` -- the
deployment-profile rows equal the ``HOSTILE``-profile rows.

Result: ``{variant, src, ok, results: {row: {status, rows, detail}}}``,
status one of pass|fail|drift|diverged.  ``drift`` (a ``self`` mismatch
that vanishes with floats blurred to 3 significant digits) and
``diverged`` (an in-order-contract stream under disorder) are recorded
but not fatal: the exit code is non-zero iff some row is ``fail``.

Usage: python tools/gate.py VARIANT [--json OUT] [sf_dir] [query ...]
``query ...`` replaces the variant's default query set.  Default
sf_dir: sf0.01 for base and partitions, sf0.1 for sf1, sf0.001 for
the rest.
"""

from __future__ import annotations

import datetime
import glob
import json
import math
import os
import re
import shutil
import sys
import tempfile
from contextlib import contextmanager

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bugzilla_etl_spark import tmpdirs  # noqa: E402
from bugzilla_etl_spark.plans import catalog  # noqa: E402
from bugzilla_etl_spark.sources.tables import TABLES  # noqa: E402
from bugzilla_etl_spark.streaming.landing import ARRIVAL_ENV  # noqa: E402

TESTDATA = "/root/testdata"


# ---------------------------------------------------------------------
# canonicalization


def canon_cell(v):
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        # Type-distinct on purpose: the driver's canonicalizer hashes a
        # float64 1.0 differently from an int64 1 (this is how the
        # DuckDB-HUGEINT-sum -> pandas-float64 bug slipped through three
        # rounds: %.6g mapped both to "1").  Keep a decimal marker so
        # float cells NEVER collapse to integer strings.
        v = float(v)
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == 0:
            return "0.0"
        s = f"{v:.6g}"
        if "." not in s and "e" not in s:
            s += ".0"
        return s
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    # pd.Timestamp (toPandas) is a datetime.datetime (collect())
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_frame(pdf: pd.DataFrame) -> list[str]:
    """Driver-shaped canonicalization: name-sorted columns, then
    sort_values over every column (raises on unhashable cells exactly
    like the driver's canonicalizer), then per-cell canonical strings.
    """
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    cells = pdf.map(canon_cell)
    rows = ["|".join(r) for r in cells.itertuples(index=False, name=None)]
    rows.sort()  # canonical order independent of engine sort quirks
    return rows


# ---------------------------------------------------------------------
# input builders


def build_empty_dir(spark, src: str, dst: str) -> None:
    """Zero-row copy of every table, schema taken from ``src``: the
    no-new-data incremental run (empty partitions, empty increments,
    empty eval sets) is a first-class input at 100 TB."""
    for t in TABLES:
        df = spark.read.parquet(f"{src}/{t}.parquet").limit(0)
        stage = os.path.join(dst, f"_stage_{t}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        f = glob.glob(f"{stage}/*.parquet")[0]
        shutil.move(f, os.path.join(dst, f"{t}.parquet"))
        shutil.rmtree(stage)


# Null sweep.  100 TB corpora are dirty: comments are missing, JSON
# payloads are empty, attributes were never set.  For each payload
# column below, rows whose key hashes into a 1-in-7 bucket get NULL (a
# per-column offset de-correlates the buckets).  Keys, foreign keys,
# and event timestamps stay non-null: those are preconditions the
# reference's extractor guarantees (bugs/activity rows always carry
# ids and times -- extract_bugzilla.py's SELECTs), so nulling them
# would test an input that cannot occur; payload columns carry no
# such guarantee.
#
# table -> (row-identity key expr, payload columns to dirty).
NULLED: dict[str, tuple[str, list[str]]] = {
    "documents": ("doc_id", ["text", "lang", "source"]),
    "events": ("event_id", ["props", "value", "event_type"]),
    "orders": ("o_orderkey", ["o_orderpriority"]),
    "lineitem": (
        "l_orderkey * 8 + l_linenumber",
        ["l_returnflag", "l_discount"],
    ),
    "customer": ("c_custkey", ["c_mktsegment", "c_acctbal"]),
    "part": ("p_partkey", ["p_type", "p_brand"]),
    "supplier": ("s_suppkey", ["s_acctbal"]),
    "embeddings": ("vec_id", ["label"]),
}


def build_dirty_dir(src: str, dst: str) -> None:
    con = duckdb.connect()
    for t in TABLES:
        src_file = f"{src}/{t}.parquet"
        dst_file = f"{dst}/{t}.parquet"
        if t not in NULLED:
            shutil.copyfile(src_file, dst_file)
            continue
        key, cols = NULLED[t]
        # Per-column hash offset: different columns go null on
        # DIFFERENT rows, so multi-column null interactions appear
        # without any row losing every attribute at once.
        exprs = []
        for c in con.execute(
            f"SELECT * FROM '{src_file}' LIMIT 0"
        ).description:
            name = c[0]
            if name in cols:
                i = cols.index(name)
                exprs.append(
                    f"CASE WHEN hash(({key}) + {i * 1000003}) % 7 = 0"
                    f" THEN NULL ELSE {name} END AS {name}"
                )
            else:
                exprs.append(name)
        con.execute(
            f"COPY (SELECT {', '.join(exprs)} FROM '{src_file}')"
            f" TO '{dst_file}' (FORMAT PARQUET)"
        )


# Unicode sweep.  Web-scale corpora are multi-byte; ASCII testdata can
# hide byte-vs-codepoint divergences between the Spark plan and its
# oracle (``length``/``substr`` units, regex word classes, case
# mapping, hash inputs taken over bytes on one side and codepoints on
# the other).  Rows of ``documents`` whose doc_id hashes into a
# 5-in-6 bucket get a multi-byte snippet woven into ``text`` (prefix +
# infix so both edge and interior positions are exercised).
#
# Five script classes, cycled by hash bucket: CJK, emoji (astral
# plane, surrogate-pair territory in UTF-16 engines), combining
# accents (NFD ``é``), Greek with a bidi mark, and a case-stress
# class -- uppercase Greek/Cyrillic/Latin-extended that the text
# path's lower() must case-map identically on both engines.
#
# Case-mapping boundary (probed, pinned in tests/test_round10.py):
# the decoration deliberately avoids the two codepoint classes where
# Spark and DuckDB LEGITIMATELY disagree -- word-final 'Σ' (Spark
# applies Unicode FULL case mapping with the contextual final-sigma
# rule -> 'ς'; DuckDB applies SIMPLE mapping -> 'σ') and dotted 'İ'
# (Spark keeps the U+0307 combining dot, DuckDB drops it).  Both
# engines are internally consistent; a corpus containing those
# codepoints case-folds deterministically on the engine, it just
# cannot be value-compared against a simple-mapping oracle.
SNIPPETS = [
    ("漢字テスト ", " 中文分词 "),
    ("\U0001f680\U0001f9ea ", " \U0001f4c8\U0001f30d "),
    ("café naïve ", " résumé "),
    ("Αβγ ‏", " δέλτα "),
    ("ΔΟΚΙΜΗ STRAßE ", " ЖУРНАЛ Łódź "),
]


def build_decorated_dir(src: str, dst: str) -> None:
    con = duckdb.connect()
    for t in TABLES:
        src_file = f"{src}/{t}.parquet"
        dst_file = f"{dst}/{t}.parquet"
        if t != "documents":
            shutil.copyfile(src_file, dst_file)
            continue
        # CASE over hash(doc_id)%6: buckets 0-4 get snippet k woven in
        # (prefix + infix after the first space), bucket 5 stays ASCII
        # so mixed corpora are represented.  n_chars recomputed in
        # codepoints (DuckDB length() is codepoint-based, matching the
        # generator's invariant n_chars = length(text)).
        arms = []
        for k, (pre, mid) in enumerate(SNIPPETS):
            pre_sql = pre.replace("'", "''")
            mid_sql = mid.replace("'", "''")
            arms.append(
                f"WHEN hash(doc_id) % 6 = {k} THEN"
                f" '{pre_sql}' || regexp_replace(text, ' ',"
                f" '{mid_sql}')"
            )
        decorated = f"CASE {' '.join(arms)} ELSE text END"
        con.execute(
            f"COPY (SELECT doc_id, {decorated} AS text, lang, source,"
            f" length({decorated}) AS n_chars"
            f" FROM '{src_file}')"
            f" TO '{dst_file}' (FORMAT PARQUET)"
        )


# Skew sweep.  Real corpora are Zipfian; a query whose result depends
# on the key distribution only through the VALUES must stay
# oracle-green when 30-50% of rows pile onto one hot key.  Anything
# that samples per partition, caps a per-key structure, or
# short-circuits on "keys are about this frequent" diverges here.
# Keys are remapped (deterministic by id hash) to an EXISTING value so
# FKs stay valid and no engine sees an id it couldn't have seen.
#
# (id column driving the deterministic bucket, key column remapped,
#  hot-value SQL, bucket modulus, hot-bucket count)
SKEW = {
    "events": ("event_id", "user_id", "min(user_id)", 10, 3),
    "documents": ("doc_id", "source", "'src0'", 2, 1),
    "orders": ("o_orderkey", "o_custkey", "min(o_custkey)", 10, 3),
    "lineitem": ("l_orderkey", "l_suppkey", "min(l_suppkey)", 10, 3),
}

# Small row groups so a single-file rewrite still splits into many
# scan tasks — DuckDB's 122,880-row default makes a 50k-row table
# ONE row group, i.e. ONE Spark input split, and the first probe run
# misread that serialization as a 4.5× "skew" penalty on a query
# with no key-grouped stage at all.
_ROW_GROUP = 16384


def build_skewed_dir(
    src: str, dst: str, skew: bool = True, hot_share: float | None = None
) -> None:
    """Rewrite ``src`` into ``dst`` through one writer; with
    ``skew=True`` remap the SKEW keys, with ``skew=False`` copy
    values unchanged.  The perf probe compares a skew=False rewrite
    against a skew=True rewrite so BOTH sides share file count, row
    groups, and compression — the key distribution is the only
    variable (comparing against the original Spark-written layout
    confounds skew with scan-split geometry)."""
    con = duckdb.connect()
    for t in TABLES:
        src_file = f"{src}/{t}.parquet"
        dst_file = f"{dst}/{t}.parquet"
        if os.path.isdir(src_file):
            # Spark-written table (a directory of part files): read
            # via glob; the rewrite lands as one file, which both
            # engines read through the same path downstream
            src_file = f"{src}/{t}.parquet/*.parquet"
        if t not in SKEW or not skew:
            if "*" in src_file or t in SKEW:
                con.execute(
                    f"COPY (SELECT * FROM '{src_file}') TO '{dst_file}'"
                    f" (FORMAT PARQUET, ROW_GROUP_SIZE {_ROW_GROUP})"
                )
            else:
                shutil.copyfile(src_file, dst_file)
            continue
        id_col, key_col, hot_sql, mod, nhot = SKEW[t]
        if hot_share is not None:
            # crossover-probe mode (round-11 verdict task 3): push the
            # hot key's share beyond the standing 30/50% so the
            # classic per-key-ordered forms actually straggle at
            # local[32]; 1000 buckets give 0.1% share resolution
            mod, nhot = 1000, max(1, min(999, round(hot_share * 1000)))
        hot = con.execute(
            f"SELECT {hot_sql} FROM '{src_file}'"
        ).fetchone()[0]
        hot_lit = f"'{hot}'" if isinstance(hot, str) else str(hot)
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM '{src_file}'"
            ).fetchall()
        ]
        proj = ", ".join(
            f"CASE WHEN hash({id_col}) % {mod} < {nhot}"
            f" THEN {hot_lit} ELSE {c} END AS {c}"
            if c == key_col
            else c
            for c in cols
        )
        con.execute(
            f"COPY (SELECT {proj} FROM '{src_file}') TO '{dst_file}'"
            f" (FORMAT PARQUET, ROW_GROUP_SIZE {_ROW_GROUP})"
        )
        # row count preserved: skew moves keys, never rows
        n_src = con.execute(
            f"SELECT count(*) FROM '{src_file}'"
        ).fetchone()[0]
        n_dst = con.execute(
            f"SELECT count(*) FROM '{dst_file}'"
        ).fetchone()[0]
        assert n_src == n_dst, (t, n_src, n_dst)


# Order sweep.  Production ingest is never event-time-ordered across
# partitions.  The order variant re-runs the file-source streaming
# entries over a BOUNDED-DISORDER landing (``BES_STREAM_ARRIVAL`` --
# see streaming/landing.py: time-sliced parts where half of each
# slice's trailing margin arrives one file late, duplicates one batch
# late; every row stays above the watermark when it arrives) against
# the unchanged batch oracle, on two corpora: the plain testdata
# (30-day span: per-entity gaps dwarf the margin, so disorder is
# sparse; passing here is necessary, not sufficient) and a
# TIME-DENSIFIED copy (ts compressed 24x -> ~30h span, same rows;
# the oracle reads the same dense parquet, so value parity is still
# exact) where the margin spans several same-entity events and real
# cross-batch inversions occur.
#
# 12 files, 90 min margin: inside every consumer's 2h watermark.
MODE = "delay:12:5400"
DENSE_FACTOR = 24

# Must hash-match the batch oracle under disorder on BOTH corpora:
# the commutative-state entries (snapshot max-merge, rollup's
# watermarked agg, dedup-within-watermark, HLL register max-merge,
# heavy-hitter counting, rebuild-from-archive) and the two *_ooo
# watermark-buffered forms built to retire the in-order assumption.
CONVERGE = [
    "stream_snapshot",
    "stream_rollup",
    "stream_dedup",
    "stream_hll",
    "stream_heavy_hitters",
    "stream_heavy_hitters_capped",
    "stream_bug_versions",
    "stream_previous_values_ooo",
    "stream_sessionize_ooo",
    # the chunking ingest twin — stateless per-batch map, so ANY
    # arrival order converges
    "stream_doc_chunks",
    # the span-probe ingest twin — per-batch stream-static join
    # against a fixed index, no cross-batch state
    "stream_dedup_spans",
    # the tokenize ingest twin — per-batch map-only encode against a
    # FROZEN broadcast tokenizer, no cross-batch state
    "stream_bpe_encode",
]
# The classic forms' documented delivery contract is in-order-per-
# entity: under dense disorder their divergence is RECORDED
# (``diverged``, non-fatal) so the boundary is measured, not folklore;
# their green path, the ordered landing, is the fatal control row.
IN_ORDER_CONTRACT = ["stream_previous_values", "stream_sessionize"]


def build_dense_dir(src: str, dst: str, factor: int = DENSE_FACTOR) -> None:
    """Symlink every table, rewrite events with ts compressed by
    ``factor`` toward the corpus minimum (microsecond-integer
    arithmetic — never float; same rows, same schema, same types)."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    for t in TABLES:
        s = f"{src}/{t}.parquet"
        if t != "events" and os.path.exists(s):
            os.symlink(s, f"{dst}/{t}.parquet")
    tab = ds.dataset(f"{src}/events.parquet", format="parquet").to_table()
    fld = tab.schema.field("ts")
    if tab.num_rows:
        us = tab.column("ts").cast(pa.int64()).to_numpy()
        mn = us.min()
        dense = mn + (us - mn) // factor
        i = tab.schema.get_field_index("ts")
        tab = tab.set_column(
            i, fld, pa.array(dense, type=pa.int64()).cast(fld.type)
        )
    pq.write_table(tab, f"{dst}/events.parquet")


def build_replicated_dir(spark, src: str, dst: str) -> None:
    """sf1-equivalent corpus: ``src`` x10 through scaleprobe's
    disjoint-id replication (ids offset per replica so join
    cardinality grows linearly, text perturbed so dedup families see
    new content, dims constant)."""
    from tools.scaleprobe import replicate

    replicate(spark, src, dst, 10)


# The sf1 slice: the families where partition count, per-key state
# size or accumulator width can break silently between decades.
SF1_SLICE = [
    # window/replay state, sketches whose registers fill another
    # decade up, graph/iterative fixpoints, multi-distinct/percentile
    # aggs
    "previous_values",
    "previous_values_paned",
    "state_rollforward",
    "state_rollforward_paned",
    "events_sessionize",
    "events_sessionize_paned",
    "moving_average_ranged",
    "set_accumulate",
    "set_final",
    "set_final_salted",
    "snapshot_versions",
    "bug_version_full",
    "hll_distinct",
    "count_min_freq",
    "hist_quantile",
    "kmv_source_overlap_sketch",
    "pagerank_trade",
    # triangle_count's sf1 red row was a DuckDB PLAN pathology: the
    # plain `edges` CTE was inlined into all three consumers plus a
    # delim-join, spilling >17 GB.  Fixed at the oracle (`edges AS
    # MATERIALIZED`, ~6 s at sf1); the gate's DuckDB connection also
    # bounds memory + temp so a future plan regression fails fast.
    "triangle_count",
    # the data-scaled backbone form — the cap derivation (weight
    # histogram -> boundary ties) only misbehaves when the weight
    # distribution thickens a decade
    "triangle_count_scaled",
    "dedup_components",
    "kmeans_embeddings",
    "heavy_hitters_ngrams",
    "value_percentiles",
    # dedup/similarity: band boundaries, posting-list df caps, cell
    # assignment, and the ExactSubstr span family's corpus-grain gram
    # groupBy and per-doc island windows
    "dedup_minhash_lsh",
    "dedup_jaccard_invindex",
    "semdedup",
    "decontam_neardup",
    "dedup_containment",
    "dedup_simhash_pairs",
    "dedup_spans",
    "dedup_spans_apply",
    # text/gram token explodes whose groupBy boundaries move as
    # partition counts and gram multiplicity grow: BM25's corpus
    # stats, the BPE merge loop's exact pair counts, PMI and
    # pair-support counting, n-gram novelty's first-seen semantics,
    # TF-IDF's df, the encode pass's vocab-grain ranks (its map fold
    # is a collect_list whose order must not leak into the lookup),
    # and the sequence packer's per-stream cumsum layout
    "bm25_topk",
    "bpe_apply",
    "cooccurrence_pmi",
    "frequent_pairs",
    "ngram_novelty",
    "tfidf_top_terms",
    "bpe_encode",
    "seq_packing_ids",
    # RANGE frames, rolling-distinct state, as-of joins: the
    # hot-key-splittable forms exist FOR scale
    "range_window_load",
    "rolling_distinct_users",
    "moving_average",
    "interval_asof_join",
    "trunc_uncertain",
    "events_sessionize_native",
    "topk_per_group",
    # flag/attachment/fuzzy replay: per-entity lists lengthen and
    # candidate tiers widen with SF, where a fatter entity can change
    # a tie-break or a collect_list ordering assumption
    "flag_state_versions",
    "attachment_versions",
    "flag_fuzzy_match",
    "cc_fuzzy_match",
    "diff_rollback",
    "diff_apply",
    "canonical_fields",
]


# ---------------------------------------------------------------------
# compares


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    # Spill budget: an in-memory DuckDB spills to cwd/.tmp with no cap
    # (one pathological sf1 oracle plan once filled the volume).  Pin
    # the temp dir somewhere disposable and bound memory by half the
    # host's RAM so an oracle regression fails fast with an OOM error
    # instead of taking the host down.
    half_mib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**21
    con.execute("SET temp_directory='/tmp/bes_duck_spill'")
    con.execute("SET max_temp_directory_size='20GB'")
    con.execute(f"SET memory_limit='{half_mib}MiB'")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            # Spark-written table (a directory of part files), e.g.
            # the sf1 replicated corpus: glob the parts
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _row(status: str, rows: int | None, detail: str | None = None) -> dict:
    return {"status": status, "rows": rows, "detail": detail}


def _first_diff(a: list[str], b: list[str]) -> int:
    return next(
        (i for i, (x, y) in enumerate(zip(a, b)) if x != y),
        min(len(a), len(b)) - 1,
    )


def check_oracle(spark, con, name: str, sf_dir: str) -> dict:
    """Spark result of ``name`` over ``sf_dir`` vs its oracle on ``con``."""
    spdf = catalog.QUERIES[name](spark, sf_dir).toPandas()
    dpdf = con.execute(catalog.ORACLES[name]).df()
    if sorted(spdf.columns) != sorted(dpdf.columns):
        return _row(
            "fail", len(spdf),
            f"columns spark={sorted(spdf.columns)} duck={sorted(dpdf.columns)}",
        )
    if len(spdf) != len(dpdf):
        return _row(
            "fail", len(spdf), f"rowcount spark={len(spdf)} duck={len(dpdf)}"
        )
    a, b = canon_frame(spdf), canon_frame(dpdf)
    if a != b:
        i = _first_diff(a, b)
        return _row(
            "fail", len(a),
            f"values differ at sorted row {i}: spark: {a[i][:250]}"
            f" duck: {b[i][:250]}",
        )
    return _row("pass", len(a))


def check_runs(spark, name: str, sf_dir: str) -> dict:
    rows = canon_frame(catalog.QUERIES[name](spark, sf_dir).toPandas())
    return _row("pass", len(rows))


# Runtime-settable confs only (all four are session confs in Spark):
# the hostile profile must apply to a live session, because
# getOrCreate() would otherwise hand back the deployment one.  7
# shuffle partitions, 64 KB scan splits (every parquet file shatters
# into many input slices), AQE off.  A result that depends on the
# partition plan (an unordered LIMIT, a first() without ordering,
# float summation order past the canonical tolerance) passes one run
# and mismatches the next with zero code change.
HOSTILE = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": str(64 * 1024),
    "spark.sql.files.openCostInBytes": "0",
    "spark.sql.adaptive.enabled": "false",
}


@contextmanager
def hostile_conf(spark):
    saved = {k: spark.conf.get(k, None) for k in HOSTILE}
    for k, v in HOSTILE.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_FLOAT = re.compile(r"-?\d+\.\d+(?:e[+-]?\d+)?")


def _blur(rows: list[str]) -> list[str]:
    """Re-round every float literal in canonical rows to 3 significant
    digits.  Applied identically to both runs, so equal inputs stay
    equal; only used to CLASSIFY a strict mismatch, never to pass one.
    """
    return sorted(
        _FLOAT.sub(lambda m: f"{float(m.group(0)):.3g}", r) for r in rows
    )


def check_self(spark, name: str, sf_dir: str) -> dict:
    """Deployment-profile rows vs ``HOSTILE``-profile rows."""
    a = canon_frame(catalog.QUERIES[name](spark, sf_dir).toPandas())
    with hostile_conf(spark):
        b = canon_frame(catalog.QUERIES[name](spark, sf_dir).toPandas())
    if a == b:
        return _row("pass", len(a))
    i = _first_diff(a, b)
    diff = f"A:{a[i][:160]} B:{b[i][:160]}"
    if len(a) == len(b) and _blur(a) == _blur(b):
        return _row("drift", len(a), diff)
    return _row(
        "fail", len(a),
        f"rows A={len(a)} B={len(b)}; first diff at sorted row {i}: {diff}",
    )


# ---------------------------------------------------------------------
# the loop


def _loop(names, check, key=str, fail_as="fail") -> dict:
    out = {}
    for name in names:
        try:
            rec = check(name)
        except Exception as e:  # noqa: BLE001 — a failing query is a row
            rec = _row("fail", None, f"{type(e).__name__}: {str(e)[:300]}")
        finally:
            tmpdirs.gc_now()
        if rec["status"] == "fail":
            rec["status"] = fail_as
        out[key(name)] = rec
        detail = f": {rec['detail']}" if rec["detail"] else ""
        print(f"{rec['status'].upper():8} {key(name)} ({rec['rows']} rows){detail}")
    return out


@contextmanager
def _arrival(mode: str | None):
    saved = os.environ.pop(ARRIVAL_ENV, None)
    if mode:
        os.environ[ARRIVAL_ENV] = mode
    try:
        yield
    finally:
        os.environ.pop(ARRIVAL_ENV, None)
        if saved is not None:
            os.environ[ARRIVAL_ENV] = saved


def _order(spark, plain: str, dense: str, names: list[str]) -> dict:
    converge = [n for n in names if n not in IN_ORDER_CONTRACT]
    contract = [n for n in names if n in IN_ORDER_CONTRACT]
    out = {}
    for corpus, sf_dir, mode, qs, fail_as in (
        ("plain", plain, MODE, converge, "fail"),
        ("dense", dense, MODE, converge, "fail"),
        ("dense", dense, MODE, contract, "diverged"),
        ("dense-ordered", dense, None, contract, "fail"),
    ):
        con = duck(sf_dir)
        with _arrival(mode):
            out.update(_loop(
                qs,
                lambda n: check_oracle(spark, con, n, sf_dir),
                key=lambda n: f"{n}@{corpus}",
                fail_as=fail_as,
            ))
    return out


def _duck_only(build):
    return lambda spark, src, dst: build(src, dst)


# name -> (input builder or None, compare mode, default queries or
# None for the whole catalog, default source dir)
VARIANTS = {
    "base": (None, "oracle", None, f"{TESTDATA}/sf0.01"),
    "empty": (build_empty_dir, "runs", None, f"{TESTDATA}/sf0.001"),
    "null": (_duck_only(build_dirty_dir), "oracle", None, f"{TESTDATA}/sf0.001"),
    "unicode": (
        _duck_only(build_decorated_dir), "oracle", None, f"{TESTDATA}/sf0.001"
    ),
    "skew": (_duck_only(build_skewed_dir), "oracle", None, f"{TESTDATA}/sf0.001"),
    "partitions": (None, "self", None, f"{TESTDATA}/sf0.01"),
    "order": (
        _duck_only(build_dense_dir), "oracle",
        CONVERGE + IN_ORDER_CONTRACT, f"{TESTDATA}/sf0.001",
    ),
    "sf1": (build_replicated_dir, "oracle", SF1_SLICE, f"{TESTDATA}/sf0.1"),
}


def gate(spark, variant: str, src: str | None = None, names=()) -> dict:
    """Run one variant; returns the result record (see module doc)."""
    build, compare, default, default_src = VARIANTS[variant]
    catalog.load_all()
    src = src or default_src
    names = list(names) or default or list(catalog.QUERIES)
    with tempfile.TemporaryDirectory(prefix=f"bes_gate_{variant}_") as tmp:
        sf_dir = src
        if build is not None:
            build(spark, src, tmp)
            sf_dir = tmp
        if variant == "order":
            results = _order(spark, src, sf_dir, names)
        elif compare == "oracle":
            con = duck(sf_dir)
            results = _loop(names, lambda n: check_oracle(spark, con, n, sf_dir))
        elif compare == "runs":
            results = _loop(names, lambda n: check_runs(spark, n, sf_dir))
        else:
            results = _loop(names, lambda n: check_self(spark, n, sf_dir))
    ok = all(r["status"] != "fail" for r in results.values())
    return {"variant": variant, "src": src, "ok": ok, "results": results}


def main() -> None:
    args = sys.argv[1:]
    if not args or args[0] not in VARIANTS:
        sys.exit(__doc__.split("Usage: ")[1])
    variant, args = args[0], args[1:]
    json_out = None
    if args[:1] == ["--json"]:
        json_out, args = args[1], args[2:]
    src = args[0] if args else None

    from bugzilla_etl_spark.session import get_spark

    spark = get_spark("gate", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    res = gate(spark, variant, src, args[1:])
    counts: dict[str, int] = {}
    for r in res["results"].values():
        counts[r["status"]] = counts.get(r["status"], 0) + 1
    print(f"\n{variant} over {res['src']}: {len(res['results'])} rows {counts}")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(res, f, indent=1)
        print(f"wrote {json_out}")
    sys.exit(0 if res["ok"] else 1)


if __name__ == "__main__":
    main()
