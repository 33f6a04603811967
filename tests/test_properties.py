"""Property-based tests (hypothesis) for the imperative corners —
diff application and as-of join semantics — checked against
independent naive implementations."""

from __future__ import annotations

import difflib

from hypothesis import given, settings, strategies as st

from bugzilla_etl_spark.operators.diffs import apply_unified_diff

LINES = st.lists(
    st.text(alphabet="abcXYZ 123", min_size=0, max_size=8), min_size=1, max_size=12
)


@given(base_lines=LINES, target_lines=LINES)
@settings(max_examples=200, deadline=None)
def test_apply_unified_diff_roundtrip(base_lines, target_lines):
    """Applying difflib's unified diff of (base -> target) onto base
    must reproduce target exactly (n=0 context, like the reference's
    stored diffs)."""
    base = "\n".join(base_lines)
    target = "\n".join(target_lines)
    diff = "\n".join(
        difflib.unified_diff(
            base.split("\n"), target.split("\n"), lineterm="", n=0
        )
    )
    if not diff:
        assert base == target
        return
    assert apply_unified_diff(base, diff) == target


@st.composite
def asof_case(draw):
    keys = draw(st.lists(st.integers(0, 3), min_size=1, max_size=8))
    left = [
        (k, draw(st.integers(0, 100))) for k in keys
    ]
    right = [
        (draw(st.integers(0, 3)), draw(st.integers(0, 100)), draw(st.integers(0, 999)))
        for _ in range(draw(st.integers(0, 8)))
    ]
    return left, right


_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from bugzilla_etl_spark.session import get_spark

        _spark = get_spark("props", cpus=4, shuffle_partitions=4)
    return _spark


@given(case=asof_case())
@settings(max_examples=12, deadline=None)
def test_asof_join_matches_naive(case):
    """Union-window as-of join == naive per-row max-scan (the O(L x R)
    definition)."""
    from bugzilla_etl_spark.operators.asof import asof_join

    left_rows, right_rows = case
    spark = _get_spark()
    left = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(left_rows)],
        "lid long, key long, ts long",
    )
    right = spark.createDataFrame(
        right_rows or [(None, None, None)], "key long, ts long, payload long"
    ).where("key is not null")

    got = {
        r.lid: r.asof_payload
        for r in asof_join(
            left, right, key="key", left_ts="ts", right_ts="ts",
            payload=["payload"],
        ).collect()
    }

    def naive(k, ts):
        cands = [
            (rts, p) for (rk, rts, p) in right_rows if rk == k and rts <= ts
        ]
        return max(cands)[1] if cands else None

    want = {i: naive(k, ts) for i, (k, ts) in enumerate(left_rows)}
    # ties among equal right timestamps are resolved arbitrarily in
    # both implementations; compare the *set of admissible answers*
    for i, (k, ts) in enumerate(left_rows):
        admissible = {
            p
            for (rk, rts, p) in right_rows
            if rk == k
            and rts <= ts
            and rts == max(r2 for (k2, r2, _) in right_rows if k2 == k and r2 <= ts)
        } or {None}
        assert got.get(i) in admissible, (i, got.get(i), admissible, want)


@st.composite
def pv_log(draw):
    """Random single-entity change log: (ts, field, value) with
    repeated values to exercise the no-op skip."""
    n = draw(st.integers(1, 14))
    rows = []
    ts = 0
    for i in range(n):
        ts += draw(st.integers(1, 200_000))
        rows.append(
            (
                i + 1,  # event_id (unique tiebreak)
                ts,
                draw(st.sampled_from(["a", "b"])),
                float(draw(st.integers(0, 2))),  # small domain -> no-ops
            )
        )
    return rows


@given(rows=pv_log())
@settings(max_examples=10, deadline=None)
def test_previous_values_matches_naive_setprevious(rows):
    """The window formulation == a literal Python transcription of the
    reference's setPrevious bookkeeping (parse_bug_history.py:783):
    per field, prev value / change-to chains prior change-away /
    creation ts seeds the first change / no-op changes skipped."""
    import datetime as dt

    from bugzilla_etl_spark.operators.snapshot import previous_values

    spark = _get_spark()
    df = spark.createDataFrame(
        [
            (1, eid, dt.datetime(1970, 1, 1) + dt.timedelta(seconds=ts), f, v)
            for (eid, ts, f, v) in rows
        ],
        "user_id long, event_id long, ts timestamp, "
        "event_type string, value double",
    )
    got = {
        r.event_id: r
        for r in previous_values(df, fields=("a", "b")).collect()
    }

    # naive replay, reference-style
    created = rows[0][1]
    state: dict = {}  # field -> current value
    pv: dict = {}  # field -> (prev_value, change_to, change_away)
    want = {}
    for eid, ts, f, v in rows:
        cur = state.get(f)
        if cur != v:  # real change (first sighting counts: None != v)
            prev_away = pv[f][2] if f in pv else None
            change_to = prev_away if prev_away is not None else created
            pv[f] = (cur, change_to, ts)
            state[f] = v
        want[eid] = {k: pv.get(k) for k in ("a", "b")}

    for eid, _, _, _ in rows:
        r = got[eid]
        for f in ("a", "b"):
            exp = want[eid][f]
            if exp is None:
                assert r[f"{f}_change_away_l"] is None, (eid, f)
                continue
            prev_v, c_to, c_away = exp
            assert r[f"{f}_prev_value"] == prev_v, (eid, f)
            assert r[f"{f}_change_to_l"] == c_to, (eid, f)
            assert r[f"{f}_change_away_l"] == c_away, (eid, f)
            assert r[f"{f}_duration_days"] == (c_away - c_to) // 86400


# ---------------------------------------------------------------------
# Truncated-value scrub (parse_bug_history.py:137-156)


def _ref_trunc_scrub(field, added, removed, trunc_fields):
    """LITERAL transcription of the reference branch
    (parse_bug_history.py:137-156): the four if/elif arms, in order,
    over string added/removed; returns (added, removed, uncertain)."""
    uncertain = False
    if field in trunc_fields:
        if added in ["? ?", "?"]:
            uncertain = True
            added = None
        elif added is not None and added.startswith("? "):
            uncertain = True
            added = added[2:]

        if removed in ["? ?", "?"]:
            uncertain = True
            removed = None
        elif removed is not None and removed.startswith("? "):
            uncertain = True
            removed = removed[2:]
    return added, removed, uncertain


_trunc_val = st.one_of(
    st.none(),
    st.sampled_from(["?", "? ?", "? ", "? x", "? ? ?", "?x", " ?", ""]),
    st.text(
        alphabet=st.sampled_from("? abc"), min_size=0, max_size=6
    ),
)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["cc", "keywords", "status", "priority"]),
            _trunc_val,
            _trunc_val,
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=20, deadline=None)
def test_scrub_truncated_matches_reference_branch(rows):
    """The Spark column expressions in scrub_truncated must agree with
    a literal Python transcription of parse_bug_history.py:137-156 on
    adversarial values (bare '?', '? ?', '? '-prefixes, empty, '? '
    alone, non-TRUNC fields carrying literal '?')."""
    from bugzilla_etl_spark.operators.normalize import scrub_truncated

    trunc = ("cc", "keywords")
    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, f, a, r) for i, (f, a, r) in enumerate(rows)],
        "i INT, field STRING, added STRING, removed STRING",
    )
    got = {
        r.i: (r.added, r.removed, r.uncertain, r.skip_update)
        for r in scrub_truncated(df, trunc_fields=trunc).collect()
    }
    for i, (f, a, r) in enumerate(rows):
        ea, er, eu = _ref_trunc_scrub(f, a, r, trunc)
        expect = (ea, er, eu, eu and ea is None and er is None)
        assert got[i] == expect, (i, f, a, r, got[i], expect)


# ---------------------------------------------------------------------
# canonical(field, value) dispatch (parse_bug_history.py:1026-1045)


def _ref_canonical(field, value, aliases, email_fields, time_fields,
                   numeric_fields):
    """LITERAL transcription of the reference dispatch: null tokens ->
    None, email fields -> alias lookup (get_canonical: mapped or
    itself), time fields -> epoch millis, numeric fields -> number,
    else passthrough; any parse failure returns the value unchanged
    (the bare-except contract)."""
    import datetime

    NULL_VALUES = ("--", "---", "")
    try:
        if value in NULL_VALUES or value is None:
            return None
        elif field in email_fields:
            return aliases.get(value, value)
        elif field in time_fields:
            dt = datetime.datetime.strptime(value, "%Y-%m-%d %H:%M:%S")
            return int(dt.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1000
        elif field in numeric_fields:
            return int(value)
        return value
    except Exception:
        return value


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(
                ["assigned_to", "cf_due_date", "votes", "status"]
            ),
            st.one_of(
                st.none(),
                st.sampled_from(
                    ["--", "---", "", "a@x", "b@x", "zzz", "nope",
                     "2024-01-02 03:04:05", "1996-12-31 23:59:59",
                     "42", "-7", "12.5.bad"]
                ),
            ),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=15, deadline=None)
def test_canonicalize_fields_matches_reference_dispatch(rows):
    """canonicalize_fields' column dispatch must agree with a literal
    transcription of canonical() on adversarial values — null tokens
    on every field type, unparseable numerics (try_cast -> NULL is
    surfaced in value_num; the unified canon string falls back to the
    raw value exactly like the reference's bare except)."""
    from bugzilla_etl_spark.operators.normalize import canonicalize_fields

    emailf, timef, numf = ("assigned_to",), ("cf_due_date",), ("votes",)
    aliases = {"a@x": "canon@x"}
    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, f, v) for i, (f, v) in enumerate(rows)],
        "i INT, field STRING, value_raw STRING",
    )
    mapping = spark.createDataFrame(
        list(aliases.items()), "alias string, canonical string"
    )
    out = canonicalize_fields(
        df, mapping, email_fields=emailf, time_fields=timef,
        numeric_fields=numf,
    )
    got = {r.i: r for r in out.collect()}
    for i, (f, v) in enumerate(rows):
        exp = _ref_canonical(f, v, aliases, emailf, timef, numf)
        g = got[i]
        if exp is None:
            assert g.value_canon is None, (i, f, v, g)
        elif f in timef and isinstance(exp, int):
            assert g.value_ms == exp and g.value_canon == str(exp), (
                i, f, v, g, exp,
            )
        elif f in numf and isinstance(exp, int):
            assert g.value_num == exp and g.value_canon == str(exp), (
                i, f, v, g, exp,
            )
        else:
            # passthrough / alias / unparseable fallback
            assert g.value_canon == exp, (i, f, v, g, exp)


# ---------------------------------------------------------------------------
# tpch_q21's window rewrite: the EXISTS / NOT-EXISTS pair vs the
# per-order set-cardinality predicate.
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 5),   # orderkey
            st.integers(0, 4),   # suppkey
            st.booleans(),       # is_late
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=300, deadline=None)
def test_q21_window_rewrite_matches_exists_form(rows):
    """The identity behind tpch_q21 (queries_analytics.py): a late
    line satisfies
        EXISTS     (other line, same order, different supplier)
      ∧ NOT EXISTS (other LATE line, same order, different supplier)
    iff its order has >= 2 distinct suppliers and the order's
    distinct LATE-supplier set is exactly {this line's supplier}.
    Checked over all small multisets of (order, supplier, late) —
    including duplicate lines per (order, supplier), the case a
    row-counting rewrite (instead of distinct-set cardinality) gets
    wrong."""
    by_order: dict[int, list[tuple[int, bool]]] = {}
    for ok, sk, late in rows:
        by_order.setdefault(ok, []).append((sk, late))
    for ok, sk, late in rows:
        lines = by_order[ok]
        exists_other = any(s != sk for s, _ in lines)
        exists_other_late = any(s != sk and l for s, l in lines)
        reference = late and exists_other and not exists_other_late
        n_supp = len({s for s, _ in lines})
        late_supps = {s for s, l in lines if l}
        # the literal Spark predicate: late ∧ n_supp>=2 ∧ |late set|==1
        # (given the line is late, |late set|==1 <=> late set == {sk})
        rewrite = late and n_supp >= 2 and len(late_supps) == 1
        assert rewrite == reference, (ok, sk, late, lines)


def test_date_normalize_branches_match_reference_examples(spark):
    """Literal transcription of transform_bugzilla.py:105-131: the
    same instant in all four reference arrival formats (the bug
    856732 / 643420 / 726635 cases) must normalize to one epoch-ms
    value; the relaxed branch keeps only the date part."""
    from pyspark.sql import functions as F

    midnight = 1325376000000  # 2012-01-01T00:00:00Z
    cases = [
        ("1325376000000", midnight),
        ("2012/01/01 00:00:00.000", midnight),
        ("2012/01/01 00:00:00", midnight),
        ("2012-01-01", midnight),
        ("2012-01-01 07:30", midnight),  # relaxed: time DROPPED
        ("garbage", None),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "i long, raw string"
    )
    r = F.col("raw")
    epoch = (
        F.when(r.rlike(r"^[0-9]{12,13}$"), r.cast("long"))
        .when(
            r.rlike(
                r"^[0-9]{4}/[0-9]{2}/[0-9]{2}"
                r" [0-9]{2}:[0-9]{2}:[0-9]{2}\.[0-9]{3}$"
            ),
            F.unix_millis(F.to_timestamp(r, "yyyy/MM/dd HH:mm:ss.SSS")),
        )
        .when(
            r.rlike(
                r"^[0-9]{4}/[0-9]{2}/[0-9]{2}"
                r" [0-9]{2}:[0-9]{2}:[0-9]{2}$"
            ),
            F.unix_millis(F.to_timestamp(r, "yyyy/MM/dd HH:mm:ss")),
        )
        .when(
            r.rlike(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}"),
            F.unix_millis(
                F.to_timestamp(F.substring(r, 1, 10), "yyyy-MM-dd")
            ),
        )
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    got = {
        r_.i: r_.e
        for r_ in df.select("i", epoch.alias("e")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i], got[i])


# ---------------------------------------------------------------------
# Uncertain-CC removal rescue (parse_bug_history.py:848-905)


def _ref_edit_distance(s1: str, s2: str) -> float:
    """LITERAL transcription of the reference's normalized
    Levenshtein (mo_logs strings.py:704): swap so s1 is the longer,
    shorter-empty => 1.0, else distance / len(longer)."""
    if len(s1) < len(s2):
        return _ref_edit_distance(s2, s1)
    if len(s2) == 0:
        return 1.0
    previous_row = list(range(len(s2) + 1))
    for i, c1 in enumerate(s1):
        current_row = [i + 1]
        for j, c2 in enumerate(s2):
            insertions = previous_row[j + 1] + 1
            deletions = current_row[j] + 1
            substitutions = previous_row[j] + (c1 != c2)
            current_row.append(min(insertions, deletions, substitutions))
        previous_row = current_row
    return previous_row[-1] / len(s1)


def _cc_model(total: set, remove: set, threshold: float = 0.3):
    """Transcription of removeValues' cc branch under uncertain=True
    (parse_bug_history.py:848-905) with an identity alias mapping
    (so the 4 distance variants collapse onto full-string +
    local-part), and with cc_fuzzy_rescue's three DOCUMENTED
    deviations applied: (a) lost values iterate deterministically
    instead of python-set order, (b) best = argmin score with ties
    on the candidate ascending instead of "last seen under the
    threshold" (the reference never updates best_score — the update
    is commented out at :888), (c) matched candidates are not
    consumed from `output` mid-loop.  Returns
    {removal: (kind, matched, score)}."""
    exact = total & remove
    lost = remove - total
    remaining = total - remove
    out = {v: ("exact", v, 0.0) for v in exact}
    for l in sorted(lost):
        best, best_score = None, threshold
        for m in sorted(remaining):
            score = min(
                _ref_edit_distance(m, l),
                _ref_edit_distance(m.split("@")[0], l.split("@")[0]),
            )
            if score < best_score:
                best_score, best = score, m
        if best is not None:
            out[l] = ("fuzzy", best, round(best_score, 4))
        else:
            out[l] = ("unmatched", None, None)
    return out


_EMAIL = st.builds(
    lambda loc, dom: loc + dom,
    st.text(alphabet="abc", min_size=1, max_size=5),
    st.sampled_from(["@x.org", "@y.net", ""]),
)


@st.composite
def cc_case(draw):
    cases = []
    for ent in range(draw(st.integers(1, 3))):
        total = draw(st.sets(_EMAIL, min_size=0, max_size=6))
        removes = set(
            draw(
                st.lists(
                    st.one_of(
                        st.sampled_from(sorted(total) or ["z@x.org"]),
                        _EMAIL,
                    ),
                    min_size=1,
                    max_size=6,
                )
            )
        )
        cases.append((ent, total, removes))
    return cases


@given(cases=cc_case())
@settings(max_examples=15, deadline=None)
def test_cc_fuzzy_rescue_matches_reference_loop(cases):
    """cc_fuzzy_rescue == the transcribed reference rescue loop on
    random CC sets: same exact/fuzzy/unmatched partition, same
    matched member and score for every rescued removal, across
    entities in one frame."""
    from bugzilla_etl_spark.operators.alias import cc_fuzzy_rescue

    spark = _get_spark()
    trows = [(e, v) for (e, t, _r) in cases for v in sorted(t)]
    rrows = [(e, v) for (e, _t, r) in cases for v in sorted(r)]
    schema = "entity long, email string"
    totals = spark.createDataFrame(trows or [(0, "q@x.org")], schema)
    removes = spark.createDataFrame(rrows, schema)
    if not trows:
        totals = totals.limit(0)
    got = {
        (r["entity"], r["removal"]): (r["kind"], r["matched"], r["score"])
        for r in cc_fuzzy_rescue(totals, removes).collect()
    }
    want = {}
    for ent, total, removes_ in cases:
        for rem, res in _cc_model(total, removes_).items():
            want[(ent, rem)] = res
    assert got == want


# ---------------------------------------------------------------------
# findFlag three-tier cascade (parse_bug_history.py:626-650)


def _parse_flag_py(v: str):
    """Python mirror of operators/normalize.parse_flag (FLAG_REGEX
    '^(.*)([?+-])(\\([^)]*\\))?$', ''-to-NULL convention)."""
    import re

    m = re.match(r"^(.*)([?+-])(\([^)]*\))?$", v)
    if not m:
        return None, None, None
    name = m.group(1) or None
    status = m.group(2) or None
    req = (m.group(3) or "").replace("(", "").replace(")", "") or None
    return name, status, req


def _flag_key_py(v: str):
    """The tier-1 match key exactly as flag_tiered_match builds it:
    deformat(name) + status + requestee-or-'*setter*', concat_ws
    (which SKIPS null parts) — key is NULL iff status is NULL."""
    name, status, req = _parse_flag_py(v)
    if status is None:
        return None
    third = (req or "") if status == "?" else "*setter*"
    deformatted = (
        name.lower().replace("‑", "-") if name is not None else None
    )
    parts = [p for p in (deformatted, status, third) if p is not None]
    return "/".join(parts)


def _flag_model(cur_vals: set, rem_vals: set):
    """Transcription of findFlag's cascade (parse_bug_history.py:626
    -650): tier 1 parsed-key equality (deformat(type) + status +
    requestee-or-setter), tier 2 exact value, tier 3 common prefix
    (f.value[:min_len] == flag.value[:min_len] <=> one is a prefix
    of the other) — with flag_tiered_match's DOCUMENTED deviation:
    argmin over (tier, candidate value) instead of first-hit in
    flag-list ingestion order.  Returns {removal: (matched, tier) or
    (None, None)}."""
    keys = {c: _flag_key_py(c) for c in cur_vals}
    out = {}
    for r in sorted(rem_vals):
        rk = _flag_key_py(r)
        best = None
        for c in sorted(cur_vals):
            if rk is not None and keys[c] is not None and rk == keys[c]:
                t = 1
            elif r == c:
                t = 2
            elif c.startswith(r) or r.startswith(c):
                t = 3
            else:
                continue
            if best is None or (t, c) < best:
                best = (t, c)
        out[r] = (best[1], best[0]) if best else (None, None)
    return out


_FLAGVAL = st.one_of(
    st.builds(
        lambda n, s, r: n + s + (f"({r})" if r is not None else ""),
        st.text(alphabet="abC‑", min_size=0, max_size=4),
        st.sampled_from("?+-"),
        st.one_of(st.none(), st.text(alphabet="xy@.", min_size=0, max_size=4)),
    ),
    st.text(alphabet="ab?+-()", min_size=0, max_size=6),
)


@st.composite
def flag_case(draw):
    cases = []
    for ent in range(draw(st.integers(1, 3))):
        cur = draw(st.sets(_FLAGVAL, min_size=0, max_size=5))
        pool = sorted(cur) or ["q?"]
        rem = set()
        for _ in range(draw(st.integers(1, 5))):
            kind = draw(st.integers(0, 2))
            if kind == 0:
                rem.add(draw(st.sampled_from(pool)))
            elif kind == 1:  # truncation: a prefix of a current flag
                v = draw(st.sampled_from(pool))
                rem.add(v[: draw(st.integers(0, len(v)))])
            else:
                rem.add(draw(_FLAGVAL))
        cases.append((ent, cur, rem))
    return cases


@given(cases=flag_case())
@settings(max_examples=15, deadline=None)
def test_flag_tiered_match_matches_reference_cascade(cases):
    """flag_tiered_match == the transcribed findFlag cascade on
    random flag lists (case-mangled names, unparseable values,
    truncated prefixes, garbage): same (matched, tier) — or
    unmatched — for every removal, across entities in one frame."""
    from bugzilla_etl_spark.operators.flags import flag_tiered_match

    spark = _get_spark()
    crows = [(e, v) for (e, c, _r) in cases for v in sorted(c)]
    rrows = [(e, v) for (e, _c, r) in cases for v in sorted(r)]
    schema = "entity long, value string"
    cur = spark.createDataFrame(crows or [(0, "q?")], schema)
    if not crows:
        cur = cur.limit(0)
    rem = spark.createDataFrame(rrows, schema)
    got = {
        (r["entity"], r["removal"]): (r["matched"], r["tier"])
        for r in flag_tiered_match(cur, rem).collect()
    }
    want = {}
    for ent, c, r in cases:
        for rem_, res in _flag_model(c, r).items():
            want[(ent, rem_)] = res
    assert got == want


# ---------------------------------------------------------------------
# KMV sketch: partition-independence + semilattice merge


@st.composite
def kmv_rows(draw):
    rows = []
    for s in ("a", "b"):
        n = draw(st.integers(0, 40))
        rows += [
            (s, draw(st.integers(0, 30)))  # small domain -> duplicates
            for _ in range(n)
        ]
    return rows


@given(rows=kmv_rows(), nparts=st.integers(1, 5), k=st.integers(1, 8))
@settings(max_examples=12, deadline=None)
def test_kmv_two_stage_build_is_partition_independent(rows, nparts, k):
    """The bounded two-stage sketch build (per-partition k-heap ->
    distinct -> per-source window) must equal the naive k smallest
    DISTINCT hashes per source for ANY partitioning — k-smallest-
    distinct is a semilattice merge, which is the whole basis of the
     'state bounded per partition' claim."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bugzilla_etl_spark.plans.queries_engine import (
        _kmv_partial_topk,
    )

    spark = _get_spark()
    th = spark.createDataFrame(
        rows or [("z", 0)], "source string, h long"
    )
    if not rows:
        th = th.limit(0)
    th = th.repartition(nparts)
    part = _kmv_partial_topk(th, k=k).distinct()
    w = Window.partitionBy("source").orderBy("h")
    got = {
        (r["source"], r["h"])
        for r in part.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .collect()
    }
    want = set()
    for s in {s for s, _ in rows}:
        hs = sorted({h for s2, h in rows if s2 == s})[:k]
        want |= {(s, h) for h in hs}
    assert got == want


@given(rows=kmv_rows(), k=st.integers(1, 8))
@settings(max_examples=12, deadline=None)
def test_kmv_sketch_merge_is_semilattice(rows, k):
    """Incremental contract: merging two batches' k-min sketches
    (k smallest of the union of the sketches) equals the k-min
    sketch of the combined data — so a 100 TB incremental pipeline
    can fold today's batch into yesterday's sketch without ever
    recomputing from raw."""
    half_a = rows[::2]
    half_b = rows[1::2]

    def sketch(batch):
        out = {}
        for s in {s for s, _ in batch}:
            out[s] = sorted({h for s2, h in batch if s2 == s})[:k]
        return out

    sa, sb = sketch(half_a), sketch(half_b)
    merged = {
        s: sorted(set(sa.get(s, [])) | set(sb.get(s, [])))[:k]
        for s in set(sa) | set(sb)
    }
    assert merged == sketch(rows)


# ---------------------------------------------------------------------
# Flag add/remove replay (parse_bug_history.py:653 processFlagChange,
# :626 findFlag, :1088 deformat) — random logs vs a literal
# transcription of the reference loop.


def _deformat_py(name: str) -> str:
    """deformat :1088 — lower() + non-breaking hyphen U+2011 -> '-'."""
    return name.replace("‑", "-").lower()


def _ref_flag_replay(rows, version_tss):
    """LITERAL transcription of the reference's per-bug flag replay:
    processFlagChange (:653) maintains a keyed flag list — a 'remove'
    marks the flag deleted carrying its previous status and the age
    since the last 'add' (:666-:681); an 'add' on the same findFlag
    key supersedes (realign :693).  Per version ts, render the live
    set exactly as flag_states_per_version does (sorted, '|'-joined,
    '?'-flags show the requestee :1052)."""
    rows = sorted(rows, key=lambda r: (r[1], r[0]))
    per_key: dict = {}  # key -> [(ts, eid, state), ...] in replay order
    last_add: dict = {}  # key -> ts of most recent 'add' so far
    for eid, ts, name, status, req, action in rows:
        fname = _deformat_py(name)
        key = fname + "/" + ((req or "") if status == "?" else "*setter*")
        prev_add = last_add.get(key)
        if action == "remove":
            state = {
                "cur": "d",
                "prev": status,
                "fname": fname,
                "req": req,
                "age": (ts - prev_add) if prev_add is not None else None,
            }
        else:
            state = {
                "cur": status,
                "prev": None,
                "fname": fname,
                "req": req,
                "age": None,
            }
        per_key.setdefault(key, []).append((ts, eid, state))
        if action == "add":
            last_add[key] = ts
    out = {}
    for v in version_tss:
        act, dele = [], []
        for ivs in per_key.values():
            cur = None
            for ts, _eid, state in ivs:  # replay order: last <= v wins
                if ts <= v:
                    cur = state
            if cur is None:
                continue
            if cur["cur"] == "d":
                age = cur["age"] if cur["age"] is not None else -1
                dele.append(
                    f"{cur['fname']}:d:prev={cur['prev'] or ''}:age={age}"
                )
            else:
                s = cur["fname"] + cur["cur"]
                if cur["cur"] == "?" and cur["req"] is not None:
                    s += f"({cur['req']})"
                act.append(s)
        out[v] = (
            len(act),
            len(dele),
            "|".join(sorted(act)),
            "|".join(sorted(dele)),
        )
    return out


@st.composite
def flag_change_log(draw):
    """Random single-entity flag log: names exercising deformat
    (case, U+2011), '?'-flags with/without requestee, add/remove
    interleavings, same-timestamp ties."""
    n = draw(st.integers(1, 12))
    rows = []
    ts = 0
    for i in range(n):
        ts += draw(st.integers(0, 2)) * 100  # 0 => same-ts tie
        name = draw(st.sampled_from(["rev", "Rev", "re‑v", "appr"]))
        status = draw(st.sampled_from(["?", "+", "-"]))
        req = (
            draw(st.sampled_from([None, "u1@x", "u2@x"]))
            if status == "?"
            else None
        )
        action = draw(st.sampled_from(["add", "add", "remove"]))
        rows.append((i + 1, ts, name, status, req, action))
    return rows


@given(rows=flag_change_log())
@settings(max_examples=10, deadline=None)
def test_flag_state_versions_matches_reference_replay(rows):
    """flag_state_intervals + flag_states_per_version (the SCD2
    re-expression) == the literal reference replay loop, on random
    add/remove logs including deformat aliasing, dangling deletes,
    realigns, and same-timestamp ties."""
    from bugzilla_etl_spark.operators import flags as FL

    spark = _get_spark()
    df = spark.createDataFrame(
        [(1, *r) for r in rows],
        "user_id long, event_id long, tsl long, name string, "
        "status string, requestee string, action string",
    )
    version_tss = sorted({ts for _eid, ts, *_ in rows})
    # one version BEFORE any change: the empty-set left-join row
    version_tss = [version_tss[0] - 7] + version_tss
    ver = spark.createDataFrame(
        [(1, v) for v in version_tss], "user_id long, version_ts long"
    )
    iv = FL.flag_state_intervals(df, entity="user_id", ts="tsl")
    got = {
        r.version_ts: (
            r.n_active, r.n_deleted, r.flags_active, r.flags_deleted
        )
        for r in FL.flag_states_per_version(iv, ver).collect()
    }
    want = _ref_flag_replay(rows, version_tss)
    assert got == want


# ---------------------------------------------------------------------
# Attachment sub-entity replay (parse_bug_history.py:255
# processAttachmentsTableItem, extract_bugzilla.py:591
# flatten_attachments) — random mutation logs vs a literal
# transcription of currBugAttachmentsMap.


def _ref_attach_replay(rows, version_tss):
    """LITERAL transcription of the reference's attachment map:
    currBugAttachmentsMap[attach_id] accumulates field mutations in
    activity order; created_ts = MIN over the attachment's change
    timestamps seen so far (:286).  Per version, render as
    nest_changepoints_per_version does."""
    rows = sorted(rows, key=lambda r: (r[1], r[0]))
    out = {}
    for v in version_tss:
        subs: dict = {}  # aid -> [created_ts, {field: value}]
        for _eid, ts, aid, fld, val in rows:
            if ts <= v:
                if aid not in subs:
                    subs[aid] = [ts, {}]
                subs[aid][0] = min(subs[aid][0], ts)
                subs[aid][1][fld] = val
        strs = []
        for aid, (cre, fields) in subs.items():
            fs = ",".join(sorted(f"{f}={val}" for f, val in fields.items()))
            strs.append(f"a{aid}:c{cre}:{fs}")
        out[v] = (len(subs), "|".join(sorted(strs)))
    return out


@st.composite
def attach_change_log(draw):
    n = draw(st.integers(1, 12))
    rows = []
    ts = 0
    for i in range(n):
        ts += draw(st.integers(0, 2)) * 100  # 0 => same-ts tie
        aid = draw(st.integers(1, 3))
        fld = draw(st.sampled_from(["a", "b", "ab"]))  # 'a' prefixes 'ab'
        val = draw(st.integers(0, 3))
        rows.append((i + 1, ts, aid, fld, val))
    return rows


@given(rows=attach_change_log())
@settings(max_examples=10, deadline=None)
def test_attachment_versions_matches_reference_replay(rows):
    """subentity_changepoints + nest_changepoints_per_version (the
    rendered-changepoint scale path the catalog entry uses) == the
    literal reference attachment-map replay, on random mutation logs
    including same-timestamp ties, field-name prefixing ('a'/'ab' —
    the rendered-string-sort corner), and versions preceding any
    change."""
    from bugzilla_etl_spark.operators import subentity as SUB

    spark = _get_spark()
    df = spark.createDataFrame(
        [(1, *r) for r in rows],
        "user_id long, event_id long, tsl long, attach_id long, "
        "field string, value long",
    )
    version_tss = sorted({ts for _eid, ts, *_ in rows})
    version_tss = [version_tss[0] - 7] + version_tss
    ver = spark.createDataFrame(
        [(1, v) for v in version_tss], "user_id long, version_ts long"
    )
    cp = SUB.subentity_changepoints(
        df, entity="user_id", sub="attach_id", field="field",
        value="value", ts="tsl",
    )
    got = {
        r.version_ts: (r.n_subs, r.subs)
        for r in SUB.nest_changepoints_per_version(
            cp, ver, entity="user_id", sub="attach_id"
        ).collect()
    }
    want = _ref_attach_replay(rows, version_tss)
    assert got == want


# ---------------------------------------------------------------------
# Backfill block plan + resume arithmetic (bz_etl.py:281-352 full_etl:
# jx.reverse(jx.intervals(0, end, increment)); :287 resume
# end = ceiling(min_landed, increment)).


@given(end=st.integers(0, 1000), inc=st.integers(1, 400))
@settings(max_examples=50, deadline=None)
def test_block_plan_partitions_the_id_space(end, inc):
    """The descending block plan is a PARTITION of [0, end): blocks
    are disjoint, cover everything, descend, and every lo is
    increment-aligned (the invariant the clustered layout and the
    resume rounding both lean on)."""
    from bugzilla_etl_spark.operators.backfill import block_plan

    plan = block_plan(end, inc)
    # literal reference intervals: [0, inc), [inc, 2*inc), ... reversed
    want = [
        (lo, min(lo + inc, end)) for lo in range(0, end, inc)
    ][::-1]
    assert plan == want
    covered = sorted(i for lo, hi in plan for i in range(lo, hi))
    assert covered == list(range(end))  # disjoint + complete
    assert all(lo % inc == 0 for lo, _ in plan)


@given(
    end=st.integers(1, 400),
    inc=st.integers(1, 150),
    min_landed=st.integers(0, 399),
)
@settings(max_examples=50, deadline=None)
def test_resume_rule_redoes_boundary_block_only(end, inc, min_landed):
    """The reference's resume rule — new end = ceiling(min landed id,
    increment) — keeps every FULLY-landed block above the boundary
    and re-plans the boundary block plus everything below, never
    skipping an unlanded id and never re-doing a completed block
    above the boundary."""
    from bugzilla_etl_spark.operators.backfill import block_plan

    min_landed = min(min_landed, end - 1)
    new_end = min(end, -(-min_landed // inc) * inc)
    replanned = block_plan(new_end, inc)
    full = block_plan(end, inc)
    # every replanned block is a block of the full plan
    assert set(replanned) <= set(full)
    # ids strictly below the landed minimum are all replanned
    covered = {i for lo, hi in replanned for i in range(lo, hi)}
    assert set(range(min(min_landed, new_end))) <= covered
    # blocks entirely above the boundary are NOT replanned (they
    # finished — the walk is descending)
    for lo, hi in full:
        if lo >= new_end:
            assert (lo, hi) not in replanned
