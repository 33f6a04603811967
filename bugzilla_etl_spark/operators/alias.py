"""Alias analysis & resolution.

The reference maintains a canonical-email mapping: analysis derives
alias candidates from mismatched cc-list changes (an email removed
that was never present ⇒ it is an alias of something added), then
every actor field is resolved through the mapping at parse time.

reference: bugzilla_etl/alias_analysis.py:114 analysis,
           :172 get_canonical, :184 add_alias, :340 mapper
           parse_bug_history.py:1048 email_alias

Scale: the mapping is a small dimension (≤ millions of rows) against
a huge fact table — ALWAYS broadcast; a shuffle join on the fact side
would move the whole 100 TB.  Resolution is a left join + coalesce,
identity for unmapped values.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def resolve_aliases(
    df: DataFrame,
    mapping: DataFrame,
    cols: Sequence[str],
    alias_col: str = "alias",
    canonical_col: str = "canonical",
) -> DataFrame:
    """Rewrite each column through the canonical mapping
    (get_canonical: mapped value if present, else itself)."""
    out = df
    for c in cols:
        m = mapping.select(
            F.col(alias_col).alias(f"__a_{c}"),
            F.col(canonical_col).alias(f"__c_{c}"),
        )
        out = (
            out.join(F.broadcast(m), on=out[c] == m[f"__a_{c}"], how="left")
            .withColumn(c, F.coalesce(F.col(f"__c_{c}"), F.col(c)))
            .drop(f"__a_{c}", f"__c_{c}")
        )
    return out


def transition_pairs(
    log: DataFrame,
    value_col: str,
    entity: str = "user_id",
    ts: str = "ts",
    tiebreak: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Alias-candidate analysis: count (prev -> curr) value transitions
    per entity timeline.  In the reference, a 'removed' email that was
    not in the current cc set pairs with a simultaneous 'added' email;
    with a full ordered log the candidate pairs are lag->curr
    adjacencies, aggregated by pair.  One shuffle for the window (on
    entity) + one partial-agg shuffle for the pair counts."""
    w = Window.partitionBy(entity).orderBy(ts, *tiebreak)
    pairs = log.select(
        F.lag(value_col).over(w).alias("lost"),
        F.col(value_col).alias("found"),
    ).where(F.col("lost").isNotNull() & (F.col("lost") != F.col("found")))
    return pairs.groupBy("lost", "found").agg(F.count(F.lit(1)).alias("n_matches"))


def canonical_closure(mapping: DataFrame, max_iter: int = 8) -> DataFrame:
    """Collapse alias CHAINS (a->b, b->c  =>  a->c, b->c) by iterated
    path-halving self-joins — the declarative form of the reference's
    repeated analysis passes that re-run until the alias file stops
    changing (alias_analysis.py:37 full_analysis loops daily batches;
    get_canonical follows the stored mapping transitively).

    Each iteration doubles resolved path length, so max_iter=8 covers
    chains of length 2^8 — far beyond real identity churn.  Early-out
    when an iteration changes nothing.  Scale: the mapping is dim-
    sized; each pass is one broadcast self-join, not a fact shuffle.
    Cycles (a<->b) settle on the lexicographically smaller canonical:
    when following the chain returns to the alias itself, the step
    resolves to least(alias, canonical) — so a->b becomes a->a (then
    dropped as a self-map) and b->a stays, instead of the two mutual
    rows surviving the fixed point unresolved.  Self-maps are removed
    from the result."""
    cur = mapping.select("alias", "canonical")
    for _ in range(max_iter):
        nxt = cur.select(
            F.col("alias").alias("a2"), F.col("canonical").alias("c2")
        )
        stepped = (
            cur.join(F.broadcast(nxt), cur["canonical"] == nxt["a2"], "left")
            .select(
                "alias",
                F.when(
                    F.col("c2") == F.col("alias"),
                    F.least(F.col("alias"), F.col("canonical")),
                )
                .otherwise(F.coalesce(F.col("c2"), F.col("canonical")))
                .alias("canonical"),
            )
            # cut the round boundary with a LINEAGE CUT, not a persist:
            # localCheckpoint materializes the dim-sized round result
            # as RDD blocks and replaces the logical plan with a
            # LogicalRDD leaf, so (a) the fixpoint check and the next
            # round never re-execute earlier rounds, (b) the plan stays
            # O(1) lines per round instead of growing to thousands
            # (planning time was becoming the round cost), and (c)
            # nothing lands in the CacheManager — a repeated invocation
            # cannot silently read this one's cache (the r16 bench-
            # contamination class).  Old round RDDs are released by the
            # ContextCleaner when their reference drops.  The trade:
            # checkpointed blocks cannot be recomputed from lineage, so
            # on a cluster losing an executor mid-query fails the job
            # instead of recomputing the lost round.  Lazy
            # (eager=False): the fixpoint check below scans every
            # partition of ``stepped``, so the checkpoint materializes
            # inside that same action — one action per round, exactly
            # the old persist-then-check job count.
            .localCheckpoint(eager=False)
        )
        # fixed-point check on a tiny dim is one cheap action
        done = stepped.exceptAll(cur).isEmpty()
        cur = stepped
        if done:
            break
    return cur.where(F.col("alias") != F.col("canonical"))


def best_canonical(pair_counts: DataFrame) -> DataFrame:
    """Collapse pair counts into a mapping: for each 'lost' value, the
    most frequent 'found' partner wins (deterministic tiebreak on the
    value itself).  Mirrors AliasAnalyzer keeping the best-scoring
    match (alias_analysis.py:184 add_alias 'better match')."""
    w = Window.partitionBy("lost").orderBy(
        F.col("n_matches").desc(), F.col("found").asc()
    )
    return (
        pair_counts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            F.col("lost").alias("alias"),
            F.col("found").alias("canonical"),
            "n_matches",
        )
    )


def minimize_aliases(
    counts: DataFrame, min_diff: int = 4, max_iter: int = 10
) -> DataFrame:
    """The reference's ITERATIVE alias minimization, structure intact
    (alias_analysis.py:114 analysis): from per-bug cc multisets
    (``counts``: bug_id, email, cnt — old-minus-new accumulation, so
    negative = added-without-remove), repeat until fixpoint:

      1. problems = emails with total cnt <= -(min_diff/2)
         (:131 'ONLY COUNT NEGATIVE EMAILS', :137 threshold)
      2. per problem, aggregate the multisets of ONLY the bugs
         experiencing it (:150 solution_agg) and rank candidates
      3. accept best iff it beats the runner-up by min_diff
         (:160 'not distinctive enough' guard — and like the
         reference, a problem with no co-occurring candidate is
         skipped, not force-matched)
      4. fold accepted aliases into the multisets and re-run
         (:184 add_alias / :340 mapper)

    Divergence, documented: the reference folds after EACH accepted
    alias (sequential greedy); this accepts every distinctive problem
    of a round simultaneously (batch-synchronous), then re-
    canonicalizes and iterates — the standard Spark shape for
    label-propagation-style fixpoints.  Each iteration is one
    declarative pass: a broadcast fold join + two aggregations + a
    window; only the empty-check and loop live on the driver, and
    ``max_iter`` bounds lineage depth.  The mapping is dim-sized
    throughout — no fact-table shuffle anywhere."""
    # Every round reads `cur` three times (totals, problem postings,
    # solution join) and runs 1-2 actions; uncut, each action would
    # recompute the full lineage back through the fact-table
    # aggregation that produced `counts` — localCheckpoint the base
    # once and each round's folded multiset (lineage cut + RDD blocks,
    # no CacheManager entry: see canonical_closure).  Lazy: round 1's
    # totals aggregation scans it fully and materializes it then.
    counts = counts.localCheckpoint(eager=False)
    mapping: DataFrame | None = None
    for _ in range(max_iter):
        if mapping is None:
            cur = counts
        else:
            m = mapping.select(
                F.col("alias").alias("__a"),
                F.col("canonical").alias("__c"),
            )
            cur = (
                counts.join(
                    F.broadcast(m), counts["email"] == m["__a"], "left"
                )
                .select(
                    "bug_id",
                    F.coalesce("__c", "email").alias("email"),
                    "cnt",
                )
                .groupBy("bug_id", "email")
                .agg(F.sum("cnt").alias("cnt"))
                .localCheckpoint(eager=False)
            )
        totals = cur.groupBy("email").agg(F.sum("cnt").alias("total"))
        problems = totals.where(F.col("total") <= F.lit(-(min_diff / 2)))
        pb = (
            cur.where(F.col("cnt") < 0)
            .join(F.broadcast(problems.select("email")), on="email")
            .select(F.col("email").alias("problem"), "bug_id")
        )
        sol = (
            pb.join(cur, on="bug_id")
            .groupBy("problem", "email")
            .agg(F.sum("cnt").alias("score"))
        )
        w = Window.partitionBy("problem").orderBy(
            F.col("score").desc(), F.col("email").asc()
        )
        ranked = sol.withColumn("_rn", F.row_number().over(w)).where(
            F.col("_rn") <= 2
        )
        top2 = ranked.groupBy("problem").agg(
            F.max(F.when(F.col("_rn") == 1, F.col("email"))).alias(
                "canonical"
            ),
            F.max(F.when(F.col("_rn") == 1, F.col("score"))).alias("best"),
            F.max(F.when(F.col("_rn") == 2, F.col("score"))).alias(
                "second"
            ),
            F.count(F.lit(1)).alias("n_cand"),
        )
        new = top2.where(
            (F.col("n_cand") >= 2)
            & (F.col("best") > F.col("second") + min_diff)
            & (F.col("canonical") != F.col("problem"))
        ).select(
            F.col("problem").alias("alias"), "canonical"
        ).localCheckpoint(eager=True)
        if new.isEmpty():
            break
        mapping = (
            new if mapping is None
            else mapping.select("alias", "canonical").unionByName(new)
        )
        mapping = canonical_closure(mapping)
    if mapping is None:
        # typed empty mapping, so callers can join unconditionally
        return counts.sparkSession.createDataFrame(
            [], "alias string, canonical string"
        )
    return mapping


def _norm_lev(a, b):
    """Normalized Levenshtein: lev / max(len) — the reference's
    edit_distance (mo_logs strings.py:704 divides by the LONGER
    string after the swap), with its both-empty guard (=> 1.0)."""
    mx = F.greatest(F.length(a), F.length(b))
    return F.when(mx == 0, F.lit(1.0)).otherwise(
        F.levenshtein(a, b) / mx
    )


def _local(c):
    """Local part of an email (before '@'; whole string if none) —
    the reference compares split('@')[0] variants too."""
    return F.element_at(F.split(c, "@", 2), 1)


def cc_fuzzy_rescue(
    totals: DataFrame,
    removes: DataFrame,
    entity: str = "entity",
    value: str = "email",
    threshold: float = 0.3,
) -> DataFrame:
    """Uncertain-CC removal rescue (parse_bug_history.py:848
    removeValues, cc branch, target.uncertain=True): a CC removal
    that is NOT in the current set — truncation mangled it (bug
    55161) — is pattern-matched against the remaining members by
    normalized edit distance, taking the min over the full-string
    and local-part variants, and rescued iff the best score beats
    the threshold (strict <, the reference's ``score < best_score``
    seed of 0.3).

    Inputs: ``totals`` (entity, value) = the current set,
    ``removes`` (entity, value) = the removal list.  Output: one row
    per removal — kind 'exact' (member removed), 'fuzzy' (rescued,
    with match + score), or 'unmatched' (no candidate under the
    threshold; the reference logs and drops these).

    Determinism note (deliberate deviation, cited): the reference
    iterates ``diff`` — a Python SET — and never updates
    ``best_score`` inside the loop (the update is commented out at
    parse_bug_history.py:888), so with several sub-threshold
    candidates it keeps the LAST one in set-iteration order and
    consumes it from ``output`` mid-loop: order-nondeterministic by
    construction, unreproducible on any engine.  This operator
    implements the evident intent deterministically — per lost
    value the ARGMIN score, ties on the candidate string ascending,
    candidates not consumed across lost values.  The alias-canonical
    distance variants (:884-885) collapse onto the raw variants
    under an identity mapping; pre-resolve both inputs through
    resolve_aliases() to get the aliased form.

    Scale: everything stays JVM-side (levenshtein is a codegen'd
    builtin — no UDF); the only expansion is lost x remaining PER
    ENTITY, bounded by per-entity CC-list size (~10²) exactly as in
    the reference's per-bug loop.  Membership resolves in ONE
    aggregation: both inputs union into a flagged (entity, value,
    is_member, is_removal) frame — exact hits, losses, and remaining
    members are then FILTERS over that one frame, not except/semi
    chains (a naive union-of-three-branches formulation re-derived
    every intermediate per branch: 23 exchanges / 64 scans / 3.6 s
    at sf0.1 vs 4 exchanges / 1.1 s for this shape — the remaining
    static-plan scans collapse onto the cached frame at runtime).
    The flagged frame persists
    MEMORY_AND_DISK for its consumers (skinny — one row per distinct
    (entity, value) — the invindex storage contract: LRU-evicted
    under pressure)."""
    from bugzilla_etl_spark.tmpdirs import pin

    flagged = pin(
        totals.select(
            entity,
            F.col(value).alias("_v"),
            F.lit(1).alias("_m"),
            F.lit(0).alias("_r"),
        )
        .unionByName(
            removes.select(
                entity,
                F.col(value).alias("_v"),
                F.lit(0).alias("_m"),
                F.lit(1).alias("_r"),
            )
        )
        .groupBy(entity, "_v")
        .agg(F.max("_m").alias("_mem"), F.max("_r").alias("_rem"))
    )
    exact = flagged.where(
        (F.col("_mem") == 1) & (F.col("_rem") == 1)
    ).select(entity, F.col("_v").alias("removal"))
    lost = flagged.where(
        (F.col("_mem") == 0) & (F.col("_rem") == 1)
    ).select(entity, F.col("_v").alias("removal"))
    # remaining members after the exact removals (the reference's
    # ``output`` at the time pattern matching runs)
    remaining = flagged.where(
        (F.col("_mem") == 1) & (F.col("_rem") == 0)
    ).select(entity, F.col("_v").alias("_member"))
    score = F.least(
        _norm_lev(F.col("removal"), F.col("_member")),
        _norm_lev(_local(F.col("removal")), _local(F.col("_member"))),
    )
    cand = (
        lost.join(remaining, on=entity)
        .withColumn("_score", score)
        .where(F.col("_score") < threshold)
    )
    w = Window.partitionBy(entity, "removal").orderBy(
        F.col("_score").asc(), F.col("_member").asc()
    )
    fuzzy = (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            entity,
            "removal",
            F.col("_member").alias("matched"),
            F.round("_score", 4).alias("score"),
        )
    )
    unmatched = lost.join(
        fuzzy.select(entity, "removal"), on=[entity, "removal"], how="left_anti"
    )
    return (
        exact.select(
            entity,
            "removal",
            F.col("removal").alias("matched"),
            F.lit(0.0).alias("score"),
            F.lit("exact").alias("kind"),
        )
        .unionByName(
            fuzzy.select(
                entity, "removal", "matched", "score",
                F.lit("fuzzy").alias("kind"),
            )
        )
        .unionByName(
            unmatched.select(
                entity,
                "removal",
                F.lit(None).cast("string").alias("matched"),
                F.lit(None).cast("double").alias("score"),
                F.lit("unmatched").alias("kind"),
            )
        )
    )


def derived_alias_mapping(ev: DataFrame, entity: str = "user_id") -> DataFrame:
    """The catalog's synthetic odd-actor alias rule, defined ONCE:
    every odd entity's mail 'u<id>@example.com' is an old address of
    'u<id-1>@example.com' (mirrored by the `amap` CTEs in the
    canonical_fields and bug_version_full oracles — change all in
    lockstep).  Dim-sized by construction: one row per odd entity."""
    return (
        ev.select(entity)
        .where(F.col(entity) % 2 == 1)
        .distinct()
        .select(
            F.concat(
                F.lit("u"), F.col(entity).cast("string"),
                F.lit("@example.com"),
            ).alias("alias"),
            F.concat(
                F.lit("u"), (F.col(entity) - 1).cast("string"),
                F.lit("@example.com"),
            ).alias("canonical"),
        )
    )
