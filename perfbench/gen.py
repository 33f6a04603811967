"""Seeded input generators for the benchmark, without Spark.

Three generators, each a pure function of its seed:

- ``change_log``: a Bugzilla-shaped change log with the catalog's
  ``events`` schema. Changes per bug are heavy-tailed (a few bugs
  carry thousands of changes), bugs are born over the log's time span
  and stay active after birth, and every event time is a distinct
  millisecond, so each (bug, ms) document ``_id`` is unique.
- ``Deliveries``: the incremental feed that follows a change log. Each
  delivery touches a fixed share of the bugs (1% by default), drawn
  with a bias toward the bugs active most recently, with a fixed
  number of changes.
- ``corpus``: a document corpus over a Zipfian vocabulary with
  heavy-tailed lengths, a stated share of planted exact duplicates and
  near-duplicates (edited copies), and a stated share of documents
  carrying a boilerplate span: one span common enough that its
  shingles' document frequency is above the near-dup cap, one below
  it but above the catalog corpus's maximum of 25.

Each returns the table as a pyarrow Table plus the properties a check
or a report needs.
"""

from __future__ import annotations

from collections import Counter
from statistics import NormalDist
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
# the catalog's sf0.1 events table has each type at 19.8-20.3%
EVENT_TYPE_P = np.full(len(EVENT_TYPES), 1 / len(EVENT_TYPES))
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _events_table(
    rng: np.random.Generator, event_id: np.ndarray, ts_ms: np.ndarray,
    bug: np.ndarray,
) -> pa.Table:
    n = len(event_id)
    ts_us = ts_ms * 1000 + rng.integers(0, 1000, n)
    kind = EVENT_TYPES[rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)]
    value = np.round(rng.lognormal(3.0, 1.0, n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table(
        [
            pa.array(event_id, pa.int64()),
            pa.array(ts_us.astype("datetime64[us]"), pa.timestamp("us")),
            pa.array(bug, pa.int64()),
            pa.array(kind, pa.string()),
            pa.array(value, pa.float64()),
            pa.array(props, pa.string()),
        ],
        schema=EVENTS_SCHEMA,
    )


def _stratified(rng: np.random.Generator, n: int, ppf) -> np.ndarray:
    """``n`` draws of a distribution given by its quantile function
    ``ppf``: one at the middle of each of ``n`` equal-probability
    strata, in a seeded order. Every seed then gets the same set of
    values, so sizes and skew do not change from seed to seed."""
    return rng.permutation(ppf((np.arange(n) + 0.5) / n))


def _lognormal_ppf(median: float, sigma: float):
    inv = np.vectorize(NormalDist().inv_cdf)
    return lambda u: median * np.exp(sigma * inv(u))


def _quantiles(counts: np.ndarray) -> dict[str, int]:
    qs = np.quantile(counts, [0.5, 0.9, 0.99, 1.0])
    return {k: int(v) for k, v in zip(("p50", "p90", "p99", "max"), qs)}


@dataclass
class ChangeLog:
    table: pa.Table
    n_bugs: int
    # per-bug expectations for the landed documents, indexed by bug id
    versions: np.ndarray
    first_ts_us: np.ndarray
    last_ts_us: np.ndarray

    def props(self) -> dict:
        return {
            "bugs": self.n_bugs,
            "events": self.table.num_rows,
            "changes_per_bug": _quantiles(self.versions),
            "bugs_with_1000_plus_changes": int((self.versions >= 1000).sum()),
        }


def _per_bug(bug: np.ndarray, ts_us: np.ndarray, n_bugs: int):
    versions = np.bincount(bug, minlength=n_bugs)
    first = np.full(n_bugs, np.iinfo(np.int64).max)
    last = np.full(n_bugs, np.iinfo(np.int64).min)
    np.minimum.at(first, bug, ts_us)
    np.maximum.at(last, bug, ts_us)
    return versions, first, last


def change_log(
    seed: int, n_bugs: int, n_events: int, max_changes: int = 3000
) -> ChangeLog:
    """``n_events`` changes over ``n_bugs`` bugs (every bug has at
    least one). Per-bug change counts follow a Pareto tail, clipped so
    that no bug expects more than ``max_changes``."""
    rng = np.random.default_rng([seed, 1])
    weight = _stratified(rng, n_bugs, lambda u: (1.0 - u) ** (-1 / 1.1))
    # clip the tail so the largest bugs expect ``max_changes`` each
    for _ in range(8):
        cap = weight.sum() * max_changes / n_events
        weight = np.minimum(weight, cap)
    counts = rng.multinomial(n_events - n_bugs, weight / weight.sum()) + 1
    bug = np.repeat(np.arange(n_bugs), counts)
    # a bug is born somewhere in the log and changes after its birth
    birth = rng.random(n_bugs) ** 2
    t = birth[bug] + rng.random(n_events) * (1.0 - birth[bug])
    order = np.argsort(t, kind="stable")
    bug, t = bug[order], t[order]
    # strictly increasing millisecond times: each (bug, ms) is unique
    span_ms = 90 * 86_400_000
    ts_ms = BASE_MS + np.floor(t * span_ms).astype(np.int64) + np.arange(
        n_events
    )
    table = _events_table(rng, np.arange(n_events), ts_ms, bug)
    ts_us = table.column("ts").cast(pa.int64()).to_numpy()
    versions, first, last = _per_bug(bug, ts_us, n_bugs)
    return ChangeLog(table, n_bugs, versions, first, last)


@dataclass
class Deliveries:
    """The deliveries that follow ``log``, one per ``next()`` call.

    Every delivery touches ``share`` of the bugs and carries
    ``events_per_bug`` changes per touched bug on average, so each
    delivery is the same size. Touched bugs are drawn without
    replacement with weight ``1 / (recency rank + 10)``, where the most
    recently changed bug has rank 0, and every touched bug gets at
    least one change. The per-bug expectations in ``log`` are updated
    as deliveries are generated, so they always describe the log plus
    every delivery handed out so far."""

    log: ChangeLog
    seed: int
    share: float = 0.01
    events_per_bug: int = 2
    rng: np.random.Generator = field(init=False)
    next_event_id: int = field(init=False)
    now_ms: int = field(init=False)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng([self.seed, 2])
        self.next_event_id = self.log.table.num_rows
        self.now_ms = int(self.log.last_ts_us.max() // 1000) + 1

    def next(self) -> tuple[pa.Table, np.ndarray]:
        """Returns (events, touched bug ids)."""
        log, rng = self.log, self.rng
        n_touch = max(1, round(self.share * log.n_bugs))
        n = n_touch * self.events_per_bug
        rank = np.empty(log.n_bugs, np.int64)
        rank[np.argsort(-log.last_ts_us, kind="stable")] = np.arange(
            log.n_bugs
        )
        w = 1.0 / (rank + 10.0)
        touched = np.sort(
            rng.choice(log.n_bugs, n_touch, replace=False, p=w / w.sum())
        )
        per = 1 + rng.multinomial(n - n_touch, np.full(n_touch, 1 / n_touch))
        bug = np.repeat(touched, per)
        rng.shuffle(bug)
        ts_ms = self.now_ms + np.cumsum(rng.integers(1, 60_000, n))
        self.now_ms = int(ts_ms[-1]) + 1
        ids = np.arange(self.next_event_id, self.next_event_id + n)
        self.next_event_id += n
        table = _events_table(rng, ids, ts_ms, bug)
        ts_us = table.column("ts").cast(pa.int64()).to_numpy()
        v, first, last = _per_bug(bug, ts_us, log.n_bugs)
        log.versions += v
        np.minimum(log.first_ts_us, first, out=log.first_ts_us)
        np.maximum(log.last_ts_us, last, out=log.last_ts_us)
        return table, touched


# ---- corpus -----------------------------------------------------------

_CONSONANTS = list("bcdfghklmnprstvz")
_VOWELS = list("aeiou")


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct pronounceable words, in a seeded order."""
    words: dict[str, None] = {}
    while len(words) < size:
        c = rng.choice(_CONSONANTS, (size, 4))
        v = rng.choice(_VOWELS, (size, 3))
        n = rng.integers(1, 4, size)
        for row_c, row_v, k in zip(c, v, n):
            w = "".join(row_c[j] + row_v[j] for j in range(k)) + row_c[3]
            words.setdefault(w)
    return list(words)[:size]


def shingle_set(text: str) -> set[str]:
    """The catalog's 3-gram shingles of normalized text (whitespace
    tokens of lower-cased trimmed text, distinct)."""
    tok = text.lower().split()
    return {" ".join(tok[i:i + 3]) for i in range(len(tok) - 2)}


@dataclass
class Corpus:
    table: pa.Table
    # doc id -> canonical (lowest) id of its exact-duplicate group,
    # for every doc that is not its group's canonical
    exact_canonical: dict[int, int]
    # (source id, edited copy id) planted near-duplicate pairs whose
    # Jaccard over the reduced shingle universe is >= the threshold
    near_pairs: list[tuple[int, int]]
    stats: dict

    def props(self) -> dict:
        return dict(self.stats)


def corpus(
    seed: int,
    n_docs: int,
    near_share: float = 0.15,
    exact_share: float = 0.05,
    boilerplate: tuple[float, ...] = (0.5, 0.2),
    vocab_size: int = 6000,
    threshold: float = 0.5,
    max_df: int = 64,
) -> Corpus:
    """``n_docs`` documents: ``exact_share`` are copies of an earlier
    document differing only in case and spacing, ``near_share`` are
    copies with 1/16 of their non-boilerplate tokens replaced, and
    ``boilerplate[k]`` of the other documents carry fixed 24-token
    span ``k``. Shares are exact counts and the original documents'
    lengths are stratified, so they do not vary with the seed."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_vocabulary(rng, vocab_size))
    cdf = np.cumsum(1.0 / np.arange(1, vocab_size + 1) ** 1.05)
    cdf /= cdf[-1]
    spans = [list(rng.choice(vocab, 24)) for _ in boilerplate]

    def fresh(n: int) -> list[str]:
        return vocab[np.searchsorted(cdf, rng.random(n))].tolist()

    # the first ten docs are originals, so every copy has a source
    n_exact, n_near = round(exact_share * n_docs), round(near_share * n_docs)
    copies = rng.permutation(np.arange(10, n_docs))
    exact_ids = set(copies[:n_exact].tolist())
    near_ids = set(copies[n_exact:n_exact + n_near].tolist())
    others = np.array([i for i in range(n_docs) if i not in exact_ids])
    carriers = [set(rng.choice(others, round(share * len(others)),
                               replace=False).tolist())
                for share in boilerplate]
    # median 54 tokens, as in the catalog corpus
    lengths = iter(np.clip(_stratified(
        rng, n_docs - n_exact - n_near, _lognormal_ppf(54, 0.8)), 12, 2000
    ).astype(int).tolist())

    texts: list[str] = []
    body: list[list[str]] = []  # non-boilerplate tokens per doc
    has_span: list[bool] = []  # doc carries a boilerplate span
    exact_src: dict[int, int] = {}
    near_src: dict[int, int] = {}
    for i in range(n_docs):
        if i in exact_ids:
            src = int(rng.integers(0, i))
            src = exact_src.get(src, src)
            exact_src[i] = src
            words = texts[src].split(" ")
            words[0] = words[0].upper()
            texts.append("  ".join(words) + " ")
            body.append(body[src])
            has_span.append(has_span[src])
            continue
        if i in near_ids:
            src = int(rng.integers(0, i))
            src = exact_src.get(src, src)
            near_src[i] = src
            toks = list(body[src])
            for j in rng.choice(len(toks), max(1, len(toks) // 16),
                                replace=False):
                toks[j] = vocab[rng.integers(vocab_size)]
        else:
            toks = fresh(next(lengths))
        body.append(toks)
        words = list(toks)
        carried = [sp for sp, ids in zip(spans, carriers) if i in ids]
        has_span.append(bool(carried))
        for span in carried:
            at = int(rng.integers(0, len(words) + 1))
            words[at:at] = span
        texts.append(" ".join(words))

    # exact-dup groups by normalized text (planted ones and any made
    # by chance), and the shingle statistics of the docs the near-dup
    # pass sees: one per exact group
    first: dict[str, int] = {}
    canon = {}
    for i, t in enumerate(texts):
        c = first.setdefault(" ".join(t.lower().split()), i)
        if c != i:
            canon[i] = c
    kept = [i for i in range(n_docs) if i not in canon]
    sets = {i: shingle_set(texts[i]) for i in kept}
    df = Counter()
    for s in sets.values():
        df.update(s)
    hot = {sh for sh, c in df.items() if c > max_df}
    near_pairs = []
    for copy, src in near_src.items():
        if copy in canon:
            continue
        a, b = sets[src] - hot, sets[copy] - hot
        inter = len(a & b)
        if a and b and inter / (len(a) + len(b) - inter) >= threshold + 0.05:
            near_pairs.append((src, copy))
    lens = np.array([len(t.split()) for t in texts])
    dfs = np.fromiter(df.values(), np.int64)
    stats = {
        "docs": n_docs,
        "tokens_per_doc": _quantiles(lens),
        "near_dup_share": round(len(near_src) / n_docs, 4),
        "exact_dup_share": round(len(canon) / n_docs, 4),
        "boilerplate_share": round(sum(has_span) / n_docs, 4),
        "max_shingle_df": int(dfs.max()),
        "sum_df_sq": int((dfs * dfs).sum()),
        "hot_shingles": len(hot),
        "planted_near_pairs_checked": len(near_pairs),
    }
    ids = np.arange(n_docs)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
            "source": pa.array([f"src{i % 7}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return Corpus(table, canon, near_pairs, stats)
