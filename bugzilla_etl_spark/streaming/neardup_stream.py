"""Streaming incremental near-dup screening: new documents arriving
on a stream are checked against a STATIC corpus's LSH band index —
the ingestion-time dedup gate of a production corpus pipeline (batch
dedup cleans the initial corpus once; every later crawl drop must be
screened incrementally, without re-banding the 100 TB base).

reference analogy: bz_etl.py's incremental loop re-processes only
touched bugs against existing ES state; here the "existing state" is
the band-bucket index and the touched set is the incoming batch.

Scale shape per micro-batch: the batch computes its minhash
signatures with the SAME map-only Arrow fold as the batch operator
(operators.dedup.minhash_signatures_agg — banding can never
desynchronize between ingest and batch dedup because both call the
same code), posexplodes to (band_id, band_key) — batch-sized, not
corpus-sized — and joins the static index on the band key.  The
index side scans pre-bucketed storage in production; at 100 TB it is
corpus×4 skinny rows, joined on its own key, never broadcast.  The
stream_neardup_ingest entry drains ``screen_batch`` through
``landing.to_batch_dirs``, whose batch-keyed output dirs make
checkpoint replays idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bugzilla_etl_spark.operators.dedup import (
    _band_array,
    minhash_signatures_agg,
)


def band_index(corpus: DataFrame) -> DataFrame:
    """The static LSH index: DISTINCT (band_id, band_key) over the
    existing corpus — one row per occupied bucket.  In production
    this is a maintained table, appended as batches commit."""
    sig = minhash_signatures_agg(corpus)
    return (
        sig.select(
            F.posexplode(_band_array()).alias("band_id", "band_key")
        )
        .distinct()
    )


def screen_batch(batch: DataFrame, index: DataFrame) -> DataFrame:
    """Screen one incoming micro-batch against the band index:
    (doc_id, n_hits, is_neardup) — n_hits = how many of the doc's
    bands collide with an occupied bucket (0..n_bands); any hit
    flags a LIKELY near-dup for the downstream verify/quarantine
    stage (same candidates-then-verify split as the batch LSH
    operator).  Docs whose shingle set is empty emit no row, exactly
    like the batch signature fold.

    One signature pass per batch: the banded rows LEFT join the
    index with a match marker and n_hits = count of matched bands —
    the index holds DISTINCT (band_id, band_key), so the left join
    never multiplies a band row, and every doc keeps its n_bands
    rows whether or not any band matched.  The earlier semi-join +
    rejoin-on-ids shape referenced the signature frame twice, and
    mapInPandas is opaque to Catalyst: the whole tokenize → shingle
    → md5 Arrow fold executed TWICE per micro-batch (and the
    rejoin added a doc_id shuffle)."""
    sig = minhash_signatures_agg(batch)
    banded = sig.select(
        "doc_id", F.posexplode(_band_array()).alias("band_id", "band_key")
    )
    marked = banded.join(
        index.withColumn("_m", F.lit(1)),
        on=["band_id", "band_key"],
        how="left",
    )
    n_hits = F.count("_m")  # counts non-null = matched bands only
    return marked.groupBy("doc_id").agg(
        n_hits.cast("long").alias("n_hits"),
        F.when(n_hits > 0, 1).otherwise(0).alias("is_neardup"),
    )
