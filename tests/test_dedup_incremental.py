"""IncrementalNearDupIndex: the daily-cadence MinHash+LSH path.

The contract under test is pair-completeness — ingesting a corpus in
slices must find EXACTLY the pairs the one-shot minhash_neardup_pairs
finds over the union, each exactly once — plus the scale shape (the
probe join reads the standing band index bucketed, so only the new
slice ever shuffles).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL

THRESH = 0.2


@pytest.fixture()
def idx_env(spark):
    from dagster_etl_spark.operators.dedup import IncrementalNearDupIndex

    idx = IncrementalNearDupIndex(spark, "t_inc_nd")
    idx.drop()
    yield spark, idx
    idx.drop()


def _pairs_set(df):
    return {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in df.collect()}


def test_incremental_equals_one_shot(idx_env):
    """3 id-sliced ingests == one-shot pairs over the full corpus,
    with no duplicate rows (every pair found exactly once, on the day
    its later member arrives)."""
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.dedup import minhash_neardup_pairs
    from dagster_etl_spark.sources.fixtures import load_table

    spark, idx = idx_env
    docs = load_table(spark, SF_SMALL, "documents")
    for day in range(3):
        idx.ingest(docs.filter(F.col("doc_id") % 3 == day), threshold=THRESH)

    got = idx.pairs()
    want = minhash_neardup_pairs(docs, threshold=THRESH)
    got_rows = got.collect()
    assert len(got_rows) == got.dropDuplicates(["id_a", "id_b"]).count(), (
        "a pair was found twice across ingests"
    )
    assert _pairs_set(got) == _pairs_set(want)
    assert len(got_rows) > 0, "fixture corpus should contain near-dups"


def test_single_batch_equals_one_shot(idx_env):
    """Degenerate cadence (everything in one ingest) is the one-shot."""
    from dagster_etl_spark.operators.dedup import minhash_neardup_pairs
    from dagster_etl_spark.sources.fixtures import load_table

    spark, idx = idx_env
    docs = load_table(spark, SF_SMALL, "documents")
    idx.ingest(docs, threshold=THRESH)
    want = minhash_neardup_pairs(docs, threshold=THRESH)
    assert _pairs_set(idx.pairs()) == _pairs_set(want)


def test_probe_reads_index_bucketed(idx_env):
    """Scale shape: in the candidate probe's PLAN, the index side must
    be read bucketed — no exchange on the corpus side, shuffle cost
    bounded by the new slice. Asserted on the actual probe join (a
    bare table scan legitimately disables the bucketed read — there's
    no distribution requirement to satisfy)."""
    from pyspark.sql import functions as F

    from dagster_etl_spark.sources.bucketed import bucket_spec
    from dagster_etl_spark.sources.fixtures import load_table

    spark, idx = idx_env
    docs = load_table(spark, SF_SMALL, "documents")
    idx.ingest(docs.filter(F.col("doc_id") % 2 == 0), threshold=THRESH)
    assert bucket_spec(spark, idx.bands_table) == (8, ["bkey"], [])

    # next day's probe, broadcast off so the bucketed SMJ/SHJ is what
    # gets planned (at fixture scale the index would broadcast)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        new_bands, _ = idx._encode(docs.filter(F.col("doc_id") % 2 == 1))
        pairs = idx._probe_pairs(new_bands, THRESH)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    # the bands-table scan participates bucketed; the hashes-table
    # scans (verify joins on doc_id) do too
    assert plan.count("Bucketed: true") >= 3, plan[:2000]
    # and no scan was force-degraded to a non-bucketed read
    assert "Bucketed: false" not in plan, plan[:2000]


def test_reinit_after_drop_is_clean(idx_env):
    """A fresh index with the same name must not trip over leftovers
    (catalog entries or orphaned warehouse dirs) of the previous one —
    the round driver restarts sessions, so this is the steady state."""
    from dagster_etl_spark.operators.dedup import IncrementalNearDupIndex
    from dagster_etl_spark.sources.fixtures import load_table

    spark, idx = idx_env
    docs = load_table(spark, SF_SMALL, "documents")
    idx.ingest(docs, threshold=THRESH)
    n_first = idx.pairs().count()

    idx2 = IncrementalNearDupIndex(spark, "t_inc_nd")
    idx2.drop()
    idx2.ingest(docs, threshold=THRESH)
    assert idx2.pairs().count() == n_first


def test_compact_preserves_pairs_and_colocates(idx_env):
    """After fragmenting ingests, compact() must collapse files on
    both index tables, keep the bucket specs, and leave the NEXT
    ingest's results identical (the probe still sees the same index,
    now co-located over fewer files)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import input_file_name

    from dagster_etl_spark.operators.dedup import minhash_neardup_pairs
    from dagster_etl_spark.sources.bucketed import bucket_spec
    from dagster_etl_spark.sources.fixtures import load_table

    spark, idx = idx_env
    docs = load_table(spark, SF_SMALL, "documents")
    for day in range(3):
        idx.ingest(docs.filter(F.col("doc_id") % 4 == day), threshold=THRESH)

    report = idx.compact()
    for t, (before, after) in report.items():
        assert after < before, (t, before, after)
        n = spark.table(t).select(input_file_name()).distinct().count()
        assert n == after
    assert bucket_spec(spark, idx.bands_table) == (8, ["bkey"], [])
    assert bucket_spec(spark, idx.hashes_table) == (8, ["doc_id"], [])

    idx.ingest(docs.filter(F.col("doc_id") % 4 == 3), threshold=THRESH)
    want = minhash_neardup_pairs(docs, threshold=THRESH)
    assert _pairs_set(idx.pairs()) == _pairs_set(want)


def test_pairs_before_any_ingest_is_empty(spark):
    """r11 ADVICE: pairs() on an index whose ingests were all empty
    (table never created) must return an empty frame, not raise
    table-not-found."""
    from dagster_etl_spark.operators.dedup import IncrementalNearDupIndex

    idx = IncrementalNearDupIndex(spark, "never_ingested_idx")
    try:
        got = idx.pairs()
        assert got.count() == 0
        assert got.columns == ["id_a", "id_b", "jaccard"]
    finally:
        idx.drop()


def test_probe_external_matches_one_shot_and_is_read_only(idx_env):
    """probe_external: the read-only cross-corpus sweep must reach the
    one-shot cross_corpus_neardup_pairs verdicts pair-for-pair over
    (indexed corpus, external corpus), and must leave all three index
    tables untouched (no appends — a benchmark sweep is a query, not
    an ingest)."""
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.dedup import cross_corpus_neardup_pairs
    from dagster_etl_spark.sources.fixtures import load_table

    spark, idx = idx_env
    docs = load_table(spark, SF_SMALL, "documents")
    train = docs.filter("doc_id % 3 != 0")
    external = docs.filter("doc_id % 3 = 0")
    for day in range(2):
        idx.ingest(train.filter(F.col("doc_id") % 2 == day), threshold=THRESH)

    before = {
        t: spark.table(t).count()
        for t in (idx.bands_table, idx.hashes_table, idx.pairs_table)
    }
    got = {
        (r.left_id, r.right_id, round(r.jaccard, 9))
        for r in idx.probe_external(external, threshold=THRESH).collect()
    }
    want = {
        (r.left_id, r.right_id, round(r.jaccard, 9))
        for r in cross_corpus_neardup_pairs(
            train, external, threshold=THRESH
        ).collect()
    }
    # the standing index probes EVERY band (no LSH loss vs the one-shot
    # on the same banding), so verdicts match exactly
    assert got == want
    assert want, "fixture produced no cross-corpus pairs"
    after = {
        t: spark.table(t).count()
        for t in (idx.bands_table, idx.hashes_table, idx.pairs_table)
    }
    assert after == before, "probe_external mutated the index"


def test_ingest_leaves_nothing_cached(idx_env):
    """The eager ingest pins its melted bands frame for its two
    consumers (index write and probe) and releases it before
    returning, on the fresh path and the append path alike, instead
    of leaving it in the session-wide pin registry."""
    from pyspark.sql import functions as F

    from dagster_etl_spark.plans.cache import _TRACKED, release_pinned
    from dagster_etl_spark.sources.fixtures import load_table

    spark, idx = idx_env
    docs = load_table(spark, SF_SMALL, "documents")
    release_pinned()
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    for day in range(2):
        idx.ingest(docs.filter(F.col("doc_id") % 2 == day), threshold=THRESH)
        assert cache.isEmpty() and not _TRACKED
    assert idx.pairs().count() > 0
