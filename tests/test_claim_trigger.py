"""Multi-engine claim disjointness + interval eligibility and stale reclaim."""

from __future__ import annotations

from pyspark.sql import functions as F

from thecrowler_spark.operators.frontier import claim_sources


def _seeds(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("source_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("source_uid"),
        F.concat(F.lit("https://h"), F.col("id").cast("string"), F.lit(".example.com")).alias("url"),
        F.lit("high").alias("priority"),
        F.lit("new").alias("status"),
        F.lit(2).cast("int").alias("restricted"),
        F.lit(False).alias("disabled"),
        F.lit(0).cast("int").alias("flags"),
        F.lit("{}").alias("config"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("created_at"),
    )


def test_multi_engine_claims_are_disjoint_and_exhaustive(spark):
    seeds = _seeds(spark)
    n_engines = 4
    claimed = [
        {r["source_id"] for r in claim_sources(seeds, 1000, engine_id=e, n_engines=n_engines).collect()}
        for e in range(n_engines)
    ]
    allids = set().union(*claimed)
    assert allids == set(range(200))  # exhaustive: every source owned
    for i in range(n_engines):
        for j in range(i + 1, n_engines):
            assert not (claimed[i] & claimed[j])  # disjoint: SKIP LOCKED analog
    # stable across retries (deterministic ownership)
    again = {r["source_id"] for r in claim_sources(seeds, 1000, engine_id=0, n_engines=4).collect()}
    assert again == claimed[0]


def test_interval_eligibility_and_stale_reclaim(spark):
    """update_sources parity (pgsql:2864-2884): interval gates per
    status + processing-timeout re-claim of a crashed engine's claims."""
    from datetime import datetime

    from thecrowler_spark.operators.frontier import mark_processing

    rows = [
        # (id, status, last_updated_at)
        (1, "processing", datetime(2020, 1, 1, 0, 0)),   # stale > 1 day → re-claim
        (2, "processing", datetime(2020, 1, 2, 12, 0)),  # claimed 1h ago → locked
        (3, "completed", datetime(2020, 1, 2, 5, 0)),    # 8h > regular_crawling 6h
        (4, "completed", datetime(2020, 1, 2, 12, 30)),  # 30min < 6h → not yet
        (5, "error", datetime(2020, 1, 2, 12, 50)),      # 10min < 15min retry → no
        (6, "error", datetime(2020, 1, 2, 12, 0)),       # 1h > 15min → retry
        (7, "new", datetime(2020, 1, 2, 12, 59)),        # always
        (8, None, None),                                  # NULL status → eligible
    ]
    seeds = spark.createDataFrame(
        [
            (i, s, lu, False, "high", datetime(2019, 1, i), f"https://h{i}.example.com")
            for i, s, lu in rows
        ],
        "source_id long, status string, last_updated_at timestamp, disabled boolean,"
        " priority string, created_at timestamp, url string",
    )
    now = "2020-01-02 13:00:00"
    got = {
        r["source_id"]
        for r in claim_sources(seeds, 100, now=now, regular_crawling="6 hours").collect()
    }
    assert got == {1, 3, 6, 7, 8}

    # kill-and-resume: mark claimed → immediately ineligible → re-claimable
    # again only after processing_timeout (86399s) elapses
    claimed = claim_sources(seeds, 100, now=now, regular_crawling="6 hours")
    marked = mark_processing(seeds, claimed, engine_id="e1", now=now)
    soon = {
        r["source_id"]
        for r in claim_sources(marked, 100, now="2020-01-02 14:00:00", regular_crawling="6 hours").collect()
    }
    # none of the freshly-marked claims re-claimed an hour later; only the
    # unclaimed error source (5) has crossed its 15-min retry gate by then
    assert soon == {5}
    later = {
        r["source_id"]
        for r in claim_sources(marked, 100, now="2020-01-03 13:00:00", regular_crawling="6 hours").collect()
    }
    # a day later every marked claim is stale-processing (timeout 86399s),
    # 2's pre-existing claim expired too, 4 crossed regular_crawling, 5 retries
    assert later == {1, 2, 3, 4, 5, 6, 7, 8}
    eng = {r["source_id"]: r["engine"] for r in marked.collect()}
    assert eng[1] == "e1" and eng[2] is None
