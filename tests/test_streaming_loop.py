"""End-to-end claim loop: claim_sources → CrawlEngine → mark_processing
over a LakeTable of sources — the reference's checkSources poll loop as
a system (main.go:305-349,566-715). The ticks are driven
deterministically so batch content is assertable."""

from __future__ import annotations

from thecrowler_spark.operators.frontier import (
    CrawlConfig,
    CrawlEngine,
    claim_sources,
    mark_processing,
)
from thecrowler_spark.sources.corpus import CorpusSpec, corpus_to_spark, small_corpus
from thecrowler_spark.sources.lake import LakeTable


def test_streaming_claim_crawl_mark_loop(spark, tmp_path):
    corpus = small_corpus(CorpusSpec(n_hosts=4, pages_per_host=6))
    dfs = corpus_to_spark(spark, corpus)
    sources = LakeTable(spark, str(tmp_path / "sources"))
    sources.write(dfs["seeds"])

    eng = CrawlEngine(spark, dfs["documents"], cfg=CrawlConfig(max_depth=1, max_rounds=3))

    claimed_ids: list[int] = []
    pages_total = 0
    now = "2026-02-01 00:00:00"
    for tick in range(6):  # 4 sources / 2 per tick → drained in 2 ticks
        claimed = claim_sources(sources.read(), 2, now=now)
        batch = [r["source_id"] for r in claimed.collect()]
        if not batch:
            continue
        claimed_ids.extend(batch)
        res = eng.run(claimed, run_id=f"tick{tick}")
        pages_total += res.pages.count()
        # the proc's UPDATE leg: claimed → processing, so the next tick
        # cannot re-claim them (until processing_timeout)
        sources.write(mark_processing(sources.read(), claimed, engine_id="e0", now=now))

    # every source claimed EXACTLY once across the loop
    assert sorted(claimed_ids) == [1, 2, 3, 4]
    assert len(claimed_ids) == len(set(claimed_ids))
    assert pages_total >= 4  # every seed fetched at least its own page
    # all sources now locked as processing by e0
    final = {(r["source_id"], r["status"], r["engine"]) for r in sources.read().collect()}
    assert final == {(i, "processing", "e0") for i in (1, 2, 3, 4)}
