#!/usr/bin/env python
"""spark-submit entry point: the training-data preparation pipeline.

The crawl job (jobs/crawl_job.py) produces pages; this job turns a
document corpus into training-ready shards — the standard pretraining
prep chain, each stage an operator from this repo, all JVM-side:

    0. URL filter         (optional --url-blocklist: broadcast
                           exact-hostname blocklist + weighted word
                           score + strict fragments, operators/urlfilter
                           — the cheapest gate runs before any text key)
    1. exact dedup        (sha256 canonical groups, dedup.exact_dedup)
    2. fuzzy dedup        (MinHash-LSH candidates → exact-Jaccard
                           verification at --minhash-threshold →
                           connected components → keep min-id per group,
                           or keep the highest-quality member with
                           --keep-policy best)
       + optional --semdedup EPS (--embeddings): SemDeDup semantic
         dedup — within-Voronoi-cell cosine drop test, one cell-keyed
         equi-join (Abbas et al. 2023)
    3. boilerplate strip  (CCNet duplicated-line removal, xxhash64 keys)
       + optional --span-w: exact-substring span dedup (Lee et al. 2021)
    4. quality filter     (Gopher-style integer-exact verdicts)
       + optional --model-weights: hashed linear classifier filter
       + optional --lm-drop-tail: CCNet-style LM bucketing (unigram or
         conditional-bigram via --lm-ngram) drops the tail bucket
    5. decontamination    (cross-corpus shingle join vs a benchmark set)
       + optional --dsir-target/--dsir-k: DSIR importance resampling —
         hashed n-gram log-ratio selection toward a target domain
         (Xie et al. 2023)
    6. language ID + stats(script pre-classifier + trigram-profile
                           scoring, operators/langid — the whatlanggo-
                           shaped quality path; --langid marker keeps
                           the inline 24-marker argmax fast path)
    7. split + pack       (deterministic hash split; token-budget packs)

Run:

    scripts/build_pyfiles.sh          # → dist/thecrowler_spark.zip
    spark-submit --master local[8] \\
        --py-files dist/thecrowler_spark.zip \\
        jobs/pipeline_job.py --input /root/testdata/sf0.01/documents.parquet \\
        --output /tmp/corpus_out --budget 2048 --buckets 64

Outputs under --output: documents/ (curated, split + pack columns),
dropped/ (doc_id + reason — auditable filtering, never silent),
stats/ (per-language accounting), manifest.json (stage row counts).

--state DIR turns on incremental (continuous-feed) mode: LakeTable
snapshots carry seen content hashes (cross-batch exact dedup), full
minhash-signature keys (cross-batch fuzzy dedup, signature-equality
rule), and cumulative line counts (a footer below the boilerplate
threshold in every single batch still trips it cumulatively) — the
pipeline twin of the crawl engine's chained visited set. Shipped
batches are never retro-edited. All three state merges are
replay-idempotent: hashes/sigs via distinct unions, line counts via
per-batch tags (--batch-tag), so at-least-once redelivery never
over-counts.

Scale notes: every stage is shuffle-bounded the same way the graded
queries are (band-key equi-joins for LSH, hash-keyed line dedup,
broadcast benchmark shingles, hash-bucketed packing streams — no
global windows anywhere); `--buckets` is the packing parallelism dial.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="crowler-spark training-data pipeline")
    p.add_argument("--input", required=True, help="documents parquet (doc_id, text, lang?)")
    p.add_argument("--benchmark", default=None,
                   help="optional benchmark parquet (doc_id, text) for decontamination")
    p.add_argument("--output", required=True)
    p.add_argument("--url-blocklist", default=None,
                   help="parquet with a 'host' column: enables the URL "
                        "quality-filter stage 0 (requires a 'url' input "
                        "column) — broadcast exact-hostname blocklist + "
                        "weighted word score + strict fragments "
                        "(operators/urlfilter); drops audited as url_filter")
    p.add_argument("--url-threshold", type=float, default=None,
                   help="URL word-score drop threshold "
                        "(default: the operator's DEFAULT_THRESHOLD)")
    p.add_argument("--keep-policy", choices=("min-id", "best"), default="min-id",
                   help="fuzzy-dedup cluster winner: component min doc_id "
                        "(default) or the highest-quality member (text "
                        "length, ties to lowest id) via "
                        "dedup.select_representatives")
    p.add_argument("--minhash-threshold", type=float, default=0.5,
                   help="fuzzy-dup Jaccard threshold (LSH candidates verified)")
    p.add_argument("--line-max-count", type=int, default=4,
                   help="CCNet: lines occurring more often are boilerplate")
    p.add_argument("--span-w", type=int, default=0,
                   help="exact-substring dedup window (tokens); 0 = stage off. "
                        "Removes every corpus-repeated w-token run (Lee et al. 2021)")
    p.add_argument("--model-weights", default=None,
                   help="parquet of (bucket:int, weight:bigint) — enables the "
                        "model-based filter stage (fastText-style hashed linear "
                        "classifier; docs with mean margin < --model-threshold drop)")
    p.add_argument("--model-buckets", type=int, default=4096)
    p.add_argument("--model-threshold", type=int, default=0)
    p.add_argument("--state", default=None,
                   help="incremental-mode state dir (LakeTable snapshots): "
                        "cross-batch exact dedup (seen content hashes), "
                        "cross-batch fuzzy dedup (full-signature keys), and "
                        "cumulative boilerplate line counts — the continuous-"
                        "feed twin of the crawl engine's chained visited set")
    p.add_argument("--batch-tag", default=None,
                   help="idempotency key for this batch's line-count state "
                        "contribution (default: basename of --output). A "
                        "replayed batch REPLACES its own tagged rows instead "
                        "of re-adding them, so at-least-once redelivery "
                        "(q_pipeline_incremental's batches, CLI retry on "
                        "the same output dir) never over-counts")
    p.add_argument("--budget", type=int, default=2048, help="tokens per pack")
    p.add_argument("--buckets", type=int, default=64, help="packing streams")
    p.add_argument("--train", type=float, default=0.98)
    p.add_argument("--val", type=float, default=0.01)
    p.add_argument("--test", type=float, default=0.01)
    p.add_argument("--mixture", default=None,
                   help="dataset-mixture sampling spec 'BUDGET:src=w,src=w' "
                        "(e.g. 100000:web=3,books=1) — integer per-source token "
                        "budgets in deterministic md5 order (two-phase prefix "
                        "sum, skew-safe); requires a 'source' input column. "
                        "Docs beyond their source's budget drop as "
                        "'mixture_budget'")
    p.add_argument("--media", default=None,
                   help="media parquet (media_ref, payload binary, media_type) — "
                        "perceptual image dedup stage: real decode → aHash → "
                        "chunk-blocked Hamming pairs → connected components; "
                        "writes out/media_pairs + out/media_kept (min-ref "
                        "representative per near-dup group)")
    p.add_argument("--links", default=None,
                   help="crawl links parquet (src, dst, anchor) for --anchor-corpus")
    p.add_argument("--anchor-corpus", action="store_true",
                   help="write out/anchors: per-target top-k anchor-text corpus "
                        "over --links restricted to curated survivor targets")
    p.add_argument("--anchor-k", type=int, default=5)
    p.add_argument("--source-rollup", action="store_true",
                   help="write out/sources: RefinedWeb-style per-source triage "
                        "(docs in/kept, kept tokens, keep share; classifier "
                        "margin sums when --model-weights ran); requires a "
                        "'source' input column")
    p.add_argument("--lm-drop-tail", action="store_true",
                   help="CCNet-style LM quality bucketing after the quality "
                        "filter: rank survivors by integer LM familiarity, "
                        "ntile into --lm-k buckets, drop the tail bucket "
                        "(audited as 'lm_tail')")
    p.add_argument("--lm-k", type=int, default=3,
                   help="bucket count for --lm-drop-tail (3 = head/middle/tail)")
    p.add_argument("--lm-ngram", type=int, choices=(1, 2), default=1,
                   help="LM order for --lm-drop-tail: 1 = unigram familiarity, "
                        "2 = conditional-bigram (word order matters)")
    p.add_argument("--lm-vocab", type=int, default=50_000,
                   help="top-K LM vocabulary size (broadcast)")
    p.add_argument("--embeddings", default=None,
                   help="embeddings parquet (doc_id|vec_id, embedding:array<float>) "
                        "— enables --semdedup")
    p.add_argument("--semdedup", type=float, default=0.0,
                   help="SemDeDup cosine threshold eps (Abbas et al. 2023); "
                        "0 = stage off. Within each Voronoi cell, docs with a "
                        "higher-keep-priority neighbour at cosine >= eps drop "
                        "as 'semantic_dup'. Docs without an embedding pass "
                        "through unjudged")
    p.add_argument("--semdedup-cells", type=int, default=16,
                   help="Voronoi cell count (∝ corpus_size / target_cell_size)")
    p.add_argument("--dsir-target", default=None,
                   help="target-domain parquet (doc_id, text) for DSIR "
                        "importance resampling (Xie et al. 2023); requires "
                        "--dsir-k")
    p.add_argument("--dsir-k", type=int, default=0,
                   help="number of docs DSIR keeps (top-k by hashed n-gram "
                        "log-ratio score); the rest drop as 'dsir_unselected'")
    p.add_argument("--dsir-buckets", type=int, default=1024)
    p.add_argument("--langid", choices=("trigram", "marker"), default="trigram",
                   help="language-ID stage: trigram-profile scoring "
                        "(operators/langid, the quality path) or the inline "
                        "24-marker argmax column expression")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    args = p.parse_args(argv)
    if args.anchor_corpus and not args.links:
        p.error("--anchor-corpus requires --links")
    if args.semdedup > 0 and not args.embeddings:
        p.error("--semdedup requires --embeddings")
    if bool(args.dsir_target) != (args.dsir_k > 0):
        p.error("--dsir-target and --dsir-k must be given together")
    if args.lm_drop_tail and args.lm_k < 2:
        p.error("--lm-k must be >= 2 (k=1 would drop the whole corpus)")
    return args


def parse_mixture(spec: str) -> "tuple[int, dict[str, int]]":
    """'BUDGET:src=w,src=w' → (budget_tokens, weights)."""
    budget_s, _, rest = spec.partition(":")
    weights = {}
    for kv in rest.split(","):
        k, _, v = kv.partition("=")
        weights[k.strip()] = int(v)
    if not weights:
        raise ValueError(f"empty mixture weights in spec {spec!r}")
    return int(budget_s), weights


def run_pipeline(spark, args, docs_df=None) -> dict:
    """Run the full stage chain. ``docs_df`` (doc_id, text) overrides
    ``--input`` — the hook ``q_pipeline_incremental`` uses to feed each
    batch directly without a detour through disk."""
    from pyspark.sql import functions as F

    from thecrowler_spark.functions import text as TX
    from thecrowler_spark.operators import dedup as DD
    from thecrowler_spark.operators.sampling import assign_split, pack_documents
    from thecrowler_spark.operators.terms import quality_filter_verdict

    src = docs_df if docs_df is not None else spark.read.parquet(args.input)
    needs_source = bool(getattr(args, "mixture", None)) or getattr(args, "source_rollup", False)
    sources_dim = None
    if needs_source:
        if "source" not in src.columns:
            raise ValueError("--mixture/--source-rollup require a 'source' input column")
        # slim (doc_id, source) dimension — read once per consumer stage
        sources_dim = src.select("doc_id", "source").persist()
    docs = src.select("doc_id", "text").persist()
    manifest: dict = {"input_rows": docs.count(), "stages": {}}
    dropped_parts = []
    cached = [docs]

    # wall-seconds between stage-count actions — optimization telemetry
    # (guide §1: measure first). Extra manifest key; consumers that read
    # input_rows/stages/dropped_rows are unaffected.
    _last_mark = [time.time()]

    def _mark(name):
        now = time.time()
        manifest.setdefault("stage_secs", {})[name] = round(now - _last_mark[0], 3)
        _last_mark[0] = now

    def stage(df):
        # persist at every stage boundary: each stage's manifest count is
        # an action and the final writes replay the chain — without the
        # cache the expensive middle stages (LSH candidates → Jaccard
        # verify → connected components) re-execute once per downstream
        # action instead of once total
        df = df.persist()
        cached.append(df)
        return df

    def drop(df, reason):
        # materialize the (small, id-only) drop set NOW, while its parent
        # stage cache is hot — this is what lets retire() release the big
        # text-bearing caches as the pipeline advances instead of holding
        # every stage in memory until the final dropped/ write replays it
        part = df.select("doc_id").withColumn("reason", F.lit(reason)).persist()
        part.count()
        cached.append(part)
        dropped_parts.append(part)

    def retire(df):
        # stage cache no later action reads again: free its storage
        # immediately (holding all ~7 full-text stage caches at once
        # starves the execution-memory pool under 32 concurrent tasks)
        df.unpersist()

    # 0. URL quality filter (optional, --url-blocklist): the cheapest
    #    gate runs first, before any text-derived key is computed —
    #    blocked/spam-scored URLs never pay for hashing or shingling.
    #    Broadcast blocklist + JVM scoring: no shuffle of the doc stream.
    if getattr(args, "url_blocklist", None):
        if "url" not in src.columns:
            raise ValueError("--url-blocklist requires a 'url' input column")
        from thecrowler_spark.operators.urlfilter import (
            DEFAULT_THRESHOLD,
            url_quality_filter,
        )

        thr = args.url_threshold if args.url_threshold is not None else DEFAULT_THRESHOLD
        verdicts0 = url_quality_filter(
            src.select("doc_id", "url"),
            spark.read.parquet(args.url_blocklist),
            threshold=thr,
        )
        url_losers = verdicts0.filter(~F.col("kept")).select("doc_id")
        drop(url_losers, "url_filter")
        pre = docs
        docs = stage(docs.join(url_losers, "doc_id", "left_anti"))
        manifest["stages"]["url_filter"] = docs.count()
        _mark("url_filter")
        retire(pre)

    # incremental state (--state): prior-batch knowledge arrives as
    # LakeTable snapshots. Commit order at the end is hashes → sigs →
    # line counts. ALL three state tables are tag-scoped: every row
    # carries the batch_tag that contributed it, and the prior state a
    # batch READS excludes its own tag — so a replayed batch (streaming
    # foreachBatch at-least-once, CLI retry on the same output dir)
    # sees exactly the state the first delivery saw, re-derives the
    # same outputs (its own committed hashes can't shadow its docs as
    # exact_dup_prior), and its commit REPLACES its earlier tagged
    # rows instead of re-adding them. Tags stay bounded (≤ 2): each
    # commit folds every other tag into `_compacted` — durable by then,
    # since only the LATEST batch can be redelivered.
    lake_hashes = lake_sigs = lake_lines = None
    prior_hashes = prior_sigs = prior_lines = None
    new_hashes = new_sigs = batch_lines = None
    prior_hashes_other = prior_sigs_other = prior_lines_other = None
    # default tag must be collision-resistant (ADVICE r5): two distinct
    # batches whose --output dirs merely share a basename must not treat
    # each other as replays (the later commit would silently REPLACE the
    # earlier batch's state rows). Tag = basename + short hash of the
    # full absolute path — still human-readable, still stable for a true
    # replay of the same output dir.
    if args.batch_tag:
        batch_tag = args.batch_tag
    else:
        import hashlib

        out_abs = os.path.abspath(args.output.rstrip("/") or "_batch")
        batch_tag = (
            (os.path.basename(out_abs) or "_batch")
            + "-"
            + hashlib.sha256(out_abs.encode()).hexdigest()[:12]
        )

    def _read_tagged(lake):
        """All state rows EXCEPT this batch's tag (None if no snapshot).
        Legacy untagged snapshots read as one `_compacted` tag."""
        if lake.current_snapshot() is None:
            return None
        raw = lake.read()
        if "batch_tag" not in raw.columns:
            raw = raw.withColumn("batch_tag", F.lit("_compacted"))
        return raw.filter(F.col("batch_tag") != batch_tag)

    if args.state:
        from thecrowler_spark.sources.lake import LakeTable

        lake_hashes = LakeTable(spark, f"{args.state}/seen_hashes")
        lake_sigs = LakeTable(spark, f"{args.state}/sig_keys")
        lake_lines = LakeTable(spark, f"{args.state}/line_counts")
        prior_hashes_other = _read_tagged(lake_hashes)
        if prior_hashes_other is not None:
            prior_hashes = prior_hashes_other.select("content_hash").distinct()
        prior_sigs_other = _read_tagged(lake_sigs)
        if prior_sigs_other is not None:
            prior_sigs = prior_sigs_other.select("sig_key").distinct()
        prior_lines_other = _read_tagged(lake_lines)
        if prior_lines_other is not None:
            prior_lines = (
                prior_lines_other.groupBy("line_hash")
                .agg(F.sum("n_occurrences").alias("n_occurrences"))
            )

    _content_hash = F.sha2(TX.normalize_text("text"), 256)

    # 0b. cross-batch exact dedup: content already shipped by a prior
    #     batch leaves now, before within-batch grouping
    if prior_hashes is not None:
        prior_dups = (
            docs.withColumn("content_hash", _content_hash)
            .join(prior_hashes.select("content_hash"), "content_hash", "left_semi")
            .select("doc_id")
        )
        drop(prior_dups, "exact_dup_prior")
        pre = docs
        docs = stage(docs.join(prior_dups, "doc_id", "left_anti"))
        manifest["stages"]["exact_dedup_prior"] = docs.count()
        _mark("exact_dedup_prior")
        retire(pre)

    # 1. exact dedup — keep the min doc_id per canonical content key
    keymap = DD.exact_dedup(docs, text_col="text", id_col="doc_id")
    survivors = stage(docs.join(
        keymap.select(F.col("keep_id").alias("doc_id")), "doc_id", "inner"
    ))
    drop(docs.join(survivors.select("doc_id"), "doc_id", "left_anti"), "exact_dup")
    manifest["stages"]["exact_dedup"] = survivors.count()
    _mark("exact_dedup")
    if lake_hashes is not None:
        # snapshot the batch's shipped content hashes while the stage
        # cache is hot; committed after the output writes succeed
        new_hashes = (
            survivors.select(_content_hash.alias("content_hash"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    retire(docs)

    # 2. fuzzy dedup — LSH candidates → exact-Jaccard verification at
    #    --minhash-threshold → components → keep component min. With
    #    n_hashes=8 / bands=4 a band key is only 2 minhashes, so raw
    #    candidates carry little Jaccard signal; the verify step is what
    #    makes the threshold real (no false-positive doc removal).
    #    stage() both intermediates (r6, guide §5 "caching is worth it
    #    when a DataFrame is reused"): verify_pairs_jaccard references
    #    its candidate input three times (id-union + the pair fan-out)
    #    and its shingle table three more, and connected_components'
    #    edge checkpoint traverses the verified pairs again — uncached,
    #    the LSH band join re-executed ~5x and the fuzzy stage measured
    #    453 s of the 544 s 200k-doc lane (38 s with both persisted).
    candidates = stage(DD.minhash_lsh_candidates(
        survivors, text_col="text", id_col="doc_id", n_hashes=8, bands=4, k=3
    ))
    pairs = stage(DD.verify_pairs_jaccard(
        survivors, candidates, text_col="text", id_col="doc_id",
        k=3, threshold=args.minhash_threshold,
    ))
    # connected_components eagerly checkpoints its edge set during the
    # call, so both caches are consumed once it returns
    comp = DD.connected_components(pairs)
    retire(candidates)
    retire(pairs)
    # cache the (tiny, id-only) loser set: it is read twice (anti-join +
    # dropped/ audit) and recomputing it replays the whole LSH chain
    if args.keep_policy == "best":
        # RefinedWeb-style keep-best-copy: the cluster winner is its
        # highest-quality member (text length, ties to lowest id) —
        # one partial-agg argmax, no window (dedup.select_representatives)
        reps = DD.select_representatives(
            comp,
            survivors.select("doc_id", F.length("text").alias("n_chars")),
            quality_col="n_chars",
            id_col="doc_id",
        ).select(F.col("kept_id").alias("doc_id"))
        fuzzy_losers = stage(
            comp.select(F.col("id").alias("doc_id")).join(reps, "doc_id", "left_anti")
        )
    else:
        fuzzy_losers = stage(comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias("doc_id")
        ))
    exact_survivors = survivors
    survivors = stage(survivors.join(fuzzy_losers, "doc_id", "left_anti"))
    drop(fuzzy_losers, "fuzzy_dup")
    manifest["stages"]["fuzzy_dedup"] = survivors.count()
    _mark("fuzzy_dedup")
    retire(exact_survivors)
    retire(fuzzy_losers)

    # 2b. cross-batch fuzzy dedup: a doc whose FULL minhash signature
    #     equals a prior-batch survivor's is a near-certain near-dup
    #     (all 8 permuted minima agree ⇒ Jaccard ≈ 1 w.h.p.) — the only
    #     cross-batch rule available without storing prior text, and
    #     deliberately conservative: band-level collisions never drop
    #     across batches because they can't be Jaccard-verified.
    if lake_sigs is not None:
        sigs = DD.minhash_signatures(survivors, text_col="text", id_col="doc_id",
                                     n_hashes=8, k=3)
        keyed = sigs.select(
            F.col("id").alias("doc_id"),
            F.md5(F.concat_ws("|", *[f"mh{i}" for i in range(8)])).alias("sig_key"),
        ).localCheckpoint(eager=True)
        if prior_sigs is not None:
            prior_fuzzy = (
                keyed.join(prior_sigs.select("sig_key"), "sig_key", "left_semi")
                .select("doc_id")
            )
            drop(prior_fuzzy, "fuzzy_dup_prior")
            prev = survivors
            survivors = stage(survivors.join(prior_fuzzy, "doc_id", "left_anti"))
            manifest["stages"]["fuzzy_dedup_prior"] = survivors.count()
            _mark("fuzzy_dedup_prior")
            retire(prev)
            new_sigs = keyed.join(prior_fuzzy, "doc_id", "left_anti").select("sig_key")
        else:
            new_sigs = keyed.select("sig_key")

    # 2c. semantic dedup (optional, --semdedup EPS with --embeddings):
    #     SemDeDup (Abbas et al. 2023) over the survivor set — Voronoi
    #     cells from broadcast centroids, within-cell cosine drop test
    #     as ONE cell-keyed equi-join (never all-pairs). Docs without
    #     an embedding pass through unjudged (left_semi restricts the
    #     embedding table to survivors, the anti-join only removes ids
    #     the drop test actually condemned).
    if getattr(args, "semdedup", 0) > 0:
        from thecrowler_spark.operators.similarity import semdedup

        emb = spark.read.parquet(args.embeddings)
        if "doc_id" not in emb.columns and "vec_id" in emb.columns:
            emb = emb.withColumnRenamed("vec_id", "doc_id")
        emb = emb.select("doc_id", "embedding").join(
            survivors.select("doc_id"), "doc_id", "left_semi"
        )
        sem_losers = stage(
            semdedup(emb, n_cells=args.semdedup_cells, eps=args.semdedup,
                     vec_col="embedding", id_col="doc_id")
            .filter(F.col("dropped")).select("doc_id")
        )
        drop(sem_losers, "semantic_dup")
        prev = survivors
        survivors = stage(survivors.join(sem_losers, "doc_id", "left_anti"))
        manifest["stages"]["semantic_dedup"] = survivors.count()
        _mark("semantic_dedup")
        retire(prev)
        retire(sem_losers)

    # 3. CCNet boilerplate-line removal (hash-keyed shuffle); with
    #    --state the threshold sees cumulative cross-batch counts
    if lake_lines is not None:
        batch_lines = DD.line_hash_counts(
            survivors, text_col="text", id_col="doc_id"
        ).localCheckpoint(eager=True)
    cleaned_all = stage(DD.dedup_lines(
        survivors, text_col="text", id_col="doc_id", max_count=args.line_max_count,
        prior_counts=prior_lines,
    ).select("doc_id", F.col("text_dedup").alias("text")))
    drop(cleaned_all.filter(F.length("text") == 0), "all_boilerplate")
    fuzzy_survivors = survivors
    cleaned = cleaned_all.filter(F.length("text") > 0)
    manifest["stages"]["line_dedup"] = cleaned.count()
    _mark("line_dedup")
    retire(fuzzy_survivors)

    # 3b. exact-substring span dedup (optional, --span-w > 0): strip
    #     corpus-repeated w-token runs line dedup can't see (mid-line
    #     licence boilerplate, quoted replies, templated sentences)
    if args.span_w > 0:
        spanned = stage(DD.repeated_span_dedup(
            cleaned, text_col="text", id_col="doc_id", w=args.span_w
        ).select("doc_id", F.col("text_clean").alias("text")))
        drop(spanned.filter(F.length("text") == 0), "all_duplicated")
        line_cache = cleaned_all
        cleaned = spanned.filter(F.length("text") > 0)
        manifest["stages"]["span_dedup"] = cleaned.count()
        _mark("span_dedup")
        retire(line_cache)
        cleaned_all = spanned  # the cache retire() frees after stage 4

    # 4. quality filter (integer-exact verdicts)
    verdicts = stage(quality_filter_verdict(cleaned))
    kept = verdicts.filter(F.col("keep")).select("doc_id")
    drop(verdicts.filter(~F.col("keep")).select("doc_id"), "quality")
    survivors = stage(cleaned.join(kept, "doc_id", "inner"))
    manifest["stages"]["quality"] = survivors.count()
    _mark("quality")
    retire(cleaned_all)
    retire(verdicts)
    quality_cache = survivors

    # 4b. model-based filter (optional, --model-weights): fastText-style
    #     hashed linear classifier inference — model arrives as data,
    #     scoring is a broadcast join, labels integer-exact
    margins_by_source = None
    if args.model_weights:
        from thecrowler_spark.operators.classifier import classify_docs

        weights = spark.read.parquet(args.model_weights)
        scored = stage(classify_docs(
            survivors, weights, n_buckets=args.model_buckets,
            threshold=args.model_threshold,
        ))
        kept_ids = scored.filter(F.col("label") == "keep").select("doc_id")
        drop(scored.filter(F.col("label") != "keep").select("doc_id"), "model_filter")
        prev = survivors
        survivors = stage(survivors.join(kept_ids, "doc_id", "inner"))
        manifest["stages"]["model_filter"] = survivors.count()
        _mark("model_filter")
        if getattr(args, "source_rollup", False):
            # tiny per-source margin sums (n_sources rows), pinned while
            # the scored cache is hot so retire() below stays safe
            margins_by_source = (
                scored.join(sources_dim, "doc_id")
                .groupBy("source")
                .agg(
                    F.sum("margin").cast("long").alias("sum_margin"),
                    F.sum(F.when(F.col("label") == "keep", 1).otherwise(0))
                    .cast("long")
                    .alias("n_model_keep"),
                )
                .localCheckpoint(eager=True)
            )
        retire(prev)
        retire(scored)
        quality_cache = survivors

    # 4c. LM quality bucketing (optional, --lm-drop-tail): CCNet-style
    #     head/middle/tail over the post-filter survivors — integer
    #     familiarity scores (unigram, or conditional-bigram with
    #     --lm-ngram 2), two-phase distributed ntile, tail bucket
    #     dropped audited. Runs AFTER the rule/model filters so the
    #     vocabulary fits on the retained distribution, as CCNet does.
    if getattr(args, "lm_drop_tail", False):
        from thecrowler_spark.operators import lm as LM

        bucket_fn = (
            LM.quality_buckets_bigram if args.lm_ngram == 2 else LM.quality_buckets
        )
        buckets = stage(bucket_fn(
            survivors, k=args.lm_k, vocab_size=args.lm_vocab
        ))
        tail_ids = buckets.filter(F.col("bucket") == args.lm_k).select("doc_id")
        drop(tail_ids, "lm_tail")
        prev = survivors
        survivors = stage(survivors.join(tail_ids, "doc_id", "left_anti"))
        manifest["stages"]["lm_filter"] = survivors.count()
        _mark("lm_filter")
        retire(prev)
        retire(buckets)
        quality_cache = survivors

    # 5. decontamination (optional)
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark).select("doc_id", "text")
        flags = stage(DD.contamination_flags(
            survivors, bench, text_col="text", id_col="doc_id"
        ).select("doc_id"))
        drop(flags, "contaminated")
        survivors = survivors.join(flags, "doc_id", "left_anti")
        manifest["stages"]["decontaminated"] = survivors.count()
        _mark("decontaminated")

    # 6. language ID + per-language stats. Default = the trigram
    #    quality path (broadcast profile join + one doc-key shuffle;
    #    adds a column, never drops rows — survivorship and therefore
    #    the incremental-state semantics are langid-independent).
    #    localCheckpoint first: the detector references its input twice
    #    (trigram explode + winner join-back) — cutting lineage here
    #    stops the deep stage-1..5 plan from being re-rendered per
    #    reference (AQE's per-stage explain strings OOMed the driver on
    #    the un-checkpointed chain) and from re-executing per action.
    survivors = survivors.localCheckpoint(eager=True)

    # 5b. DSIR importance resampling (optional, --dsir-target/--dsir-k):
    #     Xie et al. 2023 selection toward a target domain — hashed
    #     n-gram log-ratio weights fitted on (target, survivors), docs
    #     scored by integer sums, top-k kept. Runs after the checkpoint
    #     because the fit and the scoring each traverse the survivor
    #     set once. Unselected (incl. zero-gram) docs drop audited.
    if getattr(args, "dsir_target", None):
        from thecrowler_spark.operators.dsir import dsir_select

        target = spark.read.parquet(args.dsir_target).select("doc_id", "text")
        sel_ids = stage(
            dsir_select(spark, target, survivors, k=args.dsir_k,
                        n_buckets=args.dsir_buckets).select("doc_id")
        )
        drop(survivors.select("doc_id").join(sel_ids, "doc_id", "left_anti"),
             "dsir_unselected")
        survivors = stage(survivors.join(sel_ids, "doc_id", "left_semi"))
        manifest["stages"]["dsir"] = survivors.count()
        _mark("dsir")
        retire(sel_ids)

    if getattr(args, "langid", "trigram") == "trigram":
        from thecrowler_spark.operators.langid import detect_language

        survivors = detect_language(survivors, text_col="text", id_col="doc_id")
    else:
        survivors = survivors.withColumn("lang_pred", TX.detect_lang_expr(F.col("text")))
    stats = survivors.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum(TX.token_count(F.col("text"))).alias("total_tokens"),
    )

    # 6b. dataset-mixture sampling (optional, --mixture): integer
    #     per-source token budgets in deterministic md5 order — the
    #     Pile/DoReMi-style assembly step, two-phase prefix sum
    #     (skew-safe even when one source is 80% of the corpus)
    survivors = stage(survivors)
    sized = survivors.withColumn("n_tokens", TX.token_count(F.col("text")))
    if getattr(args, "mixture", None):
        from thecrowler_spark.operators.sampling import mixture_sample

        mix_budget, mix_weights = parse_mixture(args.mixture)
        mixed = stage(mixture_sample(
            sized.join(sources_dim, "doc_id"), mix_weights, mix_budget
        ))
        drop(mixed.filter(~F.col("included")).select("doc_id"), "mixture_budget")
        sized = mixed.filter(F.col("included")).select(*sized.columns)
        manifest["stages"]["mixture"] = sized.count()
        _mark("mixture")

    # 7. split + pack
    weights = {"train": args.train, "val": args.val, "test": args.test}
    packed = stage(pack_documents(
        sized.withColumn("split", assign_split(F.col("doc_id"), weights)),
        budget=args.budget,
        buckets=args.buckets,
    ))
    manifest["stages"]["packed"] = packed.count()
    _mark("packed")
    retire(quality_cache)

    out = args.output
    packed.write.mode("overwrite").parquet(f"{out}/documents")
    _mark("write_documents")
    stats.write.mode("overwrite").parquet(f"{out}/stats")
    _mark("write_stats")

    # 8. optional analytics outputs over the curated survivor set
    if getattr(args, "anchor_corpus", False):
        from thecrowler_spark.operators.linkgraph import anchor_texts

        links = spark.read.parquet(args.links)
        kept_targets = packed.select(F.col("doc_id").alias("dst"))
        anchors = anchor_texts(
            links.join(kept_targets, "dst", "left_semi"), k=args.anchor_k
        )
        anchors.write.mode("overwrite").parquet(f"{out}/anchors")
        manifest["stages"]["anchor_corpus"] = spark.read.parquet(f"{out}/anchors").count()
        _mark("anchor_corpus")
    if getattr(args, "source_rollup", False):
        roll = (
            sources_dim.join(packed.select("doc_id", "n_tokens"), "doc_id", "left")
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs_in"),
                F.count("n_tokens").alias("n_kept"),
                F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("tokens_kept"),
            )
            .withColumn(
                "keep_share_pct",
                F.expr("CAST(n_kept * 100 DIV n_docs_in AS INT)"),
            )
        )
        if margins_by_source is not None:
            roll = roll.join(margins_by_source, "source", "left")
        roll.write.mode("overwrite").parquet(f"{out}/sources")
        manifest["stages"]["source_rollup"] = spark.read.parquet(f"{out}/sources").count()
        _mark("source_rollup")
    # 8b. perceptual media dedup (optional, --media): aHash over real
    #     decoded pixels (Arrow mapInPandas, fuses into the scan) →
    #     16-bit-chunk-blocked Hamming pairs (pigeonhole-exact at
    #     radius 3, never all-pairs) → min-label components → keep the
    #     MIN ref of each near-dup group (deterministic; groups are
    #     mirror copies + small retouches, so any member is a faithful
    #     representative). Media that pairs with nothing passes through.
    if getattr(args, "media", None):
        from thecrowler_spark.operators import multimodal as MM
        from thecrowler_spark.operators.dedup import connected_components

        media_sig = MM.media_phash(spark.read.parquet(args.media)).persist()
        manifest["stages"]["media_in"] = media_sig.count()
        _mark("media_in")
        media_pairs = MM.media_near_dups(media_sig).persist()
        manifest["stages"]["media_pairs"] = media_pairs.count()
        _mark("media_pairs")
        comps = connected_components(media_pairs, "ref_a", "ref_b")
        losers = comps.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias("media_ref")
        )
        media_kept = media_sig.join(losers, "media_ref", "left_anti")
        media_pairs.write.mode("overwrite").parquet(f"{out}/media_pairs")
        media_kept.write.mode("overwrite").parquet(f"{out}/media_kept")
        manifest["stages"]["media_kept"] = spark.read.parquet(
            f"{out}/media_kept"
        ).count()
        _mark("media_kept")
        media_pairs.unpersist()
        media_sig.unpersist()

    if dropped_parts:
        d = dropped_parts[0]
        for part in dropped_parts[1:]:
            d = d.unionByName(part)
        d.write.mode("overwrite").parquet(f"{out}/dropped")
        manifest["dropped_rows"] = spark.read.parquet(f"{out}/dropped").count()
        _mark("write_dropped")

    # state commits last, each a LakeTable snapshot (outputs already on
    # disk). Shape shared by all three: fold every other tag into
    # `_compacted` + this batch's rows under its own tag (see the
    # replay-idempotency note at the state-read block). A replayed
    # batch re-derives identical batch rows from identical prior state,
    # so the rewrite is a no-op rather than an over-count.
    def _commit_tagged(lake, prior_other, batch_rows, fold, cols):
        tagged = batch_rows.withColumn("batch_tag", F.lit(batch_tag))
        if prior_other is None:
            merged = tagged
        else:
            merged = fold(prior_other).withColumn(
                "batch_tag", F.lit("_compacted")
            ).unionByName(tagged)
        return lake.write(merged.select("batch_tag", *cols))

    if lake_hashes is not None and new_hashes is not None:
        manifest["state_seen_hashes"] = _commit_tagged(
            lake_hashes, prior_hashes_other, new_hashes,
            lambda p: p.select("content_hash").distinct(), ["content_hash"],
        )
    if lake_sigs is not None and new_sigs is not None:
        manifest["state_sig_keys"] = _commit_tagged(
            lake_sigs, prior_sigs_other, new_sigs,
            lambda p: p.select("sig_key").distinct(), ["sig_key"],
        )
    if lake_lines is not None and batch_lines is not None:
        manifest["state_line_counts"] = _commit_tagged(
            lake_lines, prior_lines_other, batch_lines,
            lambda p: p.groupBy("line_hash").agg(
                F.sum("n_occurrences").alias("n_occurrences")
            ), ["line_hash", "n_occurrences"],
        )

    if sources_dim is not None:
        sources_dim.unpersist()
    for df in cached:
        df.unpersist()
    return manifest


def main(argv: list[str]) -> None:
    args = parse_args(argv)
    from thecrowler_spark.session import get_spark

    spark = get_spark(
        app_name="crowler-pipeline",
        shuffle_partitions=args.shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.time()
    manifest = run_pipeline(spark, args)
    manifest["elapsed_sec"] = round(time.time() - t0, 2)
    with open(f"{args.output}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=2)
    print(json.dumps(manifest))


if __name__ == "__main__":
    main(sys.argv[1:])
