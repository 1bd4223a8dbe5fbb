"""The benchmark's workloads, run inside the pinned Spark process.

Each lane builds its inputs from the workload seed (the program's
generators take no seed, so the seed enters here), runs one closed-loop
operation per ``op`` call and checks every output. ``traced_op`` runs
the same operation with spans around each layer call and returns the
lane's per-layer metrics (``eventlog`` supplies the Spark-side costs).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

import eventlog as EL

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_DIRS = [os.path.join(ROOT, "thecrowler_spark"), os.path.join(ROOT, "jobs")]


def expected(workload: str, key: str) -> dict | None:
    """The recorded output of ``workload`` for ``<pages>:<seed>``, if any."""
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)[workload].get(key)


def _hash_sum(*cols):
    """Order-insensitive hash of a row multiset (summed 40-bit row hashes,
    which cannot overflow a long below 2^23 rows)."""
    return F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 40)))


class FrontierRound:
    """One crawl round over ``big_corpus_df``: the operator chain of the
    repo's ``bench.py`` crawl lane, built from the program's public
    kernels. The visited set is a seeded 30% sample, persisted in setup.
    """

    name = "frontier_round"
    min_ops = 2

    def __init__(self, seed: int, cores: int, smoke: bool):
        self.seed = seed
        self.cores = cores
        self.n_docs = 2_000 if smoke else 50_000
        self.n_hosts = 500
        self.links = 8
        self.budget = 2_000
        self.shuffle_partitions = 2 * cores
        self.key = f"{self.n_docs}:{seed}"
        self.reference = None

    # ------------------------------------------------------------ setup
    def setup(self, spark, work: str) -> None:
        from thecrowler_spark.functions import urls as U
        from thecrowler_spark.sources.corpus import big_corpus_df

        docs = big_corpus_df(
            spark, n_docs=self.n_docs, n_hosts=self.n_hosts, links_per_page=self.links
        ).persist()
        docs.count()
        norm = U.normalize_url_seen("doc_id").alias("norm_url")
        visited = docs.select(norm).filter(self._visited_pred("norm_url")).persist()
        visited.count()
        self.docs, self.visited = docs, visited
        self.robots = spark.createDataFrame(
            [(f"h{h}.example.com", "disallow", "/private") for h in range(self.n_hosts)],
            "host string, rule_type string, path_prefix string",
        )
        self.budgets = spark.createDataFrame(
            [(f"h{h}.example.com", self.budget) for h in range(self.n_hosts)],
            "host string, max_fetches_per_round int",
        )

    def release(self) -> None:
        self.docs.unpersist()
        self.visited.unpersist()

    def _visited_pred(self, col: str):
        # seed 0 is exactly bench.py's sample; other seeds salt the hash
        h = F.xxhash64(col) if self.seed == 0 else F.xxhash64(col, F.lit(self.seed))
        return F.pmod(h, F.lit(10)) < 3

    # ------------------------------------------------------------ chain
    def layers(self):
        """(layer name, step) pairs; each step maps the previous layer's
        output to this layer's output."""
        from thecrowler_spark.functions import urls as U
        from thecrowler_spark.operators.politeness import enforce_host_budget
        from thecrowler_spark.operators.robots import disallow_prefix_filter
        from thecrowler_spark.operators.spans import body_text, extracted_links, title

        docs = self.docs

        def normalize(d):
            links = d.select(
                F.col("doc_id").alias("page_url"),
                F.posexplode(extracted_links(F.col("spans"))).alias("seq", "link"),
            )
            return links.withColumn("url_link", U.normalize_link("link")).withColumn(
                "norm_url", U.normalize_url_seen("url_link")
            )

        def validate(d):
            return d.filter(U.is_valid_url("url_link")).withColumn(
                "host", U.url_hostname("url_link")
            )

        def fetch_parse(d):
            fetched = d.join(
                docs.select("doc_id", "spans"), d["url_link"] == F.col("doc_id"), "inner"
            )
            return fetched.select(
                "doc_id",
                title(F.col("spans")).alias("title"),
                F.sha2(body_text(F.col("spans")), 256).alias("content_hash"),
            )

        return [
            ("urls.normalize", normalize),
            ("urls.validate", validate),
            ("robots", lambda d: disallow_prefix_filter(d, self.robots)),
            (
                "politeness",
                lambda d: enforce_host_budget(
                    d, self.budgets, host_col="host", order_cols=("page_url", "seq"),
                    salt_buckets=min(self.cores, 16),
                ),
            ),
            ("seen", lambda d: d.join(self.visited, "norm_url", "left_anti")),
            ("spans.fetch_parse", fetch_parse),
        ]

    @staticmethod
    def _digest(df) -> dict:
        """Row count plus order-insensitive hashes of the fetched rows:
        ``doc_hash`` over doc ids, ``row_hash`` over every column (so
        title and body hash are computed, not pruned)."""
        r = df.agg(
            F.count(F.lit(1)).alias("rows"),
            _hash_sum("doc_id").alias("doc_hash"),
            _hash_sum("doc_id", "title", "content_hash").alias("row_hash"),
        ).first()
        return {"rows": int(r["rows"]), "doc_hash": int(r["doc_hash"] or 0),
                "row_hash": int(r["row_hash"] or 0)}

    # ------------------------------------------------------------- check
    def prepare_check(self, spark) -> None:
        """Expected output for any seed: the same round in its plain
        one-window form, written without the program's kernels."""
        raw = self.docs.select(
            F.col("doc_id").alias("page_url"),
            F.posexplode(
                F.expr("transform(filter(spans, s -> s.kind = 'link'), s -> s.media_ref)")
            ).alias("seq", "link"),
        )
        url = F.rtrim(F.trim("link"), F.lit("/"))
        links = raw.select(
            "page_url", "seq", url.alias("url"),
            F.regexp_extract(url, r"^https?://([^/:?#]*)", 1).alias("host"),
            F.regexp_replace(url, r"^https?://[^/]*", "").alias("path"),
        ).filter(~F.col("path").startswith("/private"))
        w = Window.partitionBy("host").orderBy("page_url", "seq")
        kept = links.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= self.budget
        )
        seen = self.docs.select(
            F.lower(F.rtrim(F.trim("doc_id"), F.lit("/"))).alias("norm")
        ).filter(self._visited_pred("norm"))
        new = kept.withColumn("norm", F.lower("url")).join(seen, "norm", "left_anti")
        fetched = new.join(self.docs.select("doc_id"), F.col("url") == F.col("doc_id"))
        r = fetched.agg(
            F.count(F.lit(1)).alias("rows"), _hash_sum("doc_id").alias("doc_hash")
        ).first()
        self.reference = {"rows": int(r["rows"]), "doc_hash": int(r["doc_hash"] or 0)}

    def check(self, out: dict) -> bool:
        ref = self.reference
        ok = out["rows"] == ref["rows"] and out["doc_hash"] == ref["doc_hash"]
        rec = expected(self.name, self.key)
        if rec is not None:
            ok = ok and out == rec
        return ok

    # ---------------------------------------------------------------- op
    def op(self, spark, work: str) -> tuple[int, dict, float]:
        t0 = time.perf_counter()
        df = self.docs
        for _, step in self.layers():
            df = step(df)
        out = self._digest(df)
        return self.n_docs * self.links, out, time.perf_counter() - t0

    def traced_op(self, spark, work: str, tracer) -> tuple[int, dict, float, dict]:
        """The round with each layer materialized before the next starts,
        so each layer's jobs are its own (no prefix re-runs)."""
        rows, spans, cached = {}, {}, []
        df = self.docs
        with tracer.span("frontier_round.op") as root:
            for layer, step in self.layers():
                with tracer.span(layer) as sp:
                    df = step(df).persist()
                    rows[layer] = df.count()
                cached.append(df)
                spans[layer] = sp
            with tracer.span("check"):
                out = self._digest(df)
        for d in cached:
            d.unpersist()
        wall = root["end"] - root["start"]
        return self.n_docs * self.links, out, wall, {"root": root, "rows": rows, "spans": spans}

    def layer_metrics(self, tracer, costs, traced: dict) -> dict:
        root, rows, spans = traced["root"], traced["rows"], traced["spans"]
        m = {}
        wall = root["end"] - root["start"]
        self_total = 0.0
        for layer, sp in spans.items():
            c = EL.merge([costs.get(s["id"], EL.SpanCost())
                          for s in [sp] + tracer.descendants(sp["id"])])
            self_total += tracer.self_time(sp)
            m[f"{layer}.wall_s"] = sp["end"] - sp["start"]
            m[f"{layer}.rows_out"] = rows[layer]
            m[f"{layer}.shuffle_write_bytes"] = c.shuffle_write_bytes
            m[f"{layer}.task_skew"] = EL.task_skew(c)

        def ratio(a, b):
            return rows[a] / rows[b] if rows[b] else 0.0

        m["robots.kept_ratio"] = ratio("robots", "urls.validate")
        m["politeness.kept_ratio"] = ratio("politeness", "robots")
        m["seen.new_ratio"] = ratio("seen", "politeness")
        m["spans.fetch_parse.hit_ratio"] = ratio("spans.fetch_parse", "seen")
        every = EL.merge([costs.get(s["id"], EL.SpanCost())
                          for s in [root] + tracer.descendants(root["id"])])
        m["spill_bytes"] = every.spill_bytes
        m["driver_gap_s"] = EL.driver_gap(every.jobs, root["start"], root["end"])
        m["span_coverage"] = self_total / wall if wall > 0 else 0.0
        return m


class CrawlBFS:
    """``CrawlEngine.run`` on inputs built by ``jobs/crawl_job.build_inputs``.

    The seed picks the window of seed source ids: seed ``s`` claims the
    pages ``w * n_seeds .. (w + 1) * n_seeds - 1`` with
    ``w = s mod (n_docs / n_seeds)``.
    """

    name = "crawl_bfs"
    min_ops = 1

    def __init__(self, seed: int, cores: int, smoke: bool):
        self.seed = seed
        self.cores = cores
        self.n_docs = 2_000 if smoke else 20_000
        self.n_seeds = 10 if smoke else 100
        self.max_depth = 1
        self.budget = 100
        self.shuffle_partitions = 8
        self.key = f"{self.n_docs}:{seed}"
        self.n_ops = 0
        self.first_out = None

    def setup(self, spark, work: str) -> None:
        from jobs.crawl_job import build_inputs, parse_args
        from thecrowler_spark.operators.frontier import CrawlConfig, CrawlEngine

        lo = self.seed % (self.n_docs // self.n_seeds) * self.n_seeds
        args = parse_args([
            "--docs", str(self.n_docs), "--hosts", "500", "--links", "8",
            "--seeds", str(lo + self.n_seeds), "--max-depth", str(self.max_depth),
            "--check-robots", "--host-budget", "--budget-per-round", str(self.budget),
            "--salt-buckets", "8", "--shuffle-partitions", "8", "--output", work,
        ])
        docs, seeds, robots, budgets = build_inputs(spark, args)
        self.seeds = seeds.filter(F.col("source_id") >= lo)
        # the config crawl_job.main builds from these flags
        cfg = CrawlConfig(
            max_depth=args.max_depth, max_links=args.max_links,
            max_rounds=args.max_rounds, check_robots=args.check_robots,
            use_host_budget=args.host_budget, salt_buckets=args.salt_buckets,
            shuffle_partitions=args.shuffle_partitions,
        )
        self.state = os.path.join(work, "state")
        self.engine = CrawlEngine(
            spark, docs, cfg=cfg, robots=robots, budgets=budgets, work_dir=self.state
        )

    def release(self) -> None:
        self.engine.parsed.unpersist()
        self.engine.fetch_side.unpersist()

    def prepare_check(self, spark) -> None:
        pass

    def check(self, out: dict) -> bool:
        fetched = out["fetched"]
        ok = (
            len(fetched) == self.max_depth + 1
            and fetched[0] == self.n_seeds
            and out["visited"] == sum(fetched)
            and all(f <= self.budget * 500 for f in fetched[1:])
        )
        # every op of one run crawls the same inputs: same answer
        if self.first_out is None:
            self.first_out = out
        ok = ok and out == self.first_out
        rec = expected(self.name, self.key)
        if rec is not None:
            ok = ok and out == rec
        return ok

    def _crawl(self, spark, tracer=None):
        """One ``CrawlEngine.run``; returns (output, run() wall, root span,
        lineage). The run's checkpoint directory is removed afterwards."""
        from contextlib import nullcontext

        from spans import wrap_actions

        self.n_ops += 1
        run_id = f"op{self.n_ops}"
        traced = wrap_actions(tracer, spark, PROGRAM_DIRS) if tracer else nullcontext()
        root = None
        try:
            with traced:
                t0 = time.perf_counter()
                if tracer:
                    with tracer.span("crawl_bfs.op") as root:
                        res = self.engine.run(self.seeds, run_id=run_id)
                else:
                    res = self.engine.run(self.seeds, run_id=run_id)
                wall = time.perf_counter() - t0
            out = {"visited": res.visited.count(),
                   "fetched": [r["fetched"] for r in res.lineage]}
        finally:
            shutil.rmtree(os.path.join(self.state, run_id), ignore_errors=True)
        return out, wall, root, res.lineage

    def op(self, spark, work: str) -> tuple[int, dict, float]:
        out, wall, _, _ = self._crawl(spark)
        return out["visited"], out, wall

    def traced_op(self, spark, work: str, tracer) -> tuple[int, dict, float, dict]:
        out, wall, root, lineage = self._crawl(spark, tracer)
        return out["visited"], out, wall, {"root": root, "lineage": lineage}

    def layer_metrics(self, tracer, costs, traced: dict) -> dict:
        root, lineage = traced["root"], traced["lineage"]
        wall = root["end"] - root["start"]
        m = {}
        for row in lineage:
            k = row["round"]
            m[f"round{k}.wall_s"] = row["elapsed_sec"]
            m[f"round{k}.frontier_in"] = row.get("frontier_in", 0)
            m[f"round{k}.fetched"] = row["fetched"]
        spans = [root] + tracer.descendants(root["id"])
        every = EL.merge([costs.get(s["id"], EL.SpanCost()) for s in spans])
        m["jobs"] = len(every.jobs)
        m["jobs_per_round"] = len(every.jobs) / max(len(lineage), 1)
        m["task_busy_ratio"] = every.task_run_s / (wall * self.cores) if wall > 0 else 0.0
        m["driver_gap_s"] = EL.driver_gap(every.jobs, root["start"], root["end"])
        m["shuffle_write_bytes"] = every.shuffle_write_bytes
        m["spill_bytes"] = every.spill_bytes
        m["task_skew"] = EL.task_skew(every)

        def family(pred):
            picked = [s for s in spans[1:] if pred(s["name"])]
            c = EL.merge([costs.get(s["id"], EL.SpanCost()) for s in picked])
            return c, sum(s["end"] - s["start"] for s in picked)

        probe, probe_s = family(
            lambda n: n in ("CrawlEngine._run_rounds:count", "CrawlEngine._run_rounds:first")
        )
        m["probe.jobs"] = len(probe.jobs)
        m["probe.wall_s"] = probe_s
        ckpt, ckpt_s = family(
            lambda n: n.split(":")[0] in ("CrawlEngine._ckpt", "CrawlEngine._ckpt_delta")
        )
        m["ckpt.jobs"] = len(ckpt.jobs)
        m["ckpt.wall_s"] = ckpt_s
        m["ckpt.bytes_written"] = ckpt.bytes_written
        return m


LANES = {cls.name: cls for cls in (FrontierRound, CrawlBFS)}
