"""Workload ``analyst_catalog``: one analyst session over the query
catalog.

A closed loop (one client, next query after the previous one returns)
runs passes over a fixed mix of registry queries at sf0.1, in a seeded
order per pass, with the session's caches cleared after each query:

- every ``sentiment_queries`` entry, among them the driver-paced
  gradient-descent loop of ``linear_sentiment_agreement`` (the read
  side: the dashboard's analytics over scored documents);
- relational, text and similarity queries with few jobs.

Set-up runs each few-job query and ``sentiment_docs`` once, untimed,
so that the session's own warm-up (the first scans, the first Python
worker, the JIT) is paid before the timed pass and not by whichever
query the seeded order puts first. There is no untimed pass of the
whole mix, so the timed pass runs the other ``sentiment_queries``
entries for the first time in the session
(plan compilation, the model load of ``mllib_sentiment_agreement``): a
warm pass costs ~30 s a run at 4 cores, more than the run budget
allows.

The traced run also exercises the dedup store after the timed part,
over the sf0.01 corpus: a forced batch build, two read-side probes, and
a fold of the same corpus through the streaming dedup index. The probes
must match their oracles and the folded store must equal the built one,
table by table. A dedup store in every run costs 25-35 s of cold build,
more than the run budget allows.

Every result is compared with its DuckDB oracle.
"""

from __future__ import annotations

import os
import random
import time

from . import reference
from .trace import MAINTENANCE_GROUP, driver_gap_s, sum_jobs

FEW_JOBS = [
    "promo_revenue",
    "customers_without_orders",
    "monthly_order_stats",
    "token_stats_by_source",
    "cosine_knn_topk",
    "embedding_norms_by_label",
]
# the cheapest sentiment query, to start the scorer's Python workers
WARM = FEW_JOBS + ["sentiment_docs"]
# one probe of the MinHash band index, one of the SimHash signature
# index (traced run only)
PROBES = ["incremental_near_dup", "simhash_pairs"]
DEDUP_SF = "sf0.01"
PLAN_MODULES = ["relational_queries", "sentiment_queries", "text_queries", "similarity_queries"]
FOLD_FILES = 3
STORE_TABLES = ["meta", "df", "stop", "arrays", "hashes", "bands", "simsig", "simsig64"]


def _module(q) -> str:
    return q.fn.__module__.rsplit(".", 1)[-1]


def mix() -> list[str]:
    from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.plans import (
        REGISTRY,
    )

    sentiment = [n for n, q in REGISTRY.items() if _module(q) == "sentiment_queries"]
    return sentiment + FEW_JOBS


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class AnalystCatalog:
    name = "analyst_catalog"

    def __init__(self, ctx):
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.plans import (
            REGISTRY,
        )

        self.ctx = ctx
        # the store and its probes use the smaller corpus: a cold sf0.1
        # build alone costs ~35 s at 4 cores
        self.dedup_sf = os.path.join(os.path.dirname(ctx.sf_dir), DEDUP_SF)
        self.d = ctx.path("catalog")
        self.registry = REGISTRY
        self.names = mix()
        self.samples: list[tuple[str, float]] = []  # (query, seconds)
        self.results: dict[str, list] = {}  # query -> [(cols, rows)] per pass
        self.passes = 0
        self.fold_store = None
        self.build_s = None
        self.probe_s = None

    def _span(self, name: str, tag: str) -> str:
        m = _module(self.registry[name])
        kind = "probe" if name in PROBES else m
        return f"plans.{kind}:{name}:{tag}"

    def _sf(self, name: str) -> str:
        return self.dedup_sf if name in PROBES else self.ctx.sf_dir

    def _run(self, name: str, tag: str):
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark import (
            clear_caches,
        )

        ctx = self.ctx
        with ctx.spans.span(self._span(name, tag)):
            t = time.perf_counter()
            df = self.registry[name].fn(ctx.spark, self._sf(name))
            rows = [tuple(r) for r in df.collect()]
            dt = time.perf_counter() - t
        clear_caches(ctx.spark)
        return df.columns, rows, dt

    def setup(self):
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark import (
            clear_caches,
        )

        ctx = self.ctx
        for name in WARM:
            with ctx.spans.span(f"setup:warm:{name}"):
                self.registry[name].fn(ctx.spark, ctx.sf_dir).collect()
            clear_caches(ctx.spark)

    def measure(self, seconds: float):
        rng = random.Random(self.ctx.seed)
        t0 = time.perf_counter()
        while self.passes == 0 or time.perf_counter() - t0 < seconds:
            order = list(self.names)
            rng.shuffle(order)
            for name in order:
                cols, rows, dt = self._run(name, f"p{self.passes}")
                self.samples.append((name, dt))
                self.results.setdefault(name, []).append((cols, rows))
            self.passes += 1
        self.wall_s = time.perf_counter() - t0
        self.attempted = len(self.samples)

    def stop_streams(self):
        pass

    def metrics(self) -> dict:
        """Mean time per query of each class over the whole run: every
        query of the mix counts once per pass, so which query happens
        to sit in the middle does not move the figure."""
        from statistics import fmean

        return {
            "latency_s": fmean(dt for n, dt in self.samples if n in FEW_JOBS),
            "throughput_per_s": len(self.samples) / self.wall_s,
            "read_s": fmean(dt for n, dt in self.samples if n not in FEW_JOBS),
        }

    def report(self) -> dict:
        return {
            "passes": self.passes,
            "store_build_s": self.build_s,
            "probe_s": self.probe_s,
            "query_s": {n: [round(dt, 4) for m, dt in self.samples if m == n] for n in self.names},
        }

    def extra_layer_calls(self) -> dict:
        """Traced run only, after the timed part: the dedup store's
        forced batch build, its two probes, and a fold of the same corpus
        through the streaming dedup index (one file per micro-batch,
        background maintenance), for their layer metrics and for the
        probe-oracle and fold-equals-build checks."""
        from pyspark.sql import functions as F

        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.plans.dedup_queries import (
            _corpus,
        )
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.streaming.dedup_index import (
            finalize_dedup_index,
            start_dedup_index_stream,
            wait_maintenance,
        )

        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.plans.dedup_queries import (
            build_shingle_artifact,
        )

        ctx = self.ctx
        spark = ctx.spark
        with ctx.spans.span("layer:build"):
            t = time.perf_counter()
            self.batch_store = build_shingle_artifact(spark, self.dedup_sf, force=True)
            self.build_s = time.perf_counter() - t
        self.probe_s = {}
        for name in PROBES:
            cols, rows, self.probe_s[name] = self._run(name, "probe")
            self.results[name] = [(cols, rows)]
        self.fold_in = os.path.join(self.d, "fold_in")
        store_root = os.path.join(self.d, "fold_store")
        with ctx.spans.span("layer:fold_input"):
            # the corpus split into files by a seeded hash of doc_id
            docs = _corpus(spark, self.dedup_sf).select(
                "doc_id", F.concat_ws(" ", "toks").alias("text")
            )
            part = F.pmod(F.xxhash64("doc_id", F.lit(ctx.seed)), F.lit(FOLD_FILES))
            docs.repartition(FOLD_FILES, part).write.parquet(self.fold_in)
        # the stream id owns the fold's jobs; the spans only mark its
        # life and the wait for its background refresh
        with ctx.spans.span("layer:fold", group=False):
            q = start_dedup_index_stream(
                spark,
                self.fold_in,
                store_root,
                os.path.join(self.d, "fold_ck"),
                available_now=True,
                max_files_per_trigger=1,
                merge_every=2,
                async_maintenance=True,
            )
            self.fold_query_id = str(q.id)
            ctx.query_ids.add(self.fold_query_id)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"dedup fold failed: {q.exception()}")
        with ctx.spans.span("layer:fold_maintenance_wait", group=False):
            wait_maintenance(store_root)
        with ctx.spans.span("layer:fold_finalize"):
            self.fold_store = finalize_dedup_index(spark, store_root)
        return {}

    def check(self) -> list[str]:
        import importlib.util

        ctx = self.ctx
        problems = self._check_stores() if self.fold_store else []
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(ctx.root, "scripts", "check_oracle.py")
        )
        oracle_mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(oracle_mod)
        cons, oracles = {}, {}
        for name in self.results:
            sf = self._sf(name)
            if sf not in cons:
                cons[sf] = oracle_mod.duck_con(sf)
                cons[sf].execute(f"SET temp_directory='{ctx.path('duckdb')}'")
                oracles[sf] = oracle_mod.entry_mod.oracle_sql(sf)
            oracle = oracles[sf].get(name)
            if oracle is None:
                problems.append(f"{name}: no oracle SQL")
                continue
            res = cons[sf].execute(oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            for cols, rows in self.results[name]:
                problems += reference.check_query_rows(
                    name, cols, rows, dcols, drows, oracle_mod.norm_rows
                )
        for con in cons.values():
            con.close()
        return problems

    def _check_stores(self) -> list[str]:
        """The stream-folded store must equal the batch-built one, table
        by table (``kept`` as its logical merge-on-read relation)."""
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.plans.dedup_queries import (
            resolve_kept,
        )

        spark = self.ctx.spark
        problems = []
        pairs = {
            t: (
                spark.read.parquet(os.path.join(self.fold_store, t)),
                spark.read.parquet(os.path.join(self.batch_store, t)),
            )
            for t in STORE_TABLES
        }
        pairs["kept"] = (
            resolve_kept(spark, self.fold_store),
            resolve_kept(spark, self.batch_store).select("doc_id", "sh_arr"),
        )
        for t, (a, b) in pairs.items():
            cols = sorted(b.columns)
            a, b = a.select(*cols), b.select(*cols)
            if a.exceptAll(b).count() or b.exceptAll(a).count():
                problems.append(f"folded store table {t} differs from the batch build")
        return problems

    def layers(self, jobs: list[dict], listener) -> dict:
        from statistics import median

        passes = self.passes
        by_group: dict[str, list] = {}
        for j in jobs:
            by_group.setdefault(j["group"], []).append(j)
        timed = [s for s in self.ctx.spans.spans if s[0].startswith("plans.")]
        res = {}
        for m in PLAN_MODULES + ["probe"]:
            spans = [s for s in timed if s[0].startswith(f"plans.{m}:")]
            js = [j for s in spans for j in by_group.get(s[0], [])]
            # the probes run once, in the traced extras
            p, n = (f"plans.{m}.", passes) if m != "probe" else ("plans.dedup_queries.probe.", 1)
            res[p + "jobs"] = len(js) / n
            res[p + "task_s"] = sum_jobs(js, "task_s") / n
            res[p + "input_bytes"] = sum_jobs(js, "input_bytes") / n
            if m != "probe":
                res[p + "tasks"] = sum_jobs(js, "tasks") / passes
                res[p + "gc_s"] = sum_jobs(js, "gc_s") / passes
                res[p + "shuffle_bytes"] = sum_jobs(js, "shuffle_bytes") / passes
                res[p + "driver_gap_s"] = driver_gap_s(spans, by_group) / passes
        build = by_group.get("layer:build", [])
        res.update(
            {
                "plans.dedup_queries.build.jobs": len(build),
                "plans.dedup_queries.build.task_s": sum_jobs(build, "task_s"),
                "plans.dedup_queries.build.jvm_cpu_s": sum_jobs(build, "cpu_s"),
                "plans.dedup_queries.build.bytes_written": sum_jobs(build, "output_bytes"),
            }
        )
        # the fold's own jobs, and the orphans of its life: the
        # deferred merges its batches start and the pool jobs of its
        # background refresh carry neither its id nor a group
        fold_jobs = [
            j
            for j in jobs
            if j["query_id"] == self.fold_query_id or j["group"] == "layer:fold"
        ]
        batches = [
            p
            for p in listener.for_query(self.fold_query_id)
            if p["numInputRows"] > 0
        ]
        maintenance = by_group.get(MAINTENANCE_GROUP, []) + by_group.get(
            "layer:fold_maintenance_wait", []
        )
        res.update(
            {
                "streaming.dedup_index.jobs_per_batch": len(fold_jobs) / len(batches),
                "streaming.dedup_index.add_batch_ms_p50": median(
                    b["durationMs"].get("addBatch", 0) for b in batches
                ),
                "streaming.dedup_index.maintenance_s": sum_jobs(maintenance, "task_s"),
                "streaming.dedup_index.store_bytes_per_input_byte": _du(self.fold_store)
                / _du(self.fold_in),
            }
        )
        return res
