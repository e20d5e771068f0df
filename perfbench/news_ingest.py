"""Workload ``news_ingest``: a news day through the streaming engine.

1. Trickle (open loop): small article files land on a fixed schedule
   into a live ``start_pipeline`` query with a short trigger, so the
   per-micro-batch overhead dominates. Each file is timed from when it
   was due to land until the commit of the micro-batch that read it.
2. Backlog: a fixed backlog is drained with ``availableNow``, each
   time into a fresh checkpoint and sink; the per-article scoring
   kernel dominates.
3. Refresh (closed loop): ``serving.dashboard_metrics`` over the
   scored sink the first drain wrote.
"""

from __future__ import annotations

import os
import time

from . import reference
from .inputs import ArticleGenerator, load_texts, parse_lines, write_lines
from .trace import sum_jobs

TRIGGER_SECONDS = 0.5
LAND_INTERVAL_S = 0.2
LINES_PER_FILE = 25
BACKLOG_LINES = 16000
BACKLOG_FILES = 8
DRAINS = 3
REFRESHES = 3
WARM_FILES = 4


class NewsIngest:
    name = "news_ingest"

    def __init__(self, ctx):
        self.ctx = ctx
        self.d = ctx.path("ingest")
        self.trickle_in = os.path.join(self.d, "trickle_in")
        self.trickle_out = os.path.join(self.d, "trickle_out")
        self.trickle_ck = os.path.join(self.d, "trickle_ck")
        self.backlog_in = os.path.join(self.d, "backlog_in")
        self.warm_in = os.path.join(self.d, "warm_in")
        self.lines: dict[str, list[str]] = {}  # file path -> lines
        self.landed: list[tuple[str, float, float]] = []  # (path, due, landed)
        self.drain_s: list[float] = []
        self.refresh_s: list[float] = []
        self.refresh_results: list[dict] = []
        self.warm_batches = 0

    # ---- inputs -------------------------------------------------------
    def _stage(self):
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.functions.sentiment import (
            LEXICON,
        )

        texts = load_texts(os.path.join(self.ctx.sf_dir, "documents.parquet"))
        self.gen = ArticleGenerator(texts, self.ctx.seed, {w for w, _ in LEXICON})
        for d in (self.trickle_in, self.backlog_in, self.warm_in):
            os.makedirs(d)
        per = BACKLOG_LINES // BACKLOG_FILES
        for f in range(BACKLOG_FILES):
            p = os.path.join(self.backlog_in, f"part{f}.json")
            self.lines[p] = self.gen.lines(f"b{f}", per)
            write_lines(p, self.lines[p])
        for f in range(BACKLOG_FILES):
            p = os.path.join(self.warm_in, f"part{f}.json")
            self.lines[p] = self.gen.lines(f"w{f}", per)
            write_lines(p, self.lines[p])

    def _land(self, k: int, prefix: str) -> str:
        p = os.path.join(self.trickle_in, f"{prefix}{k:05d}.json")
        self.lines[p] = self.gen.lines(f"{prefix}{k}", LINES_PER_FILE)
        write_lines(p, self.lines[p])
        return p

    # ---- stream helpers -----------------------------------------------
    def _file_batches(self) -> dict[str, int]:
        """file path -> micro-batch id, from the file source's own log
        in the checkpoint (plain and compacted log files alike)."""
        import json

        log = os.path.join(self.trickle_ck, "sources", "0")
        out = {}
        for name in os.listdir(log):
            if name.startswith("."):
                continue
            with open(os.path.join(log, name), encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[e["path"].replace("file://", "")] = int(e["batchId"])
        return out

    def _commit_time(self, batch_id: int) -> float | None:
        p = os.path.join(self.trickle_ck, "commits", str(batch_id))
        try:
            return os.stat(p).st_mtime
        except FileNotFoundError:
            return None

    def _wait_committed(self, paths: list[str], timeout: float = 90.0) -> None:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self.query.exception() is not None:
                raise RuntimeError(f"trickle stream failed: {self.query.exception()}")
            fb = self._file_batches()
            if all(p in fb and self._commit_time(fb[p]) is not None for p in paths):
                return
            time.sleep(0.05)
        raise TimeoutError("trickled files were not committed in time")

    def _drain(self, src: str, tag: str) -> str:
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.streaming import (
            start_pipeline,
        )

        out = os.path.join(self.d, f"{tag}_out")
        q = start_pipeline(
            self.ctx.spark,
            src,
            out,
            os.path.join(self.d, f"{tag}_ck"),
            available_now=True,
            memory_table=f"perfbench_{tag}",
        )
        self.ctx.query_ids.add(str(q.id))
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"drain {tag} failed: {q.exception()}")
        return out

    def _refresh(self, sink: str) -> dict:
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.serving import (
            dashboard_metrics,
        )

        scored = self.ctx.spark.read.parquet(os.path.join(sink, "scored"))
        return dashboard_metrics(scored)

    # ---- phases -------------------------------------------------------
    def setup(self):
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.streaming import (
            start_pipeline,
        )

        ctx = self.ctx
        with ctx.spans.span("setup:stage"):
            self._stage()
        self.query = start_pipeline(
            ctx.spark,
            self.trickle_in,
            self.trickle_out,
            self.trickle_ck,
            trigger_seconds=TRIGGER_SECONDS,
            memory_table="perfbench_trickle",
        )
        self.query_id = str(self.query.id)
        ctx.query_ids.add(self.query_id)
        warm = []
        for k in range(WARM_FILES):
            warm.append(self._land(k, "warm"))
            time.sleep(LAND_INTERVAL_S * 2)
        self._wait_committed(warm)
        self.warm_batches = max(self._file_batches().values()) + 1
        with ctx.spans.span("setup:warm_drain"):
            warm_sink = self._drain(self.warm_in, "warm")
        with ctx.spans.span("setup:warm_refresh"):
            self._refresh(warm_sink)

    def measure(self, seconds: float):
        ctx = self.ctx
        # 1. open-loop trickle over half the run
        n_files = max(10, int(round(0.5 * seconds / LAND_INTERVAL_S)))
        t0 = time.time() + 0.1
        paths = []
        for k in range(n_files):
            due = t0 + k * LAND_INTERVAL_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            p = self._land(k, "t")
            self.landed.append((p, due, time.time()))
            paths.append(p)
        self._wait_committed(paths)
        self.stop_streams()
        # 2. backlog drains
        self.drain_sinks = []
        for i in range(DRAINS):
            with ctx.spans.span(f"ingest:drain:{i}"):
                t = time.perf_counter()
                self.drain_sinks.append(self._drain(self.backlog_in, f"drain{i}"))
                self.drain_s.append(time.perf_counter() - t)
        # 3. dashboard refreshes
        for i in range(REFRESHES):
            with ctx.spans.span(f"serving:refresh:{i}"):
                t = time.perf_counter()
                self.refresh_results.append(self._refresh(self.drain_sinks[0]))
                self.refresh_s.append(time.perf_counter() - t)
        self.attempted = n_files + DRAINS + REFRESHES

    def stop_streams(self):
        q = getattr(self, "query", None)
        if q is not None and q.isActive:
            q.stop()

    # ---- results ------------------------------------------------------
    def latencies(self) -> list[float]:
        fb = self._file_batches()
        return [self._commit_time(fb[p]) - due for p, due, _ in self.landed]

    def metrics(self) -> dict:
        from statistics import median

        return {
            "latency_s": median(self.latencies()),
            "throughput_per_s": BACKLOG_LINES / median(self.drain_s),
            "read_s": median(self.refresh_s),
        }

    def report(self) -> dict:
        late = [landed - due for _, due, landed in self.landed]
        return {
            "trickle_files": len(self.landed),
            "lander_late_s_max": max(late),
            "lander_late_s_p50": sorted(late)[len(late) // 2],
            "drain_s": self.drain_s,
            "refresh_s": self.refresh_s,
        }

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.functions.sentiment import (
            LEXICON,
        )

        spark = self.ctx.spark
        lex = dict(LEXICON)
        problems = []

        def ref_for(dir_):
            arts = []
            for p, lines in self.lines.items():
                if os.path.dirname(p) == dir_:
                    arts += parse_lines(lines)
            return reference.reference_scores(arts, lex)

        def sink_rows(sink):
            return [
                tuple(r)
                for r in spark.read.parquet(os.path.join(sink, "scored"))
                .select("id", "polarity", "sentiment")
                .collect()
            ]

        def sink_counts(sink):
            m = spark.read.parquet(os.path.join(sink, "metrics"))
            return {
                r["sentiment"]: r["n"]
                for r in m.groupBy("sentiment").agg(F.sum("cnt").alias("n")).collect()
            }

        def view_counts(table):
            return {
                r["sentiment"]: r["cnt"]
                for r in spark.table(f"global_temp.{table}").collect()
            }

        trickle_ref = ref_for(self.trickle_in)
        want = reference.class_counts(trickle_ref)
        problems += reference.check_scored(
            sink_rows(self.trickle_out), trickle_ref, "trickle sink"
        )
        problems += reference.check_counts(
            sink_counts(self.trickle_out), want, "trickle metrics sink"
        )
        problems += reference.check_counts(
            view_counts("perfbench_trickle"), want, "trickle global view"
        )
        backlog_ref = ref_for(self.backlog_in)
        want = reference.class_counts(backlog_ref)
        for i, sink in enumerate(self.drain_sinks):
            problems += reference.check_scored(
                sink_rows(sink), backlog_ref, f"drain {i} sink"
            )
            problems += reference.check_counts(
                sink_counts(sink), want, f"drain {i} metrics sink"
            )
            problems += reference.check_counts(
                view_counts(f"perfbench_drain{i}"), want, f"drain {i} global view"
            )
        dash = reference.dashboard_reference(backlog_ref)
        for i, got in enumerate(self.refresh_results):
            problems += reference.check_dashboard(got, dash, f"refresh {i}")
        return problems

    # ---- per-layer (traced run only) ------------------------------------
    def extra_layer_calls(self) -> dict:
        """Direct calls into single layers, made after the timed phases:
        the scoring transform over a static frame, and the fan-out over
        a static scored frame."""
        from statistics import median

        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.pipeline import (
            transform_articles,
        )
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.sources.articles import (
            read_articles,
        )
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.streaming.pipeline import (
            batch_fanout,
        )

        ctx = self.ctx
        spark = ctx.spark
        out = {}
        n = BACKLOG_LINES
        times = []
        for i in range(3):
            with ctx.spans.span(f"pipeline:score:{i}"):
                t = time.perf_counter()
                transform_articles(read_articles(spark, self.backlog_in)).write.format(
                    "noop"
                ).mode("overwrite").save()
                times.append(time.perf_counter() - t)
        out["pipeline.score_us_per_article"] = median(times) / n * 1e6
        # one trickle file's worth of scored rows per fan-out call
        static = (
            transform_articles(
                read_articles(spark, os.path.join(self.backlog_in, "part0.json"))
            )
            .limit(LINES_PER_FILE * 4)
            .localCheckpoint()
        )
        fan = batch_fanout(os.path.join(self.d, "fanout_out"), "perfbench_fanout")
        times = []
        for i in range(5):
            with ctx.spans.span(f"streaming.pipeline:fanout:{i}"):
                t = time.perf_counter()
                fan(static, i)
                times.append(time.perf_counter() - t)
        out["streaming.pipeline.fanout_ms_per_batch"] = median(times[1:]) * 1000
        return out

    def layers(self, jobs: list[dict], listener) -> dict:
        from statistics import median

        ctx = self.ctx
        qid = self.query_id
        batches = [
            p
            for p in listener.for_query(qid)
            if p["batchId"] >= self.warm_batches and p["numInputRows"] > 0
        ]

        def dur(key):
            return median(b["durationMs"].get(key, 0) for b in batches)

        per_batch: dict[str, int] = {}
        for j in jobs:
            if j["query_id"] == qid and j["batch_id"] is not None:
                if int(j["batch_id"]) >= self.warm_batches:
                    per_batch[j["batch_id"]] = per_batch.get(j["batch_id"], 0) + 1
        refresh_jobs = [j for j in jobs if (j["group"] or "").startswith("serving:refresh:")]
        return {
            "sources.latest_offset_ms_p50": dur("latestOffset"),
            "streaming.pipeline.query_planning_ms_p50": dur("queryPlanning"),
            "streaming.pipeline.wal_commit_ms_p50": dur("walCommit"),
            "streaming.pipeline.add_batch_ms_p50": dur("addBatch"),
            "streaming.pipeline.jobs_per_batch": median(per_batch.values()) if per_batch else 0,
            "serving.jobs_per_refresh": len(refresh_jobs) / REFRESHES,
            "serving.refresh_task_s": sum_jobs(refresh_jobs, "task_s") / REFRESHES,
        }
