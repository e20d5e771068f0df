"""Benchmark command.

    python3 perfbench/run.py --workload news_ingest --seed 1 --seconds 10 --trace 0

Runs one workload on one Spark session (``local[<cpus available>]``,
one driver process) from the root of a checkout, checks its outputs
against computations made apart from the program, and prints one JSON
object as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and a streaming progress listener and reports the
per-layer metrics instead. A full report (both kinds of metric when
traced, per-phase samples, problems found) goes to standard error on a
line starting with ``perfbench-report``.

Every run works under a fresh directory ``.perfbench-run/<pid>`` of the
checkout (checkpoints, sinks, Spark local dirs, the dedup store dirs,
the event log, temporary files) and removes it at the end. A run that
changed any other file of the checkout or of the corpus directory is
reported as incorrect.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import sys
import time
import traceback

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = ".perfbench-run"
SKIP_DIRS = {RUNS_DIR, ".bench_build", ".git"}



def declared_metrics(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the ``end_to_end`` or ``per_layer`` metrics
    declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


def snapshot(top: str, skip: set[str] = frozenset()) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``top``."""
    out = {}
    for d, dirs, files in os.walk(top):
        dirs[:] = [x for x in dirs if not (d == top and x in skip)]
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def diff(before: dict, after: dict) -> list[str]:
    changed = [p for p in set(before) | set(after) if before.get(p) != after.get(p)]
    return sorted(changed)


class Context:
    def __init__(self, run_dir: str, seed: int, sf_dir: str, trace: bool):
        self.root = ROOT
        self.run_dir = run_dir
        self.seed = seed
        self.sf_dir = sf_dir
        self.trace = trace
        self.query_ids: set[str] = set()
        self.spark = None
        self.spans = None

    def path(self, name: str) -> str:
        p = os.path.join(self.run_dir, name)
        os.makedirs(p, exist_ok=True)
        return p


def peak_rss_mb(spark) -> float:
    """High-water resident memory of the driver JVM plus this Python
    process (the Python workers are not counted)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(60)
        except Exception:  # noqa: BLE001 - last resort: never leave it running
            proc.kill()
            proc.wait(30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["news_ingest", "analyst_catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its session and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401  (the program's query entry points)
        import real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(ROOT, "scripts", "check_oracle.py")):
        print("perfbench: scripts/check_oracle.py is missing", file=sys.stderr)
        return 2

    corpus_root = os.path.dirname(__spark_entry__.SF0_01)
    sf_dir = os.path.join(corpus_root, "sf0.1")
    run_dir = os.path.join(ROOT, RUNS_DIR, str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tree_before = snapshot(ROOT, SKIP_DIRS)
    data_before = snapshot(corpus_root)

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "SPARK_GRAFT_SHINGLE_DIR": os.path.join(run_dir, "shingles"),
            "SPARK_GRAFT_DERIVED_DIR": os.path.join(run_dir, "derived"),
            "SPARK_GRAFT_DUCK_MEM": "2GB",
            "TMPDIR": tmp,
            "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
            "PYTHONDONTWRITEBYTECODE": "1",
        }
    )
    import tempfile

    tempfile.tempdir = tmp

    from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark import (
        get_spark,
    )

    from perfbench.analyst_catalog import AnalystCatalog
    from perfbench.news_ingest import NewsIngest
    from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.streaming.latency import (
        LatencyListener,
    )

    from perfbench.trace import Spans, adopt_orphans, fold_event_log, owned, sum_jobs

    ctx = Context(run_dir, args.seed, sf_dir, bool(args.trace))
    extra = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    event_dir = os.path.join(run_dir, "eventlog")
    if ctx.trace:
        os.makedirs(event_dir)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                # one plain file, not Spark 4's default rolling directory
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    workload = None
    spark = None
    listener = None
    status = 1
    try:
        t_setup = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus, extra=extra)
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        ctx.spans = Spans(spark)
        if ctx.trace:
            listener = LatencyListener()
            spark.streams.addListener(listener)
        workload = {"news_ingest": NewsIngest, "analyst_catalog": AnalystCatalog}[
            args.workload
        ](ctx)
        workload.setup()
        setup_s = time.perf_counter() - t_setup

        workload.measure(args.seconds)
        workload.stop_streams()
        e2e = {"setup_s": setup_s, **workload.metrics()}

        layers = {}
        if ctx.trace:
            layers.update(workload.extra_layer_calls())
        with ctx.spans.span("check"):
            problems = workload.check()
        layers["driver.peak_rss_mb"] = peak_rss_mb(spark)
        if ctx.trace:
            spark.streams.removeListener(listener)
        stop_spark(spark)
        spark = None
        if ctx.trace:
            jobs = fold_event_log(event_dir)
            adopt_orphans(jobs, ctx.spans.spans)
            layers.update(workload.layers(jobs, listener))
            groups = {s[0] for s in ctx.spans.spans}
            layers["unattributed_task_s"] = sum_jobs(
                [j for j in jobs if not owned(j, groups, ctx.query_ids)], "task_s"
            )
        status = 0
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
    finally:
        if spark is not None:
            if workload is not None:
                try:
                    workload.stop_streams()
                except Exception:  # noqa: BLE001 - still stop the session
                    traceback.print_exc()
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, RUNS_DIR))
        except OSError:
            pass
    if status != 0:
        return status

    changed = diff(tree_before, snapshot(ROOT, SKIP_DIRS)) + diff(
        data_before, snapshot(corpus_root)
    )
    if changed:
        problems.append(f"run changed files outside its run directory: {changed[:5]}")
    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)

    if ctx.trace:
        metrics = {
            n: {"value": float(layers.get(n, 0.0)), "unit": u}
            for n, u in declared_metrics("per_layer")
        }
    else:
        metrics = {
            n: {"value": float(e2e[n]), "unit": u} for n, u in declared_metrics("end_to_end")
        }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "end_to_end": e2e,
        "layers": layers,
        "detail": workload.report(),
        "spans_s": {
            n: round(t1 - t0, 3) for n, t0, t1 in ctx.spans.spans if not n.startswith("plans.")
        },
        "problems": problems,
    }
    print("perfbench-report " + json.dumps(report), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": workload.attempted,
                "failed": 0,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
