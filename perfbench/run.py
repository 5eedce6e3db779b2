#!/usr/bin/env python3
"""Crawl benchmark: seeded synthetic corpora, oracle-verified outputs.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload crawl_graph --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Each workload is one client running one crawl after another (a closed loop
with one client) on ``local[nproc]``.  A run:

1. sets up once, cold: ``get_spark()`` (JVM start and the session's own
   warm-up), ``generate_corpus(seed)`` and materializing the pages table;
2. runs crawls to fixpoint back to back until ``--seconds`` of crawl wall
   has been measured (always at least one), each through the engine's public
   calls ``CrawlEngine(...)`` → ``seed_from_queries`` → ``run_round`` until
   done → ``finalize`` → ``counters`` → ``write_results(..., "csv")``;
3. checks every crawl, untimed, against ``SequentialOracle`` on the same
   corpus and config (``verify.py``);
4. prints one summary line per metric, then one JSON line.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` turns on Spark's
event log, a job group per span and the Python UDF profiler, and reports the
per-layer metrics instead.  The spans of a traced run are written to
``.perfbench/trace-<workload>-s<seed>.json``.  Everything a run writes stays
under ``.perfbench/`` in the checkout, and its scratch directory is removed
when it ends.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "3g"


@dataclass(frozen=True)
class Workload:
    corpus: dict   # generate_corpus() arguments besides the seed
    config: dict   # CrawlConfig fields
    # stop after this many rounds, commit, and continue through resume()
    interrupt_after: int | None = None


# Both corpora are small on purpose: a crawl's wall on this engine is set by
# its ~6 rounds' fixed cost far more than by page count, and one cold session
# plus one crawl must fit the run budget.  The rationale per workload is in
# BENCHMARK.json and NOTES.md.
WORKLOADS = {
    # SERP -> place -> review-RPC chain -> website email; commits every 2 rounds
    "crawl_graph": Workload(
        corpus=dict(n_seeds=20, places_per_serp=20, dup_fraction=0.3,
                    extra_review_pages=2),
        config=dict(extract_email=True, extra_reviews=True, checkpoint_every=2),
    ),
    # 80% duplicate SERP links die in the seen anti-join; a durable commit
    # every round; stops after round 2 and continues through resume()
    "crawl_seen_durable": Workload(
        corpus=dict(n_seeds=150, places_per_serp=20, dup_fraction=0.8),
        config=dict(extract_email=False, checkpoint_every=1),
        interrupt_after=2,
    ),
}

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "results_per_s": "1/s",
    "urls_scheduled_per_s": "1/s",
}


# ---------------- environment -----------------------------------------------


def host_probe() -> dict:
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": load,
            "steal": ticks[7], "ticks": sum(ticks)}


def prepare_env(run_dir: str) -> None:
    """Pin the program's environment knobs to their defaults and keep every
    file Spark, the JVM and Python write inside ``run_dir``."""
    for key in list(os.environ):
        if key.startswith("GMS_") or key in (
            "SPARK_OFFHEAP_SIZE", "SPARK_GC_OPTS", "SPARK_GRAFT_CPUS",
            "SPARK_LOCAL_DIRS",
        ):
            del os.environ[key]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["GMS_SPARK_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)


def session_conf(run_dir: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions":
            f"-XX:+UseG1GC -XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{event_log}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def shutdown() -> None:
    """Stop the Spark session, then the JVM, and wait until the JVM has
    exited.  Does nothing once both are stopped."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


# ---------------- one crawl -------------------------------------------------


@dataclass
class CrawlOp:
    wall: float = 0.0
    counters: dict = field(default_factory=dict)
    rounds: list = field(default_factory=list)   # run_round stats + span id
    span: int | None = None
    problems: list = field(default_factory=list)
    workdir_bytes: int = 0
    commits: int = 0

    @property
    def results(self) -> int:
        return self.counters.get("results", 0)

    @property
    def scheduled(self) -> int:
        # frontier jobs counted as bench.py counts them
        return sum(
            v for k, v in self.counters.items()
            if isinstance(v, int) and k.endswith(("_done", "_failed", "_new"))
        )


def run_rounds(eng, tr, op: CrawlOp, limit: int | None) -> None:
    for _ in range(limit or eng.cfg.max_rounds):
        with tr.span("crawl.round") as rec:
            stats = eng.run_round()
        rec.update(claimed=stats.get("claimed", 0), chain_hops=stats.get("chain_hops", 0))
        op.rounds.append(rec)
        if stats.get("done"):
            break


def crawl_once(spark, wl: Workload, cfg, pages, seeds, workdir: str, csv_path: str, tr) -> tuple:
    from google_maps_scraper_spark.plans.crawl import CrawlEngine

    op = CrawlOp()
    with tr.span("crawl") as rec:
        op.span = rec["id"]
        with tr.span("crawl.init"):
            eng = CrawlEngine(spark, pages, workdir, cfg)
        with tr.span("crawl.seed"):
            eng.seed_from_queries(seeds)
        run_rounds(eng, tr, op, wl.interrupt_after)
        if wl.interrupt_after:
            with tr.span("crawl.finalize"):
                eng.finalize()  # durable commit of the interrupted round
            del eng
            with tr.span("store.resume"):
                eng = CrawlEngine.resume(spark, pages, workdir, cfg)
            run_rounds(eng, tr, op, None)
        with tr.span("crawl.finalize"):
            eng.finalize()
        with tr.span("crawl.counters"):
            op.counters = eng.counters()
        with tr.span("sinks.csv"):
            eng.write_results(csv_path, "csv")
    op.wall = tr.duration(rec)
    return op, eng


# ---------------- per-layer metrics (traced run) ----------------------------


def extract_us_per_page(corpus) -> dict[str, float]:
    """In-process time of the ``extract`` parsers over the corpus's pages."""
    from google_maps_scraper_spark.extract.emails import extract_emails
    from google_maps_scraper_spark.extract.entry import entry_from_json
    from google_maps_scraper_spark.extract.place_page import extract_app_init_blob
    from google_maps_scraper_spark.extract.serp import extract_feed_links

    def parse_place(html):
        blob = extract_app_init_blob(html)
        if blob is not None:
            try:
                entry_from_json(blob)
            except Exception:  # malformed pages are part of the corpus
                pass

    kinds = {"serp": [], "place": [], "email": []}
    for p in corpus.pages:
        url = p["url"]
        if url in corpus.serp_to_places:
            kinds["serp"].append(p["html"])
        elif url in corpus.place_meta:
            kinds["place"].append(p["html"])
        elif "/maps/" not in url and "google." not in url:
            kinds["email"].append(p["html"])
    parsers = {"serp": extract_feed_links, "place": parse_place, "email": extract_emails}
    out = {}
    for kind, pages in kinds.items():
        t0 = time.perf_counter()
        for html in pages:
            parsers[kind](html)
        out[f"extract.{kind}_us_per_page"] = (
            (time.perf_counter() - t0) / len(pages) * 1e6 if pages else 0.0
        )
    return out


def extractor_udf_seconds(profile_dir: str) -> float:
    """Seconds spent in the UDFs of ``operators/extractors.py`` (the crawl's
    dispatch UDF among them), from the dumped perf profiles."""
    import pstats

    total = 0.0
    for path in glob.glob(os.path.join(profile_dir, "*.pstats")):
        st = pstats.Stats(path)
        # the worker records file basenames only
        if any(fn[0] == "extractors.py" for fn in st.stats):
            total += st.total_tt
    return total


def layer_metrics(tr, op: CrawlOp, log: dict) -> dict[str, float]:
    """Per-layer metrics of the first crawl, from its spans and the event log."""
    from spans import jobs_under, task_totals, uncovered_by_jobs

    rounds = op.rounds
    walls = [tr.duration(r) for r in rounds]
    claims = [r["claimed"] for r in rounds]
    # the fixed per-round cost: rounds claiming under 10% of the largest claim
    small = [tr.duration(r) for r in rounds if 0 < r["claimed"] < 0.1 * max(claims)]
    if not small:  # no round is that small: take the smallest non-empty one
        small = [min((r["claimed"], tr.duration(r)) for r in rounds if r["claimed"])[1]]
    round_jobs = [jobs_under(log, tr, r["id"], grouped_only=True) for r in rounds]
    tasks = task_totals(log, jobs_under(log, tr, op.span))
    return {
        "session.get_spark_s": tr.total("session.get_spark"),
        "session.warmup_s": tr.total("session.warmup"),
        "corpus.generate_s": tr.total("corpus.generate"),
        "corpus.materialize_s": tr.total("corpus.materialize"),
        "crawl.seed_s": tr.total("crawl.seed", op.span),
        "crawl.finalize_s": tr.total("crawl.finalize", op.span),
        "crawl.counters_s": tr.total("crawl.counters", op.span),
        "crawl.rounds": len(rounds),
        "crawl.claimed_jobs": sum(claims),
        "crawl.chain_hops": sum(r["chain_hops"] for r in rounds),
        "crawl.round_p50_s": statistics.median(walls),
        "crawl.round_max_s": max(walls),
        "crawl.round_small_s": statistics.median(small),
        "crawl.spark_jobs_per_round": sum(len(j) for j in round_jobs) / len(rounds),
        "crawl.stages_per_round": sum(
            len(set().union(*(j["stages"] for j in js)) & log["stages_done"]) if js else 0
            for js in round_jobs
        ) / len(rounds),
        "crawl.driver_gap_s": sum(uncovered_by_jobs(log, r) for r in rounds),
        "crawl.unaccounted_s": tr.self_time(op.span),
        "store.commits": op.commits,
        "store.bytes_written_mb": op.workdir_bytes / 2**20,
        "store.bytes_per_result_kb": op.workdir_bytes / 1024 / max(op.results, 1),
        "sinks.csv_s": tr.total("sinks.csv", op.span),
        "spark.task_cpu_s": tasks["cpu_ns"] / 1e9,
        "spark.task_run_s": tasks["run_ms"] / 1e3,
        "spark.gc_s": tasks["gc_ms"] / 1e3,
        "spark.shuffle_write_mb": tasks["shuffle_write_b"] / 2**20,
        "spark.spill_mb": tasks["spill_b"] / 2**20,
        "trace.wall_s": op.wall,
    }


PER_LAYER = {
    "session.get_spark_s": "s", "session.warmup_s": "s",
    "corpus.generate_s": "s", "corpus.materialize_s": "s",
    "crawl.seed_s": "s", "crawl.finalize_s": "s", "crawl.counters_s": "s",
    "crawl.rounds": "count", "crawl.claimed_jobs": "count", "crawl.chain_hops": "count",
    "crawl.round_p50_s": "s", "crawl.round_max_s": "s", "crawl.round_small_s": "s",
    "crawl.spark_jobs_per_round": "count", "crawl.stages_per_round": "count",
    "crawl.driver_gap_s": "s", "crawl.unaccounted_s": "s", "crawl.admit_ratio": "ratio",
    "store.commits": "count", "store.bytes_written_mb": "MB",
    "store.bytes_per_result_kb": "KB", "store.resume_s": "s",
    "extract.place_us_per_page": "us", "extract.serp_us_per_page": "us",
    "extract.email_us_per_page": "us", "extractors.udf_s": "s", "sinks.csv_s": "s",
    "oracle.sequential_s": "s",
    "spark.task_cpu_s": "s", "spark.task_run_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "jvm.peak_rss_mb": "MB", "trace.wall_s": "s",
}


# ---------------- one workload run ------------------------------------------


def run_workload(name: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    prepare_env(run_dir)
    from spans import Tracer, read_event_log
    from verify import check_crawl, expected_csv_rows, oracle_reference

    import google_maps_scraper_spark.session as session
    from google_maps_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
    from google_maps_scraper_spark.sources.corpus import corpus_to_spark, generate_corpus

    wl = WORKLOADS[name]
    cfg = CrawlConfig(**wl.config)
    nproc = len(os.sched_getaffinity(0))
    tr = Tracer(f"{name}-s{seed}-{os.getpid()}")
    log_dir = os.path.join(run_dir, "eventlog") if trace else None
    if trace:
        warm = session._warm_session_infra

        def traced_warmup(spark):
            with tr.span("session.warmup"):
                warm(spark)

        session._warm_session_infra = traced_warmup

    # one cold set-up: JVM start, session warm-up, corpus, pages table
    with tr.span("setup") as setup:
        with tr.span("session.get_spark"):
            spark = session.get_spark(
                app_name=f"perfbench-{name}", master=f"local[{nproc}]",
                shuffle_partitions=nproc, extra_conf=session_conf(run_dir, log_dir),
            )
        with tr.span("corpus.generate"):
            corpus = generate_corpus(seed=seed, **wl.corpus)
        with tr.span("corpus.materialize"):
            pages = corpus_to_spark(spark, corpus).localCheckpoint(eager=True)
    spark.sparkContext.setLogLevel("ERROR")
    seeds = [(s["query"].split(" #!#")[0], s["custom_id"]) for s in corpus.seeds]

    with tr.span("oracle.sequential"):
        oracle = oracle_reference(corpus, seeds, cfg)
    csv_expected = expected_csv_rows(oracle)

    if trace:
        tr.set_job_groups(spark.sparkContext)
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    ops: list[CrawlOp] = []
    measured = 0.0
    while not ops or measured < seconds:
        i = len(ops)
        workdir = os.path.join(run_dir, f"crawl-{i}")
        csv_path = os.path.join(run_dir, f"csv-{i}")
        t0 = time.perf_counter()
        try:
            op, eng = crawl_once(spark, wl, cfg, pages, seeds, workdir, csv_path, tr)
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            op, eng = CrawlOp(wall=time.perf_counter() - t0), None
            op.problems.append("crawl raised")
        measured += op.wall
        if eng is not None:
            with tr.span("verify"):
                op.problems += check_crawl(eng, op.counters, csv_path, oracle, csv_expected)
            op.workdir_bytes = dir_bytes(workdir)
            op.commits = len(glob.glob(os.path.join(workdir, "round=*", "manifest.json")))
            del eng
        for p in op.problems:
            print(f"{name}: crawl {i} FAILED: {p}", file=sys.stderr)
        ops.append(op)

    if trace:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        tr.set_job_groups(None)
        prof_dir = os.path.join(run_dir, "udf-profile")
        spark.profile.dump(prof_dir, type="perf")
        if wl.interrupt_after is None and not ops[0].problems:
            # read the committed fixpoint state back (the durable workload
            # times its mid-crawl resume inside the crawl instead)
            with tr.span("store.resume"):
                CrawlEngine.resume(spark, pages, os.path.join(run_dir, "crawl-0"), cfg)
    peak_rss = jvm_peak_rss_mb()
    shutdown()

    if trace:
        op = ops[0]
        metrics = layer_metrics(tr, op, read_event_log(log_dir, tr))
        metrics.update(extract_us_per_page(corpus))
        metrics["extractors.udf_s"] = extractor_udf_seconds(prof_dir)
        metrics["oracle.sequential_s"] = tr.total("oracle.sequential")
        metrics["store.resume_s"] = tr.total("store.resume")
        metrics["crawl.admit_ratio"] = op.counters.get("seen", 0) / len(oracle.seen_decisions)
        metrics["jvm.peak_rss_mb"] = peak_rss
        tr.dump(os.path.join(ROOT, ".perfbench", f"trace-{name}-s{seed}.json"))
    else:
        med = statistics.median
        metrics = {
            "setup_s": tr.duration(setup),
            "wall_s": med(o.wall for o in ops),
            "results_per_s": med(o.results / o.wall for o in ops),
            "urls_scheduled_per_s": med(o.scheduled / o.wall for o in ops),
        }
    units = PER_LAYER if trace else END_TO_END
    failed = sum(1 for o in ops if o.problems)
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def run_all(args) -> int:
    """Run every workload in its own process and print one combined line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"{name}: exited with {out.returncode}", file=sys.stderr)
            return 1
        for line in lines[:-1]:
            print(line)
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "google_maps_scraper_spark", "__init__.py")):
        print(f"perfbench: no google_maps_scraper_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    host_start = host_probe()
    try:
        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        if "pyspark" in sys.modules:
            shutdown()  # also when the run raised
        shutil.rmtree(run_dir, ignore_errors=True)
    host_end = host_probe()
    steal = (host_end["steal"] - host_start["steal"]) / max(
        host_end["ticks"] - host_start["ticks"], 1
    )
    print(f"host: nproc={host_start['nproc']} loadavg start={host_start['loadavg']} "
          f"end={host_end['loadavg']} steal={steal:.4f}")
    print(f"{args.workload}: attempted={result['attempted']} failed={result['failed']} "
          f"correct={result['correct']}")
    print(f"{args.workload}: failed_frac = {result['failed'] / result['attempted']:.6g} ratio")
    for k, v in result["metrics"].items():
        print(f"{args.workload}: {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
