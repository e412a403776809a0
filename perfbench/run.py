"""Benchmark entry point. Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

For the named workload it starts one local Spark session, generates
seeded inputs (three times; the median counts), runs the workload's
untimed warm-up if it has one, then timed passes until ``--seconds`` of
pass time is spent and at least the workload's minimum number of passes
is made (``--trace 1``: one traced pass and the workload's layer probes),
checking every pass's outputs. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The line before
it records cores, heap, input sizes and pass times. Traces are written
under ``.perfbench/traces/``. perfbench/BASELINE.md describes the
workloads, metrics and the first baseline.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

HEAP = "2g"
SETUP_REPEATS = 3

END_TO_END = {
    "pass_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
}

# name -> (unit, better). Times of layers inside the traced pass are shares
# of its wall time, times of the layer probes after it are seconds, so a
# layer a workload never enters reads 0, not a fixed time.
PER_LAYER = {
    "trace.pass_s": ("s", "lower"),
    "trace.jobs_unattributed": ("count", "lower"),
    "trace.jobs_ungrouped": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.task_s": ("s", "lower"),
    "spark.gc_share": ("share", "lower"),
    "spark.shuffle_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.input_bytes": ("bytes", "lower"),
    "spark.exec_busy_share": ("share", "higher"),
    "spark.task_skew": ("ratio", "lower"),
    "driver.gap_s": ("s", "lower"),
    "plans.crawl.waves": ("count", "lower"),
    "plans.crawl.jobs": ("count", "lower"),
    "plans.crawl.jobs_per_wave": ("count", "lower"),
    "plans.crawl.wave_median_share": ("share", "lower"),
    "plans.crawl.wave_max_share": ("share", "lower"),
    "plans.crawl.driver_gap_share": ("share", "lower"),
    "plans.crawl.exec_busy_share": ("share", "higher"),
    "sources.fetch.pages": ("count", "higher"),
    "operators.frontier.candidates": ("count", "higher"),
    "operators.frontier.new_urls": ("count", "higher"),
    "operators.frontier.dedup_ratio": ("ratio", "higher"),
    "plans.enrich.records_pipeline.build_share": ("share", "lower"),
    "plans.enrich.records_pipeline.exec_share": ("share", "lower"),
    "plans.enrich.records_pipeline.jobs": ("count", "lower"),
    "plans.enrich.records_pipeline.rows_out": ("count", "higher"),
    **{f"lake.{part}.{k}": u
       for part in ("crawl", "ingest")
       for k, u in (("commits", ("count", "lower")), ("files", ("count", "lower")),
                    ("bytes", ("bytes", "lower")), ("bytes_per_row", ("bytes", "lower")))},
    **{f"operators.frontier.{op}.{k}": u
       for op in ("clean_candidate_links", "first_occurrence_per_page",
                  "dedup_first_discoverer", "anti_join_seen",
                  "assign_enqueue_seq", "take_budgeted")
       for k, u in (("share", ("share", "lower")), ("rows_out", ("count", "higher")))},
    "operators.seen_filter.prune.s": ("s", "lower"),
    "operators.seen_filter.prune.definite_new_ratio": ("ratio", "higher"),
    "jobs.ingest_warc.ingest.s": ("s", "lower"),
    "ingest.jobs": ("count", "lower"),
    "sources.warc.read_warc_gz_binary.s": ("s", "lower"),
    "sources.warc.archive_read_amplification": ("ratio", "lower"),
    "operators.extract.extract_images.s": ("s", "lower"),
    "images.image_features.s": ("s", "lower"),
    "lake.append.s": ("s", "lower"),
    "plans.corpus.build_pair_corpus.build_s": ("s", "lower"),
    "plans.corpus.build_pair_corpus.exec_s": ("s", "lower"),
    "plans.corpus.build_pair_corpus.drop_ratio": ("ratio", "higher"),
    **{f"analytics.queries.{q}.{k}": u
       for q in ("pricing_summary", "topk_per_group", "text_metrics",
                 "minhash_neardup", "ann_topk", "extract_kernels")
       for k, u in (("build_s", ("s", "lower")), ("build_jobs", ("count", "lower")),
                    ("exec_s", ("s", "lower")), ("exec_jobs", ("count", "lower")),
                    ("shuffle_bytes", ("bytes", "lower")))},
}


def engine_present(root: str) -> bool:
    return all(os.path.isfile(os.path.join(root, p)) for p in (
        "web_crawler_spark/__init__.py", "web_crawler_spark/session.py",
        "jobs/ingest_warc_job.py"))


def start_session(work: str, cores: int, trace: bool):
    from web_crawler_spark.session import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(work, "eventlog"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)


def layer_metrics(tracer, log, pass_id: int, cores: int, counts: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced pass ``pass_id``, and the per-span
    table with the attribution and self-time checks."""
    from perfbench.trace import attribute_jobs, descendants, self_times, spark_stats

    spans = tracer.spans
    by_span = attribute_jobs(spans, log)
    root = spans[pass_id]
    wall = root["end"] - root["start"]
    # the traced pass and the layer probes after it; warm-up and untraced
    # passes open spans of the same names earlier
    late = [s for s in spans if s["start"] >= root["start"]]

    def jobs_under(sid):
        return [j for s in descendants(spans, sid) for j in by_span.get(s, [])]

    def named(name):
        return [s for s in late if s["name"] == name]

    def share(name):
        return sum(s["end"] - s["start"] for s in named(name)) / wall

    def stats_of(name):
        sp = named(name)[0]
        return spark_stats(jobs_under(sp["id"]), log, (sp["start"], sp["end"]), cores)

    total = spark_stats(jobs_under(pass_id), log, (root["start"], root["end"]), cores)
    m = dict.fromkeys(PER_LAYER, 0)
    m.update({
        "trace.pass_s": wall,
        "trace.jobs_unattributed": len(by_span.get(-1, [])),
        "trace.jobs_ungrouped": sum(j["group"] is None for j in log["jobs"].values()),
        "spark.jobs": total["jobs"],
        "spark.task_s": total["task_s"],
        "spark.gc_share": total["gc_s"] / total["task_s"] if total["task_s"] else 0.0,
        "spark.shuffle_bytes": total["shuffle_bytes"],
        "spark.spill_bytes": total["spill_bytes"],
        "spark.input_bytes": total["input_bytes"],
        "spark.exec_busy_share": total["exec_busy_share"],
        "spark.task_skew": total["task_skew"],
        "driver.gap_s": total["driver_gap_s"],
    })
    waves = [s["end"] - s["start"] for s in named("plans.crawl.wave")]
    if waves:
        crawl = stats_of("plans.crawl.run")
        run = named("plans.crawl.run")[0]
        m.update({
            "plans.crawl.waves": len(waves),
            "plans.crawl.jobs": crawl["jobs"],
            "plans.crawl.jobs_per_wave": crawl["jobs"] / len(waves),
            "plans.crawl.wave_median_share": statistics.median(waves) / wall,
            "plans.crawl.wave_max_share": max(waves) / wall,
            "plans.crawl.driver_gap_share": crawl["driver_gap_s"] / (run["end"] - run["start"]),
            "plans.crawl.exec_busy_share": crawl["exec_busy_share"],
            "plans.enrich.records_pipeline.build_share": share("plans.enrich.records_pipeline.build"),
            "plans.enrich.records_pipeline.exec_share": share("plans.enrich.records_pipeline.exec"),
            "plans.enrich.records_pipeline.jobs":
                stats_of("plans.enrich.records_pipeline.build")["jobs"]
                + stats_of("plans.enrich.records_pipeline.exec")["jobs"],
        })
    for s in late:
        dt = s["end"] - s["start"]
        for key, v in ((f"{s['name']}.share", dt / wall), (f"{s['name']}.s", dt)):
            if key in m:
                m[key] += v
    if named("jobs.ingest_warc.ingest"):
        sp = named("jobs.ingest_warc.ingest")[0]
        ing = stats_of("jobs.ingest_warc.ingest")
        m.update({
            "ingest.jobs": ing["jobs"],
            "sources.warc.archive_read_amplification":
                ing["input_bytes"] / sp["attrs"]["archive_bytes"],
            "plans.corpus.build_pair_corpus.build_s":
                sum(s["end"] - s["start"] for s in named("plans.corpus.build_pair_corpus.build")),
            "plans.corpus.build_pair_corpus.exec_s":
                sum(s["end"] - s["start"] for s in named("plans.corpus.build_pair_corpus.exec")),
        })
    for s in late:
        if s["name"].startswith("analytics.queries."):
            q, phase = s["name"].rsplit(".", 1)
            st = stats_of(s["name"])
            m[f"{q}.{phase}_s"] = s["end"] - s["start"]
            m[f"{q}.{phase}_jobs"] = st["jobs"]
            m[f"{q}.shuffle_bytes"] += st["shuffle_bytes"]
    m.update(counts)

    # per-span table: self time, jobs and Spark work of each span
    selfs = self_times(spans)
    table = []
    for s in spans:
        own = by_span.get(s["id"], [])
        st = spark_stats(own, log, (s["start"], s["end"]), cores)
        table.append({"id": s["id"], "name": s["name"], "parent": s["parent"],
                      "wall_s": s["end"] - s["start"], "self_s": selfs[s["id"]], **st})
    check = {
        "session_wall_s": spans[0]["end"] - spans[0]["start"],
        "session_self_sum_s": sum(selfs.values()),
        "pass_wall_s": wall,
        "pass_self_sum_s": sum(selfs[i] for i in descendants(spans, pass_id)),
        "jobs_logged": len(log["jobs"]),
        "jobs_attributed": sum(len(v) for k, v in by_span.items() if k != -1),
    }
    return m, {"spans": table, "check": check}


def stop_session(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until every process this run started has exited."""
    from pyspark import SparkContext

    from perfbench.trace import descendant_pids

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 60
    while descendant_pids() and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendant_pids():
        os.kill(pid, 9)


def measure(args, root: str, work: str, t_start: float) -> tuple[dict, dict]:
    from perfbench.trace import RssSampler, Tracer, read_event_log
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(os.path.basename(work), enabled=bool(args.trace))
    spark = None
    try:
        with RssSampler() as rss, tracer.span("session"):
            phases, gens = {}, []
            with tracer.span("setup"):
                spark = start_session(work, cores, bool(args.trace))
                tracer.bind(spark.sparkContext)
                phases["session_s"] = time.time() - t_start
                wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
                for k in range(SETUP_REPEATS):
                    t0 = time.perf_counter()
                    sizes = wl.setup(k)
                    gens.append(time.perf_counter() - t0)
                phases["inputs_s"] = statistics.median(gens)
                t0 = time.perf_counter()
                with tracer.span("warmup"):
                    wl.warmup()
                phases["warmup_s"] = time.perf_counter() - t0
            # the session starts once a run; the inputs count once, at the
            # median of their repeats
            setup_s = sum(phases.values())
            with tracer.span("reference"):
                wl.build_reference()

            attempted = failed = 0
            passes, problems, spent = [], [], 0.0
            while attempted == 0 or (not args.trace and (
                    spent < args.seconds or attempted < wl.min_passes)
                    and attempted != wl.max_passes):
                # a traced run times its one traced pass; tracing overhead is
                # its wall time against the untraced runs' passes. Python
                # garbage (py4j proxies of earlier plans) is collected
                # outside the timed region.
                gc.collect()
                with tracer.span("pass.traced" if args.trace else "pass", k=attempted) as sp:
                    t0 = time.perf_counter()
                    out, counts = wl.traced_pass() if args.trace else (wl.run_pass(attempted), {})
                    dt = time.perf_counter() - t0
                with tracer.span("check", k=attempted):
                    bad = wl.check(out)
                spent += dt
                attempted += 1
                failed += bool(bad)
                problems += bad
                passes.append(dt)
            if args.trace:
                with tracer.span("probes"):
                    probe_counts, outcomes = wl.layer_probes()
                counts.update(probe_counts)
                attempted += len(outcomes)
                failed += sum(bool(bad) for bad in outcomes)
                for bad in outcomes:
                    problems += bad
            stop_session(spark)
            spark = None
    finally:
        if spark is not None:
            stop_session(spark)

    context = {"workload": args.workload, "seed": args.seed, "cores": cores,
               "heap": HEAP, "inputs": sizes,
               "setup_phases": {k: round(v, 3) for k, v in phases.items()},
               "inputs_runs_s": [round(g, 3) for g in gens],
               "passes": [round(dt, 4) for dt in passes], "problems": problems[:10],
               # not a bounded metric: one crawl run in five or six peaks
               # 2-2.5 GB higher than the rest
               "peak_rss_mb": rss.peak_kb / 1024.0}
    if args.trace:
        log = read_event_log(os.path.join(work, "eventlog"))
        metrics, table = layer_metrics(tracer, log, sp["id"], cores, counts)
        traces = os.path.join(root, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(traces, f"{tracer.run_id}.json"),
                     {"context": context, "metrics": metrics, **table})
        context["trace_check"] = table["check"]
        units = PER_LAYER
    else:
        metrics = {
            "pass_s": statistics.median(passes),
            "setup_s": setup_s,
        }
        units = END_TO_END
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()},
    }
    return context, result


def main(argv=None) -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not engine_present(root):
        print(f"perfbench: no web_crawler_spark engine under {root}", file=sys.stderr)
        return 2
    for p in (root, os.path.join(root, "jobs")):
        if p not in sys.path:
            sys.path.insert(0, p)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the engine from the checkout; temp files stay
    # inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, os.path.join(root, "jobs")]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        context, result = measure(args, root, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
