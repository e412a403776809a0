"""The benchmark's workloads. Each one generates its inputs from the seed,
runs the engine through its public functions, and checks every output.

A workload exposes ``setup(k)`` (input generation into a fresh
directory; the caller runs it several times and keeps the last),
``warmup()`` (untimed), ``run_pass(k)`` (the timed region; returns a
handle to the outputs), ``check(out)`` (problems, empty when correct),
``traced_pass()`` (spans around each call into a layer; returns the
outputs and the layer counts) and ``layer_probes()`` (layers measured on
their own after the traced pass; returns their counts and one problem
list per checked operation).
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pyarrow.parquet as pq

from perfbench import gen, reference
from perfbench.trace import Tracer


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def lake_stats(workdir: str, prefix: str) -> dict:
    """Commits, data files, bytes and bytes/row over every SnapshotTable
    under ``workdir``."""
    commits = files = nbytes = rows = 0
    for dirpath, dirnames, names in os.walk(workdir):
        if os.path.basename(dirpath) == "metadata":
            snaps = [n for n in names if n.startswith("snap-")]
            if snaps:
                with open(os.path.join(dirpath, max(snaps))) as fh:
                    commits += json.load(fh)["snapshot_id"] + 1
        for n in names:
            if n.endswith(".parquet") and f"{os.sep}data{os.sep}" in dirpath + os.sep:
                p = os.path.join(dirpath, n)
                files += 1
                nbytes += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return {f"{prefix}.commits": commits, f"{prefix}.files": files,
            f"{prefix}.bytes": nbytes,
            f"{prefix}.bytes_per_row": nbytes / rows if rows else 0.0}


class Workload:
    name = ""
    min_passes = 1
    max_passes: int | None = None

    def __init__(self, spark, seed: int, workdir: str, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.tracer = tracer

    def pass_dir(self, k) -> str:
        d = os.path.join(self.workdir, f"pass-{k}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def inputs_dir(self, k) -> str:
        return self.pass_dir(f"inputs-{k}")

    def warmup(self) -> None:
        """None by default: the timed pass is the session's first, as in a
        one-shot spark-submit job, so plan compilation and JIT warm-up are
        part of what it measures."""

    def layer_probes(self) -> tuple[dict, list[list[str]]]:
        """Layers measured on their own after the traced pass (none by
        default)."""
        return {}, []


# ------------------------------------------------------------------ crawl --
class Crawl(Workload):
    """CrawlDriver.run() over a seeded SyntheticWeb, then records_pipeline
    into a SnapshotTable, as jobs/crawl_job.py does. The crawl's first wave
    is the warm-up; the pass is the rest of the crawl and records_pipeline,
    so a run makes one pass. Its traced run adds the other lake write
    path, the archive ingest (``Ingest``)."""

    name = "crawl"
    max_passes = 1
    # a budget of 3 pages: nearly every seed page links to the 2 depth-1
    # pages the budget allows, so a pass visits about 3 x hosts pages
    # whatever the seed; max_depth=1 fixes the crawl at four waves
    hosts, pages, max_pages, max_depth = 64, 40, 3, 1

    def setup(self, k) -> dict:
        from web_crawler_spark.synthetic.web import SyntheticWeb

        self.web = SyntheticWeb(n_hosts=self.hosts, pages_per_host=self.pages, seed=self.seed)
        return {"hosts": self.hosts, "pages_per_host": self.pages,
                "max_pages": self.max_pages, "max_depth": self.max_depth,
                "use_bloom": True}

    def build_reference(self) -> None:
        self.ref = reference.crawl_reference(self.web, self.max_pages, self.max_depth)

    def _driver(self, d):
        from web_crawler_spark.plans.crawl import CrawlConfig, CrawlDriver

        cfg = CrawlConfig(max_pages=self.max_pages, max_depth=self.max_depth,
                          use_bloom=True)
        return CrawlDriver(self.spark, self.web, d, cfg)

    def _records(self, driver, d):
        from web_crawler_spark.lake import SnapshotTable
        from web_crawler_spark.plans.enrich import records_pipeline

        t = self.tracer
        with t.span("plans.enrich.records_pipeline.build"):
            pages = driver.pages_tbl.read(self.spark).dropDuplicates(["seed_host", "url"])
            records = records_pipeline(
                pages.selectExpr("url", "seed_host", "body", "xhr_json")).persist()
        with t.span("plans.enrich.records_pipeline.exec"):
            n = records.count()
            with t.span("lake.overwrite"):
                snap = SnapshotTable(os.path.join(d, "records")).overwrite(
                    records, summary={"records": n}, lineage_key="seed_host")
            records.unpersist()
        return snap

    def warmup(self) -> None:
        """The crawl's first wave (the seed pages), cold: it compiles the
        wave's plans and starts the Python workers, costs that a long crawl
        pays once over thousands of waves. Run cold in the timed pass, it
        swung with the host's load more than any later wave did."""
        self.crawl_dir = self.pass_dir("crawl")
        self.driver = self._driver(self.crawl_dir)
        self.driver.run(max_waves=1)
        self.first_wave = self.driver.delta_tbl.current()["summary"]

    def run_pass(self, k):
        self.driver.run(resume=True)
        self._records(self.driver, self.crawl_dir)
        return self.driver

    def check(self, driver) -> list[str]:
        from web_crawler_spark.lake import SnapshotTable

        rows = driver.frontier().select("seed_host", "url", "status", "visit_seq").collect()
        problems = reference.check_crawl([tuple(r) for r in rows], self.ref)
        recs = SnapshotTable(os.path.join(driver.workdir, "records")).read(
            self.spark).select("sourceUrl").collect()
        visited = {r["url"] for r in rows if r["status"] == "visited"}
        if not recs or any(r["sourceUrl"] not in visited for r in recs):
            problems.append("crawl: records empty or sourced from unvisited pages")
        return problems

    def traced_pass(self):
        """The waves after the warm-up stepped one at a time from outside;
        the counts cover the whole crawl, the warm-up's wave included."""
        t = self.tracer
        d, driver = self.crawl_dir, self.driver
        summaries = [self.first_wave] if "pages_fetched" in self.first_wave else []
        with t.span("plans.crawl.run"):
            wave = 1
            while True:
                wave += 1
                with t.span("plans.crawl.wave", wave=wave):
                    driver.run(resume=True, max_waves=wave)
                s = driver.delta_tbl.current()["summary"]
                if s.get("wave") == wave and "pages_fetched" in s:
                    summaries.append(s)
                if driver.load_state()["done"]:
                    break
        snap = self._records(driver, d)
        visited = sum(s["pages_fetched"] for s in summaries)
        cand = sum(s["candidates"] for s in summaries)
        new = sum(s["new_urls"] for s in summaries)
        out = {
            "sources.fetch.pages": visited,
            "operators.frontier.candidates": cand,
            "operators.frontier.new_urls": new,
            "operators.frontier.dedup_ratio": (cand - new) / cand if cand else 0.0,
            "plans.enrich.records_pipeline.rows_out": sum(snap["partition_lineage"].values()),
        }
        out.update(lake_stats(d, "lake.crawl"))
        return driver, out

    def layer_probes(self):
        """The ingest path after the traced crawl, in the same session:
        ingest and curation, checked, then each ingest layer on its own."""
        ingest = Ingest(self.spark, self.seed, os.path.join(self.workdir, "ingest"),
                        self.tracer)
        with self.tracer.span("inputs.ingest_archive"):
            ingest.setup(0)
        out, counts = ingest.traced_pass()
        outcomes = [ingest.check(out)]
        ingest.layer_probes()
        return counts, outcomes


# --------------------------------------------------------------- schedule --
class Schedule(Workload):
    """One scheduling pass over a wave's candidate links: clean →
    first occurrence per page → first discoverer → seen anti-join with the
    Bloom pre-prune → enqueue numbering → per-host budget."""

    name = "schedule"
    n_parents = 3_000
    # a pass takes about 4 s; the median of at least three passes
    min_passes = 3
    query_mix = ("pricing_summary", "topk_per_group", "text_metrics",
                 "minhash_neardup", "ann_topk", "extract_kernels")

    def setup(self, k) -> dict:
        self.in_dir = self.inputs_dir(k)
        self.inputs = gen.schedule_inputs(self.in_dir, self.seed, n_parents=self.n_parents)
        return {"links": len(self.inputs["links"]), "seen": len(self.inputs["seen"]),
                "hosts": len(self.inputs["max_seq"])}

    def build_reference(self) -> None:
        self.ref = reference.schedule_reference(self.inputs)
        self.ref_digest = reference.rows_digest(self.ref)

    def _read(self, name):
        return self.spark.read.parquet(os.path.join(self.in_dir, f"{name}.parquet"))

    def warmup(self) -> None:
        """The seen set's Bloom filter (the crawl keeps it in the lake
        between waves), then one pass over the inputs: the scheduling pass
        runs once per wave inside a long-lived crawl session, so it is
        timed warm."""
        from web_crawler_spark.operators import seen_filter as SF

        SF.build_bloom(self._read("seen").select("url")).write.parquet(
            os.path.join(self.in_dir, "bloom.parquet"))
        self.run_pass("warmup")

    def run_pass(self, k):
        from web_crawler_spark.operators import frontier as FR

        out = os.path.join(self.pass_dir(k), "scheduled")
        cand = FR.clean_candidate_links(self._read("links"))
        cand = FR.first_occurrence_per_page(cand)
        cand = FR.dedup_first_discoverer(cand)
        new = FR.anti_join_seen(cand, self._read("seen"), bloom=self._read("bloom"))
        new = FR.assign_enqueue_seq(new, self._read("max_seq"))
        take = FR.take_budgeted(new, self._read("remaining"))
        take.select("seed_host", "url", "enqueue_seq").write.parquet(out)
        return out

    def check(self, out) -> list[str]:
        tbl = pq.read_table(out, columns=["seed_host", "url", "enqueue_seq"])
        rows = zip(*(tbl.column(c).to_pylist() for c in tbl.column_names))
        return reference.check_schedule(list(rows), self.ref, self.ref_digest)

    def traced_pass(self):
        """Prefix-materialised: each operator's output is persisted and
        counted inside its own span, so its time and rows_out are its own."""
        from web_crawler_spark.operators import frontier as FR

        t = self.tracer
        out = {}
        bloom = self._read("bloom")
        steps = {
            "clean_candidate_links": FR.clean_candidate_links,
            "first_occurrence_per_page": FR.first_occurrence_per_page,
            "dedup_first_discoverer": FR.dedup_first_discoverer,
            "anti_join_seen": lambda df: FR.anti_join_seen(df, self._read("seen"), bloom=bloom),
            "assign_enqueue_seq": lambda df: FR.assign_enqueue_seq(df, self._read("max_seq")),
            "take_budgeted": lambda df: FR.take_budgeted(df, self._read("remaining")),
        }
        df = self._read("links")
        for op, fn in steps.items():
            with t.span(f"operators.frontier.{op}"):
                nxt = fn(df).persist()
                out[f"operators.frontier.{op}.rows_out"] = nxt.count()
            if op == "anti_join_seen":
                # anti_join_seen's input stays cached for the prune probe,
                # which runs after the pass
                self._prune_input = df
            else:
                df.unpersist()
            df = nxt
        path = os.path.join(self.pass_dir("traced"), "scheduled")
        with t.span("schedule.write"):
            df.select("seed_host", "url", "enqueue_seq").write.parquet(path)
        df.unpersist()
        return path, out

    def layer_probes(self):
        """The Bloom pre-prune alone, on the rows the traced pass fed to
        ``anti_join_seen``; then the registry query mix
        (``analytics.queries``) over seeded tables shaped like the
        repository's fixtures, in a seed-chosen order, each query's rows
        checked against its oracle SQL run in DuckDB."""
        from web_crawler_spark.analytics import queries as Q
        from web_crawler_spark.operators import seen_filter as SF

        t = self.tracer
        out, outcomes = {}, []
        with t.span("operators.seen_filter.prune"):
            flagged = SF.prune(self._prune_input, self._read("bloom")).persist()
            n = flagged.count()
            n_new = flagged.filter("NOT maybe_seen").count()
            flagged.unpersist()
        self._prune_input.unpersist()
        out["operators.seen_filter.prune.definite_new_ratio"] = n_new / n if n else 0.0

        tables = os.path.join(self.workdir, "query-tables")
        with t.span("inputs.query_tables"):
            sizes = gen.query_tables(tables, self.seed)
        registry, oracle = Q.queries(), Q.oracle_sql()
        for q in random.Random(self.seed).sample(self.query_mix, len(self.query_mix)):
            with t.span(f"analytics.queries.{q}.build"):
                df = registry[q](self.spark, tables)
            with t.span(f"analytics.queries.{q}.exec"):
                rows = [tuple(r) for r in df.collect()]
            with t.span("check.query"):
                outcomes.append(reference.check_query(
                    q, df.columns, rows, reference.query_reference(oracle[q], tables, sizes)))
        return out, outcomes


# ----------------------------------------------------------------- ingest --
class Ingest(Workload):
    """ingest_warc_job.ingest over a seeded .warc.gz archive, then
    plans.corpus.build_pair_corpus, written out as a parquet release. Run
    by the traced crawl run (``Crawl.layer_probes``); not a workload of
    its own, because a benchmark session cannot afford the runs of a
    third workload."""

    name = "ingest"
    hosts, pages = 4, 40

    def setup(self, k) -> dict:
        self.archive = self.inputs_dir(k)
        self.truth = gen.ingest_archive(self.archive, self.seed, self.hosts, self.pages)
        return {"hosts": self.hosts, "pages_per_host": self.pages,
                "records": self.truth["records"], "archive_bytes": self.truth["bytes"],
                "images": len(self.truth["images"])}

    def _pipeline(self, d):
        import ingest_warc_job

        from web_crawler_spark.lake import SnapshotTable
        from web_crawler_spark.plans.corpus import build_pair_corpus

        t = self.tracer
        with t.span("jobs.ingest_warc.ingest", archive_bytes=self.truth["bytes"]):
            stats = ingest_warc_job.ingest(self.spark, self.archive,
                                           os.path.join(d, "pairs"))
        with t.span("plans.corpus.build_pair_corpus.build"):
            pairs = SnapshotTable(os.path.join(d, "pairs")).read(self.spark)
            release = build_pair_corpus(pairs)
        with t.span("plans.corpus.build_pair_corpus.exec"):
            release.write.parquet(os.path.join(d, "release"))
        return d, stats

    def _outputs(self, d):
        from web_crawler_spark.lake import SnapshotTable

        pairs = SnapshotTable(os.path.join(d, "pairs")).read(self.spark).collect()
        pairs = [(f"https://{r['seed_host']}/images/{r['image_id']}.png", r["image_id"],
                  r["bytes"], r["w"], r["h"], r["caption"], r["phash"]) for r in pairs]
        rel = pq.read_table(os.path.join(d, "release"), columns=["image_id", "caption"])
        release = list(zip(rel.column(0).to_pylist(), rel.column(1).to_pylist()))
        return pairs, release

    def check(self, out) -> list[str]:
        d, stats = out
        pairs, release = self._outputs(d)
        problems = reference.check_pairs(pairs, self.truth)
        problems += reference.check_release(release, pairs, self.truth)
        if stats["records"] != self.truth["records"]:
            problems.append(f"ingest: {stats['records']} records read, "
                            f"archive holds {self.truth['records']}")
        return problems

    def traced_pass(self):
        d, stats = self._pipeline(self.pass_dir("traced"))
        pairs, release = self._outputs(d)
        out = {"plans.corpus.build_pair_corpus.drop_ratio":
               1 - len(release) / len(pairs) if pairs else 0.0}
        out.update(lake_stats(d, "lake.ingest"))
        return (d, stats), out

    def layer_probes(self) -> None:
        """Each layer of the ingest path materialised on its own: the
        archive scan, <img> caption extraction from the HTML lane, image
        decode + phash, and the lake append of the pair table."""
        from pyspark.sql import functions as F

        from web_crawler_spark import images as IM
        from web_crawler_spark.lake import SnapshotTable
        from web_crawler_spark.operators.extract import extract_images
        from web_crawler_spark.sources import warc as W

        t = self.tracer
        d = self.pass_dir("probes")
        with t.span("sources.warc.read_warc_gz_binary"):
            recs = W.read_warc_gz_binary(self.spark, self.archive).persist()
            _noop(recs)
        html = recs.filter(~F.col("target_uri").contains("/images/")).select(
            F.col("target_uri").alias("url"),
            F.regexp_extract("target_uri", r"https?://([^/]+)", 1).alias("seed_host"),
            F.decode(W.http_response_binary(F.col("body"))["payload"], "UTF-8").alias("body"))
        with t.span("operators.extract.extract_images"):
            _noop(extract_images(html))
        pairs = SnapshotTable(os.path.join(self.workdir, "pass-traced", "pairs")).read(self.spark)
        with t.span("images.image_features"):
            _noop(IM.image_features(pairs.select("image_id", "bytes", "w", "h", "fmt", "caption")))
        with t.span("lake.append"):
            SnapshotTable(os.path.join(d, "pairs")).append(
                pairs, partition_by=["seed_host"], lineage_key="seed_host")
        recs.unpersist()


WORKLOADS = {w.name: w for w in (Crawl, Schedule)}

