"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Headline set = the engine's load-bearing paths: bulk scan+agg, joins
(broadcast/anti/range), window ranking, exact+fuzzy dedup (minhash,
simhash), ANN, text kernels, the crawl frontier loop, and the image
pipeline. Each timing includes full execution to collect/count.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from web_crawler_spark.analytics import queries as Q
from web_crawler_spark.session import get_spark

HEADLINE = [
    "pricing_summary",
    "dim_join_rollup",
    "anti_join_seen",
    "proximity_join",
    "topk_per_group",
    "url_priority_rank",
    "dedup_policies",
    "canonical_merge",
    "sessionize",
    "text_metrics",
    "fingerprint_dedup",
    "minhash_neardup",
    "simhash_neardup",
    "ann_topk",
    "embedding_neardup",
    "crawl_bfs_frontier",
    "image_phash_dedup",
    "api_json_normalize",
    "geocode_cascade",
    "records_pipeline_e2e",
    "extract_kernels",
]

# median-of-N timed passes per query: the host has documented ±45% noise
# windows (BENCH.md), and a single-pass total can't distinguish a real
# regression from a noisy neighbor. Median absorbs one bad pass; the
# per-query min/max spread ships in the JSON tail for transparency.
# 5 passes: this host shows stochastic 20-60s stalls that hit 1-2 passes
# per bench run (documented in BENCH.md); a median of 5 discards up to two
# outliers per query where a median of 3 could still be captured by one
PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("wcs_bench")
    registry = Q.queries()

    # untimed warm-up: JVM/JIT + whole-stage-codegen compile + Python
    # worker spin-up happen once here instead of inflating the first
    # timed query (standard bench practice; the timed numbers are the
    # steady state a long-running engine actually delivers). Every
    # headline query runs once with the same noop sink so EVERY plan's
    # generated classes are compiled and cached before timing starts —
    # the composite queries alone compile >100 codegen units, and an
    # in-flight JIT storm from one query's first pass otherwise bleeds
    # into its neighbors' timed passes (observed: 100+ s of cumulative
    # JIT thread time on a first extract_kernels pass).
    for name in HEADLINE:
        registry[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = registry[name]
        passes: list[float] = []
        for _ in range(PASSES):
            # collect Python garbage OUTSIDE the timed window: plan-heavy
            # queries allocate ~10^4 py4j proxies per pass, and letting
            # their deletion backlog drain lazily inside a later pass
            # shows up as multi-second noise attributed to the wrong query
            gc.collect()
            t0 = time.time()
            df = fn(spark, sf_dir)
            # noop sink: forces full computation of every output column
            # (count() would let Catalyst prune the projections being
            # measured)
            df.write.format("noop").mode("overwrite").save()
            passes.append(round(time.time() - t0, 3))
        passes.sort()
        timings[name] = passes[len(passes) // 2]
        spread[name] = [passes[0], passes[-1]]
        print(f"# {name}: median {timings[name]}s of {passes}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline query wall time, median of "
                f"{PASSES} passes (scan/join/window/dedup/ann/crawl/image)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "passes": PASSES,
                "spread_min_max": spread,
            }
        )
    )


if __name__ == "__main__":
    main()
