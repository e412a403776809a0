"""Registry guard, no Spark session: the correctness gate checks only the
first 50 registered queries, so the registry must fit in 50 with an
oracle for every query, and keep the queries the benchmark's traced
query mix calls (perfbench/workloads.py)."""

from __future__ import annotations

from web_crawler_spark.analytics.queries import oracle_sql, queries

BENCHMARK_QUERIES = {
    "pricing_summary", "topk_per_group", "text_metrics",
    "minhash_neardup", "ann_topk", "extract_kernels",
}


def test_registry_fits_the_50_query_gate_with_an_oracle_per_query():
    assert len(queries()) <= 50
    assert set(queries()) == set(oracle_sql())
    assert BENCHMARK_QUERIES <= set(queries())
