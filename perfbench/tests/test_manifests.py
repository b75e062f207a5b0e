"""The frozen workload manifests still describe the registry."""

from __future__ import annotations

import json
import os

import common
import pytest

with open(os.path.join(common.BENCH_DIR, "manifests.json")) as fh:
    WORKLOADS = json.load(fh)["workloads"]
QUERIES = {w: [q["name"] for q in spec.get("queries", [])] for w, spec in WORKLOADS.items()}


def test_listed_queries_are_registered_and_have_expected_outputs():
    common.import_engine()
    import checks
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    expected = checks.load_expected()
    for names in QUERIES.values():
        for name in names:
            assert name in REGISTRY, name
            assert name in expected, name


def test_benchmark_json_names_the_manifest_workloads():
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("name", QUERIES["query_lazy"])
def test_lazy_queries_launch_no_construction_job(spark, name):
    """Built once to warm the loaders' schema memo, then a second build
    must start no Spark job."""
    sc = spark.sparkContext._jsc.sc()
    common.query_build(spark, name)
    sc.listenerBus().waitUntilEmpty()
    before = sc.dagScheduler().nextJobId()
    common.query_build(spark, name)
    sc.listenerBus().waitUntilEmpty()
    assert sc.dagScheduler().nextJobId() == before
    spark.catalog.clearCache()
