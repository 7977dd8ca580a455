from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

REFERENCE = Path("/root/reference")
DOMAIN_DATA = REFERENCE / "domain-tests" / "data_files"
DOMAIN_TEMPLATES = REFERENCE / "domain-tests" / "nexus_templates"
TESTDATA = Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"))


@pytest.fixture(scope="session")
def spark():
    from kafka_to_nexus_spark.session import get_spark

    # The job-group tests compare the status store's ungrouped job ids
    # before and after a call; past spark.ui.retainedJobs (1000) the
    # store drops its oldest jobs, so retain every job the suite runs.
    s = get_spark(
        app_name="tests", master="local[4]", shuffle_partitions=4,
        extra_conf={"spark.ui.retainedJobs": "1000000"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return str(TESTDATA / "sf0.001")


def union_find_components(edges, vertices) -> dict:
    """Shared naive union-find model (min-id canonical labels): the single
    source of truth the LSH-cap, SRP-cap, and connected-components tests
    all compare Spark against."""
    parent = {v: v for v in vertices}
    for a, b in edges:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in vertices}
