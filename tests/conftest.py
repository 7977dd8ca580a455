from __future__ import annotations

import contextlib
import itertools
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


class Py4jCalls:
    """Round trips of a :func:`count_py4j` block. ``n`` counts calls and
    constructions, not the object releases py4j sends when Python frees a
    ``JavaObject``: those follow the collector's timing, not the block's
    own work."""

    n = 0


@contextlib.contextmanager
def count_py4j():
    """Count the driver's py4j round trips inside the block: every
    ``ClientServerConnection.send_command`` call but object releases, on
    any thread (the fan-out's pool threads included). Yields a
    :class:`Py4jCalls` whose count is final once the block exits."""
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    calls = Py4jCalls()
    ticks = itertools.count()
    send = ClientServerConnection.send_command

    def counted(self, command):
        # itertools.count is atomic under the GIL, so safe from pool threads
        if not command.startswith(release):
            next(ticks)
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        yield calls
    finally:
        ClientServerConnection.send_command = send
        calls.n = next(ticks)


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
