from __future__ import annotations

import pytest

from kafka_to_nexus_spark import session

GIB = 2**30


@pytest.mark.parametrize("total, want", [
    (16479424 * 1024, "7g"),  # a 15.7 GiB box
    (64 * GIB, "16g"),        # capped
    (GIB, "1g"),              # floored
    (None, "16g"),            # memory unknown
])
def test_default_driver_memory_fits_the_machine(total, want):
    assert session.default_driver_memory(lambda: total) == want
