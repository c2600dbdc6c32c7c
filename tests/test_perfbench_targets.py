"""The benchmark's tracer wraps engine methods by name
(``perfbench/tracing.py``: ``Tracer.patch`` looks each one up in its
class's own ``__dict__``) and fails the run when one is gone. A
refactor that moves a store or runner method into a base class, or
renames it, breaks the benchmark without breaking any engine test;
this pins every traced name where the tracer looks for it. No Spark
session is started."""

from __future__ import annotations

import os
import sys

import pytest

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


@pytest.fixture(scope="module")
def workloads():
    sys.path.insert(0, BENCH)
    try:
        import cdc
        import store
    finally:
        sys.path.remove(BENCH)
    return store.StoreIngest(), cdc.CdcCatchup()


def test_every_traced_method_is_defined_on_its_class(workloads):
    store_ingest, cdc_catchup = workloads
    counters = {"runs": [], "rewritten": 0, "swapped": 0, "resume": []}
    targets = store_ingest.trace_targets() + cdc_catchup.trace_targets(counters)
    assert targets
    for cls, method, *_ in targets:
        assert callable(cls.__dict__.get(method)), f"{cls.__qualname__}.{method}"
