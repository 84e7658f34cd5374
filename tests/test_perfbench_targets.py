"""Every layer the traced benchmark run (perfbench/run.py --trace 1) wraps
must exist: build_targets / curate_targets name (module, attribute) pairs
that the tracer monkeypatches, so a renamed or deleted operator would only
surface as a failed traced run. Reads perfbench/ without changing it."""

from __future__ import annotations

import importlib.util
import os

import pytest

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


@pytest.fixture(scope="module")
def perfbench_run():
    mp = pytest.MonkeyPatch()
    mp.syspath_prepend(PERFBENCH)  # run.py imports its sibling spans.py
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(PERFBENCH, "run.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    yield mod
    mp.undo()


class _StubTracer:
    """Building the target lists never opens a span or materialises."""

    def span(self, name):
        raise AssertionError(f"span {name!r} opened while listing targets")

    def materialise(self, df, sp):
        raise AssertionError("materialise called while listing targets")


@pytest.mark.parametrize("targets", ["build_targets", "curate_targets"])
def test_traced_targets_resolve(perfbench_run, targets):
    listed = getattr(perfbench_run, targets)(_StubTracer())
    assert listed
    for module, attr, _ in listed:
        assert callable(getattr(module, attr, None)), (
            f"{module.__name__}.{attr} is gone; {targets} still traces it"
        )
