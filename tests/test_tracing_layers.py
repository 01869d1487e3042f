"""The benchmark's tracer wraps package functions by module and
attribute name (``perfbench/tracing.LAYERS``). A rename in the package
must fail here, not only in a traced benchmark run."""

from __future__ import annotations

import importlib

import pytest

from perfbench.tracing import LAYERS, PKG


@pytest.mark.parametrize(
    "module,attr",
    sorted({target for _, targets in LAYERS for target in targets}),
)
def test_traced_attribute_resolves(module, attr):
    mod = importlib.import_module(f"{PKG}.{module}")
    assert callable(getattr(mod, attr, None)), f"{PKG}.{module}.{attr}"
