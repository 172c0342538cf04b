"""The benchmark's span tracer (``perfbench/spans.py``) patches engine
functions by name; a renamed or removed target would crash every
``--trace 1`` run. Each target must resolve to a callable."""
from __future__ import annotations

import importlib

import pytest

from perfbench.spans import TARGETS


@pytest.mark.parametrize("module, attr", sorted(TARGETS))
def test_span_target_exists(module, attr):
    obj = importlib.import_module(module)
    for part in attr.split("."):
        obj = getattr(obj, part)
    assert callable(obj)
