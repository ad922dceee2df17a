"""The benchmark's tracer wraps program functions by name; a rename in
the program must fail here instead of silently dropping traced layer
rows."""

from __future__ import annotations

import importlib

import pytest

from perfbench.tracing import WRAPPED


@pytest.mark.parametrize("mod_name,attr", [(m, a) for m, a, _name, _part in WRAPPED])
def test_wrapped_hook_resolves_to_callable(mod_name, attr):
    owner = importlib.import_module(mod_name)
    for part in attr.split("."):
        owner = getattr(owner, part)
    assert callable(owner)
