"""The benchmark's layer tracer wraps package functions by name and
silently skips a name it cannot find, which would make that layer's
traced counters read 0. Every name it lists must still exist."""

import importlib
import inspect
import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))

from layertrace import LAYERS  # noqa: E402


@pytest.mark.parametrize("layer", sorted(LAYERS))
def test_traced_functions_exist(layer):
    modname, names = LAYERS[layer]
    mod = importlib.import_module(modname)
    defined = {attr for attr, val in vars(mod).items()
               if inspect.isfunction(val) and val.__module__ == modname
               and not attr.startswith("_")}
    if names is None:
        assert defined, f"{modname} defines no public function"
    else:
        assert not set(names) - defined, (layer, set(names) - defined)
