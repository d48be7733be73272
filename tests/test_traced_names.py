"""The benchmark's ``--trace 1`` patches engine functions by name
(``perfbench/layertrace.py`` TARGETS).  A rename or deletion there only
breaks the traced benchmark run, which tier-1 does not execute, so
check here that every traced name still resolves — without a Spark
session."""

import importlib
import importlib.util
import os
import sys

import pytest

LAYERTRACE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench",
    "layertrace.py",
)


def _targets():
    spec = importlib.util.spec_from_file_location("_layertrace", LAYERTRACE)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses resolve the module by name
    try:
        spec.loader.exec_module(mod)  # stdlib imports only
    finally:
        del sys.modules[spec.name]
    return mod.TARGETS


TARGETS = _targets()


@pytest.mark.parametrize(
    "module,attr,span", TARGETS, ids=[span for _m, _a, span in TARGETS]
)
def test_traced_name_resolves(module, attr, span):
    mod = importlib.import_module(module)
    if "." in attr:  # "Class.method": patched on the class itself
        cls_name, meth = attr.split(".")
        assert meth in vars(getattr(mod, cls_name)), f"{module}.{attr} ({span})"
    else:
        assert callable(getattr(mod, attr, None)), f"{module}.{attr} ({span})"
