"""Every module of the package imports, so none is left importing a
deleted one."""

from __future__ import annotations

import importlib
import pkgutil

import pytest

import ifeatureomega_cli_spark

MODULES = sorted(
    m.name for m in pkgutil.walk_packages(ifeatureomega_cli_spark.__path__,
                                          "ifeatureomega_cli_spark."))


def test_walk_finds_the_package():
    assert "ifeatureomega_cli_spark.functions.extract" in MODULES


@pytest.mark.parametrize("name", MODULES)
def test_module_imports(name):
    importlib.import_module(name)
