"""Every name a module exports through ``__all__`` resolves on it."""

from __future__ import annotations

import importlib
import pkgutil

import pandas_td_spark


def test_every_all_entry_is_an_attribute_of_its_module():
    missing = []
    for info in pkgutil.walk_packages(
        pandas_td_spark.__path__, pandas_td_spark.__name__ + "."
    ):
        module = importlib.import_module(info.name)
        for name in getattr(module, "__all__", ()):
            if not hasattr(module, name):
                missing.append(f"{info.name}.{name}")
    assert not missing, missing
