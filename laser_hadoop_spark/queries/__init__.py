"""Declared correctness queries (SURVEY.md §2), one module per family."""

from __future__ import annotations

import importlib
import pkgutil

_LOADED = False


def load_all() -> None:
    """Import every module of this package so their @register decorators fire."""
    global _LOADED
    if _LOADED:
        return
    for info in pkgutil.iter_modules(__path__):
        importlib.import_module(f"{__name__}.{info.name}")
    _LOADED = True
