"""Export contract of the package (no Spark session needed)."""

from __future__ import annotations

import importlib
import pkgutil

import flink_skyline_qos_spark as pkg


def test_every_all_name_exists():
    """Each name a module lists in ``__all__`` is defined in it: a
    deleted function must not linger in its module's exports."""
    names = [pkg.__name__] + [info.name for info in pkgutil.walk_packages(
        pkg.__path__, pkg.__name__ + ".")]
    stale = []
    for name in names:
        mod = importlib.import_module(name)
        stale += [f"{name}.{n}" for n in getattr(mod, "__all__", ())
                  if not hasattr(mod, n)]
    assert not stale, stale
