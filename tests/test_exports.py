"""Export contract of the package (no Spark session needed)."""

from __future__ import annotations

import ast
import importlib
import pathlib
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


#: The skyline system: kernels, partitioners, plans, variants, the
#: stream engine and its sources.  Every other module is a slice that
#: must stay deletable without touching these.
SKYLINE_MODULES = frozenset(f"{pkg.__name__}.{m}" for m in (
    "operators.skyline", "operators.kernels", "operators.partitioners",
    "operators.variants", "operators.caching", "functions.dominance",
    "streaming.engine", "streaming.wire", "streaming.sources",
    "streaming.collector", "plans.metrics", "plans.queries",
    "sources.generators", "sources.tables", "session",
))


def _source(root: pathlib.Path, module: str) -> pathlib.Path:
    return root.joinpath(*module.split(".")[1:]).with_suffix(".py")


def _package_imports(module: str, root: pathlib.Path) -> set[str]:
    """Package modules that ``module``'s source imports, read with
    ``ast`` (function-level imports included, nothing executed)."""
    parent = module.rsplit(".", 1)[0]
    found = set()
    for node in ast.walk(ast.parse(_source(root, module).read_text())):
        if isinstance(node, ast.Import):
            bases = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = parent.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            # ``from pkg import mod`` names a module, not an attribute
            bases = [f"{base}.{a.name}"
                     if _source(root, f"{base}.{a.name}").exists() else base
                     for a in node.names]
        else:
            continue
        found |= {b for b in bases if b.split(".")[0] == pkg.__name__}
    return found


def test_skyline_modules_import_only_skyline_modules():
    """The skyline system imports nothing from the other slices, so any
    of them can be deleted without touching it."""
    root = pathlib.Path(pkg.__file__).parent
    leaks = {f"{m} -> {t}" for m in SKYLINE_MODULES
             for t in _package_imports(m, root) if t not in SKYLINE_MODULES}
    assert not leaks, sorted(leaks)
