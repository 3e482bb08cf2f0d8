"""Python worker daemon that imports pyspark from bytecode.

Spark starts one daemon per executor (``spark.python.daemon.module``) and
the daemon forks a worker per Python task. Spark puts
``$SPARK_HOME/python/lib/pyspark.zip`` (and py4j's zip) first on the
worker path. The zips hold sources only, and Python cannot cache bytecode
for a zip, so every daemon compiles what it imports: ``import
pyspark.daemon`` took 1.07–1.37 s from the zip against 0.27–0.34 s from
an installed, bytecode-cached pyspark of the same version (4-core host).

This module runs before pyspark is imported. For each zip on ``sys.path``
that holds a package the interpreter also has installed at the SAME
version, it moves the zip behind every other entry, so the installed copy
wins. A different or missing installed version leaves the path alone:
the worker then runs Spark's own copy, as before. It then hands over to
``pyspark.daemon.manager()``; forked workers inherit the path and every
module the daemon already loaded.

Workers import ``live_data_spark`` anyway (UDF closures pickle its
functions by reference), so naming a daemon module from this package
asks nothing new of a cluster.
"""

from __future__ import annotations

import importlib.metadata
import re
import sys
import zipfile
from collections.abc import Mapping, Sequence

# the packages Spark ships as zips on the worker path
_ZIPPED_PACKAGES = ("pyspark", "py4j")
_VERSION = re.compile(r"""^__version__\b[^=]*=\s*['"]([^'"]+)['"]""", re.M)


def bundled_version(entry: str) -> tuple[str, str] | None:
    """(package, ``__version__``) of the package the zip ``entry`` holds,
    read from its ``<package>/version.py`` without importing it; None
    when ``entry`` is not such a zip."""
    if not entry.endswith(".zip"):
        return None
    try:
        with zipfile.ZipFile(entry) as z:
            for pkg in _ZIPPED_PACKAGES:
                try:
                    source = z.read(f"{pkg}/version.py").decode()
                except KeyError:
                    continue
                m = _VERSION.search(source)
                return (pkg, m.group(1)) if m else None
    except (OSError, zipfile.BadZipFile):
        pass
    return None


def installed_version(package: str) -> str | None:
    try:
        return importlib.metadata.version(package)
    except importlib.metadata.PackageNotFoundError:
        return None


def bytecode_first(
    path: Sequence[str],
    installed: Mapping[str, str | None],
    bundled: Mapping[str, tuple[str, str] | None],
) -> list[str]:
    """``path`` with each zip whose package is installed at the zip's own
    version (``bundled[entry] == (package, version)`` and
    ``installed[package] == version``) moved behind every other entry, in
    its original order. Every other entry keeps its place."""
    late = []
    for entry in path:
        pkg_version = bundled.get(entry)
        if pkg_version is not None and installed.get(pkg_version[0]) == pkg_version[1]:
            late.append(entry)
    return [e for e in path if e not in late] + late


def main() -> None:
    bundled = {e: bundled_version(e) for e in sys.path}
    installed = {pkg: installed_version(pkg) for pkg in _ZIPPED_PACKAGES}
    sys.path[:] = bytecode_first(sys.path, installed, bundled)

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
