"""Package-wide stream-start hygiene sweep.

Parses (never imports or runs) every module under ``live_data_spark/`` and
asserts that no code starts a streaming query except the one AvailableNow
runner, ``streaming/jobs.py::_drain_available_now``. The runner caps the
query's state partitions at one per core (AQE cannot coalesce a stateful
exchange); a stream started anywhere else would silently run one state
store per session shuffle partition on every micro-batch.

Default-deny, like tests/test_plan_hygiene.py: every ``.start(...)`` and
``.toTable(...)`` call (the two ``DataStreamWriter`` methods that start a
query) fails here unless its enclosing function is allow-listed with a
reason. A new streaming job that builds its own ``writeStream`` chain fails
without anyone having to remember to pin it. The same parse keeps the
bike-shop DAG on one COPY path: no batch append write in ``bikeshop/``,
and every crash-safe store rewrite on one swap: ``swap_dir`` is called only
from ``sources/files.py::rewrite_parquet``.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "live_data_spark"

STARTERS = {"start", "toTable"}

# (module path relative to the package, enclosing function) allowed to
# call a starter
START_OK: set[tuple[str, str]] = {
    ("streaming/jobs.py", "_drain_available_now"),  # THE runner
}


def _method_calls(tree: ast.AST, methods: set[str], bare: bool = False):
    """(enclosing function, line) of every ``.<method>(...)`` call in
    ``tree`` whose method is in ``methods`` — and, with ``bare``, every
    plain ``<method>(...)`` call too."""

    def called(func: ast.expr) -> str | None:
        if isinstance(func, ast.Attribute):
            return func.attr
        return func.id if bare and isinstance(func, ast.Name) else None

    def walk(node: ast.AST, fn: str):
        for child in ast.iter_child_nodes(node):
            scope = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scope = child.name
            if isinstance(child, ast.Call) and called(child.func) in methods:
                yield fn, child.lineno
            yield from walk(child, scope)

    yield from walk(tree, "<module>")


def test_streams_start_only_in_the_runner():
    found, offenders = set(), []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for fn, line in _method_calls(ast.parse(path.read_text()), STARTERS):
            found.add((rel, fn))
            if (rel, fn) not in START_OK:
                offenders.append(f"{rel}:{line} in {fn}()")
    assert not offenders, (
        "stream started outside jobs._drain_available_now — route it through "
        f"the runner (or allow-list a non-stream start with a reason): {offenders}"
    )
    # the sweep must see the runner itself, or it is scanning nothing
    assert START_OK <= found, START_OK - found


# the one caller of the directory swap: a store rewritten anywhere else
# would need its own temp dir, stale-temp cleanup and crash healing
SWAP_OK: set[tuple[str, str]] = {
    ("sources/files.py", "rewrite_parquet"),
}


def test_directory_swaps_only_in_rewrite_parquet():
    """Every crash-safe store rewrite (the registry's merge, the upsert
    sink, the rollup repair, compaction) goes through
    ``files.rewrite_parquet``; a hand-rolled temp-write + ``swap_dir``
    elsewhere fails here."""
    found, offenders = set(), []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for fn, line in _method_calls(ast.parse(path.read_text()), {"swap_dir"}, bare=True):
            found.add((rel, fn))
            if (rel, fn) not in SWAP_OK:
                offenders.append(f"{rel}:{line} in {fn}()")
    assert not offenders, f"swap_dir called outside files.rewrite_parquet: {offenders}"
    assert SWAP_OK <= found, SWAP_OK - found


def _append_writes(tree: ast.AST):
    """Line of every ``.mode("append")`` call in ``tree``."""
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "mode"
            and any(isinstance(a, ast.Constant) and a.value == "append" for a in node.args)
        ):
            yield node.lineno


def test_bikeshop_appends_only_through_the_copy_stream():
    """The DAG's one COPY is the checkpointed landing stream, whose file
    log skips already-loaded files on a retried run; a batch append in the
    bike-shop package would be a second COPY path without that guard."""
    paths = sorted((PACKAGE / "bikeshop").rglob("*.py"))
    assert paths
    offenders = [
        f"{p.relative_to(PACKAGE).as_posix()}:{line}"
        for p in paths
        for line in _append_writes(ast.parse(p.read_text()))
    ]
    assert not offenders, f"batch append in the bike-shop package: {offenders}"
