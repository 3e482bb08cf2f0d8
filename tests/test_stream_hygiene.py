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
without anyone having to remember to pin it.
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


def _starter_calls(tree: ast.AST):
    """(enclosing function, line) of every starter call in ``tree``."""

    def walk(node: ast.AST, fn: str):
        for child in ast.iter_child_nodes(node):
            scope = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scope = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in STARTERS
            ):
                yield fn, child.lineno
            yield from walk(child, scope)

    yield from walk(tree, "<module>")


def test_streams_start_only_in_the_runner():
    found, offenders = set(), []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for fn, line in _starter_calls(ast.parse(path.read_text())):
            found.add((rel, fn))
            if (rel, fn) not in START_OK:
                offenders.append(f"{rel}:{line} in {fn}()")
    assert not offenders, (
        "stream started outside jobs._drain_available_now — route it through "
        f"the runner (or allow-list a non-stream start with a reason): {offenders}"
    )
    # the sweep must see the runner itself, or it is scanning nothing
    assert START_OK <= found, START_OK - found
