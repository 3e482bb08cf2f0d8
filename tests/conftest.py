"""Shared fixtures: one SparkSession per test run, driver testdata paths."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"

def canon_rows(rows, columns):
    """THE order-insensitive canonical row form the driver's value hash
    sees (column-name-sorted tuples, %.10g floats with -0.0 collapsed,
    None sentinel, bools as ints) — one definition shared by every
    result-comparing sweep (oracle parity, partition-layout invariance,
    broadcast-gate-closed) so a float-format or NaN-handling tweak can
    never desynchronize them."""
    import math

    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{v + 0.0:.10g}"
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    return sorted(tuple(canon(row[i]) for i in order) for row in rows)


# Non-catalog hardening helpers (implemented swap-ins documented in
# SCALE.md): the default-deny sweeps (plan hygiene, empty input) can't
# discover them through the catalog, so they enumerate ONE shared list.
# Since r11 that list lives beside the catalog (append new swap-ins
# THERE) so tools like scripts/scale_replay.py resolve the same names
# via resolve_runnable.
from live_data_spark.catalog import NON_CATALOG_HELPERS  # noqa: E402, F401


@pytest.fixture(scope="session")
def spark():
    from live_data_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark(app_name="live_data_spark-tests", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
