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
# every testdata table, as the oracle SQL names them
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_connection(sf_dir: str):
    """A DuckDB connection with one view per testdata table of ``sf_dir``
    — the oracle side of every parity check (tests and preflight)."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


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


@pytest.fixture(scope="session")
def spark():
    from live_data_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark(
        app_name="live_data_spark-tests",
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            # as in scripts/perf_sweep.py: past this many stages the status
            # store drops skipped stages first, and a tracer span in a late
            # test then fails on a job that lists one
            "spark.ui.retainedStages": str(1 << 20),
        },
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
