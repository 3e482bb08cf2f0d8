"""Catalog-wide empty-input sweep.

Runs EVERY catalog entry against a zero-row mirror of the testdata (same
parquet schemas, no rows) and asserts it either returns a well-defined
(usually empty) result or raises a clean, documented ``ValueError`` — never
an ANSI job abort (DIVIDE_BY_ZERO), a numpy shape error from an empty
driver-side collect, or a NullPointerException-shaped planner crash.

Motivation: the degenerate-input abort class has bitten this repo
repeatedly in piecemeal form (punct_ratio, zipf_slope, shingling on
sub-k docs, percent_rank on 1-row frames — see tests/test_text_pipeline.py
and tests/test_analytics.py). Those tests each guard ONE operator; this
sweep is the default-deny guard over the WHOLE surface, the same posture
as tests/test_plan_hygiene.py: a new operator that divides by a global
count, fits on a driver-side sample, or windows over an empty frame fails
here without anyone having to remember to probe it.

At 100 TB this is not a toy case: partition-level emptiness (a source with
zero docs after a quality gate, a day with no events, a language bucket
with no rows) is routine, and a pipeline stage that ABORTS on it takes the
whole job down.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

# r13 lane split (VERDICT item 2): catalog-wide strategy/hygiene sweep —
# slow lane (`-m slow`); excluded from the default verify lane by pytest.ini.
pytestmark = pytest.mark.slow

from conftest import TABLES
from live_data_spark.catalog import catalog

SF_SRC = "/root/testdata/sf0.001"

# Entries that REQUIRE data to produce their result and therefore raise a
# clean ValueError on an empty corpus (driver-side fit/sample steps with a
# documented data contract). Default-deny: anything new that cannot run on
# empty input must either gain an internal guard or be added here WITH the
# clean-error contract (the test still asserts the error is a ValueError,
# not a job abort).
NEEDS_DATA: dict[str, str] = {}


@pytest.fixture(scope="session")
def empty_sf_dir(tmp_path_factory) -> str:
    """Zero-row parquet mirror of every testdata table, schema-identical
    (pyarrow schema round-trip — preserves the events table's
    TIMESTAMP(NANOS) ts column exactly as the driver's files store it)."""
    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        schema = pq.read_schema(f"{SF_SRC}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", sorted(catalog()))
def test_catalog_entry_survives_empty_input(spark, empty_sf_dir, name):
    spec = catalog()[name]
    if name in NEEDS_DATA:
        with pytest.raises(ValueError):
            spec.spark(spark, empty_sf_dir).collect()
        return
    rows = spec.spark(spark, empty_sf_dir).collect()
    # No abort is the contract; the result itself is usually [] but a
    # handful of entries legitimately emit constant/summary rows (e.g.
    # zero-count funnels). Only assert it is a list of Rows.
    assert isinstance(rows, list)


def test_pq_codebook_build_fails_cleanly_on_empty_corpus(spark, empty_sf_dir, tmp_path):
    """An artifact BUILD on an empty corpus must refuse with the real
    reason (and persist nothing) — not crash inside np.stack; the
    NEEDS_DATA clean-error contract applied to the non-catalog builder."""
    from live_data_spark.operators.similarity import build_pq_codebook

    idx = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="no embeddings"):
        build_pq_codebook(spark, empty_sf_dir, idx)
    assert not (tmp_path / "idx").exists()
