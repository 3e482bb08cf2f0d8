"""Catalog-wide broadcast-gate-closed sweep — run the 100× PLAN SHAPE.

Join strategy is Spark's own choice: ``autoBroadcastJoinThreshold``
(64 MB, static and AQE) broadcasts a join side whose estimated size is
under it. The repo's own size gates (catalog.edges_fit_gate and
similarity's read of catalog.BROADCAST_GATE_BYTES) pick between two
ALGORITHMS for one result, and the gate-open arm is the one small
inputs take. This sweep runs the
arms a corpus 1000× past every gate would take, CATALOG-WIDE, by
running every entry twice at sf0.001:

  1. default config (gates open at this SF, auto-broadcast on) — the
     plans the oracle parity suite verified;
  2. every gate forced SHUT (catalog.BROADCAST_GATE_BYTES patched to
     −1) AND Spark's own auto-broadcast disabled (static + AQE
     autoBroadcastJoinThreshold = −1) — the join strategies and arms
     the SAME code would choose at that scale,

and asserts the canonicalized results are identical. This is the
claim "the 100× plan degrades to SMJ without changing answers" as
executed code rather than prose, and a default-deny guard: a new
operator whose result depends on its join STRATEGY (broadcast-order
first()/any_value grabs, strategy-dependent partial-agg association)
fails here even though oracle parity and the partition-layout sweep
pass.

Explicit ``F.broadcast`` hints on fixed-domain frames (nation/region,
calendar grids, k-row centroid frames, 1-row aggregates) survive both
arms BY DESIGN — hints bypass the threshold, and those frames never
scale with SF. That is exactly the deliberate split SCALE.md §1
documents; non-equi joins keep their pinned BNLJ shape through the
hint rather than collapsing to CartesianProduct.
"""

from __future__ import annotations

import pytest

# r13 lane split (VERDICT item 2): catalog-wide strategy/hygiene sweep —
# slow lane (`-m slow`); excluded from the default verify lane by pytest.ini.
pytestmark = pytest.mark.slow

import live_data_spark.catalog as cat
from conftest import canon_rows as _canon
from live_data_spark.catalog import catalog

SF_SMOKE = "/root/testdata/sf0.001"


_THRESH_CONFS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
)


def test_gate_patch_actually_closes_the_gate(monkeypatch):
    """Vacuity guard for the sweep itself: the gates must read the
    constant at CALL time, so patching the module global genuinely
    flips them to their closed arms. If a refactor re-bakes the constant
    into a def-time default, the sweep would silently compare two
    identical runs — this test fails instead."""
    assert cat.edges_fit_gate(1)
    monkeypatch.setattr(cat, "BROADCAST_GATE_BYTES", -1)
    assert not cat.edges_fit_gate(1)


@pytest.mark.parametrize("name", sorted(catalog()))
def test_catalog_entry_survives_closed_broadcast_gates(spark, name, monkeypatch):
    spec = catalog()[name]

    def run():
        df = spec.spark(spark, SF_SMOKE)
        return _canon([tuple(r) for r in df.collect()], df.columns)

    base = run()

    old = {}
    for k in _THRESH_CONFS:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        monkeypatch.setattr(cat, "BROADCAST_GATE_BYTES", -1)
        for k in _THRESH_CONFS:
            spark.conf.set(k, "-1")
        closed = run()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert closed == base, f"{name}: result depends on the broadcast join strategy"
