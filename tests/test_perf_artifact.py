"""Tripwire for the committed full-catalog counter artifact.

PERF_SF01.json (written by scripts/perf_sweep.py) records Spark's stage
counters for every catalog entry at sf0.1. Re-measuring the whole
catalog is `perf_sweep.py --check` (too long for the unit suite); this
module pins what can be checked cheaply:

- the artifact's shape: its parallelism, integer exact counters for
  every entry, no zombie rows, ≥90% catalog coverage (a few mid-round
  additions may precede the next rewrite; forgetting it entirely fails);
- ``flag_entries`` as a pure function;
- the measurement itself at sf0.001: a repeat reads identical exact
  counters, a planted extra exchange is flagged (in stages and in the
  plan's exchange count), and a map-only entry reads zero shuffle bytes
  from a plan with two broadcasts and no shuffle exchange;
- a core-count mismatch refuses before any Spark session starts.
"""

from __future__ import annotations

import dataclasses
import json
import sys

import pytest

from scripts import perf_sweep as ps


def test_perf_artifact_structure_and_coverage():
    from live_data_spark.catalog import catalog

    data = json.loads(ps.ARTIFACT.read_text())
    assert isinstance(data["parallelism"], int) and data["parallelism"] > 0
    entries = data["entries"]
    cat = set(catalog())
    assert set(entries) <= cat, sorted(set(entries) - cat)
    assert set(ps.SHUFFLE_BYTES_VARY) <= set(entries)
    coverage = len(set(entries) & cat) / len(cat)
    assert coverage >= 0.90, (
        f"perf artifact covers {coverage:.0%} of the catalog — "
        "re-run scripts/perf_sweep.py"
    )
    for name, rec in entries.items():
        for k in ps.EXACT:
            assert isinstance(rec[k], int) and rec[k] >= 0, (name, k)
        assert rec["jvm_cpu_s"] >= 0 and rec["sec"] >= 0, name


def _rec(**over):
    rec = dict.fromkeys(ps.EXACT, 0)
    rec.update(jobs=2, stages=3, tasks=9, shuffle_bytes=4096, input_bytes=10**6)
    rec.update(jvm_cpu_s=1.0, sec=2.0)
    rec.update(over)
    return rec


def test_flag_entries_exact_counters_and_loose_cpu(monkeypatch):
    noisy = {"bytes_vary": (4096, 4100), "vary_stages": (4096, 4100)}
    monkeypatch.setattr(ps, "SHUFFLE_BYTES_VARY", noisy)
    base = {
        "entries": {
            "same": _rec(),
            "more_stages": _rec(),
            "more_bytes": _rec(),
            "cpu_tripled": _rec(),
            "cpu_noise": _rec(jvm_cpu_s=0.01),
            "wall_only": _rec(),
            "bytes_vary": _rec(),
            "vary_stages": _rec(),
        }
    }
    fresh = {
        "entries": {
            "same": _rec(jvm_cpu_s=2.9),  # under 3x: CPU is informational
            "more_stages": _rec(stages=4),
            "more_bytes": _rec(shuffle_bytes=4097),
            "cpu_tripled": _rec(jvm_cpu_s=3.1),
            "cpu_noise": _rec(jvm_cpu_s=0.5),  # 50x, but under 3x the floor
            "wall_only": _rec(sec=60.0),  # wall is never checked
            "new_entry": _rec(stages=99),  # not in the artifact yet
            "bytes_vary": _rec(shuffle_bytes=4100),  # known to vary in bytes only
            "vary_stages": _rec(shuffle_bytes=4100, stages=4),
        }
    }
    flagged = ps.flag_entries(base, fresh)
    assert set(flagged) == {"more_stages", "more_bytes", "cpu_tripled", "vary_stages"}
    assert flagged["vary_stages"] == ["stages 3 -> 4"]
    assert flagged["more_stages"] == ["stages 3 -> 4"]
    assert flagged["more_bytes"] == ["shuffle_bytes 4096 -> 4097"]
    assert flagged["cpu_tripled"] == ["jvm_cpu_s 1.0 -> 3.1"]
    assert ps.flag_entries(base, base) == {}


@pytest.fixture(scope="module")
def tracer(spark):
    """One tracer for the module: a tracer names its job groups by pid
    and span index, so a second tracer in the same process would read
    the first one's jobs under its own span 0."""
    from perfbench.trace import Tracer

    return Tracer(spark)


def test_measure_repeats_exactly_and_flags_a_planted_exchange(spark, sf_dir, tracer):
    from live_data_spark.catalog import catalog

    name = "q1_pricing_summary"
    spec = catalog()[name]
    first = ps.measure(tracer, spark, name, spec, sf_dir)
    again = ps.measure(tracer, spark, name, spec, sf_dir)
    assert first["stages"] >= 2 and first["shuffle_bytes"] > 0, first
    assert {k: again[k] for k in ps.EXACT} == {k: first[k] for k in ps.EXACT}

    planted = dataclasses.replace(spec, spark=lambda s, d: spec.spark(s, d).repartition(7))
    moved = ps.measure(tracer, spark, name, planted, sf_dir)
    flagged = ps.flag_entries({"entries": {name: first}}, {"entries": {name: moved}})
    assert list(flagged) == [name]
    assert any(m.startswith("stages ") for m in flagged[name]), flagged
    assert "exchanges 1 -> 2" in flagged[name], flagged


def test_map_only_fact_reads_zero_shuffle_bytes(spark, sf_dir, tracer):
    """fct_order_lineitems carries no broadcast hint: Spark's own size
    threshold broadcasts both of its dims, so the fact is map-only."""
    from live_data_spark.catalog import catalog

    name = "fct_order_lineitems"
    spec = catalog()[name]
    rec = ps.measure(tracer, spark, name, spec, sf_dir)
    assert rec["shuffle_bytes"] == 0, rec
    assert (rec["exchanges"], rec["broadcasts"]) == (0, 2), rec


def test_check_at_other_parallelism_exits_2_before_spark(tmp_path, monkeypatch, capsys):
    artifact = tmp_path / "PERF_SF01.json"
    artifact.write_text(json.dumps({"parallelism": ps.parallelism() + 1, "entries": {}}))
    monkeypatch.setattr(ps, "ARTIFACT", artifact)

    def no_spark(*a, **k):
        raise AssertionError("a parallelism mismatch must refuse before Spark starts")

    monkeypatch.setattr(ps, "get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", ["perf_sweep.py", "--check"])
    assert ps.main() == 2
    assert "parallelism" in capsys.readouterr().out

