"""Tests of the benchmark itself; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pytest

import numpy as np

from perfbench import datagen, layers, metrics, stream, workloads
from perfbench.run import end_to_end
from perfbench.trace import Tracer

REPO = Path(__file__).resolve().parents[2]


def _declared(kind: str) -> dict[str, str]:
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def _fake_run(name: str) -> workloads.Run:
    run = workloads.Run(setup_s=40.0, op_s=[5.0, 6.0], op_cpu_s=[9.0, 10.0])
    run.query_s = {q: [0.5, 0.7] for q in metrics.HEADLINE} if name == "headline" else {}
    if name == "live_refresh":
        run.stream_steps = [{"rollup.add_batch_ms": 100.0, "totals.state_rows": 150.0}] * 2
    return run


@pytest.mark.parametrize("name", ["live_refresh", "headline"])
def test_printed_metric_names_match_benchmark_json(name):
    run = _fake_run(name)
    e2e = end_to_end(run)
    assert {k: metrics.END_TO_END[k] for k in e2e} == _declared("end_to_end")
    per_layer = layers.per_layer(Tracer(), run, {"session.start_s": 10.0})
    assert {k: metrics.PER_LAYER[k] for k in per_layer} == _declared("per_layer")


def test_op_s_is_the_median_operation_and_query_time_the_best():
    per_layer = layers.per_layer(Tracer(), _fake_run("live_refresh"), {})
    assert per_layer["rollup.add_batch_ms"] == 100.0
    assert per_layer["totals.state_rows"] == 150.0
    per_layer = layers.per_layer(Tracer(), _fake_run("headline"), {})
    assert per_layer["dedup_exact.s"] == 0.5
    assert end_to_end(_fake_run("headline"))["op_s"] == 5.5


def test_workloads_match_benchmark_json():
    from perfbench.run import WORKLOADS

    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOADS


def _ctx(seconds: float = 0.0) -> workloads.Context:
    return workloads.Context(None, 1, seconds, Path("."), time.perf_counter())


def test_planted_wrong_result_raises_fail_ratio():
    run = workloads.Run()
    workloads.closed_loop(_ctx(), run, lambda: (lambda: ["planted wrong row"]))
    assert (run.attempted, run.failed) == (1, 1)
    assert run.problems == ["planted wrong row"]


def test_loop_starts_no_operation_that_would_end_past_the_window():
    run = workloads.Run()

    def op():
        time.sleep(0.1)
        return lambda: []

    workloads.closed_loop(_ctx(seconds=0.25), run, op)
    assert (run.attempted, len(run.op_s), run.failed) == (2, 2, 0)


def test_raised_error_counts_as_failed_operation():
    run = workloads.Run()

    def op():
        raise RuntimeError("planted")

    workloads.closed_loop(_ctx(), run, op)
    assert (run.attempted, run.failed) == (1, 1)
    assert "planted" in run.problems[0]


class _Result:
    def __init__(self, name, model, passed, n=0):
        self.test_name, self.model, self.passed, self.n_violations = name, model, passed, n


def test_dag_checks_catch_double_append_and_failed_tests():
    ok = [_Result("unique_customer_id", "source:bike_shop.orders", False, 21),
          _Result("not_null_id", "source:bike_shop.customers", True)]
    good = {"customers": 2000, "orders": 2000, "order_products": 2990}
    assert workloads.check_dag_run(good, ok, runs=2) == []
    assert workloads.check_dag_run(dict(good, customers=1000, orders=1000), None, runs=1) == []
    assert workloads.check_dag_run(good, [], runs=2) == ["no data tests ran"]
    doubled = dict(good, orders=3000)
    assert workloads.check_dag_run(doubled, ok, runs=2)
    failing = ok + [_Result("unique_order_product_id", "fct_order_products", False, 3)]
    assert workloads.check_dag_run(good, failing, runs=2)


def test_oracle_check_flags_a_planted_wrong_row(tmp_path):
    import duckdb

    sf = datagen.generate(5, tmp_path)
    sql = "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf / 'events.parquet'}')")
    rows = con.execute(sql).fetchall()
    con.close()
    assert workloads.oracle_problems(sf, {"q": (["event_type", "n"], rows)}, {"q": sql}) == {}
    planted = [(rows[0][0], rows[0][1] + 1), *rows[1:]]
    bad = workloads.oracle_problems(sf, {"q": (["event_type", "n"], planted)}, {"q": sql})
    assert set(bad) == {"q"}


def test_traced_self_times_sum_to_wall_time_within_overhead():
    tracer = Tracer()
    with tracer.span("op"):
        with tracer.span("pipeline.run"):
            time.sleep(0.02)
            with tracer.span("pipeline.generate"):
                time.sleep(0.03)
        with tracer.span("registry.run"):
            for _ in range(3):
                with tracer.span("registry.table:m"):
                    time.sleep(0.01)
    tree = tracer.subtree(0)
    wall = tracer.spans[0].duration
    self_sum = sum(tracer.self_time(i) for i in tree)
    overhead = sum(tracer.spans[i].overhead_s for i in tree[1:])
    assert all(tracer.self_time(i) >= 0 for i in tree)
    assert self_sum <= wall + 1e-9
    assert wall - self_sum == pytest.approx(overhead, abs=1e-6)
    assert tracer.self_time(tree[1]) == pytest.approx(0.02, abs=0.015)


def test_kmeans_check_flags_a_planted_wrong_profile(tmp_path):
    from live_data_spark.operators.clustering import K_CLUSTERS, N_ITERS

    sf = datagen.generate(3, tmp_path)
    ref = workloads.kmeans_profile_reference(sf, K_CLUSTERS, N_ITERS)
    cols = ["cluster", "n_points", "mean_cos_to_centroid"]
    rows = [(c, n, round(cos, 4)) for c, n, cos in ref]
    assert sum(n for _, n, _ in ref) == datagen.N_VECS
    assert workloads.kmeans_problem(sf, (cols, rows)) is None
    moved = [(rows[0][0], rows[0][1] + 1, rows[0][2]), (rows[1][0], rows[1][1] - 1, rows[1][2]),
             *rows[2:]]
    assert workloads.kmeans_problem(sf, (cols, moved))
    off = [(c, n, cos + 0.01) for c, n, cos in rows]
    assert workloads.kmeans_problem(sf, (cols, off))


def test_event_slices_arrive_late_but_inside_the_watermark(tmp_path):
    slices = stream.event_slices(4, tmp_path)
    assert [len(s) for s in slices] == [stream.SLICE_EVENTS] * (datagen.N_EVENTS // stream.SLICE_EVENTS)
    ts = [s.column("ts").cast("int64").to_numpy() for s in slices]
    assert any((np.diff(t) < 0).any() for t in ts)  # out of order within a slice
    for i in range(1, len(ts)):
        # the watermark after a slice is the latest event so far minus 2
        # hours; no event of the next slice may fall behind it
        assert ts[i].min() > max(t.max() for t in ts[:i]) - stream.WATERMARK_US


def test_datagen_matches_the_measured_shapes(tmp_path):
    import pyarrow.parquet as pq

    sf = datagen.generate(2, tmp_path)
    texts = pq.read_table(sf / "documents.parquet").column("text").to_pylist()
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(dups) == datagen.N_DOCS // 20 and all(t[:-4] in texts for t in dups)
    assert len(set(texts)) == len(texts)
    assert all(10 <= len(t.split()) <= 100 for t in texts)
    emb = pq.read_table(sf / "embeddings.parquet")
    v = np.array(emb.column("embedding").to_pylist())
    labels = emb.column("label").to_numpy()
    sims = v @ v.T
    np.fill_diagonal(sims, -1)
    # isotropic: a vector's nearest neighbour shares its label about as
    # often as chance would have it
    assert (labels[sims.argmax(1)] == labels).mean() < 0.25
    price = pq.read_table(sf / "lineitem.parquet").column("l_extendedprice").to_numpy()
    assert 900 <= price.min() and price.max() <= 105000 and 45000 < price.mean() < 60000


def test_datagen_is_a_function_of_the_seed(tmp_path):
    a, b, c = (datagen.generate(s, tmp_path / d) for s, d in ((7, "a"), (7, "b"), (8, "c")))
    for f in sorted(a.glob("*.parquet")):
        assert f.read_bytes() == (b / f.name).read_bytes()
    assert (a / "lineitem.parquet").read_bytes() != (c / "lineitem.parquet").read_bytes()


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(REPO / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "headline", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
