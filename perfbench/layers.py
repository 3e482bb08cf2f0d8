"""Which entry points the traced run wraps, and the per-layer metrics.

Layers are named after the program's modules: ``pipeline``
(bikeshop.pipeline, bikeshop.generator, sources.files), ``registry`` and
``testing`` (plans.registry, plans.testing), ``streaming``
(streaming.jobs' AvailableNow runners), and the catalog's operator
modules, whose plan build and execution the headline workload times
itself.
"""

from __future__ import annotations

from perfbench.metrics import HEADLINE, PER_LAYER, PHASE_COUNTERS, PHASES, STREAMS
from perfbench.trace import Tracer

PHASE_ROOTS = {"ingest": "pipeline.run", "models": "registry.run", "tests": "testing.run_tests"}


def _build_span_name(project, name, *args, **kwargs) -> str:
    """``registry.view:<model>`` for staging views, ``registry.table:`` for
    mart tables (``Project.build`` raises for an unknown model itself)."""
    mdef = project._models.get(name)
    return f"registry.{mdef.materialized if mdef else 'unknown'}:{name}"


def install(tracer: Tracer) -> None:
    """Wrap every traced entry point; ``tracer.unwrap_all()`` undoes it."""
    import live_data_spark.bikeshop.pipeline as pipeline
    import live_data_spark.streaming.jobs as jobs
    from live_data_spark.plans.registry import Project
    from live_data_spark.plans.testing import GenericTest

    runner = pipeline.BikeShopPipeline
    tracer.wrap(runner, "run", "pipeline.run")
    tracer.wrap(runner, "generate", "pipeline.generate")
    tracer.wrap(runner, "copy_into", "pipeline.copy")
    # the runner calls sources.files' helpers through its own module names
    tracer.wrap(pipeline, "stage_files", "pipeline.stage")
    tracer.wrap(pipeline, "clean_dir", "pipeline.clean")
    tracer.wrap(Project, "run", "registry.run")
    tracer.wrap(Project, "build", _build_span_name)
    tracer.wrap(Project, "run_tests", "testing.run_tests")
    tracer.wrap(GenericTest, "run", lambda t, *a, **k: f"testing.test:{t.test_name}[{t.model}]")
    # a streaming query runs its Spark jobs on its own thread and job group,
    # so these spans carry time only; the progress listener gives the rest
    tracer.wrap(jobs, "run_available_now", "streaming.rollup")
    tracer.wrap(jobs, "run_available_now_update", "streaming.totals")


def per_layer(tracer: Tracer, run, common: dict[str, float]) -> dict[str, float]:
    """Per-operation means over the timed operations (set-up excluded)."""
    spans = tracer.spans
    ops = [i for i, s in enumerate(spans) if s.name == "op"]
    n = max(len(ops), 1)
    timed = [j for i in ops for j in tracer.subtree(i)]

    def named(pred):
        return [i for i in timed if pred(spans[i].name)]

    def self_s(pred) -> float:
        return sum(tracer.self_time(i) for i in named(pred)) / n

    def counter(idxs, key) -> float:
        return sum(spans[i].counters[key] for i in idxs) / n

    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(common)
    m["tracing_overhead_s"] = sum(spans[i].overhead_s for i in timed) / n
    m["op_s.tail"] = max(run.op_s, default=0.0)
    m["op_s.samples"] = len(run.op_s)

    m["pipeline.run_s"] = self_s(lambda s: s == "pipeline.run")
    for key in ("generate", "stage", "copy", "clean"):
        m[f"pipeline.{key}_s"] = self_s(lambda s, k=key: s == f"pipeline.{k}")
    m["raw.files"] = run.raw_files
    m["raw.rows"] = run.raw_rows
    m["registry.staging_s"] = self_s(lambda s: s.startswith("registry.view:"))
    m["registry.mart_s"] = self_s(lambda s: s.startswith("registry.table:"))
    m["registry.mart_bytes_written"] = counter(
        named(lambda s: s.startswith("registry.table:")), "output_bytes")
    m["testing.run_s"] = sum(spans[i].duration for i in named(lambda s: s == "testing.run_tests")) / n
    m["testing.tests"] = len(named(lambda s: s.startswith("testing.test:"))) / n
    m["testing.failed"] = sum(not r.passed for rs in run.test_results for r in rs) / n
    m["testing.violations"] = sum(r.n_violations for rs in run.test_results for r in rs) / n

    for phase in PHASES:
        roots = named(lambda s, p=phase: s == PHASE_ROOTS[p])
        tree = [j for r in roots for j in tracer.subtree(r)]
        for key in PHASE_COUNTERS:
            if key == "cpu_s":
                m[f"{phase}.cpu_s"] = sum(spans[r].cpu_s for r in roots) / n
            else:
                m[f"{phase}.{key}"] = counter(tree, key)

    for q, mod in HEADLINE.items():
        plan = named(lambda s, q=q: s == f"catalog.plan:{q}")
        exe = named(lambda s, q=q: s == f"catalog.exec:{q}")
        samples = run.query_s.get(q)
        m[f"{q}.s"] = min(samples or (0.0,))
        m[f"{q}.shuffle_bytes"] = counter(plan + exe, "shuffle_bytes")
        m[f"{mod}.plan_s"] += sum(spans[i].duration for i in plan) / n
        m[f"{mod}.exec_s"] += sum(spans[i].duration for i in exe) / n
        m[f"{mod}.cpu_s"] += sum(spans[i].cpu_s for i in plan + exe) / n
        m[f"{mod}.jvm_cpu_s"] += counter(plan + exe, "jvm_cpu_s")
        m[f"{mod}.stages"] += counter(plan + exe, "stages")

    for q in STREAMS:
        m[f"{q}.batch_s"] = self_s(lambda s, q=q: s == f"streaming.{q}")
    for step in run.stream_steps:
        for k, v in step.items():
            m[k] += v / len(run.stream_steps)
    return m
