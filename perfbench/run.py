"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload live_refresh --seed 1 --seconds 1 --trace 0

Run it from the root of a checkout. It starts one Spark session at
``local[<nproc>]`` through ``live_data_spark.session.get_spark``, drives the
workload in a closed loop with one client for ``--seconds``, checks every
output, and prints as its last line one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` wraps each layer's entry points and
prints the per-layer metrics instead. All scratch files live under
``.perfbench_work/`` in the checkout and are removed on exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

REPO = Path(__file__).resolve().parents[1]
WORKLOADS = ("headline", "live_refresh")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: Path, cpus: int) -> None:
    """Point every scratch path into ``work`` and let Python workers import
    the package from the checkout."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(REPO) + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ.pop("SPARK_MASTER", None)


def start_session(work: Path):
    from live_data_spark.session import get_spark

    spark = get_spark(extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(stat.parent.name))
    return out


def stop_session(spark, jvm_pid: int) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    gateway = spark.sparkContext._gateway
    workers = _children(jvm_pid)
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while workers and time.monotonic() < deadline:
            workers = [w for w in workers if Path(f"/proc/{w}").exists()]
            time.sleep(0.1)


def end_to_end(run) -> dict[str, float]:
    return {"setup_s": run.setup_s, "op_s": statistics.median(run.op_s)}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (REPO / "live_data_spark" / "session.py").is_file():
        print(f"perfbench: no live_data_spark package under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(REPO))
    from perfbench import host, layers, metrics, workloads
    from perfbench.trace import Tracer

    cpus = host.nproc()
    loadavg_pre = host.loadavg_1m()
    work = REPO / ".perfbench_work" / f"run-{os.getpid()}"
    prepare_env(work, cpus)
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        try:
            tracer = None
            if args.trace:
                tracer = Tracer(spark)
                layers.install(tracer)
            ctx = workloads.Context(spark, args.seed, args.seconds, work, T_START, tracer)
            try:
                run = getattr(workloads, args.workload)(ctx)
            finally:
                if tracer is not None:
                    tracer.unwrap_all()
            rss_mb = host.vm_hwm_mb(jvm_pid) + host.vm_hwm_mb()
        finally:
            stop_session(spark, jvm_pid)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run is still using it

    for p in run.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    if not run.op_s:
        print(f"perfbench: every timed operation of {args.workload} failed", file=sys.stderr)
        return 1
    wall = sum(run.op_s) * cpus
    steal_pct = 100.0 * run.op_steal_s / wall if wall else 0.0
    cpu_s = statistics.median(run.op_cpu_s) if run.op_cpu_s else 0.0
    if args.trace:
        values = layers.per_layer(tracer, run, {
            "session.start_s": session_s,
            "cpu_s": cpu_s,
            "peak_rss_mb": rss_mb,
            "host.nproc": cpus,
            "host.loadavg_pre": loadavg_pre,
            "host.steal_pct": steal_pct,
        })
        units = metrics.PER_LAYER
    else:
        values = end_to_end(run)
        units = metrics.END_TO_END
    print(f"perfbench: {args.workload} seed={args.seed} nproc={cpus} loadavg_pre={loadavg_pre} "
          f"steal_pct={steal_pct:.2f} cpu_s={cpu_s:.3f} peak_rss_mb={rss_mb:.1f} "
          f"fail_ratio={run.failed}/{run.attempted}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
