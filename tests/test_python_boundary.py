"""Fixed costs at the driver↔Python boundary.

- ``session.local_frame``: small driver-side results become Arrow-backed
  LocalRelations (no Spark job, no Python worker to collect them), and a
  default-deny parse keeps every ``createDataFrame`` in the package behind
  it.
- ``worker_daemon``: Python workers import the installed, bytecode-cached
  pyspark instead of compiling Spark's source-only zip, when the two are
  the same version.
"""

from __future__ import annotations

import ast
import math
from pathlib import Path

import numpy as np
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from live_data_spark.session import local_frame
from live_data_spark.worker_daemon import bytecode_first

PACKAGE = Path(__file__).resolve().parents[1] / "live_data_spark"


def _jobs_in_fresh_group(spark, group: str, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, "local_frame job count")
    try:
        result = action()
        return result, sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


# -- local_frame ------------------------------------------------------------


def test_local_frame_collects_without_a_job(spark):
    df = local_frame(spark, [(i, float(i) / 3) for i in range(8)], "k int, v double")
    rows, jobs = _jobs_in_fresh_group(spark, "local-frame-probe", df.collect)
    assert len(rows) == 8
    assert jobs == []


def test_local_frame_round_trips_types_and_nulls(spark):
    ddl = "i int, b bigint, d double, s string, a array<double>"
    rows = [
        (1, 2**40, 0.5, "x", [1.0, None, -2.5]),
        (None, None, None, None, None),
        (-3, None, 7, "", []),  # an int in a double column widens
        (None, -1, math.inf, None, [None]),
    ]
    df = local_frame(spark, rows, ddl)
    assert df.schema == StructType.fromDDL(ddl)
    got = [tuple(r) for r in df.collect()]
    assert got == [
        (1, 2**40, 0.5, "x", [1.0, None, -2.5]),
        (None, None, None, None, None),
        (-3, None, 7.0, "", []),
        (None, -1, math.inf, None, [None]),
    ]


def test_local_frame_empty_rows_keep_the_declared_schema(spark):
    struct = StructType(
        [
            StructField("id", LongType(), nullable=False),
            StructField("v", ArrayType(DoubleType()), nullable=True),
        ]
    )
    df = local_frame(spark, [], struct)
    assert df.schema == struct
    rows, jobs = _jobs_in_fresh_group(spark, "local-frame-empty", df.collect)
    assert rows == [] and jobs == []
    ddl = local_frame(spark, iter(()), "fp string")
    assert ddl.schema == StructType.fromDDL("fp string")
    assert ddl.count() == 0


def test_local_frame_keeps_row_order(spark):
    keys = [5, 3, 9, 1, 7, 2, 8, 0, 6, 4] * 3
    df = local_frame(spark, [(k, i) for i, k in enumerate(keys)], "k int, i int")
    assert [(r["k"], r["i"]) for r in df.collect()] == [(k, i) for i, k in enumerate(keys)]


def test_embedding_kmeans_profile_in_cluster_order_matches_numpy(spark, sf_dir):
    """The profile is a LocalRelation in cluster order (no Sort over it),
    and its values still match a numpy recomputation of the profile from
    tests/test_clustering.py's reference fit."""
    from live_data_spark.operators.clustering import K_CLUSTERS, N_ITERS, embedding_kmeans
    from test_clustering import _load_numpy, _reference_kmeans

    df = embedding_kmeans(spark, sf_dir)
    assert "Sort" not in df._jdf.queryExecution().optimizedPlan().toString()
    got = df.collect()

    _, mat = _load_numpy(sf_dir)
    cent = _reference_kmeans(mat, K_CLUSTERS, N_ITERS)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    assign = np.argmax(unit @ cent.T, axis=1)
    want = []
    for c in range(K_CLUSTERS):
        members = assign == c
        if members.any():
            s = mat[members].sum(axis=0)
            mean_cos = float((unit[members] @ (s / np.linalg.norm(s))).mean())
            want.append((c, int(members.sum()), mean_cos))

    assert [r["cluster"] for r in got] == [w[0] for w in want]  # cluster order
    assert [r["n_points"] for r in got] == [w[1] for w in want]
    for r, (_, _, mean_cos) in zip(got, want):
        assert abs(r["mean_cos_to_centroid"] - mean_cos) <= 5e-5 + 1e-12


# (module path relative to the package, enclosing function) allowed to
# call createDataFrame
CREATE_OK: set[tuple[str, str]] = {
    ("session.py", "local_frame"),  # the Arrow table → LocalRelation
}


def test_driver_side_frames_only_through_local_frame():
    """Default-deny, like tests/test_stream_hygiene.py: a ``createDataFrame``
    on a Python list builds an RDD of pickled rows, one Spark job per
    action; every driver-side result goes through ``local_frame``."""
    from test_stream_hygiene import _method_calls

    found, offenders = set(), []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for fn, line in _method_calls(ast.parse(path.read_text()), {"createDataFrame"}):
            found.add((rel, fn))
            if (rel, fn) not in CREATE_OK:
                offenders.append(f"{rel}:{line} in {fn}()")
    assert not offenders, f"createDataFrame outside session.local_frame: {offenders}"
    # the sweep must see local_frame itself, or it is scanning nothing
    assert CREATE_OK <= found, CREATE_OK - found


# -- worker daemon ----------------------------------------------------------

SITE = "/py/site-packages"
PYSPARK_ZIP = "/spark/python/lib/pyspark.zip"
PY4J_ZIP = "/spark/python/lib/py4j-0.10.9.9-src.zip"
PATH = ["/repo", PYSPARK_ZIP, PY4J_ZIP, "/py/lib", SITE]
BUNDLED = {PYSPARK_ZIP: ("pyspark", "4.1.2"), PY4J_ZIP: ("py4j", "0.10.9.9")}


def test_matching_versions_move_the_zips_behind_the_installed_copy():
    installed = {"pyspark": "4.1.2", "py4j": "0.10.9.9"}
    assert bytecode_first(PATH, installed, BUNDLED) == [
        "/repo", "/py/lib", SITE, PYSPARK_ZIP, PY4J_ZIP
    ]


def test_each_zip_moves_only_for_its_own_package_version():
    installed = {"pyspark": "4.1.2", "py4j": "0.10.9.7"}
    assert bytecode_first(PATH, installed, BUNDLED) == [
        "/repo", PY4J_ZIP, "/py/lib", SITE, PYSPARK_ZIP
    ]


def test_other_or_missing_installed_pyspark_leaves_the_path():
    for installed in ({"pyspark": "4.0.1"}, {"pyspark": None}, {}):
        assert bytecode_first(PATH, installed, BUNDLED) == PATH


def test_no_zip_on_the_path_leaves_the_path():
    path = ["/repo", "/py/lib", SITE]
    assert bytecode_first(path, {"pyspark": "4.1.2"}, {p: None for p in path}) == path


def test_workers_import_pyspark_outside_a_zip(spark):
    import pandas as pd

    def where(batches):
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({"file": [pyspark.__file__]})

    files = {r["file"] for r in spark.range(1).mapInPandas(where, "file string").collect()}
    assert files and not any(".zip" in f for f in files), files
