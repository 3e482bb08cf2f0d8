"""Oracle-parity harness: replicate the driver's correctness gate locally.

For every catalog entry with an oracle, run the Spark query and the DuckDB
SQL on the same parquet tables and compare row count, column names, and an
order-insensitive value hash — the same contract the driver enforces at
sf0.01 (run here at sf0.001 for speed).
"""

from __future__ import annotations

import pytest

from conftest import canon_rows as normalize  # ONE canonicalizer for every sweep
from conftest import duck_connection
from live_data_spark.catalog import catalog


ORACLE_CASES = sorted(name for name, spec in catalog().items() if spec.oracle is not None)


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_oracle_parity(spark, sf_dir, name):
    spec = catalog()[name]
    sdf = spec.spark(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duck_connection(sf_dir)
    res = con.execute(spec.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(r) for r in res.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    ns, nd = normalize(spark_rows, spark_cols), normalize(duck_rows, duck_cols)
    mism = [i for i, (a, b) in enumerate(zip(ns, nd)) if a != b][:5]
    assert ns == nd, f"{name}: value mismatch at sorted rows {mism}: " + "; ".join(
        f"spark={ns[i]} duck={nd[i]}" for i in mism[:2]
    )


# Types whose driver-side stringification is bit-identical to the Spark
# result's. Anything else — above all HUGEINT (DuckDB's default sum()
# output over BIGINT) and DECIMAL — has produced hash-only mismatches
# three times (q12 + corpus_pipeline_stats in r1, stratified_eval_split
# in r5): values equal, hashes differ. This guard retires the class: a
# new oracle whose plan types a column outside this set fails here, at
# authoring time, instead of in the driver's CORRECTNESS gate.
_ORACLE_TYPE_ALLOWLIST = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT",
    "VARCHAR", "DATE", "TIMESTAMP", "BOOLEAN",
}


def test_oracle_output_types_driver_safe(sf_dir):
    con = duck_connection(sf_dir)
    offenders = []
    for name, spec in catalog().items():
        if spec.oracle is None:
            continue
        rel = con.sql(spec.oracle)  # plans only; no execution needed
        for col, typ in zip(rel.columns, [str(t) for t in rel.types]):
            if typ not in _ORACLE_TYPE_ALLOWLIST:
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "oracle columns typed outside the driver-hash-safe set "
        "(wrap sums in cast(... AS BIGINT) etc.): " + "; ".join(offenders)
    )


def test_every_query_runs(spark, sf_dir):
    """Rows-only entries (no oracle) must still execute and return a schema."""
    for name, spec in catalog().items():
        if spec.oracle is None:
            df = spec.spark(spark, sf_dir)
            assert df.columns, name
            df.limit(5).collect()


def test_entry_smoke(spark):
    import __spark_entry__ as se

    df = se.entry(spark)
    assert df.count() > 0
    assert set(se.oracle_sql()) <= set(se.queries())
