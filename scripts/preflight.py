"""Driver-style full preflight: every catalog entry vs its DuckDB oracle.

Replicates the external driver's correctness gate over the WHOLE catalog
(the driver itself only checks a prefix): row count + sorted column names +
order-insensitive canonicalized value multiset, at the sf dir given by
$SPARK_GRAFT_SF_DIR (default sf0.01). Rows-only entries are checked for
non-emptiness. Exit code 0 iff everything is green.

Usage: python scripts/preflight.py [name-substring ...]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
# the shared canonicalizer lives in tests/conftest, which pytest puts on
# sys.path but a plain import does not
sys.path.insert(0, str(REPO / "tests"))

import duckdb  # noqa: E402

import __spark_entry__ as se  # noqa: E402
from conftest import canon_rows as normalize  # noqa: E402
from live_data_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Data-quality tests whose PASS state is zero violations: empty output is
# the semantically-correct result on clean testdata, not a trivial oracle.
EMPTY_OK = {"test_relationships_orphans", "test_accepted_values"}

# Rows-only entries whose CORRECT output is empty on this synthetic
# testdata: the ≥0.7 production near-dup band has nothing to find in
# uniform-random embeddings (pairwise cosines top out near 0.5 — true
# near-dups don't exist here by construction). Exactness for these
# lives in planted-case pytest pins, not in testdata row counts.
ROWS_ONLY_EMPTY_OK = {"neardup_lsh_production_band"}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    # flags are NOT name filters: `preflight.py -v` used to treat '-v' as
    # a substring, match nothing, and report an all-green empty run
    only = [a for a in sys.argv[1:] if not a.startswith("-")]
    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    smoke = se.entry(spark).collect()
    assert len(smoke) > 0, "entry() smoke returned 0 rows"

    queries, oracles = se.queries(), se.oracle_sql()
    n_bad = 0
    n_run = 0
    for i, (name, fn) in enumerate(queries.items()):
        if only and not any(s in name for s in only):
            continue
        n_run += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            sql = oracles.get(name)
            if sql is None:
                if len(srows) == 0:
                    status = (
                        "ok(rows-only, empty-by-nature)"
                        if name in ROWS_ONLY_EMPTY_OK
                        else "ROWS-ONLY-EMPTY"
                    )
                else:
                    status = "ok(rows-only)"
            else:
                res = con.execute(sql)
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
                if sorted(sdf.columns) != sorted(ocols):
                    status = f"SCHEMA {sorted(sdf.columns)} vs {sorted(ocols)}"
                elif len(srows) != len(orows):
                    status = f"ROWS {len(srows)} vs {len(orows)}"
                elif len(srows) == 0:
                    status = "ok(empty-is-pass)" if name in EMPTY_OK else "EMPTY"
                elif normalize(srows, sdf.columns) != normalize(orows, ocols):
                    status = "HASH"
                else:
                    status = "ok"
        except Exception as exc:  # noqa: BLE001
            status = f"ERROR {type(exc).__name__}: {exc}"
        bad = not status.startswith("ok")
        n_bad += bad
        if bad or "-v" in sys.argv:
            print(f"[{i:3d}] {name}: {status}")
        else:
            print(f"[{i:3d}] {name}: {status} ({time.time() - t0:.1f}s)")
    scope = f" (filtered from {len(queries)})" if only else ""
    print(f"preflight: {n_run - n_bad}/{n_run} green{scope} at {sf_dir}")
    if only and n_run == 0:
        # a typo'd filter must not read as a passing gate: an empty run
        # verified nothing
        print(f"preflight: filter {only} matched NO queries", file=sys.stderr)
        return 1
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
