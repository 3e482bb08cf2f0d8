#!/usr/bin/env python
"""Capture ``.explain("formatted")`` for catalog entries into plan files.

The optimization rounds' evidence contract: every touched query commits
``plans/r<N>/<entry>_before.txt`` and ``..._after.txt``. Run this from
the tree whose plans you want (a git worktree of the round-open commit
for honest befores — the r12 lesson: a "before" captured post-change is
not evidence), pointing ``--out-dir`` at the plans directory.

Usage:
    python scripts/capture_plans.py ENTRY [ENTRY ...] \
        --out-dir plans/r13 --suffix _after [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("entries", nargs="+", help="catalog entry names")
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--suffix", default="", help="e.g. _before / _after")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from live_data_spark.catalog import catalog
    from live_data_spark.session import get_spark

    spark = get_spark(
        app_name="capture_plans",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = Path(args.out_dir)
    out.mkdir(parents=True, exist_ok=True)
    cat = catalog()
    rc = 0
    for name in args.entries:
        spec = cat.get(name)
        if spec is None:
            print(f"unknown entry: {name}", file=sys.stderr)
            rc = 2
            continue
        df = spec.spark(spark, args.sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = out / f"{name}{args.suffix}.txt"
        path.write_text(buf.getvalue())
        print(f"{path}: {len(buf.getvalue())} bytes")
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
