#!/usr/bin/env python
"""Dump .explain("formatted") for every headline bench query plus
dedup_prefix_filter_jaccard, one file per query.

Usage:
    SPARK_GRAFT_SF_DIR=<data dir> python scripts/dump_plans.py OUT_DIR

Writes OUT_DIR/<query>.txt for each name in bench.HEADLINE (the list is
read from bench.py, not copied) and for dedup_prefix_filter_jaccard,
planned over the tables in $SPARK_GRAFT_SF_DIR (the bench's variable).
A design change proves it leaves the plans alone by running this on
both commits and diffing the two OUT_DIRs (`diff -r`).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from spotify_serverless_etl_pipeline_engineering_with_azure_spark import get_spark, registry


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main(argv: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(argv) != 1 or not sf_dir:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir = argv[0]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    for name in bench.HEADLINE + ["dedup_prefix_filter_jaccard"]:
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(formatted(qs[name](spark, sf_dir)))
        print(f"dumped {name}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
