"""Capture .explain('formatted') for queries into plans/r06/<q>_<tag>.txt.

Usage: python BENCH/capture_plans.py before q56 q60 ...
       python BENCH/capture_plans.py after  q56
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    tag = sys.argv[1]
    prefixes = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())

    from adavnceseo_crawler_spark.queries import QUERIES
    from adavnceseo_crawler_spark.session import get_spark

    spark = get_spark("capture_plans", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    outdir = os.path.join(ROOT, "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    for name, fn in QUERIES.items():
        if prefixes and not any(name.startswith(p) for p in prefixes):
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        short = name.split("_")[0]
        path = os.path.join(outdir, f"{short}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
