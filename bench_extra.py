"""Round-6 optimization harness (guide §1.4): per-query noop-sink timing
with repeats, warm session, job labels, and host-noise probes.

NOT the driver bench — bench.py stays frozen.  This exists so each
optimization can be measured in isolation (min over repeats is the
noise-robust statistic on this loud host; BENCH/BASELINE.md).

Usage:
    python bench_extra.py                 # all HEADLINE queries, 3 reps
    python bench_extra.py q56 q60         # by prefix, 3 reps
    BENCH_EXTRA_REPS=5 python bench_extra.py q56
Prints one JSON line: {"queries": {name: [sec...]}, "min": {...}, ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE, _host_probe  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    reps = int(os.environ.get("BENCH_EXTRA_REPS", "3"))

    from adavnceseo_crawler_spark.queries import QUERIES
    from adavnceseo_crawler_spark.session import get_spark

    prefixes = sys.argv[1:]
    names = [
        n for n in HEADLINE
        if not prefixes or any(n.startswith(p) for p in prefixes)
    ]

    probe_pre = _host_probe()
    spark = get_spark("bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    # warm the session so rep 1 of the first query isn't charged JVM/codegen
    # bring-up (bench.py charges it to q01; here we want per-query deltas)
    spark.range(1000000).selectExpr("sum(id)").write.mode("overwrite").format(
        "noop"
    ).save()

    out: dict[str, list[float]] = {}
    for name in names:
        fn = QUERIES[name]
        samples = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"{name}#r{r}")
            t0 = time.monotonic()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            samples.append(round(time.monotonic() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = samples
        print(f"# {name}: {samples}", file=sys.stderr)

    print(json.dumps({
        "queries": out,
        "min": {k: min(v) for k, v in out.items()},
        "probe_gbps": {"pre": probe_pre, "post": _host_probe()},
        "reps": reps,
        "sf_dir": sf_dir,
    }))


if __name__ == "__main__":
    main()
