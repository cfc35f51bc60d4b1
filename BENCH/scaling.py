"""Scaling-efficiency evidence (north_rule): the same crawl job at two
parallelism levels — local[N] vs local[4N] on identical seeded input —
reporting throughput at both and efficiency tp_4N / (4 × tp_N).

Protocol (round-2, per VERDICT.md #5):
* rounds are sized so the per-round FIXED cost (job launch + snapshot-commit
  barriers, ~8-12s, constant in core count) is ≤5% of the round wall at the
  SMALL level — the regime the metric names (10^7-URL rounds on 1000
  executors), reached here by fetching ~4·10^5 URLs + deduping ~2.4·10^6
  links per round;
* each measurement runs in a fresh subprocess (own JVM); bootstrap (synthetic
  web generation — not part of the crawl job) is excluded from timing;
* levels run in interleaved repeats and the MIN wall per level is taken: the
  shared-host VM shows time-varying CPU steal, and min-of-repeats estimates
  the uncontended cost;
* a no-Spark CPU probe (pure busy-loop throughput at N and 4N processes)
  runs between measurements, recording what the HARDWARE delivered at that
  minute — if the probe itself scales < 1.0, that bound applies to any
  process on the box;
* per-round stage walls (schedule/fetch+parse+links/dedup/commits) are
  recorded so the t = C + W/cores decomposition is measurable, not asserted.

Defaults: N=8 vs 4N=32 (the 32-vCPU box).  SCALE_LEVELS=4,16 leaves steal
headroom.  Reproduce: python BENCH/scaling.py
"""

from __future__ import annotations

import json
import multiprocessing
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import json, os, sys, tempfile, time, shutil
sys.path.insert(0, %(repo)r)
cpus = int(sys.argv[1])
from adavnceseo_crawler_spark.session import get_spark
from adavnceseo_crawler_spark.catalog import SnapshotCatalog
from adavnceseo_crawler_spark.config import CrawlConfig
from adavnceseo_crawler_spark.plans import loop
from adavnceseo_crawler_spark import synth

N_PAGES, N_HOSTS, ROUNDS = %(pages)d, %(hosts)d, %(rounds)d
spark = get_spark("scalebench", master=f"local[{cpus}]", shuffle_partitions=2*cpus,
  extra_conf={
    # straggler mitigation: on this shared VM a stolen vCPU stalls whole
    # stage barriers at full width; speculation re-launches slow tasks
    "spark.speculation": "true",
    "spark.speculation.multiplier": "1.5",
    "spark.speculation.quantile": "0.75",
    # a 1-2 GB web table at the default 128 MB maxPartitionBytes yields only
    # ~12-24 scan tasks — the fetch-join + parse stage inherits that and
    # underutilizes 32 cores; size splits so the scan fans out past 4N cores
    "spark.sql.files.maxPartitionBytes": os.environ.get("SCALE_MPB", "16m"),
  })
cfg = CrawlConfig(politeness_budget=%(budget)d, batch_size=N_PAGES,
                  max_rounds=ROUNDS, store_parsed=False,
                  # SCALE_BLOOM=1 switches dedup to the sharded-Bloom scale
                  # path (url_seen never re-shuffled; FPR-bounded, no-FN)
                  use_bloom=bool(int(os.environ.get("SCALE_BLOOM", "0"))),
                  bloom_capacity=int(os.environ.get("SCALE_BLOOM_CAP", "20000000")))
wh = tempfile.mkdtemp(prefix=f"scale{cpus}_", dir=os.environ.get("SCALE_TMP") or None)
cat = SnapshotCatalog(spark, wh)
shared_web = os.environ.get("SCALE_SHARED_WEB") or None
loop.bootstrap(spark, cat, cfg,
    synth.gen_seeds(spark, N_PAGES, N_HOSTS, n_seeds=%(seeds)d),
    None if shared_web else synth.gen_pages(spark, N_PAGES, N_HOSTS, partitions=max(128, 4*cpus)),
    synth.gen_robots(spark, N_HOSTS),
    web_external_dir=shared_web)
t0 = time.monotonic()
stats = loop.run_crawl(spark, cat, cfg)
wall = time.monotonic() - t0
fetched = sum(s["fetched"] for s in stats)
deduped = sum(s["links"] for s in stats)
print("RESULT " + json.dumps({"cpus": cpus, "wall_sec": round(wall,2),
      "fetched": fetched, "deduped": deduped,
      "rounds": [{k: s[k] for k in ("round","urls_in","scheduled","fetched","links","new_urls","wall_ms","times","commit_walls") if k in s} for s in stats],
      "urls_per_sec": round((fetched+deduped)/wall, 1)}))
shutil.rmtree(wh, ignore_errors=True)
"""


GENWEB = r"""
import os, sys
sys.path.insert(0, %(repo)r)
from adavnceseo_crawler_spark.session import get_spark
from adavnceseo_crawler_spark import synth
spark = get_spark("genweb", master="local[*]")
synth.gen_pages(spark, %(pages)d, %(hosts)d, partitions=256).write.mode(
    "overwrite").parquet(sys.argv[1])
print("GENWEB_DONE")
"""


def ensure_shared_web(pages: int, hosts: int, base: str) -> str:
    """Generate the immutable synthetic web ONCE per config (excluded from
    all timings; every level registers it in place via catalog
    register_external — Iceberg add_files)."""
    path = os.path.join(base, f"webshared_{pages}_{hosts}.parquet")
    marker = path + ".done"
    if not os.path.exists(marker):
        code = GENWEB % {"repo": REPO, "pages": pages, "hosts": hosts}
        out = subprocess.run(
            [sys.executable, "-c", code, path],
            capture_output=True, text=True, timeout=7200,
        )
        if "GENWEB_DONE" not in out.stdout:
            raise RuntimeError(f"genweb failed:\n{out.stdout[-1500:]}\n{out.stderr[-1500:]}")
        open(marker, "w").write("ok")
    return path


def run_level(cpus: int, pages: int, hosts: int, rounds: int, seeds: int, budget: int) -> dict:
    code = RUNNER % {
        "repo": REPO, "pages": pages, "hosts": hosts, "rounds": rounds,
        "seeds": seeds, "budget": budget,
    }
    out = subprocess.run(
        [sys.executable, "-c", code, str(cpus)],
        capture_output=True, text=True, timeout=7200,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"no RESULT for cpus={cpus}:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    )


def _busy(n: int, out) -> None:
    t_end = time.monotonic() + 2.0
    c = 0
    x = 1.0
    while time.monotonic() < t_end:
        for _ in range(10000):
            x = x * 1.0000001 + 1e-9
        c += 10000
    out.put(c)


def cpu_probe(lo: int, hi: int) -> dict:
    """Pure-CPU busy-loop throughput at lo and hi processes — measures what
    the (possibly stolen) hardware delivers right now, no Spark involved."""
    res = {}
    for n in (lo, hi):
        q: multiprocessing.Queue = multiprocessing.Queue()
        ps = [multiprocessing.Process(target=_busy, args=(n, q)) for _ in range(n)]
        t0 = time.monotonic()
        for p in ps:
            p.start()
        total = sum(q.get() for _ in ps)
        for p in ps:
            p.join()
        res[n] = round(total / (time.monotonic() - t0) / 1e6, 1)  # Mops/s
    res["efficiency"] = round(res[hi] / (res[lo] * (hi / lo)), 3)
    return res


def main() -> None:
    lo, hi = (
        int(x) for x in os.environ.get("SCALE_LEVELS", "8,32").split(",")
    )
    pages = int(os.environ.get("SCALE_PAGES", "1500000"))
    hosts = int(os.environ.get("SCALE_HOSTS", "8000"))
    rounds = int(os.environ.get("SCALE_ROUNDS", "2"))
    seeds = int(os.environ.get("SCALE_SEEDS", "1200000"))
    budget = int(os.environ.get("SCALE_BUDGET", "1500"))
    repeats = int(os.environ.get("SCALE_REPEATS", "2"))

    if os.environ.get("SCALE_SHARED_WEB_BASE"):
        os.environ["SCALE_SHARED_WEB"] = ensure_shared_web(
            pages, hosts, os.environ["SCALE_SHARED_WEB_BASE"]
        )

    runs: dict[int, list[dict]] = {lo: [], hi: []}
    probes: list[dict] = []
    memprobes: list[dict] = []

    def _memprobe() -> None:
        # STREAM-style bandwidth snapshot bracketing each measurement: the
        # CPU probe is register-only and blind to a neighbor hammering the
        # memory bus — the dominant noise source observed on this host
        # (bandwidth swings 0.2-35 GB/s second-to-second in bad windows)
        import memprobe as mp

        res = {str(n): mp.run(n) for n in (lo, hi)}
        res["efficiency"] = round(res[str(hi)] / (res[str(lo)] * (hi / lo)), 3)
        memprobes.append(res)
        print(json.dumps({"mem_probe": res}), flush=True)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    for _ in range(repeats):
        for cpus in (lo, hi):
            probes.append(cpu_probe(lo, hi))
            print(json.dumps({"cpu_probe": probes[-1]}), flush=True)
            _memprobe()
            runs[cpus].append(run_level(cpus, pages, hosts, rounds, seeds, budget))
            print(json.dumps(runs[cpus][-1]), flush=True)
    _memprobe()

    best_lo = min(runs[lo], key=lambda r: r["wall_sec"])
    best_hi = min(runs[hi], key=lambda r: r["wall_sec"])
    factor = hi / lo
    eff = best_hi["urls_per_sec"] / (factor * best_lo["urls_per_sec"])
    result = {
        "levels": [lo, hi],
        "config": {"pages": pages, "hosts": hosts, "rounds": rounds,
                   "seeds": seeds, "budget": budget},
        f"N{lo}": best_lo, f"N{hi}": best_hi,
        "scaling_efficiency": round(eff, 3),
        "all_walls": {c: [r["wall_sec"] for r in rs] for c, rs in runs.items()},
        "cpu_probes": probes,
        "mem_probes": memprobes,
    }
    print(json.dumps(result))
    # raw result lands in a JSON next to the hand-authored analysis
    # (BENCH/BASELINE.md) rather than overwriting it
    with open(os.path.join(REPO, "BENCH", "scaling_result.json"), "w") as f:
        json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
