"""Crawl-round and corpus-query benchmark.

    python3 perfbench/run.py --workload crawl_bulk --seed 0 --seconds 10 --trace 0
    python3 perfbench/run.py --profile [--shape check|full]   # traced + overhead + scaling
    python3 perfbench/run.py --selftest                       # tiny shapes, ~1 min

One workload per process on ``local[nproc]`` with a heap derived from
/proc/meminfo.  Prints one ``metric`` line per metric, then one JSON object
as the last line; exits non-zero when an output check fails.  See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import spans as sp
import workloads as wl

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl", "crawl_bulk", "crawl_trickle", "corpus_queries")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def heap_gb() -> int:
    """Driver heap: 30% of physical memory, 1-8 GiB (the package default of
    24g exceeds the memory of small hosts)."""
    return max(1, min(8, int(mem_total_bytes() * 0.3 / 2**30)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def setup_env(tmp: str, heap: int) -> None:
    """Everything the run writes goes under ``tmp``; workers import the
    package from the checkout."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # every JVM (the spark-submit launcher too): temp files under tmp, and no
    # hsperfdata file, which the JVM writes to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)


def start_session(cores: int, tmp: str, trace: bool):
    from adavnceseo_crawler_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(tmp, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin pipe and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def memprobe_gbps() -> float:
    """One BENCH/memprobe.py triad reading (0.5 s, nproc processes)."""
    import importlib.util

    path = os.path.join(ROOT, "BENCH", "memprobe.py")
    if not os.path.exists(path):
        return -1.0
    spec = importlib.util.spec_from_file_location("memprobe", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.SECS = 0.5
    return mod.run(nproc())


def run_workload(spark, workload, shape, seed, seconds, rec):
    if workload == "corpus_queries":
        return wl.run_corpus_workload(spark, shape, seed, seconds, rec, log)
    return wl.run_crawl_workload(spark, workload, shape, seed, seconds, rec, log)


def per_layer(res, rec, parsed, session_s, rss) -> dict:
    """Every per-layer metric for one traced workload (0 = layer not run)."""
    m = {name: 0.0 for name, _, _ in wl.PER_LAYER}
    m["session.start_s"] = session_s
    m["memory.peak_rss_mb"] = rss
    jobs_of = sp.attribute(rec, parsed)
    rows = {r["id"]: r for r in sp.span_report(rec, parsed, jobs_of)}
    measured_kind = "crawl" if res["kind"] == "crawl" else "workload"
    measured = [s for s in rec.spans if s["kind"] == measured_kind and s["t1"]]
    n = max(1, len(measured))
    for key in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s", "driver_gap_s"):
        m[f"spark.{key}"] = sum(rows[s["id"]][key] for s in measured) / n
    windows = [(s["t0"], s["t1"]) for s in measured]
    nodes = sp.node_metrics(parsed, windows)

    def node_sum(pred, metric, scale=1.0):
        return sum(x["metrics"].get(metric, 0.0) for x in nodes if pred(x)) * scale / n

    if res["kind"] == "corpus":
        fam_rows = {}
        for s in rec.spans:
            # the queries of the timed passes, not of the warm-up
            if s["kind"] == "query" and rec.spans[s["parent"]]["kind"] == "workload":
                fam_rows.setdefault(wl.family(s["name"]), []).append(rows[s["id"]])
        for fam, rs in fam_rows.items():
            m[f"q.{fam}.wall_s"] = sum(r["wall_s"] for r in rs) / n
            m[f"q.{fam}.jobs"] = sum(r["jobs"] for r in rs) / n
            m[f"q.{fam}.shuffle_bytes"] = sum(r["shuffle_write_bytes"] for r in rs) / n
        m["cache.live_after"] = max(res["live_after"] or [0])
        return m

    crawls = res["crawls"]
    tracer = res["tracer"]
    stats = [s for c in crawls for s in c["stats"]]
    for st in wl.STAGES:
        m[f"round.{st}_s"] = sum(s["times"].get(st, 0.0) for s in stats) / n
    cadence = sum(sum(c["cadence_s"]) for c in crawls) / n
    m["round.unstaged_s"] = cadence - sum(m[f"round.{st}_s"] for st in wl.STAGES)
    m["loop.bootstrap_s"] = statistics.median(c["bootstrap_s"] for c in crawls)
    # crawl wall outside every round: rollback/resume reads and the final
    # settle + checkpoint of each run_crawl call
    rounds = [s for s in rec.spans if s["kind"] == "round"]
    m["loop.settle_s"] = (sum(c["t1"] - c["t0"] for c in measured)
                          - sum(r["t1"] - r["t0"] for r in rounds)) / n
    sched = [s["id"] for s in rec.spans if s["kind"] == "stage" and s["name"] == "schedule"]
    sched_jobs = [j for sid in sched for j in jobs_of.get(sid, [])]
    m["politeness.jobs"] = len(sched_jobs) / n
    m["politeness.window_task_s"] = sum(
        sp.spark_totals(parsed, jobs_of.get(sid, []), (rec.spans[sid]["t0"], rec.spans[sid]["t1"]))
        ["executor_run_s"] for sid in sched) / n
    m["politeness.eligible_rows"] = tracer.eligible / n
    m["politeness.scheduled_rows"] = sum(s["scheduled"] for s in stats) / n
    m["fetch.hit_ratio"] = sum(s["fetched"] for s in stats) / max(1, sum(s["scheduled"] for s in stats))
    web = os.path.basename(res["web"])
    m["fetch.broadcast_build_s"] = node_sum(
        lambda x: x["node"] == "BroadcastExchange" and any(web in d for d in x["sibling_scans"]),
        "time to build", 1e-3)
    py = "time to run Python workers"
    m["htmlparse.python_s"] = node_sum(
        lambda x: x["node"] == "MapInPandas" and "run(" in x["desc"] and "html" in x["desc"], py, 1e-3)
    m["urls.python_s"] = node_sum(
        lambda x: x["node"] in sp.PY_NODES and "canonicalize_url_udf" in x["desc"], py, 1e-3)
    m["bloom.python_s"] = node_sum(
        lambda x: x["node"] == "FlatMapCoGroupsInPandas" and "bitset" in x["desc"], py, 1e-3)
    m["seen.scan_bytes"] = node_sum(
        lambda x: x["node"].startswith("Scan") and "/url_seen/" in x["desc"], "size of files read")
    m["seen.candidates"] = sum(s["links"] for s in stats) / n
    m["seen.new"] = sum(s["new_urls"] for s in stats) / n
    m["seen.new_ratio"] = m["seen.new"] / max(1.0, m["seen.candidates"])
    cat_spans = [s for s in rec.spans if s["kind"] == "catalog"
                 and any(a <= s["t0"] <= b for a, b in windows)]
    m["catalog.commit_sync_s"] = sum(s["t1"] - s["t0"] for s in cat_spans if s["name"] == "commit_many") / n
    m["catalog.settle_wait_s"] = sum(s["t1"] - s["t0"] for s in cat_spans if s["name"] == "commit_settle") / n
    for k in ("htmlparse.pages", "htmlparse.html_bytes", "urls.links_raw", "urls.links_kept",
              "urls.keep_ratio", "bloom.shard_bytes", "bloom.est_fpr_max",
              "catalog.bytes_written", "catalog.files_written"):
        vals = [c["layers"].get(k, 0.0) for c in crawls]
        m[k] = sum(vals) / len(vals)
    m["cache.live_after"] = max(tracer.live_after or [0])
    return m


def end_to_end(res, session_s) -> dict:
    return {
        "setup_s": session_s + res["setup_extra_s"],
        "pass_s": res["pass_s"],
        "step_p50_s": res["step_p50_s"],
        "step_p80_s": res["step_p80_s"],
    }


def single(args) -> int:
    """One workload in this process: metric lines, then the JSON result line."""
    tmp_root = os.path.join(HERE, ".tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    heap = heap_gb()
    cores = args.cores or nproc()
    setup_env(tmp, heap)
    try:
        import pyspark  # noqa: F401

        import adavnceseo_crawler_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test: {e}")
        shutil.rmtree(tmp, ignore_errors=True)
        return 2
    # before the JVM starts: memprobe forks, and a forked child of a process
    # with py4j threads could inherit a held lock
    gbps = memprobe_gbps()
    spark = None
    try:
        t0 = time.time()
        spark = start_session(cores, tmp, args.trace)
        session_s = time.time() - t0
        rec = sp.Recorder() if args.trace else None
        crashed = None
        try:
            if rec is not None:
                with rec.span(args.workload, "root"):
                    res = run_workload(spark, args.workload, args.shape, args.seed,
                                       args.seconds, rec)
            else:
                res = run_workload(spark, args.workload, args.shape, args.seed,
                                   args.seconds, None)
        except Exception as e:  # a crashed workload: error rate 1.0
            import traceback

            traceback.print_exc()
            crashed = f"{type(e).__name__}: {e}"
        rss = peak_rss_mb(spark)
        stop_session(spark)
        spark = None
        if crashed is not None:
            print(f"error_rate 1.0 (crashed: {crashed[:300]})")
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1
        stamps = {
            "nproc": nproc(), "cores": cores, "mem_total_gb": round(mem_total_bytes() / 2**30, 2),
            "heap_gb": heap, "spark": pyspark.__version__,
            "python": platform.python_version(), "memprobe_gbps": gbps,
            "shape": args.shape, "seed": args.seed, "gen_s": round(res["gen_s"], 3),
        }
        print("stamp " + json.dumps(stamps))
        if "counts" in res:
            print("counts " + json.dumps(res["counts"]))
            print(f"urls_per_s {res['urls_per_s']:.6g} 1/s")
        if args.trace:
            parsed = sp.parse(sp.read_event_log(os.path.join(tmp, "events")))
            metrics = per_layer(res, rec, parsed, session_s, rss)
            spec = SPEC["per_layer"]
            report = {"stamps": stamps, "spans": sp.span_report(rec, parsed, sp.attribute(rec, parsed)),
                      "per_layer": metrics, "end_to_end": end_to_end(res, session_s)}
            if res["kind"] == "crawl":
                report["accounting"] = {
                    "stages_plus_unstaged_s": sum(metrics[f"round.{s}_s"] for s in wl.STAGES)
                    + metrics["round.unstaged_s"],
                    "crawl_wall_s": res["pass_s"]}
            out = args.trace_out or os.path.join(HERE, ".out", f"trace-{args.workload}-{args.shape}-{args.seed}.json")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            with open(out, "w") as fh:
                json.dump(report, fh, indent=1)
            log(f"trace written to {out}")
        else:
            metrics = end_to_end(res, session_s)
            spec = SPEC["end_to_end"]
            print(f"memory peak_rss_mb {rss:.6g} MB (per-layer memory.peak_rss_mb)")
        units = {m["name"]: m["unit"] for m in spec}
        for name in units:
            print(f"metric {name} {metrics[name]:.6g} {units[name]}")
        if "passes" in res:
            print("steps " + json.dumps({k: round(v, 3) for k, v in res["passes"][0]["steps"].items()}))
        for p in res["problems"]:
            print(f"check FAILED: {p}")
        err = res["failed"] / max(1, res["attempted"])
        print(f"error_rate {err:.6g} ({res['failed']} of {res['attempted']})")
        correct = not res["problems"]
        print(json.dumps({
            "correct": correct, "attempted": int(res["attempted"]), "failed": int(res["failed"]),
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)


def _child(argv: list[str]) -> dict:
    """Run one workload in a fresh process; returns its JSON result line."""
    p = subprocess.run([sys.executable, os.path.abspath(__file__), *argv],
                       capture_output=True, text=True, cwd=ROOT)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    res["exit"] = p.returncode
    res["lines"] = lines[:-1]
    if p.returncode != 0:
        res["stderr_tail"] = p.stderr[-2000:]
    return res


def profile(args) -> int:
    """Untraced and traced run of every workload plus the crawl_bulk scaling
    report, each in a fresh process; writes one JSON report."""
    base = ["--seed", str(args.seed), "--seconds", str(args.seconds), "--shape", args.shape]
    report = {"shape": args.shape, "seed": args.seed, "workloads": {}}
    ok = True
    names = [w for w in WORKLOADS if args.shape in wl.shapes(w)]
    for w in names:
        trace_out = os.path.join(HERE, ".out", f"trace-{w}-{args.shape}-{args.seed}.json")
        plain = _child(["--workload", w, *base, "--trace", "0"])
        traced = _child(["--workload", w, *base, "--trace", "1", "--trace-out", trace_out])
        ok &= plain["exit"] == 0 and traced["exit"] == 0
        entry = {"untraced": plain, "traced": traced}
        if os.path.exists(trace_out):
            with open(trace_out) as fh:
                tr = json.load(fh)
            entry["spans"] = tr["spans"]
            entry["overhead"] = {
                k: tr["end_to_end"][k] - v["value"]
                for k, v in plain.get("metrics", {}).items() if k in tr["end_to_end"]}
        report["workloads"][w] = entry
        log(f"{w}: untraced exit {plain['exit']}, traced exit {traced['exit']}")
    report["scaling"] = scaling(args)
    ok &= report["scaling"].get("rows_identical", False)
    out = os.path.join(HERE, ".out", f"profile-{args.shape}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps({w: {"untraced": e["untraced"].get("metrics"),
                          "overhead": e.get("overhead")}
                      for w, e in report["workloads"].items()}, indent=1))
    print(json.dumps({"scaling": report.get("scaling")}))
    log(f"report written to {out}")
    return 0 if ok else 1


def scaling(args) -> dict:
    """crawl_bulk at local[1] and local[nproc] in fresh processes."""
    n = nproc()
    runs = {}
    for cores in (1, n):
        r = _child(["--workload", "crawl_bulk", "--seed", str(args.seed), "--seconds", "1",
                    "--shape", args.shape, "--trace", "0", "--cores", str(cores)])
        counts = next((json.loads(ln[len("counts "):]) for ln in r["lines"]
                       if ln.startswith("counts ")), None)
        tput = next((float(ln.split()[1]) for ln in r["lines"]
                     if ln.startswith("urls_per_s ")), None)
        runs[cores] = {"exit": r["exit"], "counts": counts, "urls_per_s": tput}
    t1, tn = runs[1]["urls_per_s"], runs[n]["urls_per_s"]
    return {
        "levels": runs,
        "scaling_eff": (tn / (n * t1)) if t1 and tn else None,
        "rows_identical": runs[1]["counts"] is not None and runs[1]["counts"] == runs[n]["counts"],
    }


def selftest(args) -> int:
    """Every workload at its tiny shape in one traced session: runs the
    checks and the trace parser, and checks the output against BENCHMARK.json."""
    tmp_root = os.path.join(HERE, ".tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=tmp_root)
    setup_env(tmp, min(2, heap_gb()))
    os.environ["SPARK_GRAFT_WARM_START"] = "0"
    t_all = time.time()
    failures = []
    spark = start_session(min(2, nproc()), tmp, True)
    try:
        results = {}
        for w in ("crawl", "corpus_queries"):
            rec = sp.Recorder()
            with rec.span(w, "root"):
                results[w] = (run_workload(spark, w, "tiny", 0, 0.1, rec), rec)
            failures += [f"{w}: {p}" for p in results[w][0]["problems"]]
        stop_session(spark)
        spark = None
        parsed = sp.parse(sp.read_event_log(os.path.join(tmp, "events")))
        names = {m["name"] for m in SPEC["per_layer"]}
        for w, (res, rec) in results.items():
            layers = per_layer(res, rec, parsed, 0.0, 1.0)
            if set(layers) != names:
                failures.append(f"{w}: per-layer names differ from BENCHMARK.json: "
                                f"{sorted(set(layers) ^ names)}")
            e2e = end_to_end(res, 1.0)
            if set(e2e) != {m["name"] for m in SPEC["end_to_end"]}:
                failures.append(f"{w}: end-to-end names differ from BENCHMARK.json")
            zero = [k for k, v in e2e.items() if not v > 0]
            if zero:
                failures.append(f"{w}: zero end-to-end metrics {zero}")
            if res["kind"] == "crawl":
                stage_sum = sum(layers[f"round.{s}_s"] for s in wl.STAGES) + layers["round.unstaged_s"]
                if abs(stage_sum - res["pass_s"]) > 0.05 * res["pass_s"]:
                    failures.append(f"{w}: stages+unstaged {stage_sum:.2f} s vs crawl wall {res['pass_s']:.2f} s")
                if layers["spark.jobs"] <= 0 or layers["htmlparse.python_s"] <= 0:
                    failures.append(f"{w}: trace parser attributed no jobs / no parse time")
            elif layers["q.dedup.jobs"] <= 0:
                failures.append(f"{w}: trace parser attributed no jobs to q.dedup")
            log(f"{w}: pass {res['pass_s']:.2f} s, {layers['spark.jobs']:.0f} jobs")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    for f in failures:
        print(f"selftest FAILED: {f}")
    print(f"selftest {'passed' if not failures else 'failed'} in {time.time() - t_all:.1f} s")
    return 0 if not failures else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=float(SPEC["run_seconds"]))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--shape", choices=("check", "full"), default="check")
    ap.add_argument("--cores", type=int, help="local[N]; default nproc")
    ap.add_argument("--trace-out", help="where the traced run writes its span report")
    ap.add_argument("--profile", action="store_true",
                    help="every workload with the shape, untraced and traced, plus scaling")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.workload and args.shape not in wl.shapes(args.workload):
        ap.error(f"{args.workload} has no {args.shape} shape")
    if args.selftest:
        return selftest(args)
    if args.profile:
        return profile(args)
    if not args.workload:
        ap.error("--workload is required")
    return single(args)


if __name__ == "__main__":
    sys.exit(main())
