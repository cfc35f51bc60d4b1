"""The workloads, their output checks and their per-layer metrics.

Every workload drives the package through its public API only:
``plans.loop.bootstrap``/``run_crawl``, ``catalog.SnapshotCatalog``, the
``synth`` generators and ``queries.QUERIES``/``ORACLES``.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import random
import re
import shutil
import statistics
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")
CACHE = os.path.join(HERE, ".cache")

# shapes: "check" is the shape every run measures, sized so that a run (one
# process, ~20 s of JVM start + warm-up) stays near a minute; "full" is the
# large shape for the profile mode; "tiny" is the self-test
# ``bloom_rounds``: how many leading rounds probe URL-seen through the Bloom
# shards (0 = exact url_seen probe throughout).  Rounds after them use the
# exact probe, which is sound because Bloom rounds append url_seen as well.
CRAWL_SHAPES = {
    # the measured crawl: round 0 on the Bloom path, round 1 on the exact
    # probe and a compaction commit, so one run covers every crawl layer
    "crawl": {
        "check": dict(pages=24_000, hosts=1000, seeds=12_000, budget=100,
                      batch=12_000, rounds=2, bloom_rounds=1, compact_every=2),
        "tiny": dict(pages=2000, hosts=20, seeds=300, budget=50,
                     batch=1000, rounds=2, bloom_rounds=1, compact_every=2),
    },
    "crawl_bulk": {
        "check": dict(pages=40_000, hosts=1000, seeds=20_000, budget=100,
                      batch=20_000, rounds=1, bloom_rounds=0, compact_every=8),
        "full": dict(pages=400_000, hosts=2000, seeds=200_000, budget=100,
                     batch=100_000, rounds=3, bloom_rounds=0, compact_every=8),
    },
    "crawl_trickle": {
        "check": dict(pages=60_000, hosts=400, seeds=2000, budget=10,
                      batch=4000, rounds=2, bloom_rounds=2, compact_every=2),
        "full": dict(pages=60_000, hosts=400, seeds=2000, budget=10,
                     batch=4000, rounds=8, bloom_rounds=8, compact_every=8),
    },
}

# the 53 headline queries of the frozen bench.py, one or more per operator
# family; the check shape runs one per family (the whole list takes ~80 s
# on a 4-core host)
HEADLINE = [
    "q01_pricing_summary", "q03_revenue_by_nation",
    "q04_topk_orders_per_customer", "q05_events_daily",
    "q08_url_hash_host_depth", "q09_base_score", "q11_politeness_budget",
    "q12_priority_topk", "q14_word_freq", "q15_keyword_topk",
    "q16_content_classify", "q18_search_score", "q19_lang_id",
    "q21_token_count", "q22_dedup_exact", "q24_cosine_topk",
    "q26_minhash_lsh_neardup", "q60_neardup_components",
    "q27_simhash_candidates", "q29_lsh_ann_topk", "q42_ml_blended_rank",
    "q46_bm25_search", "q47_batch_ann_join", "q48_centroid_classifier",
    "q37_nb_sentiment", "q53_ols_embedding_rank", "q54_bm25_best_fields",
    "q56_bm25_english_analyzer", "q61_quota_sample", "q62_gopher_repetition",
    "q63_decontaminate", "q64_lm_perplexity", "q65_host_pagerank",
    "q66_url_template_traps", "q67_repeated_passages", "q68_chunk_documents",
    "q69_token_budget_mix", "q70_pii_scrub", "q72_corpus_pipeline",
    "q73_pack_sequences", "q74_warc_ingest", "q75_line_dedup",
    "q76_bpe_tokenize", "q77_ccnet_buckets", "q78_recrawl_priority",
    "q79_source_boilerplate", "q80_source_lang_mix",
    "q81_importance_sample", "q82_passage_scrub", "q83_png_decode_features",
    "q84_trap_capped_schedule", "q86_gif_decode_features",
    "q87_jpeg_decode_features",
]
CORPUS_SHAPES = {
    # the cheapest query of each family at sf0.01 (q01 opens the pass)
    "check": dict(sf="sf0.01", queries=[
        "q01_pricing_summary", "q11_politeness_budget", "q18_search_score",
        "q19_lang_id", "q22_dedup_exact", "q24_cosine_topk",
        "q63_decontaminate", "q65_host_pagerank",
        "q83_png_decode_features", "q81_importance_sample",
    ]),
    "full": dict(sf="sf0.01", queries=HEADLINE),
    "tiny": dict(sf="sf0.001", queries=[
        "q01_pricing_summary", "q22_dedup_exact", "q83_png_decode_features",
    ]),
}
ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

FAMILIES = {
    "dedup": {22, 26, 27, 60, 72, 75, 79},
    "similarity": {24, 29, 47},
    "search": {18, 46, 54, 56},
    "quality": {62, 63, 67, 82},
    "multimodal": {83, 86, 87},
    "politeness": {11, 84},
    "graph": {65},
    "textstats": {16, 19, 21, 68, 69, 70, 73, 76, 77},
}
FAMILY_NAMES = ["sql", "textstats", "dedup", "similarity", "search", "quality",
                "multimodal", "politeness", "graph", "other"]


def shapes(workload: str) -> dict:
    return CORPUS_SHAPES if workload == "corpus_queries" else CRAWL_SHAPES[workload]


def family(query: str) -> str:
    num = int(query[1:3])
    for fam, nums in FAMILIES.items():
        if num in nums:
            return fam
    return "sql" if num <= 15 else "other"


# per-layer metrics: (name, unit, better).  Layers a workload does not run
# report 0.
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("loop.bootstrap_s", "s", "lower"),
    ("loop.settle_s", "s", "lower"),
    ("round.schedule_s", "s", "lower"),
    ("round.fetch_parse_links_s", "s", "lower"),
    ("round.settle_prev_s", "s", "lower"),
    ("round.dedup_s", "s", "lower"),
    ("round.metrics_s", "s", "lower"),
    ("round.commits_s", "s", "lower"),
    ("round.unstaged_s", "s", "lower"),
    ("politeness.eligible_rows", "count", "higher"),
    ("politeness.scheduled_rows", "count", "higher"),
    ("politeness.window_task_s", "s", "lower"),
    ("politeness.jobs", "count", "lower"),
    ("fetch.hit_ratio", "ratio", "higher"),
    ("fetch.broadcast_build_s", "s", "lower"),
    ("htmlparse.pages", "count", "higher"),
    ("htmlparse.html_bytes", "bytes", "higher"),
    ("htmlparse.python_s", "s", "lower"),
    ("urls.links_raw", "count", "higher"),
    ("urls.links_kept", "count", "higher"),
    ("urls.keep_ratio", "ratio", "higher"),
    ("urls.python_s", "s", "lower"),
    ("seen.candidates", "count", "higher"),
    ("seen.new", "count", "higher"),
    ("seen.new_ratio", "ratio", "higher"),
    ("seen.scan_bytes", "bytes", "lower"),
    ("bloom.shard_bytes", "bytes", "lower"),
    ("bloom.python_s", "s", "lower"),
    ("bloom.est_fpr_max", "ratio", "lower"),
    ("catalog.commit_sync_s", "s", "lower"),
    ("catalog.settle_wait_s", "s", "lower"),
    ("catalog.bytes_written", "bytes", "lower"),
    ("catalog.files_written", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.driver_gap_s", "s", "lower"),
    *[(f"q.{f}.{m}", u, "lower") for f in FAMILY_NAMES
      for m, u in (("wall_s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"))],
    ("cache.live_after", "count", "lower"),
    ("memory.peak_rss_mb", "MB", "lower"),
]
STAGES = ("schedule", "fetch_parse_links", "settle_prev", "dedup", "metrics",
          "commits")


class CheckFailed(Exception):
    pass


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p80(xs):
    """Nearest-rank 80th percentile."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(0.8 * len(xs)) - 1)]


def _du(paths) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for p in paths for d, _, fs in os.walk(p) for f in fs)


def _live_cached(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def _synth_hash() -> str:
    from adavnceseo_crawler_spark import synth

    with open(synth.__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


# ---------------------------------------------------------------------------
# crawl workloads
# ---------------------------------------------------------------------------
def web_dir(spark, shape: dict, log) -> tuple[str, float]:
    """The immutable synthetic web for ``shape``, generated once into the
    benchmark's own cache (keyed on the shape and a hash of synth.py).
    Returns (dir, generation seconds; 0 when cached)."""
    from adavnceseo_crawler_spark import synth

    key = f"web-{shape['pages']}-{shape['hosts']}-{_synth_hash()}"
    path = os.path.join(CACHE, key)
    if os.path.isdir(path):
        return path, 0.0
    os.makedirs(CACHE, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=key + ".", dir=CACHE)
    t0 = time.time()
    parts = max(8, shape["pages"] // 20_000)
    synth.gen_pages(spark, shape["pages"], shape["hosts"], partitions=parts) \
        .write.mode("overwrite").parquet(os.path.join(tmp, "web"))
    os.rename(os.path.join(tmp, "web"), path)
    shutil.rmtree(tmp, ignore_errors=True)
    gen_s = time.time() - t0
    log(f"generated {key} in {gen_s:.1f} s")
    return path, gen_s


def seed_pids(seed: int, shape: dict) -> list[int]:
    from adavnceseo_crawler_spark import synth

    return [synth.mix(seed, 997, i) % shape["pages"] for i in range(shape["seeds"])]


def seed_urls(seed: int, shape: dict) -> list[str]:
    """Seed URLs picked out of the page-id space by ``seed``, in the same
    messy forms as synth.seed_urls (scheme-less, upper-case host)."""
    from adavnceseo_crawler_spark import synth

    out = []
    for i, pid in enumerate(seed_pids(seed, shape)):
        u = synth.url_of(pid, shape["hosts"])
        if i % 3 == 1:
            u = u[len("https://"):]
        elif i % 3 == 2:
            scheme, rest = u.split("://", 1)
            host, _, pathq = rest.partition("/")
            u = f"{scheme}://{host.upper()}/{pathq}"
        out.append(u)
    return out


def _cfg(shape: dict, bloom: bool):
    from adavnceseo_crawler_spark.config import CrawlConfig

    return CrawlConfig(
        politeness_budget=shape["budget"], batch_size=shape["batch"],
        max_rounds=shape["rounds"], use_bloom=bloom,
        compact_every=shape["compact_every"],
    )


def _checkpoint_times(wh: str, cat) -> list[float]:
    """Commit times of the per-round checkpoint manifests, in round order."""
    out = []
    for snap in cat.snapshots("checkpoint"):
        if int(snap.meta.get("round", -1)) >= 0:
            p = os.path.join(wh, "checkpoint", "_manifests",
                             f"{snap.snapshot_id:06d}.json")
            out.append(os.stat(p).st_mtime)
    return out


class CrawlTracer:
    """Wraps plans.loop.run_round, the catalog's commit calls and the
    scheduler entry point for the traced run; restores them on exit."""

    def __init__(self, spark, rec):
        from adavnceseo_crawler_spark import catalog
        from adavnceseo_crawler_spark.plans import loop, round as round_mod

        self.eligible = 0
        self.live_after: list[int] = []
        self._saved = []
        orig_round = loop.run_round

        def run_round(spark_, cat, cfg, round_no, **kw):
            sid = rec.open(f"round {round_no}", "round")
            spark_.sparkContext.setJobDescription(f"round {round_no}")
            try:
                out = orig_round(spark_, cat, cfg, round_no, **kw)
            finally:
                spark_.sparkContext.setJobDescription(None)
                rec.close(sid)
            t = rec.spans[sid]["t0"]
            for st in STAGES:
                if st in out.get("times", {}):
                    d = out["times"][st]
                    cid = rec.add(f"{st}", "stage", t, t + d, sid)
                    rec.reparent_by_time(cid, ("catalog",))
                    t += d
            self.live_after.append(_live_cached(spark_))
            return out

        orig_sched = round_mod.schedule_batch_counted

        def schedule_batch_counted(df, budget, batch_size, *a, **kw):
            res = orig_sched(df, budget, batch_size, *a, **kw)
            scheduled, n, _, caches = res
            # the eligible set is the last cache unless the global cut bound
            # (then it sits right before the scheduled cache); counting a
            # cached frame is one cheap job, charged to the traced run
            if n < batch_size:
                self.eligible += n
            else:
                self.eligible += caches[-2].count() if len(caches) > 1 else n
            return res

        def wrap(owner, name, label):
            orig = getattr(owner, name)

            def inner(*a, **kw):
                with rec.span(label, "catalog"):
                    return orig(*a, **kw)

            self._saved.append((owner, name, orig))
            setattr(owner, name, inner)

        self._saved += [(loop, "run_round", orig_round),
                        (round_mod, "schedule_batch_counted", orig_sched)]
        loop.run_round = run_round
        round_mod.schedule_batch_counted = schedule_batch_counted
        wrap(catalog.SnapshotCatalog, "commit_many", "commit_many")
        wrap(catalog.SnapshotCatalog, "commit_many_async", "commit_many_async")
        wrap(catalog.SnapshotCatalog, "commit_settle", "commit_settle")

    def restore(self):
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)


def run_crawl_workload(spark, workload: str, shape_name: str, seed: int,
                       seconds: float, rec, log) -> dict:
    from adavnceseo_crawler_spark import synth
    from adavnceseo_crawler_spark.catalog import SnapshotCatalog
    from adavnceseo_crawler_spark.plans import loop
    from adavnceseo_crawler_spark.schemas import SEEDS

    shape = CRAWL_SHAPES[workload][shape_name]
    web, gen_s = web_dir(spark, shape, log)
    n_bloom = shape["bloom_rounds"]
    cfg = _cfg(shape, n_bloom > 0)
    cfg_exact = _cfg(shape, False)
    urls = seed_urls(seed, shape)
    crawls, problems = [], []
    measured = 0.0
    tracer = CrawlTracer(spark, rec) if rec is not None else None
    try:
        while not crawls or measured < seconds:
            wh = tempfile.mkdtemp(prefix="wh-")
            try:
                cat = SnapshotCatalog(spark, wh)
                t0 = time.time()
                ctx = rec.span("bootstrap", "setup") if rec else contextlib.nullcontext()
                with ctx:
                    loop.bootstrap(
                        spark, cat, cfg, spark.createDataFrame([(u,) for u in urls], SEEDS),
                        None, synth.gen_robots(spark, shape["hosts"]),
                        web_external_dir=web,
                    )
                t1 = time.time()
                ctx = rec.span("run_crawl", "crawl") if rec else contextlib.nullcontext()
                with ctx:
                    stats = loop.run_crawl(spark, cat, cfg, max_rounds=n_bloom or None)
                    if 0 < n_bloom < shape["rounds"]:
                        stats += loop.run_crawl(spark, cat, cfg_exact)
                t2 = time.time()
                measured += t2 - t1
                ckpts = _checkpoint_times(wh, cat)
                cadence = [b - a for a, b in zip([t1] + ckpts[:-1], ckpts)]
                res = {
                    "bootstrap_s": t1 - t0, "wall_s": t2 - t1, "t_start": t1,
                    "cadence_s": cadence, "stats": stats,
                    "fetched": sum(s["fetched"] for s in stats),
                    "links": sum(s["links"] for s in stats),
                    "scheduled": sum(s["scheduled"] for s in stats),
                    "failed": sum(s["failed"] for s in stats),
                    "new_urls": sum(s["new_urls"] for s in stats),
                }
                t3 = time.time()
                problems += check_crawl(spark, cat, shape, seed, stats, workload, shape_name)
                log(f"crawl checks took {time.time() - t3:.1f} s")
                if rec is not None:
                    res["layers"] = crawl_layers(spark, cat, wh, cfg, res)
                crawls.append(res)
            finally:
                shutil.rmtree(wh, ignore_errors=True)
    finally:
        if tracer is not None:
            tracer.restore()
    walls = [c["wall_s"] for c in crawls]
    steps = [x for c in crawls for x in c["cadence_s"]]
    return {
        "kind": "crawl",
        "setup_extra_s": _median([c["bootstrap_s"] for c in crawls]),
        "gen_s": gen_s,
        "pass_s": _median(walls),
        "step_p50_s": _median(steps),
        "step_p80_s": _median([_p80(c["cadence_s"]) for c in crawls]),
        # the north-rule throughput, counted as in bench.py; printed, not
        # gated: with the crawl output fixed per seed it is a count / pass_s
        "urls_per_s": _median([(c["fetched"] + c["links"]) / c["wall_s"] for c in crawls]),
        "attempted": sum(c["scheduled"] for c in crawls),
        # a crawl whose output fails a check counts every fetch as failed
        "failed": sum(c["scheduled"] if problems else c["failed"] for c in crawls),
        "problems": problems,
        "crawls": crawls,
        "tracer": tracer,
        "web": web,
        "counts": {k: crawls[-1][k] for k in ("fetched", "links", "scheduled", "new_urls")},
    }


def crawl_fingerprint(cat) -> dict:
    from pyspark.sql import functions as F

    seen = sorted(r[0] for r in cat.read("url_seen").select("url_hash").collect())
    log = cat.read("crawl_log").filter(F.col("success")).select("round", "url_hash")
    per_round: dict = {}
    for r in log.collect():
        per_round.setdefault(str(r[0]), []).append(r[1])
    h = lambda xs: hashlib.sha256("\n".join(sorted(xs)).encode()).hexdigest()[:16]
    return {"url_seen": h(seen), "fetched": {k: h(v) for k, v in sorted(per_round.items())}}


def check_crawl(spark, cat, shape, seed, stats, workload, shape_name) -> list[str]:
    """Output checks; run after the timed crawl.  Returns the failures."""
    from pyspark.sql import functions as F

    from adavnceseo_crawler_spark import synth

    bad = []
    seen = cat.read("url_seen")
    n_seen = seen.count()
    n_distinct = seen.select("url_hash").distinct().count()
    if n_seen != n_distinct:
        bad.append(f"url_seen has {n_seen - n_distinct} duplicate url_hash rows")
    expect = len(set(seed_pids(seed, shape))) + sum(s["new_urls"] for s in stats)
    if n_seen != expect:
        bad.append(f"url_seen rows {n_seen} != distinct seeds + new urls {expect}")
    log = cat.read("crawl_log")
    attempts = log.filter(F.col("error").isNull() | (F.col("error") == "fetch_failed"))
    per_round = {r[0]: r[1] for r in attempts.groupBy("round").count().collect()}
    worst = attempts.groupBy("round", "host").count().agg(F.max("count")).first()[0] or 0
    if worst > shape["budget"]:
        bad.append(f"a host got {worst} fetches in one round > budget {shape['budget']}")
    for s in stats:
        if s["scheduled"] > shape["batch"]:
            bad.append(f"round {s['round']} scheduled {s['scheduled']} > batch {shape['batch']}")
        if per_round.get(s["round"], 0) != s["scheduled"]:
            bad.append(f"round {s['round']} crawl_log attempts {per_round.get(s['round'], 0)}"
                       f" != scheduled {s['scheduled']}")
    sample = (cat.read("pages").select("url", "text")
              .orderBy(F.xxhash64("url", F.lit(seed))).limit(32).collect())
    pid_re = re.compile(r"(?:item-|page/)(\d+)")
    for row in sample:
        pid = int(pid_re.search(row["url"]).group(1))
        if row["text"] != synth.text_of(pid, shape["pages"], shape["hosts"]):
            bad.append(f"extracted text of {row['url']} differs from synth.text_of")
    if not sample:
        bad.append("no fetched pages to sample")
    if seed == 0:
        fp = crawl_fingerprint(cat)
        want = _expected().get(f"{workload}/{shape_name}/seed0")
        if want is None:
            _record(f"{workload}/{shape_name}/seed0", fp)
        elif want != fp:
            bad.append(f"fingerprint {fp} != recorded {want}")
    return bad


def _expected() -> dict:
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as fh:
        return json.load(fh)


def _record(key: str, value) -> None:
    """Record a fingerprint; only with PERFBENCH_RECORD=1, else missing
    fingerprints are a check failure."""
    if os.environ.get("PERFBENCH_RECORD") != "1":
        raise CheckFailed(f"no recorded fingerprint for {key}")
    d = _expected()
    d[key] = value
    with open(EXPECTED, "w") as fh:
        json.dump(d, fh, indent=1, sort_keys=True)
        fh.write("\n")


def crawl_layers(spark, cat, wh, cfg, res) -> dict:
    """Per-layer numbers read from the committed tables after the run (the
    event-log parts are added by run.py once the session has stopped)."""
    from pyspark.sql import functions as F

    from adavnceseo_crawler_spark.functions.urls import (
        canonicalize_url_udf,
        link_keep_predicate,
    )
    from adavnceseo_crawler_spark.operators.bloom import BloomParams

    out = {}
    pages = cat.read("pages")
    row = pages.agg(F.count(F.lit(1)), F.sum(F.octet_length("html"))).first()
    out["htmlparse.pages"] = int(row[0])
    out["htmlparse.html_bytes"] = int(row[1] or 0)
    hrefs = cat.read("parsed").select(F.explode("links").alias("href"))
    out["urls.links_raw"] = hrefs.count()
    out["urls.links_kept"] = (hrefs.select(canonicalize_url_udf(F.col("href")).alias("link"))
                              .filter(link_keep_predicate(F.col("link"))).count())
    out["urls.keep_ratio"] = out["urls.links_kept"] / max(1, out["urls.links_raw"])
    if cfg.use_bloom:
        snap = cat.latest("bloom_shards")
        out["bloom.shard_bytes"] = _du(snap.dirs)
        p = BloomParams(cfg.bloom_capacity, cfg.bloom_fpr, cfg.bloom_buckets)
        n_max = cat.read("bloom_shards").agg(F.max("n_items")).first()[0] or 0
        out["bloom.est_fpr_max"] = (1 - math.exp(-p.k_hashes * n_max / p.m_bits)) ** p.k_hashes
    t_start = res["t_start"]
    written = [os.path.join(d, f) for d, _, fs in os.walk(wh) for f in fs
               if not f.startswith(".") and os.stat(os.path.join(d, f)).st_mtime >= t_start
               and "_manifests" not in d]
    out["catalog.bytes_written"] = sum(os.path.getsize(p) for p in written)
    out["catalog.files_written"] = len(written)
    return out


# ---------------------------------------------------------------------------
# corpus queries
# ---------------------------------------------------------------------------
def run_corpus_workload(spark, shape_name: str, seed: int, seconds: float,
                        rec, log) -> dict:
    from adavnceseo_crawler_spark.queries import QUERIES

    sf = os.path.join(HERE, "data", CORPUS_SHAPES[shape_name]["sf"])
    # the pass always opens with the same query; the seed rotates the rest.
    # A query's latency depends on the query before it (shared Python-worker
    # and codegen state), and a rotation keeps all but two predecessors
    first, *rest = CORPUS_SHAPES[shape_name]["queries"]
    k = random.Random(seed).randrange(len(rest)) if rest else 0
    names = [first, *rest[k:], *rest[:k]]
    sc = spark.sparkContext
    passes, errors, rows = [], {}, {}
    live_after = []
    measured = warm_s = 0.0
    # pass -1 is a warm-up, counted in setup_s: the first pass of a session
    # pays every query's cold cost (codegen, JIT, Python workers; ~15 s
    # against ~8.5 s warm on 4 cores), and which queries take it depends on
    # the rotation.  The timed passes measure warm latency.
    n = -1
    while n < 1 or measured < seconds:
        t_pass = time.time()
        step = []
        ctx = (rec.span("warm-up" if n < 0 else f"pass {n}", "setup" if n < 0 else "workload")
               if rec else contextlib.nullcontext())
        with ctx:
            for name in names:
                sc.setJobDescription(name)
                t0 = time.time()
                ctx_q = rec.span(name, "query") if rec else contextlib.nullcontext()
                try:
                    # collecting forces every column like the noop sink, and
                    # the output check reads these rows: one execution per
                    # query instead of two keeps a run in the time budget
                    with ctx_q:
                        df = QUERIES[name](spark, sf)
                        out = df.collect()
                    if n >= 0:
                        rows[name] = (df.columns, out)
                except Exception as e:  # a failed query counts in the error rate
                    errors[name] = f"{type(e).__name__}: {str(e)[:200]}"
                step.append(time.time() - t0)
                sc.setJobDescription(None)
                if rec is not None and n >= 0:
                    live_after.append(_live_cached(spark))
        wall = time.time() - t_pass
        if n < 0:
            warm_s = wall
        else:
            measured += wall
            passes.append({"wall_s": wall, "steps": dict(zip(names, step))})
        n += 1
    per_query = [_median([p["steps"][q] for p in passes]) for q in names]
    problems = [f"{n} raised {e}" for n, e in errors.items()]
    t_check = time.time()
    wrong = check_corpus(sf, {n: r for n, r in rows.items() if n not in errors})
    log(f"query checks took {time.time() - t_check:.1f} s")
    problems += [f"{n}: {why}" for n, why in wrong.items()]
    n_bad = len(set(errors) | set(wrong))
    return {
        "kind": "corpus",
        "setup_extra_s": warm_s,
        "gen_s": 0.0,
        "pass_s": _median([p["wall_s"] for p in passes]),
        # per query: its median over the passes
        "step_p50_s": _median(per_query),
        "step_p80_s": _p80(per_query),
        "attempted": len(names) * len(passes),
        "failed": n_bad * len(passes),
        "problems": problems,
        "passes": passes,
        "live_after": live_after,
    }


def _norm(v):
    import decimal

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _multiset(dicts, cols):
    return sorted(tuple(_norm(d[c]) for c in sorted(cols)) for d in dicts)


def check_corpus(sf: str, results: dict[str, tuple]) -> dict[str, str]:
    """Rows of each query (name -> (columns, rows)) vs its DuckDB oracle on
    the same parquet (floats to 6 decimals, order ignored); queries without
    an oracle are compared with the fingerprint recorded at the seed commit."""
    import duckdb

    from adavnceseo_crawler_spark.queries import ORACLES

    con = duckdb.connect()
    for t in ORACLE_TABLES:
        path = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    bad = {}
    for name, (scols, srows) in results.items():
        sm = _multiset([r.asDict() for r in srows], scols)
        if name in ORACLES:
            res = con.execute(ORACLES[name])
            ocols = [d[0] for d in res.description]
            om = _multiset([dict(zip(ocols, r)) for r in res.fetchall()], ocols)
            if sorted(scols) != sorted(ocols):
                bad[name] = f"columns {sorted(scols)} != oracle {sorted(ocols)}"
            elif sm != om:
                bad[name] = f"{len(sm)} rows differ from the oracle's {len(om)}"
        else:
            fp = hashlib.sha256(repr(sm).encode()).hexdigest()[:16]
            key = f"query/{os.path.basename(sf.rstrip('/'))}/{name}"
            want = _expected().get(key)
            if want is None:
                _record(key, fp)
            elif want != fp:
                bad[name] = f"fingerprint {fp} != recorded {want}"
    con.close()
    return bad
