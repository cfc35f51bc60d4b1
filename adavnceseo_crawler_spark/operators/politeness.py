"""Per-host politeness budget + priority dequeue (F4 + W1).

The reference enforces a wall-clock gap per host while dequeuing score-ordered
batches (url_frontier.py:76-114, settings.py:18).  Adopted batch semantics
(SURVEY.md §0): at most ``budget`` URLs per host per round, highest score
first, ties broken by URL ascending; then a global top-``batch_size`` cut.

Scale design (SURVEY.md §4.1, north_rule "skew handled explicitly"): a naive
``Window.partitionBy(host)`` puts every URL of a hot host in one task.  With
Zipf hosts the top host can hold a large fraction of the frontier, so the
per-host top-k runs in two stages:

  stage 1: top-``budget`` per (host, salt) — salt = xxhash64(url) % S spreads
           one hot host over S tasks; keeps ≤ S×budget rows per host;
  stage 2: exact top-``budget`` per host over the ≤ S×budget survivors.

The result is identical to the single-stage window (top-k is decomposable),
but the heavy first pass is skew-free.  The global cut is a
TakeOrderedAndProject (no full sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .urlmine import url_template


def _salted_topk(
    df: DataFrame,
    keys: list[str],
    k: int,
    salt_buckets: int,
    order: list,
    url: str = "url",
    keep_rest: bool = False,
) -> tuple[DataFrame, DataFrame | None, list[DataFrame]]:
    """The salted two-stage window top-``k`` per ``keys`` group (module
    docstring): stage 1 ranks per (keys, salt), stage 2 exactly per keys
    over the ≤ S×k survivors.  Returns (top, rest, caches), both halves
    projected to ``df.columns``.

    ``keep_rest=True`` also returns the complement ``rest = df \\ top`` as
    ``_rn > k`` filters of the two rankings, which are then cached (each
    has two consumers) and returned in ``caches`` for the caller to
    unpersist.  ``keep_rest=False`` caches nothing — each ranking has a
    single consumer — and returns ``rest=None, caches=[]``."""
    cols = df.columns
    ranked1 = None
    if salt_buckets > 1:
        salted = df.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(url)), F.lit(salt_buckets))
        )
        w1 = Window.partitionBy(*keys, "_salt").orderBy(*order)
        ranked1 = salted.withColumn("_rn1", F.row_number().over(w1))
        if keep_rest:
            ranked1 = ranked1.cache()
        df = ranked1.filter(F.col("_rn1") <= k).drop("_rn1", "_salt")
    w2 = Window.partitionBy(*keys).orderBy(*order)
    ranked2 = df.withColumn("_rn2", F.row_number().over(w2))
    if not keep_rest:
        return ranked2.filter(F.col("_rn2") <= k).select(*cols), None, []
    ranked2 = ranked2.cache()
    top = ranked2.filter(F.col("_rn2") <= k).select(*cols)
    rest = ranked2.filter(F.col("_rn2") > k).select(*cols)
    if ranked1 is not None:
        rest = ranked1.filter(F.col("_rn1") > k).select(*cols).unionByName(rest)
    return top, rest, [c for c in (ranked1, ranked2) if c is not None]


def per_host_topk(
    df: DataFrame,
    budget: int,
    salt_buckets: int = 8,
    host: str = "host",
    url: str = "url",
    score: str = "score",
) -> DataFrame:
    order = [F.desc(score), F.asc(url)]
    return _salted_topk(df, [host], budget, salt_buckets, order, url)[0]


def _order_for(mode: str) -> list:
    if mode == "fifo":
        return [F.asc("seq"), F.asc("url")]
    return [F.desc("score"), F.asc("url")]


def _eligible_set(
    df: DataFrame,
    budget: int,
    salt_buckets: int,
    order: list,
    keep_rest: bool,
    trap_threshold: int | None,
    trap_cap: int,
) -> tuple[DataFrame, DataFrame | None, list[DataFrame]]:
    """Trap cap (optional), then per-host top-``budget`` with BUDGET CAP
    ELISION: a host whose row count is ≤ budget keeps all its rows, so only
    rows of OVER-budget hosts go through the window sort.  On a Zipf
    frontier the over-budget set is the short head (at the 4M-page scaling
    shape: ~150 of 8000 hosts holding ~half the rows), so roughly half the
    shuffle-sort work vanishes while the row set stays exactly the per-host
    window top-k (for an under-budget host, top-k = identity).  The host
    census is map-side combinable and one row per host; AQE turns the
    anti/semi probes into broadcasts when it is small (no explicit hint —
    at web scale the over-budget head may itself be too large to
    broadcast, and AQE then keeps a shuffle join).  With the trap cap on,
    the census is the rollup of its cell census, so the corpus aggregates
    once.

    Returns (eligible, rejected, caches): ``rejected = df \\ eligible``
    (trap-dropped rows included) when ``keep_rest``, else None; ``caches``
    are the ranked intermediates of both window top-ks."""
    trap_dropped, caches = None, []
    if trap_threshold is not None:
        df, trap_dropped, counts, caches = trap_template_cap(
            df, trap_threshold, trap_cap, order, salt_buckets,
            want_dropped=keep_rest,
        )
        # counts are PRE-cap: a host the cap pushes back under budget still
        # takes the window path, where top-k of ≤ budget rows is the
        # identity — row set unaffected, no second census of the corpus.
    else:
        counts = df.groupBy("host").agg(F.count(F.lit(1)).alias("_n"))
    over_hosts = counts.filter(F.col("_n") > budget).select("host")
    under = df.join(over_hosts, "host", "left_anti")
    over = df.join(over_hosts, "host", "left_semi")
    top, rejected, rank_caches = _salted_topk(
        over, ["host"], budget, salt_buckets, order, keep_rest=keep_rest
    )
    if rejected is not None:
        # the semi-join moved ``host`` to the front; restore df's order
        rejected = rejected.select(*df.columns)
        if trap_dropped is not None:
            # trap-capped rows are part of the complement: on compact rounds
            # the frontier base is rewritten from (complement ∪ adds), and
            # losing them would silently delete un-fetched URLs
            rejected = trap_dropped.unionByName(rejected)
    return under.unionByName(top), rejected, caches + rank_caches


def schedule_batch(
    df: DataFrame,
    budget: int,
    batch_size: int,
    salt_buckets: int = 8,
    mode: str = "priority",
    trap_threshold: int | None = None,
    trap_cap: int = 5,
) -> DataFrame:
    """Politeness top-k then a global cut — the fully LAZY scheduler (no
    counts, no caches; one job at the caller's action).  Same row set as
    schedule_batch_counted's ``scheduled`` (when the batch cap cannot bind,
    the global TakeOrdered is a no-op on the row set; only the row order
    differs, and no consumer of this entry point is order-sensitive).

    mode='priority' (default): score desc, url asc — the intended dequeue
    (url_frontier.py:82-88).  mode='fifo': seq asc, url asc — the live-path
    LPOP special case (url_frontier.py:240-252, SURVEY.md S3).

    ``trap_threshold`` applies the crawler-trap template cap before the
    politeness top-k (see trap_template_cap)."""
    order = _order_for(mode)
    eligible, _, _ = _eligible_set(
        df, budget, salt_buckets, order, False, trap_threshold, trap_cap
    )
    return eligible.orderBy(*order).limit(batch_size)


def trap_template_cap(
    df: DataFrame,
    threshold: int,
    cap: int,
    order: list,
    salt_buckets: int = 8,
    want_dropped: bool = True,
) -> tuple[DataFrame, DataFrame | None, DataFrame, list[DataFrame]]:
    """Crawler-trap guard (urlmine.mine_url_templates wired into the
    scheduler): cells of more than ``threshold`` URLs sharing one
    (host, url-template) are generated URL spaces — calendars, faceted
    search, session ids — and admit only their top-``cap`` rows per round;
    every other row passes untouched.  Runs BEFORE the politeness top-k so
    a trap host's budget goes to its non-trap URLs instead of being eaten
    by the capped cell (the round-level test's invariant).

    Scale shape: the cell census ``groupBy(host, template)`` is the SAME
    aggregation mine_url_templates runs (count(1) == count_distinct(url)
    here — frontier rows are unique by url_hash), map-side combinable, so
    hot cells partially aggregate before the exchange; the host-level
    counts the politeness stage needs are a ROLLUP of the cell counts
    (sum over the one-row-per-cell intermediate), so the corpus is
    exchanged ONCE for both censuses — the template agg rides the exchange
    the host census used to own (plan-pinned in tests/test_plans.py).
    The flagged-cell set is frequency-bounded (≤ N/threshold rows) and
    broadcast; only flagged cells' rows pay the salted two-stage cap
    window, exactly the politeness skew machinery keyed by (host,
    template).

    Returns (kept, dropped, host_counts, caches): ``dropped`` rows stay in
    the frontier (re-considered next round — the politeness-deferral
    semantics), ``host_counts`` is the (host, _n) rollup for the
    politeness census to reuse.

    ``want_dropped=False`` (callers that never consume the complement —
    the lazy schedule_batch, and MoR rounds where un-dequeued rows simply
    stay in the frontier base): skips the drop branches AND the ranked-
    intermediate caches entirely.  Returns ``dropped=None, caches=[]``."""
    with_t = df.withColumn("_tmpl", url_template(F.col("url")))
    cell_counts = with_t.groupBy("host", "_tmpl").agg(
        F.count(F.lit(1)).alias("_cn")
    )
    host_counts = cell_counts.groupBy("host").agg(F.sum("_cn").alias("_n"))
    trap_cells = cell_counts.filter(F.col("_cn") > threshold).select(
        "host", "_tmpl"
    )
    cols = df.columns
    clean = with_t.join(
        F.broadcast(trap_cells), ["host", "_tmpl"], "left_anti"
    ).select(*cols)
    trapped = with_t.join(
        F.broadcast(trap_cells), ["host", "_tmpl"], "left_semi"
    )
    admitted, dropped, caches = _salted_topk(
        trapped, ["host", "_tmpl"], cap, salt_buckets, order,
        keep_rest=want_dropped,
    )
    if dropped is not None:
        dropped = dropped.select(*cols)
    return clean.unionByName(admitted.select(*cols)), dropped, host_counts, caches


def schedule_batch_counted(
    df: DataFrame,
    budget: int,
    batch_size: int,
    salt_buckets: int = 8,
    mode: str = "priority",
    want_rejected: bool = True,
    trap_threshold: int | None = None,
    trap_cap: int = 5,
) -> tuple[DataFrame, int, DataFrame | None, list[DataFrame]]:
    """schedule_batch that skips the global cut when it cannot bind AND
    returns the politeness complement for free.

    Two serial chokepoints of the naive plan are elided:

    * ``orderBy().limit(batch_size)`` plans a single-partition global sort
      (measured 14-20 s/round at the 4M-page scaling shape); it runs only
      when the eligible count (needed by the caller anyway) exceeds the cap.
    * the caller's ``leftover = df ⟕̸ scheduled`` anti-join re-shuffles the
      whole frontier inside the commit barrier (measured 12-16 s of the
      frontier table's commit wall) — but ``df \\ scheduled`` is EXACTLY the
      filter complement of the window ranking already computed here, so the
      ranked intermediates are cached once and ``rejected`` is derived by
      ``_rn > budget`` filters: zero extra shuffle.

    Returns (scheduled, n_scheduled, rejected, caches): ``rejected`` is
    ``df \\ scheduled`` in both branches (when the global cut binds, the
    eligible-minus-batch remainder is added via an anti-join against the
    small scheduled set), and ``caches`` are the frames for the caller to
    unpersist at round end, ending ``[..., eligible, scheduled]`` when the
    cut binds.  Row sets are identical to schedule_batch + anti-join in
    both branches.

    ``want_rejected=False`` (merge-on-read frontier rounds, plans/round.py:
    leftover rows simply stay un-tombstoned in the frontier base, so the
    complement is never materialized): skips the ranked-intermediate caches
    entirely — the over-budget half of the frontier is not pinned in executor
    memory — and returns ``rejected=None``.

    ``trap_threshold`` (CrawlConfig.trap_template_threshold) enables the
    crawler-trap guard (see trap_template_cap and _eligible_set)."""
    order = _order_for(mode)
    eligible, rejected, caches = _eligible_set(
        df, budget, salt_buckets, order, want_rejected, trap_threshold, trap_cap
    )
    eligible = eligible.cache()
    caches.append(eligible)
    n_eligible = eligible.count()
    if n_eligible <= batch_size:
        return eligible, n_eligible, rejected, caches
    scheduled = eligible.orderBy(*order).limit(batch_size).cache()
    scheduled.count()
    caches.append(scheduled)
    if rejected is not None:
        rejected = rejected.unionByName(
            eligible.join(scheduled.select("url"), "url", "left_anti")
        )
    return scheduled, batch_size, rejected, caches
