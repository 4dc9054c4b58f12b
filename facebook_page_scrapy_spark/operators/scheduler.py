"""Crawl scheduling: priority dequeue, per-host politeness, robots gate,
identity rotation, retry lanes, hot-host skew salting.

Reference semantics being reproduced (file:line into /root/reference):

- strict priority dequeue reaction > comment > post > page, FIFO within level:
  ``spiders/Facebook_group_reaction.py:111-133`` (4-level),
  ``Facebook_group_post.py:77-92`` (post > page);
- politeness: ``time.sleep(SLEEP_TIME)`` before every fetch
  (``scrapy_config.py:1``; applied ``Facebook_group_post.py:112-113,214-215``)
  and the cookie-scaled ``120/n`` budget (``utils.py:25``) — re-expressed as a
  per-host *token budget per round* (no sleeps; parallel across hosts);
- robots: the reference disables it (``settings.py:27``); we gate on a rules
  table (parity fixture = all-allow);
- identity round-robin: ``utils.py:32-37``;
- retries: ``RETRY_TIMES = 200`` (``settings.py:45``).

Everything is a window/join over the frontier — no Python in the path. The
per-host top-k window shuffles once on ``host`` (or salted host for skewed
hosts); at 1000 executors that is the *intended* partitioning for the fetch
stage, so the shuffle does double duty.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# rows one rank task sorts; a batch hinted below this is ranked in one task
ROWS_PER_TASK = 65536
# fetch attempts per URL before it is marked failed (RETRY_TIMES, settings.py:45)
MAX_RETRIES = 200


def dispatch_order():
    """Higher priority class first (reaction=4 … page=1), then FIFO by
    enqueued_seq — exactly gen_next_url's pop order."""
    return [F.col("priority").desc(), F.col("enqueued_seq").asc()]


def distributed_row_number(
    df: DataFrame,
    order: list,
    out: str,
    n_rows_hint: int | None = None,
    rank_fn=F.row_number,
) -> DataFrame:
    """Global ``rank_fn() OVER (ORDER BY order)`` as a ``long`` column,
    without the partition-less window's single-task sort.

    Two-pass shape: range-repartition by the sort key so partition p holds
    a contiguous key slice, rank WITHIN each partition, then add each
    partition's offset = the sum of ``max(local rank)`` over all lower
    partitions. Each task sorts only its own slice, where the global window
    funnels the whole batch (millions of rows at a 10^10-URL frontier)
    through ONE task.

    ``rank_fn`` is a zero-argument callable returning a window function
    (a callable, because a ``Column`` cannot be built at import time). The
    offsets are correct only if ``rank_fn`` never decreases along
    ``order`` — then a partition's ``max(local rank)`` is exactly its
    contribution to every later partition. That holds for ``row_number``
    (the default; the crawl's orders are total, so the values equal the
    global window's), for ``dense_rank`` (the range partitioner puts equal
    keys in one partition, so no distinct key is counted twice), and for a
    running ``sum`` of non-negative values over a unique key (a distributed
    prefix sum, e.g. ``rank_fn=lambda: F.sum("n_tokens")``).

    The ranked blocks are eagerly ``localCheckpoint``-ed so the offsets
    branch and the output branch read the SAME frozen partition ids — the
    pid invariant is structural, not a persist-cache coincidence. The
    offsets prefix-sum runs over ≤ n_partitions aggregated rows as a tiny
    broadcast self-join (no window), so the round's physical plan carries
    no partition-less WindowExec at all. Cost: the checkpoint's one
    materializing job per call — which doubles as lineage truncation for
    the round loop (each round's dispatch plan no longer drags the full
    frontier-scan lineage into every downstream job).

    One-task case: when ``n_rows_hint`` says the batch fits one task
    (< ``ROWS_PER_TASK`` rows — a parity round's one-URL dispatch, a small
    round's discoveries), the batch is moved into a single partition and
    ranked there. Every offset is 0, so the range-sampling pass, the input
    persist that serves it and the counts → broadcast self-join → offsets
    subplan are all skipped. The window still partitions by ``__pid`` (one
    value), so no partition-less WindowExec appears on either path. Calls
    without a hint take the multi-task path.
    """
    if n_rows_hint is not None and n_rows_hint < ROWS_PER_TASK:
        return (
            df.repartition(1)
            .withColumn("__pid", F.spark_partition_id())
            .withColumn(
                out,
                rank_fn().over(Window.partitionBy("__pid").orderBy(*order)).cast("long"),
            )
            .drop("__pid")
            .localCheckpoint(eager=True)
        )
    parts = max(2, df.sparkSession.sparkContext.defaultParallelism)
    if n_rows_hint is not None:
        # size the sort width from the caller's row estimate (the crawl loop
        # already tracks frontier counts via df.observe): ~64k rows/task keeps
        # per-task sorts cheap while avoiding 32 near-empty tasks' scheduling
        # constants on small rounds. The hint only sizes tasks — rank VALUES
        # are partition-count-invariant (tools/check_invariance.py sweeps it),
        # and an underestimate just means fatter per-task sorts.
        parts = max(2, min(parts, n_rows_hint // ROWS_PER_TASK + 1))
    # the range partitioner's sampling pass AND the checkpoint both execute
    # the input's lineage; pin it for the duration so the upstream plan
    # (frontier merge-on-read + dispatch window, or the dedup anti-join)
    # runs once, not three times — released as soon as the eager checkpoint
    # holds the ranked blocks
    df = df.persist()
    local = (
        df.repartitionByRange(parts, *order)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__lr", rank_fn().over(Window.partitionBy("__pid").orderBy(*order))
        )
        .localCheckpoint(eager=True)
    )
    df.unpersist()
    counts = local.groupBy("__pid").agg(F.max("__lr").alias("__nc"))
    offs = (
        counts.alias("a")
        .join(
            F.broadcast(counts.alias("b")),
            F.col("b.__pid") < F.col("a.__pid"),
            "left",
        )
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(F.coalesce(F.sum("b.__nc"), F.lit(0)).alias("__prefix"))
    )
    return (
        local.join(F.broadcast(offs), "__pid")
        .withColumn(out, (F.col("__lr") + F.col("__prefix")).cast("long"))
        .drop("__pid", "__lr", "__prefix")
    )


def robots_gate(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Keep rows allowed by the longest matching path-prefix rule.

    ``robots(host, path_prefix, allow)`` is tiny (one row per rule) →
    broadcast join; longest-prefix-wins like real robots matchers.
    """
    path = F.regexp_replace(F.col("url_canon"), r"^[a-z][a-z0-9+.\-]*://[^/]*", "")
    cand = frontier.withColumn("__path", F.when(path == "", "/").otherwise(path))
    joined = cand.join(
        F.broadcast(robots.withColumnRenamed("host", "__rhost")),
        (F.col("host") == F.col("__rhost")) & F.col("__path").startswith(F.col("path_prefix")),
        "left",
    )
    # url_canon is the frontier's unique key — partitioning the
    # longest-prefix-wins window by it alone keeps the shuffle key narrow
    # (a composite hash over every frontier column buys nothing).
    w = Window.partitionBy("url_canon").orderBy(F.length("path_prefix").desc())
    best = joined.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return (
        best.filter(F.col("allow").isNull() | F.col("allow"))  # no rule ⇒ allow
        .select(*frontier.columns)
    )


def per_host_dispatch(
    frontier: DataFrame,
    host_budget: DataFrame | None = None,
    default_tokens: int = 1,
    hot_host_threshold: int | None = None,
    n_salts: int = 8,
) -> DataFrame:
    """Select this round's dispatch batch: top-``tokens`` rows per host by
    (priority desc, enqueued_seq asc).

    ``default_tokens=1`` is the reference-parity mode (one outstanding request:
    ``Facebook_group_post.py:188-221``), generalized per host instead of
    globally. ``host_budget(host, tokens_per_round, ...)`` overrides per host
    (the ``120/n_cookies`` analog, utils.py:25).

    Skew: when ``hot_host_threshold`` is set, hosts with more pending rows
    than the threshold are ranked inside ``n_salts`` sub-windows (salt =
    hash(url) % n_salts) and each sub-window gets tokens/n_salts (min 1).
    This bounds the single-partition sort a 90%-one-host frontier would
    otherwise pay, at the cost of approximate (not global-FIFO) order within
    the hot host — acceptable: politeness only requires the *count* per host.
    AQE skew-join handles joins; this handles the *window*, which AQE does not.
    """
    df = frontier
    if host_budget is not None:
        df = df.join(
            F.broadcast(host_budget.select("host", "tokens_per_round")), "host", "left"
        ).withColumn(
            "__tokens", F.coalesce(F.col("tokens_per_round"), F.lit(default_tokens))
        ).drop("tokens_per_round")
    else:
        df = df.withColumn("__tokens", F.lit(default_tokens))

    if hot_host_threshold is None:
        w = Window.partitionBy("host").orderBy(*dispatch_order())
        picked = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= F.col("__tokens"))
        )
        return picked.drop("__rn", "__tokens")

    counts = df.groupBy("host").agg(F.count("*").alias("__host_n"))
    df = df.join(F.broadcast(counts.filter(F.col("__host_n") > hot_host_threshold)), "host", "left")
    df = df.withColumn("__hot", F.col("__host_n").isNotNull()).drop("__host_n")
    df = df.withColumn(
        "__salt",
        F.when(F.col("__hot"), F.pmod(F.xxhash64("url_canon"), F.lit(n_salts))).otherwise(F.lit(0)),
    )
    w = Window.partitionBy("host", "__salt").orderBy(*dispatch_order())
    df = df.withColumn("__rn", F.row_number().over(w))
    per_salt = F.when(
        F.col("__hot"), F.greatest(F.floor(F.col("__tokens") / n_salts), F.lit(1))
    ).otherwise(F.col("__tokens"))
    picked = df.filter(F.col("__rn") <= per_salt)
    return picked.drop("__rn", "__tokens", "__hot", "__salt")


def rank_weighted_dispatch(
    frontier: DataFrame,
    host_rank: DataFrame,
    total_budget: int,
    min_tokens: int = 1,
    **dispatch_kwargs,
) -> DataFrame:
    """Dispatch under a GLOBAL fetch budget split across hosts proportionally
    to an importance score — the engine-side consumer of the PageRank /
    budget-allocation signal (catalog queries host_pagerank /
    crawl_budget_allocation). Replaces the reference's flat
    one-request-per-host policy (settings.py:28 DOWNLOAD_DELAY) when a rank
    table exists; unknown hosts get ``min_tokens`` so discovery never starves.

    The budget is a HARD cap over ranked hosts: every ranked host is first
    reserved ``min_tokens`` (discovery never starves), and the surplus
    ``total_budget - n_hosts*min_tokens`` is split proportionally to rank by
    the largest-remainder method, so the ranked allocations sum to exactly
    ``total_budget`` (within the 1e-9 share rounding). When the budget can't
    even cover the reserve, the top ``total_budget // min_tokens`` hosts by
    rank get ``min_tokens`` and the rest get nothing this round. Hosts in the
    frontier but absent from ``host_rank`` still get ``min_tokens`` via
    ``default_tokens`` — the one documented exception outside the cap.

    ``host_rank(host, rank)`` is one row per host → broadcast; the budget math
    is one scalar agg + windows over the dim-sized rank table (single
    partition is fine at dim cardinality), then dispatch is the standard
    per-host top-k window (all of per_host_dispatch's skew handling applies
    via ``dispatch_kwargs``)."""
    stats = host_rank.agg(
        F.round(F.sum("rank"), 9).alias("__total_rank"),
        F.count(F.lit(1)).alias("__n_hosts"),
    )
    ranked = host_rank.crossJoin(F.broadcast(stats))
    surplus = F.greatest(
        F.lit(0),
        F.lit(int(total_budget)) - F.col("__n_hosts") * F.lit(int(min_tokens)),
    )
    weight = F.when(
        F.col("__total_rank") > 0, F.col("rank") / F.col("__total_rank")
    ).otherwise(F.lit(1.0) / F.col("__n_hosts"))
    share = F.round(surplus.cast("double") * weight, 9)
    ranked = (
        ranked.withColumn("__surplus", surplus)
        .withColumn("__base", F.floor(share))
        .withColumn("__rem", share - F.floor(share))
    )
    w_all = Window.partitionBy(F.lit(1))
    w_rem = w_all.orderBy(F.col("__rem").desc(), F.col("host"))
    w_rank = w_all.orderBy(F.col("rank").desc(), F.col("host"))
    # leftover = surplus - sum(floors): < n_hosts by construction (each
    # remainder < 1); greatest(0, ...) guards the 1e-9 share rounding.
    leftover = F.greatest(
        F.lit(0), F.col("__surplus") - F.sum("__base").over(w_all)
    )
    abundant = F.lit(min_tokens) + F.col("__base") + F.when(
        F.row_number().over(w_rem) <= leftover, 1
    ).otherwise(0)
    # scarcity (budget < n_hosts*min_tokens): min_tokens to the top hosts by
    # rank until the budget runs out, zero to the rest this round.
    scarce = F.when(
        F.row_number().over(w_rank) <= F.lit(int(total_budget) // max(min_tokens, 1)),
        F.lit(min_tokens),
    ).otherwise(0)
    budget = ranked.select(
        "host",
        F.when(F.col("__surplus") > 0, abundant)
        .otherwise(scarce)
        .cast("int")
        .alias("tokens_per_round"),
    )
    return per_host_dispatch(
        frontier, host_budget=budget, default_tokens=min_tokens, **dispatch_kwargs
    )


def assign_identities(
    dispatch: DataFrame,
    identities: DataFrame,
    n_alive: int | None = None,
    start_slot: int = 0,
) -> DataFrame:
    """Round-robin identity slots per host (utils.py:32-37), skipping blocked
    identities (exclusion list, ``Facebook_group_reaction.py:32-34``).

    ``n_alive`` lets the caller pass the (tiny, static) pool size once instead
    of paying a driver-side ``count()`` action every round in the hot loop.
    ``start_slot`` reproduces F14 (utils.py:30: the reference seeds the cookie
    index with a random int; we take the caller's *seeded* start so ordering
    parity is reproducible — see CrawlEngine(identity_seed=...))."""
    alive = identities.filter(~F.col("blocked")).select("identity_id")
    n = alive.count() if n_alive is None else n_alive
    if n == 0:
        return dispatch.withColumn("identity_id", F.lit(None).cast("string"))
    ranked = alive.withColumn(
        "__slot", F.row_number().over(Window.orderBy("identity_id")) - 1
    )
    w = Window.partitionBy("host").orderBy(*dispatch_order())
    slotted = dispatch.withColumn(
        "__slot", (F.row_number().over(w) - 1 + start_slot) % n
    )
    return slotted.join(F.broadcast(ranked), "__slot", "left").drop("__slot")


def retry_requeue(failed: DataFrame, max_retries: int = MAX_RETRIES) -> DataFrame:
    """Failed fetches rejoin the frontier with attempts+1 until the retry
    budget (RETRY_TIMES=200, settings.py:45) is exhausted; the bumped
    enqueued_seq acts as backoff (they sort after fresh peers)."""
    return (
        failed.filter(F.col("attempts") + 1 < max_retries)
        .withColumn("attempts", F.col("attempts") + 1)
        .withColumn("state", F.lit("pending"))
    )
