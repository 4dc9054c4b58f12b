"""The workloads. Each builds its inputs from the seed, warms up
untimed, runs its timed section through the engine's public API, then checks
the engine's outputs step by step.

Sizes are set so the timed section lasts about ``--seconds`` on a 4-CPU
``local[4]`` box; the ``*_S`` constants are the nominal step costs measured
there, and only convert ``--seconds`` into a fixed amount of work, so a run's
work never depends on how fast the box happens to be.
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import functions as F

from facebook_page_scrapy_spark import datagen, schemas
from facebook_page_scrapy_spark.crawl import CrawlEngine
from facebook_page_scrapy_spark.functions import urls as U
from facebook_page_scrapy_spark.operators import dedup as D
from facebook_page_scrapy_spark.operators import parse as P
from facebook_page_scrapy_spark.operators import scheduler as S
from facebook_page_scrapy_spark.operators.fetch import CorpusFetcher
from facebook_page_scrapy_spark.simulator import simulate

from harness import Run, dir_bytes

# warm-up inputs come from the run's seed shifted by this much, so they are
# as reproducible as the timed inputs but never the same pages
WARM_SEED_OFFSET = 1_000_003
# traced runs time the in-process parse for at least this long
PARSE_RATE_MIN_S = 1.0


def _corpus(spark, site: datagen.Site):
    """The fetchable world as a cached DataFrame (pandas → Arrow, so building
    it stays cheap at tens of thousands of pages)."""
    pdf = pd.DataFrame(
        [(n.doc_id, n.url, 0, n.html) for n in site.nodes.values()],
        columns=[f.name for f in schemas.RAW_PAGES.fields],
    )
    corpus = spark.createDataFrame(pdf, schemas.RAW_PAGES)
    corpus = corpus.repartition(spark.sparkContext.defaultParallelism).cache()
    corpus.count()
    return corpus


def _parse_rate(run: Run, site: datagen.Site) -> None:
    """Traced runs only: ``parse.parse_all`` called in this process on the
    workload's own pages, one core, until ``PARSE_RATE_MIN_S`` has passed."""
    nodes = list(site.nodes.values())[:2000]
    batch = pd.DataFrame({
        "doc_id": [n.doc_id for n in nodes],
        "url": [n.url for n in nodes],
        "group_id": [n.group_id for n in nodes],
        "post_id": [n.post_id for n in nodes],
        "kind": [n.kind for n in nodes],
        "__rank": list(range(len(nodes))),
        "html": [n.html for n in nodes],
    })
    pages, t0 = 0, time.perf_counter()
    while True:
        for _ in P.parse_all(iter([batch])):
            pass
        pages += len(batch)
        dt = time.perf_counter() - t0
        if dt >= PARSE_RATE_MIN_S:
            break
    run.tracer.value("parse.pages_per_core_s", pages / dt)


def _fetched(eng: CrawlEngine) -> list[tuple[int, str]]:
    log = eng.store.read(eng.spark, "fetch_log")
    rows = log.orderBy("round", "rank").select("round", "url_canon").collect()
    return [(r["round"], r["url_canon"]) for r in rows]


# ---------------------------------------------------------------- crawl_parity
# long comment threads: the post's inline block and each comment page are
# full (10 comments) for nearly every seed, so the timed rounds fetch the
# same kinds with the same row counts whatever the seed
PARITY_SITE = dict(
    n_groups=1, pages_per_group=3, posts_per_page=2, comments_per_post=200,
    comment_page_size=10, four_level=True,
)
PARITY_ROUND_S = 3.75
# cold rounds keep getting faster for ~6 rounds; the run budget pays for 2
PARITY_WARM_ROUNDS = 2


def crawl_parity(run: Run) -> dict:
    """Reference-parity crawl: one host, ``default_tokens=1``, so every round
    dispatches exactly one URL and the round's fixed cost is the work.

    An untimed warm crawl over a second site of the same shape runs first.
    The timed crawl's first rounds fetch the same kinds for every seed (group
    page, post, reaction, first comment page); half-way a fresh engine on the
    same checkpoint takes over (resume)."""
    spark = run.spark
    n_timed = max(2, round(run.seconds / PARITY_ROUND_S))
    site = datagen.make_site(**PARITY_SITE, seed=run.seed)
    warm_site = datagen.make_site(**PARITY_SITE, seed=run.seed + WARM_SEED_OFFSET)
    corpus = _corpus(spark, site)
    warm_corpus = _corpus(spark, warm_site)

    def engine(state: str, corpus_df) -> CrawlEngine:
        return CrawlEngine(spark, state, CorpusFetcher(corpus_df), default_tokens=1,
                           four_level=True)

    run.phase("warm")
    warm_eng = engine(os.path.join(run.work, "warm"), warm_corpus)
    warm_eng.seed(warm_site.seeds)
    warm = []
    for _ in range(PARITY_WARM_ROUNDS):
        t0 = time.perf_counter()
        warm_eng.run_round()
        warm.append(round(time.perf_counter() - t0, 3))
    run.context["warm_step_s"] = warm
    run.phase("seed")
    state = os.path.join(run.work, "state")
    eng = engine(state, corpus)
    eng.seed(site.seeds)
    resume_after = n_timed // 2
    snap_at_resume = None
    bytes0 = dir_bytes(state)
    step_s, error = [], None
    with run.timed():
        for i in range(n_timed):
            t0 = time.perf_counter()
            try:
                if i == resume_after:
                    snap_at_resume = eng.store.latest()
                    with run.span("crawl.resume"):
                        eng = engine(state, corpus)
                eng.run_round()
            except Exception as e:
                error = f"raised {e!r}"
                break
            step_s.append(round(time.perf_counter() - t0, 3))
    state_bytes = dir_bytes(state) - bytes0
    run.context["step_s"] = step_s

    # checks: every round fetched exactly the simulator's next URL, and the
    # seen set matches at the resume point and at the end
    done = len(step_s)
    try:
        bad = _parity_mismatches(eng, site, n_timed, resume_after, snap_at_resume)
        why = "diverges from the simulator"
    except Exception as e:
        bad, why = set(range(n_timed)), f"check raised {e!r}"
    for j in range(n_timed):
        if j >= done:
            run.step_failed(f"round {j + 1} not run: {error}")
        elif j in bad:
            run.step_failed(f"round {j + 1} {why}")
        else:
            run.step_ok()

    if run.tracer:
        _parse_rate(run, site)
    return run.result(urls=done, state_bytes=state_bytes)


def _parity_mismatches(eng: CrawlEngine, site: datagen.Site, n_timed: int,
                       resume_after: int, snap_at_resume) -> set[int]:
    """Indices of the timed rounds whose output differs from the simulator's."""
    sim = simulate(site, max_fetches=n_timed)
    got = [u for _, u in _fetched(eng)]
    bad = {j for j in range(n_timed)
           if j >= len(got) or j >= len(sim.fetch_order) or got[j] != sim.fetch_order[j]}
    if len(got) != n_timed:
        bad.add(n_timed - 1)
    if snap_at_resume is not None:
        seen_mid = {r.url_canon for r in eng.store.read(eng.spark, "seen", snap_at_resume)
                    .select("url_canon").collect()}
        if seen_mid != simulate(site, max_fetches=resume_after).seen:
            bad.add(resume_after - 1)
    if eng.seen_set() != sim.seen:
        bad.add(n_timed - 1)
    return bad


# ------------------------------------------------------------------ crawl_bulk
BULK_GROUPS = 120
BULK_URLS_PER_S = 560.0
# timed rounds: the two posts rounds (listing pages 1 and 2)
BULK_TIMED_ROUNDS = 2


def crawl_bulk(run: Run) -> dict:
    """Throughput-mode crawl (``bench.bench_crawl``'s settings: one hot host,
    salted dispatch, a per-host budget far above the batch). Each group has
    two listing pages, so after the first round every round carries one
    posts batch of ``BULK_GROUPS`` x posts-per-page pages. The first round
    (the group pages) is the warm leg. The timed section is exactly the two
    posts rounds: the first fetches and parses the page-1 posts and dedups
    the page-2 posts (one compaction falls in it), the second fetches and
    parses the page-2 posts. The empty drain round runs after it and is
    checked with the others."""
    spark = run.spark
    posts = max(1, round(run.seconds * BULK_URLS_PER_S / BULK_GROUPS))
    site = datagen.make_site(n_groups=BULK_GROUPS, pages_per_group=2,
                             posts_per_page=posts, seed=run.seed)
    corpus = _corpus(spark, site)
    state = os.path.join(run.work, "state")
    eng = CrawlEngine(
        spark, state, CorpusFetcher(corpus),
        default_tokens=100_000, n_bloom_shards=8, hot_host_threshold=1000,
        store_raw=False, compact_every=3,
    )
    eng.seed(site.seeds)
    run.phase("warm")
    t0 = time.perf_counter()
    warm = [eng.run_round()]
    run.context["warm_step_s"] = [round(time.perf_counter() - t0, 3)]
    before = {"bytes": dir_bytes(state), "snapshot": eng.store.latest(),
              "bloom_version": eng.bloom_version}
    stats, step_s, error = [], [], None
    with run.timed():
        for _ in range(BULK_TIMED_ROUNDS):
            t0 = time.perf_counter()
            try:
                stats.append(eng.run_round())
            except Exception as e:
                error = f"raised {e!r}"
                break
            step_s.append(round(time.perf_counter() - t0, 3))
    state_bytes = dir_bytes(state) - before["bytes"]
    run.context["step_s"] = step_s
    if error is None:
        try:
            stats += eng.run(max_rounds=20)
        except Exception as e:
            error = f"drain raised {e!r}"
    rounds = warm + stats
    try:
        bad = _bulk_mismatches(eng, site, [s.round for s in rounds], complete=error is None)
        why = "output mismatch"
    except Exception as e:
        bad, why = set(range(len(rounds))), f"check raised {e!r}"
    for k, rnd in enumerate(rounds):
        if k in bad:
            run.step_failed(f"round {rnd.round} {why}")
        else:
            run.step_ok()
    if error is not None:
        # the round that raised and the drain round were not run
        for _ in range(len(warm) + BULK_TIMED_ROUNDS + 1 - len(rounds)):
            run.step_failed(f"round not run: {error}")

    if run.tracer:
        _parse_rate(run, site)
        _frontier_layers(run, eng, site, before)
    run.context["rounds"] = [(s.dispatched, s.fetched) for s in rounds]
    return run.result(urls=sum(s.fetched for s in stats[:len(step_s)]),
                      state_bytes=state_bytes)


def _bulk_mismatches(eng: CrawlEngine, site: datagen.Site, rounds: list[int],
                     complete: bool) -> set[int]:
    """Indices into ``rounds`` of the rounds whose output is wrong: each
    round fetched only site pages, each once, and its posts carry the
    generator's spans. When the crawl ran to the end, its last round also
    answers for the whole crawl: it fetched and saw every page."""
    spark = eng.spark
    log = _fetched(eng)
    want = datagen.spans_corpus(spark, site).withColumnRenamed("spans", "want")
    posts_df = eng.store.read(spark, "posts")
    bad_spans = {r.crawl_round: r.n for r in (
        posts_df.join(want, "doc_id", "left")
        .groupBy("crawl_round")
        .agg(F.count_if(~F.col("spans").eqNullSafe(F.col("want"))).alias("n"))
        .collect())}
    bad, fetched_urls = set(), set()
    for k, rnd in enumerate(rounds):
        urls = [u for r, u in log if r == rnd]
        ok = all(u in site.nodes and u not in fetched_urls for u in urls)
        ok = ok and len(set(urls)) == len(urls) and not bad_spans.get(rnd)
        fetched_urls.update(urls)
        if complete and k == len(rounds) - 1:
            ok = ok and (
                fetched_urls == set(site.nodes)
                and len(log) == len(site.nodes)
                and eng.seen_set() == simulate(site).seen
                and posts_df.count() == want.count()
            )
        if not ok:
            bad.add(k)
    return bad


def _candidates(df):
    return (
        df.withColumn("url_canon", U.canonicalize(F.col("url")))
        .withColumn("host", U.host_of(F.col("url_canon")))
        .withColumn("kind", U.classify_kind(F.col("url_canon")))
        .withColumn("priority", U.priority_of(F.col("kind")))
        .withColumn("enqueued_seq", F.col("id"))
    )


def _noop(df) -> None:
    """Materialize every column (a count could prune the projections)."""
    df.write.format("noop").mode("overwrite").save()


def _frontier_layers(run: Run, eng: CrawlEngine, site: datagen.Site, before: dict) -> None:
    """Traced runs only: the frontier stages materialized one at a time over
    the site's own URLs, against the filter and seen set the timed section
    started from — canonicalize, bloom probe, salted per-host dispatch — and
    the share of bloom suspects that were really new (wasted exact checks)."""
    spark, tr = run.spark, run.tracer
    raw = spark.createDataFrame(
        [(u, i) for i, u in enumerate(site.nodes)], "url string, id long"
    ).repartition(spark.sparkContext.defaultParallelism)
    cand = _candidates(raw)
    with tr.span("iso.canonicalize"):
        _noop(cand)
    canon = cand.persist()
    canon.count()
    with tr.span("iso.probe"):
        _noop(eng.bloom.probe(canon, before["bloom_version"]))
    with tr.span("iso.dispatch"):
        _noop(S.per_host_dispatch(canon, default_tokens=100_000, hot_host_threshold=1000))
    seen = eng.store.read(spark, "seen", before["snapshot"]).select(
        "url_canon", F.lit(True).alias("was_seen"))
    row = (
        eng.bloom.probe(canon, before["bloom_version"])
        .filter(F.col("maybe_seen"))
        .join(seen, "url_canon", "left")
        .agg(F.count_if(F.col("was_seen").isNull()).alias("fp"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    tr.value("dedup.fp_share", row["fp"] / row["n"] if row["n"] else 0.0)
    canon.unpersist()
