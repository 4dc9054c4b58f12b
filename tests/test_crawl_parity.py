"""Engine-vs-reference parity: fetch order + URL-seen set (north rule).

The oracle is the reference-faithful simulator (queue-rule transcription);
the engine must rediscover the same links by *parsing rendered HTML* and
reproduce the same order under the same seed list + politeness budget."""

from __future__ import annotations

import pytest

from facebook_page_scrapy_spark import datagen
from facebook_page_scrapy_spark.crawl import CrawlEngine
from facebook_page_scrapy_spark.operators.fetch import CorpusFetcher
from facebook_page_scrapy_spark.simulator import simulate


def build_engine(spark, site, tmp_path, **kw):
    _, corpus = datagen.site_to_dataframes(spark, site)
    fetcher = CorpusFetcher(corpus)
    return CrawlEngine(spark, str(tmp_path / "ckpt"), fetcher, **kw)


def pending_count(eng) -> int:
    return eng.frontier_current().filter("state = 'pending'").count()


def cached_dataframes(spark) -> int:
    """Persisted DataFrames (named RDDs; local checkpoints carry no name)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return sum(1 for k in rdds if rdds[k].name() is not None)


def test_two_level_parity(spark, tmp_path):
    site = datagen.make_site(n_groups=2, pages_per_group=2, posts_per_page=1, seed=7)
    sim = simulate(site)

    eng = build_engine(spark, site, tmp_path, default_tokens=1, n_bloom_shards=4)
    eng.seed(site.seeds)
    eng.run(max_rounds=60)

    assert eng.fetch_order() == sim.fetch_order
    assert eng.seen_set() == sim.seen
    # every page/post fetched exactly once
    assert len(sim.fetch_order) == len(set(sim.fetch_order)) == len(site.nodes)


def test_four_level_parity(spark, tmp_path):
    site = datagen.make_site(
        n_groups=1, pages_per_group=2, posts_per_page=1,
        comments_per_post=12, comment_page_size=10, four_level=True, seed=11,
    )
    sim = simulate(site)
    assert any(u for u in sim.fetch_order if "/ufi/reaction" in u)

    eng = build_engine(
        spark, site, tmp_path, default_tokens=1, four_level=True,
        n_bloom_shards=4,
    )
    eng.seed(site.seeds)
    eng.run(max_rounds=80)

    assert eng.fetch_order() == sim.fetch_order
    assert eng.seen_set() == sim.seen


def test_parallel_budget_same_seen_set(spark, tmp_path):
    """Throughput mode (big per-host budget) must converge to the same seen
    set / fetched set as the sequential reference, in far fewer rounds."""
    site = datagen.make_site(n_groups=3, pages_per_group=2, posts_per_page=3, seed=13)
    sim = simulate(site)

    eng = build_engine(spark, site, tmp_path, default_tokens=500)
    eng.seed(site.seeds)
    stats = eng.run(max_rounds=20)

    assert eng.seen_set() == sim.seen
    assert sorted(eng.fetch_order()) == sorted(sim.fetch_order)
    # pages chain sequentially per group but posts batch: rounds ≪ fetches
    assert len([s for s in stats if s.dispatched]) < len(sim.fetch_order) / 2


def test_resume_mid_crawl(spark, tmp_path):
    """Kill after k rounds, resume from snapshot → identical final artifacts
    (SURVEY §5.2-5)."""
    site = datagen.make_site(n_groups=2, pages_per_group=2, posts_per_page=1, seed=23)
    sim = simulate(site)

    eng1 = build_engine(spark, site, tmp_path, default_tokens=1)
    eng1.seed(site.seeds)
    for _ in range(3):
        eng1.run_round()
    # failure-free rounds keep the pending estimate exact
    assert eng1._pending_est == pending_count(eng1)

    # new engine object on the same checkpoint dir = process restart
    eng2 = build_engine(spark, site, tmp_path, default_tokens=1)
    assert eng2.round == eng1.round
    assert eng2._pending_est == eng1._pending_est
    eng2.run(max_rounds=60)

    assert eng2.fetch_order() == sim.fetch_order
    assert eng2.seen_set() == sim.seen


def test_failed_stage_rolls_back_and_retries(spark, tmp_path, monkeypatch):
    """A round whose stage raises leaves the engine at its last published
    snapshot with the round's caches released; the next call retries the
    round and the crawl still matches the reference."""
    site = datagen.make_site(n_groups=2, pages_per_group=2, posts_per_page=1, seed=29)
    sim = simulate(site)

    eng = build_engine(spark, site, tmp_path, default_tokens=1, n_bloom_shards=4)
    eng.seed(site.seeds)
    for _ in range(2):
        eng.run_round()
    resume_state = (eng.round, eng.bloom_version, eng._pending_est)
    cached = cached_dataframes(spark)

    stage = eng.store.stage
    failures = []

    def stage_failing_once(sid, deltas):
        if not failures:
            failures.append(sid)
            raise OSError("injected stage failure")
        return stage(sid, deltas)

    monkeypatch.setattr(eng.store, "stage", stage_failing_once)
    with pytest.raises(OSError, match="injected"):
        eng.run_round()
    assert (eng.round, eng.bloom_version, eng._pending_est) == resume_state
    assert eng.round == eng.store.manifest()["meta"]["round"]
    assert cached_dataframes(spark) == cached

    eng.run(max_rounds=60)
    assert eng.fetch_order() == sim.fetch_order
    assert eng.seen_set() == sim.seen
    assert eng.round == eng.store.manifest()["meta"]["round"]
    assert eng._pending_est == pending_count(eng) == 0


def test_queue_reset_on_resume_parity(spark, tmp_path):
    """U3: resume in 4-level mode drops the pending reaction/comment queues
    (Facebook_group_reaction.py:91-93) — engine fetch order and final seen
    set must match the simulator replaying the same reset point."""
    site = datagen.make_site(
        n_groups=1, pages_per_group=2, posts_per_page=2,
        comments_per_post=12, comment_page_size=10, four_level=True, seed=43,
    )
    sim_full = simulate(site)
    # pick a restart point where the reaction/comment queues are non-empty,
    # so the reset actually bites (deterministic scan over the same oracle)
    k, sim = next(
        (k, s)
        for k in range(3, len(sim_full.fetch_order))
        for s in [simulate(site, reset_at=k)]
        if s.fetch_order != sim_full.fetch_order
    )

    eng1 = build_engine(
        spark, site, tmp_path, default_tokens=1, global_budget=1,
        four_level=True, n_bloom_shards=4,
    )
    eng1.seed(site.seeds)
    for _ in range(k):
        eng1.run_round()
    assert len(eng1.fetch_order()) == k

    # process restart: new engine on the same checkpoint + U3 reset
    eng2 = build_engine(
        spark, site, tmp_path, default_tokens=1, global_budget=1,
        four_level=True, n_bloom_shards=4,
    )
    dropped = eng2.reset_transient_queues()
    assert dropped > 0
    eng2.run(max_rounds=80)

    assert eng2.fetch_order() == sim.fetch_order
    assert eng2.seen_set() == sim.seen


def test_span_sequence_equality(spark, tmp_path):
    """input_hint invariant: extracted spans == generator's intended spans
    (kind, text, media_ref, order) per doc_id."""
    site = datagen.make_site(n_groups=2, pages_per_group=1, posts_per_page=2, seed=31)
    eng = build_engine(spark, site, tmp_path, default_tokens=100)
    eng.seed(site.seeds)
    eng.run(max_rounds=10)

    posts = eng.store.read(spark, "posts")
    assert posts is not None
    got = {r.doc_id: [tuple(s) for s in r.spans] for r in posts.select("doc_id", "spans").collect()}
    want_df = datagen.spans_corpus(spark, site)
    want = {r.doc_id: [tuple(s) for s in r.spans] for r in want_df.collect()}
    assert got == want
    assert len(got) > 0


def test_lineage_and_snapshots(spark, tmp_path):
    site = datagen.make_site(n_groups=1, pages_per_group=2, posts_per_page=2, seed=37)
    eng = build_engine(spark, site, tmp_path, default_tokens=100, n_bloom_shards=4)
    eng.seed(site.seeds)
    eng.run(max_rounds=10)

    lin = eng.store.read(spark, "lineage")
    assert lin is not None
    rows = lin.collect()
    assert all(r.bloom_shard_version >= 1 for r in rows)
    assert all(r.frontier_offset > 0 for r in rows)
    # snapshot ids strictly increasing and readable historically
    assert eng.store.latest() >= 3
    early = eng.store.read(spark, "seen", snapshot_id=2)
    late = eng.store.read(spark, "seen")
    assert early.count() <= late.count()
