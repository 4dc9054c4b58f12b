"""Enrichment (J4/S9/A1-A4/F12), repair (T7/P5/P6) and seen-retraction jobs.

Oracle by construction: the synthetic site generator knows each post's
intended comment count and reaction histogram; enrichment must reproduce
them, repair must re-extract a fixed document, forget must make a URL
re-discoverable."""

from __future__ import annotations

from pyspark.sql import functions as F

from facebook_page_scrapy_spark import datagen
from facebook_page_scrapy_spark.crawl import CrawlEngine
from facebook_page_scrapy_spark.operators import enrich as E
from facebook_page_scrapy_spark.operators.fetch import CorpusFetcher


def crawl_site(spark, site, tmp, **kw):
    _, corpus = datagen.site_to_dataframes(spark, site)
    eng = CrawlEngine(spark, str(tmp), CorpusFetcher(corpus),
                      default_tokens=500, n_bloom_shards=4, **kw)
    eng.seed(site.seeds)
    eng.run(max_rounds=30)
    return eng


def test_enrich_counts_and_translated_reactions(spark, tmp_path):
    site = datagen.make_site(
        n_groups=1, pages_per_group=2, posts_per_page=2,
        comments_per_post=15, comment_page_size=10, four_level=True, seed=51,
    )
    eng = crawl_site(spark, site, tmp_path / "c", four_level=True)
    enriched = eng.enrich_posts()
    assert enriched is not None
    got = {r.post_id: r for r in enriched.collect()}

    # ground truth from the generator's site graph
    want_comments = {}
    want_reactions = {}
    for n in site.nodes.values():
        if n.kind == "comment":
            pid = n.post_id
            import re

            want_comments[pid] = want_comments.get(pid, 0) + len(
                re.findall(r'<div id="c', n.html)
            )
        if n.kind == "post":
            # inline comments on the post page itself
            import re

            pid = n.post_id
            want_comments[pid] = want_comments.get(pid, 0) + len(
                re.findall(r'<div id="c', n.html)
            )
        if n.kind == "reaction":
            import re

            pairs = re.findall(r'alt="([^"]+)" src="/e.png" /><span>(\d+)</span>', n.html)
            want_reactions[n.post_id] = {k: int(v) for k, v in pairs}

    for pid, row in got.items():
        assert row.comment_count == want_comments.get(pid, 0), pid
        assert row.comment_count == len(row.comments_full)
        # full crawl: every comment chain ran to its empty trailing page, so
        # exhaustion-derived completeness == "had any comment pages at all"
        assert row.complete_crawl_comment == (row.comment_count > 0)
        want_rx = {
            E.REACTION_MAP.get(k, k): v for k, v in want_reactions.get(pid, {}).items()
        }
        assert dict(row.reactions or {}) == want_rx, pid
        assert row.reaction_count == sum(want_rx.values())
    # translation actually happened (English keys only)
    all_keys = {k for r in got.values() for k in (r.reactions or {})}
    assert all_keys <= set(E.REACTION_MAP.values())


def test_repair_empty_text_refetches_and_fixes(spark, tmp_path):
    site = datagen.make_site(n_groups=1, pages_per_group=2, posts_per_page=2, seed=53)
    # break one post: media-only body → extractor yields text=''
    broken_url = next(u for u, n in site.nodes.items() if n.kind == "post")
    node = site.nodes[broken_url]
    good_html = node.html
    node.html = datagen.render_post_html(
        node.group_id, node.post_id, 1650000000, '<img src="https://cdn.example/x.jpg" />', ""
    )

    eng = crawl_site(spark, site, tmp_path / "c")
    posts = eng.store.read(spark, "posts")
    broken = E.find_empty_text_posts(posts).collect()
    assert [r.doc_id for r in broken] == [node.doc_id]

    # site fixed between crawls → swap in a fetcher over the repaired corpus
    node.html = good_html
    _, fixed_corpus = datagen.site_to_dataframes(spark, site)
    eng.fetcher = CorpusFetcher(fixed_corpus)

    assert eng.repair_empty_text() == 1
    eng.run(max_rounds=5)

    cur = E.posts_current(eng.store.read(spark, "posts"))
    row = cur.filter(F.col("doc_id") == node.doc_id).collect()[0]
    assert row.text != ""
    # exactly one repaired version on top of the original
    all_rows = eng.store.read(spark, "posts").filter(
        F.col("doc_id") == node.doc_id
    ).count()
    assert all_rows == 2
    # no double-fetch of anything else
    order = eng.fetch_order()
    assert len(order) == len(site.nodes) + 1  # every url once + one repair


def test_forget_urls_allows_rediscovery(spark, tmp_path):
    site = datagen.make_site(n_groups=1, pages_per_group=1, posts_per_page=3, seed=57)
    eng = crawl_site(spark, site, tmp_path / "c")
    n_first = len(eng.fetch_order())
    assert n_first == len(site.nodes)

    target = next(u for u, n in site.nodes.items() if n.kind == "post")
    target_df = spark.createDataFrame([(target,)], "url_canon string")
    v_before = eng.bloom_version
    forgotten = eng.forget_urls(target_df)
    assert forgotten == 1
    assert target not in eng.seen_set()
    # one rebuild at the next filter version, and a probe there reports the
    # retracted url as unseen
    assert eng.bloom_version == v_before + 1
    assert not eng.bloom.probe(target_df, eng.bloom_version).collect()[0].maybe_seen

    # the page that links it is also forgotten? no — re-seed the page crawl:
    # re-enqueue the seed page by forgetting it too, then crawl again
    seed_page = next(u for u, n in site.nodes.items() if n.kind == "page")
    eng.forget_urls(spark.createDataFrame([(seed_page,)], "url_canon string"))
    eng.seed(site.seeds)
    eng.run(max_rounds=10)

    assert target in eng.seen_set()
    order = eng.fetch_order()
    # target fetched exactly twice (once per crawl), others at most twice
    assert order.count(target) == 2


def test_recrawl_comments_incremental_and_reset(spark, tmp_path):
    """T4: incremental recrawl skips posts whose pagination was proven
    exhausted (a crawled 0-comment page), resumes interrupted/uncrawled
    posts at ?p=<comment_count>; reset forces ?p=0 for every post
    (Facebook_group_cmt.py:26,108-153,176-178)."""
    site = datagen.make_site(
        n_groups=1, pages_per_group=1, posts_per_page=2,
        comments_per_post=15, comment_page_size=10, four_level=True, seed=61,
    )
    eng = crawl_site(spark, site, tmp_path / "c", four_level=True)
    eng.enrich_posts()
    enriched = eng.store.read(spark, "posts_enriched")
    by_pid = {r.post_id: r for r in enriched.collect()}
    exhausted = {p for p, r in by_pid.items() if r.complete_crawl_comment}
    open_posts = set(by_pid) - exhausted

    # fully crawled world → incremental mode targets only the posts whose
    # chain never ran (zero-comment posts here); exhausted posts are skipped
    n = eng.recrawl_comments(reset=False)
    assert n == len(open_posts)
    if n:
        pend = eng.frontier_current().filter(F.col("state") == "pending").collect()
        assert {r.post_id for r in pend} == open_posts
        eng.run(max_rounds=4)  # drain so the reset check below starts clean

    # reset re-enqueues every post's ?p=0 comment page
    n_posts = len(by_pid)
    n = eng.recrawl_comments(reset=True)
    assert n == n_posts

    pending = eng.frontier_current().filter(F.col("state") == "pending")
    rows = pending.collect()
    assert len(rows) == n_posts
    assert all(r.kind == "comment" and r.url_canon.endswith("p=0") for r in rows)
    # the re-enqueued pages fetch and re-parse comments
    stats = eng.run(max_rounds=6)
    assert sum(s.parsed_comments for s in stats) > 0


def test_recrawl_comments_resumes_interrupted_chain_at_offset(spark, tmp_path):
    """The resume-at-?p=<comment_count> path on a mid-chain interruption —
    the reference's documented incremental semantics
    (Facebook_group_cmt.py:130-134). Crawl stops before the comment chains
    finish; the recrawl must target exactly the interrupted posts, at their
    current collected counts, and finishing the crawl completes them."""
    site = datagen.make_site(
        n_groups=1, pages_per_group=1, posts_per_page=2,
        comments_per_post=15, comment_page_size=10, four_level=True, seed=61,
    )
    _, corpus = datagen.site_to_dataframes(spark, site)
    eng = CrawlEngine(spark, str(tmp_path / "c"), CorpusFetcher(corpus),
                      default_tokens=500, n_bloom_shards=4,
                      four_level=True)
    eng.seed(site.seeds)
    # rounds: 1 page → 2 posts → 3 reaction+?p=0 → (stop; ?p=10.. unfetched)
    eng.run(max_rounds=3)
    eng.enrich_posts()
    enriched = eng.store.read(spark, "posts_enriched")
    rows = {r.post_id: r for r in enriched.collect()}
    interrupted = {p for p, r in rows.items() if not r.complete_crawl_comment}
    assert interrupted  # the site has comment-bearing posts mid-chain

    from facebook_page_scrapy_spark.crawl import ROUND_BASE

    seq_floor = (eng.round + 1) * ROUND_BASE  # rows enqueued by the recrawl
    n = eng.recrawl_comments(reset=False)
    assert n == len(interrupted)
    pend = (
        eng.frontier_current()
        .filter((F.col("state") == "pending") & (F.col("enqueued_seq") >= seq_floor))
        .collect()
    )
    got_offsets = {r.post_id: r.url_canon.rsplit("p=", 1)[1] for r in pend}
    want_offsets = {p: str(rows[p].comment_count) for p in interrupted}
    assert got_offsets == want_offsets  # resume exactly at collected count

    # nonzero offsets prove the resume path is alive (not always ?p=0):
    # posts whose ?p=0 page was fetched resume past it
    assert any(v != "0" for v in got_offsets.values())

    eng.run(max_rounds=8)
    eng.enrich_posts()
    done = eng.store.read(spark, "posts_enriched")
    # every comment-bearing post's chain is now exhausted
    for r in done.collect():
        if r.comment_count > 0:
            assert r.complete_crawl_comment, r.post_id


def test_get_post_field_nested_path_probe(spark, tmp_path):
    """J6 (DBUtils.py:59-69): keyed lookup + nested path walk over the
    POST_OBJECT-shaped document, including map keys; missing keys → None."""
    site = datagen.make_site(
        n_groups=1, pages_per_group=1, posts_per_page=2,
        comments_per_post=8, comment_page_size=10, four_level=True, seed=67,
    )
    eng = crawl_site(spark, site, tmp_path / "c", four_level=True)
    enriched = eng.enrich_posts()
    nested = E.posts_nested(enriched)
    row = enriched.filter(F.col("comment_count") > 0).collect()[0]
    pid, gid = row.post_id, row.page_id

    assert E.get_post_field(nested, gid, pid, ["info", "comments"]) == row.comment_count
    assert E.get_post_field(nested, gid, pid, ["info", "complete_crawl_comment"]) == (
        row.complete_crawl_comment
    )
    # map-key step: reactions histogram leaf
    if row.reactions:
        emote, count = next(iter(row.reactions.items()))
        assert E.get_post_field(nested, gid, pid, ["info", "reactions", emote]) == count
    # reference semantics: unknown post / unknown key → None
    assert E.get_post_field(nested, gid, "no_such_post", ["info", "comments"]) is None
    assert E.get_post_field(nested, gid, pid, ["info", "nope"]) is None
    assert E.get_post_field(nested, gid, pid, []) is None

