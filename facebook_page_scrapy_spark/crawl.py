"""The round-based crawl engine: frontier → gate → dispatch → fetch → parse →
discover → dedup → checkpoint, all as DataFrame ops + Arrow-batched UDFs.

This replaces the reference's self-chaining Scrapy loop
(``Facebook_group_post.py:188-221``: parse yields the next Request, one
outstanding request, pickle checkpoint per fetch) with batch rounds:

- the frontier is an *event log* table (enqueue / fetched / failed events);
  the current state is the latest event per url_canon (merge-on-read,
  compacted every ``compact_every`` rounds) — state lives in the table
  format, never in chained DataFrame lineage (see frontier_current);
- dispatch = priority window per host (scheduler.per_host_dispatch) —
  reference-parity mode is ``default_tokens=1`` with ``global_budget=1``;
- parse = ONE fused mapInPandas pass (operators.parse.parse_all) emitting a
  tagged union of link/post/comment/reaction rows — each HTML parsed once;
- URL-seen dedup = partitioned Bloom shards gating an exact anti-join
  (operators.dedup) — the loop's one dedup path: seeding builds the filter,
  every round probes it and adds its enqueued URLs; versions are recorded in
  per-partition lineage;
- every round commits one atomic snapshot (state.snapshot.SnapshotStore,
  parallel delta writes) carrying per-bucket lineage rows (frontier offset,
  bloom shard version, fetch/dedup/parse counters) — the resume point.

Commit path: every commit follows the table-format protocol (Iceberg spec,
"Commit protocol"): stage immutable data files, then swap the manifest.
``SnapshotStore.stage`` always writes fresh dirs, so a delta may read the
table it replaces and nothing is materialized first. Commits outside the
round go through ``CrawlEngine._commit``, which recounts the pending
estimate on a frontier rewrite's own write job; the round stages and
publishes itself so that its bloom shard update overlaps staging.

Determinism: enqueued_seq = (round+1)·2³² + rank, where rank orders
(dispatch-rank of the discovering page, DOM link index). With budget=1 this
reproduces the reference's FIFO queue order exactly (parity tests); with
parallel budgets FIFO-per-host still holds.

Scale: each round is TWO materializing actions before the snapshot commit —
(1) one job materializing fetch → fused parse → candidate build through
chained persists, (2) the bloom shard update, which doubles as the
materializer for the deduped frontier rows — plus one bounded
``localCheckpoint`` job inside each of the round's two
scheduler.distributed_row_number calls (the dispatch-trace rank and the
discovery-sequence rank), which buy the loop's two global orderings WITHOUT
a partition-less window's single-task sort and truncate the round's plan
lineage as a side effect. A batch the running pending-frontier estimate
(persisted in every manifest, so it survives resume) says fits one task is
ranked in one task with no sampling or offset jobs; larger batches take the
range-partitioned path. Every counter rides on ``df.observe``
CollectMetrics accumulators (A7) instead of extra count() round-trips. The
per-host window shuffle doubles as the fetch stage's host partitioning; the
bloom probe is a map-side filter with worker-local shard caching. Nothing in
the loop collects row data to the driver — only observed counters. A round
that raises before it publishes leaves the engine at its last published
snapshot (round, filter version and estimate restored, round caches
released), so the next call retries it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from facebook_page_scrapy_spark import schemas
from facebook_page_scrapy_spark.functions import urls as U
from facebook_page_scrapy_spark.operators import dedup as D
from facebook_page_scrapy_spark.operators import parse as P
from facebook_page_scrapy_spark.operators import scheduler as S
from facebook_page_scrapy_spark.state.snapshot import SnapshotStore

from pyspark.sql import types as ST

ROUND_BASE = 2**32
# parse fan-out: one Python task per this many pages of pending frontier
PAGES_PER_PARSE_TASK = 2048
# comment pagination step: the reference chains ?p+=10 (Facebook_group_cmt.py:176-178)
COMMENT_PAGE_STEP = 10
# the pending kinds a queue reset drops (Facebook_group_reaction.py:91-93)
TRANSIENT_KINDS = ("reaction", "comment")
# copy, don't .add(): StructType.add mutates the receiver in place and would
# corrupt the shared schemas.FRONTIER for every other importer
FRONTIER_EVENT_SCHEMA = ST.StructType(
    list(schemas.FRONTIER.fields) + [ST.StructField("event_seq", ST.LongType(), False)]
)


def _pending_events(rows: DataFrame, depth: int) -> DataFrame:
    """Pending frontier events from ``rows`` carrying the frontier columns
    through ``enqueued_seq``: the tail every enqueue path (seed, discovery,
    repair, comment recrawl) shares."""
    return (
        rows.withColumn("depth", F.lit(depth))
        .withColumn("discovered_ts", F.lit(depth).cast("long"))
        .withColumn("state", F.lit("pending"))
        .withColumn("attempts", F.lit(0))
        .withColumn("event_seq", F.col("enqueued_seq"))
        .select(*[f.name for f in FRONTIER_EVENT_SCHEMA.fields])
    )


@dataclass
class RoundStats:
    round: int
    dispatched: int = 0
    fetched: int = 0
    failed: int = 0
    exhausted: int = 0  # failures past the retry budget (state "failed")
    discovered: int = 0
    deduped: int = 0
    enqueued: int = 0
    parsed_posts: int = 0
    parsed_comments: int = 0
    snapshot_id: int = 0


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        fetcher,
        robots: DataFrame | None = None,
        host_budget: DataFrame | None = None,
        identities: DataFrame | None = None,
        default_tokens: int = 1,
        global_budget: int | None = None,
        four_level: bool = False,
        n_bloom_shards: int = 8,
        hot_host_threshold: int | None = None,
        compact_every: int = 8,
        store_raw: bool = True,
        identity_seed: int | None = None,
    ):
        self.spark = spark
        self.store = SnapshotStore(checkpoint_dir)
        self.bloom = D.BloomStore(os.path.join(checkpoint_dir, "filters"), n_bloom_shards)
        self.fetcher = fetcher
        self.robots = robots
        self.host_budget = host_budget
        self.identities = identities
        # Identity pool size + seeded initial cookie slot (F14, utils.py:30:
        # the reference starts at random.randint — here a *seeded* start so
        # rotation parity is reproducible). Counted ONCE here, not per round:
        # the pool is a tiny static table and alive.count() in the hot loop
        # was a fixed driver round-trip per round.
        self._n_identities = 0
        self._identity_start = 0
        if identities is not None:
            self._n_identities = identities.filter(~F.col("blocked")).count()
            if identity_seed is not None and self._n_identities > 0:
                import random

                self._identity_start = random.Random(identity_seed).randint(
                    0, self._n_identities - 1
                )
        self.default_tokens = default_tokens
        self.global_budget = global_budget
        self.four_level = four_level
        self.n_bloom_shards = n_bloom_shards
        self.hot_host_threshold = hot_host_threshold
        self.compact_every = compact_every
        self.store_raw = store_raw
        meta = self.store.manifest().get("meta", {})
        self.round = meta.get("round", 0)
        self.bloom_version = meta.get("bloom_version", 0)
        # running count of pending frontier rows: seeded at seed(), advanced
        # from each round's observed counters (pending - fetched - exhausted
        # + enqueued), recounted on the write job of every commit that
        # replaces the frontier (compaction, queue reset, forget). It sizes
        # the dispatch rank and the parse fan-out without a count() job, and
        # rides in every manifest's meta so a resumed engine starts from it.
        # Never below the true count. A checkpoint written before the
        # estimate existed is counted once, here.
        est = meta.get("pending_est")
        if est is None and self.round:
            est = self.frontier_current().filter(F.col("state") == "pending").count()
        self._pending_est: int = est or 0

    def _parse_width(self) -> int:
        cores = self.spark.sparkContext.defaultParallelism
        return max(1, min(cores, self._pending_est // PAGES_PER_PARSE_TASK + 1))

    def _meta(self, phase: str, **extra) -> dict:
        """Manifest meta for a commit: the resume state plus ``extra``."""
        return {
            "round": self.round,
            "bloom_version": self.bloom_version,
            "pending_est": self._pending_est,
            "phase": phase,
            **extra,
        }

    def _commit(
        self, phase: str, deltas: dict[str, DataFrame], replace=frozenset(), **meta
    ) -> int:
        """Stage ``deltas``, then publish them as one snapshot with
        ``self._meta(phase, **meta)``; tables in ``replace`` start over. A
        commit that replaces the frontier recounts the pending estimate with
        an observation on that write job, before the meta is built."""
        obs = None
        if "frontier" in replace:
            obs = Observation()
            deltas = {
                **deltas,
                "frontier": deltas["frontier"].observe(
                    obs, F.count_if(F.col("state") == "pending").alias("n")
                ),
            }
        sid = self.store.manifest()["snapshot_id"] + 1
        staged = self.store.stage(sid, deltas)
        if obs is not None:
            self._pending_est = int(obs.get["n"] or 0)
        return self.store.publish(sid, staged, meta=self._meta(phase, **meta), replace=replace)

    # ------------------------------------------------------------------ state
    def frontier_current(self) -> DataFrame:
        """Latest event per url_canon over the frontier log (merge-on-read).

        Always derived from the snapshot store's parquet files: the logical
        plan stays a flat file-scan + window no matter how many rounds have
        run. (An earlier design chained the view incrementally through
        per-round DataFrames; Catalyst re-analysis of the growing plan tree
        went super-linear by round 2 — keep state in the table format, not in
        plan lineage.) Compaction every ``compact_every`` rounds bounds the
        delta-file count the scan has to merge.
        """
        log = self.store.read(self.spark, "frontier")
        if log is None:
            return self.spark.createDataFrame([], FRONTIER_EVENT_SCHEMA)
        w = Window.partitionBy("url_canon").orderBy(F.desc("event_seq"))
        return (
            log.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def seen_df(self) -> DataFrame:
        s = self.store.read(self.spark, "seen")
        if s is None:
            return self.spark.createDataFrame([], schemas.SEEN)
        return s

    # ------------------------------------------------------------------ seeding
    def _seed_rows(self, rows: list[tuple[str, str]]) -> int:
        """Common seeding path: (group_id, url) pairs → canonicalized
        page-kind frontier entries + seen/bloom registration, in list order
        (the sequence numbers are assigned on the driver, where the list is)."""
        base = (self.round + 1) * ROUND_BASE
        raw = self.spark.createDataFrame(
            [(gid, url, base + i + 1) for i, (gid, url) in enumerate(rows)],
            "group_id string, url string, enqueued_seq long",
        )
        seeds = _pending_events(
            raw.withColumn("url_canon", U.canonicalize(F.col("url")))
            .withColumn("host", U.host_of(F.col("url_canon")))
            .withColumn("post_id", F.lit(None).cast("string"))
            .withColumn("kind", F.lit("page"))
            .withColumn("priority", F.lit(1)),
            depth=0,
        ).persist()
        seen = seeds.select(
            "url_canon", D.bucket_of(F.col("url_canon"), self.n_bloom_shards).alias("bucket")
        )
        if self.bloom_version == 0:
            self.bloom.build(seen, version=1)
            self.bloom_version = 1
        else:
            self.bloom_version = self.bloom.add(seen, self.bloom_version)
        self.round += 1
        self._pending_est += len(rows)
        sid = self._commit("seed", {"frontier": seeds, "seen": seen})
        seeds.unpersist()
        return sid

    def seed_fanpages(self, page_ids: list[str]) -> int:
        """Fan-page variant seeding (Facebook_page.py:9,24-29): one terminal
        homepage URL per page id — ``mbasic.facebook.com/<page_id>``, no
        /groups/ path. The homepages parse as fan-page timelines
        (operators.parse.extract_fanpage_posts) into the fanpage_posts table."""
        return self._seed_rows([(pid, f"https://mbasic.facebook.com/{pid}") for pid in page_ids])

    def seed(self, group_ids: list[str]) -> int:
        """Seed page URLs from group ids in list order (Facebook_group_post.py
        :96-103 maps GROUP_IDS → page URLs)."""
        return self._seed_rows(
            [(gid, f"https://mbasic.facebook.com/groups/{gid}") for gid in group_ids]
        )

    # ------------------------------------------------------------------ rounds
    def run_round(self) -> RoundStats:
        """Run one round and publish it as one snapshot. A round that raises
        before its publish restores the resume state (round, filter version,
        pending estimate) and releases its caches, so the engine stays at its
        last published snapshot and calling again retries the round."""
        saved = (self.round, self.bloom_version, self._pending_est)
        cache: list[DataFrame] = []
        try:
            stats = self._round(cache)
        except BaseException:
            self.round, self.bloom_version, self._pending_est = saved
            raise
        finally:
            for df in cache:
                df.unpersist()
        if stats.snapshot_id and self.round % self.compact_every == 0:
            self.compact_frontier()
        return stats

    def _round(self, cache: list[DataFrame]) -> RoundStats:
        """One round's body; every DataFrame it persists goes into ``cache``."""
        stats = RoundStats(round=self.round + 1)
        pending = self.frontier_current().filter(F.col("state") == "pending")

        if self.robots is not None:
            pending = S.robots_gate(pending, self.robots)

        dispatch = S.per_host_dispatch(
            pending,
            host_budget=self.host_budget,
            default_tokens=self.default_tokens,
            hot_host_threshold=self.hot_host_threshold,
        )
        # Global fetch-order rank (O2 FIFO trace + the optional global-budget
        # cut) via the two-pass distributed rank — NOT a partition-less
        # window, which would funnel the round's whole dispatch batch through
        # one task (VERDICT r4 "what's wrong" #1). Ranked ONCE: the budget
        # filter keeps exactly ranks 1..B, so the survivors' global rank IS
        # the pre-filter rank — the old two-window form (__grank cut, then
        # re-rank for __rank) computed the same values twice.
        dispatch = S.distributed_row_number(
            dispatch, S.dispatch_order(), "__rank", n_rows_hint=self._pending_est
        )
        if self.global_budget is not None:
            dispatch = dispatch.filter(F.col("__rank") <= self.global_budget)
        if self.identities is not None:
            # identity slot rides along to the fetcher (cookie-per-request,
            # utils.py:32-37); frontier events drop it naturally (f_cols)
            dispatch = S.assign_identities(
                dispatch, self.identities,
                n_alive=self._n_identities, start_slot=self._identity_start,
            )

        # ---- round counters ride on the jobs that run anyway (df.observe —
        # A7: per-stage metrics as CollectMetrics accumulators, not extra
        # driver actions). One materializing action covers fetch + parse +
        # candidate build because the persisted intermediates chain.
        obs_fetch = Observation()
        fetched = (
            self.fetcher.fetch(dispatch)
            .observe(
                obs_fetch,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(F.col("fetch_ok").cast("long")), F.lit(0)).alias("ok"),
                F.count_if(~F.col("fetch_ok") & (F.col("attempts") + 1 >= S.MAX_RETRIES))
                .alias("exhausted"),
            )
            .persist()
        )
        ok = fetched.filter(F.col("fetch_ok"))
        failed = fetched.filter(~F.col("fetch_ok"))

        # ---- fused parse (ONE Arrow pass over the round's HTML) ---------------
        obs_parse = Observation()
        parsed = (
            ok.select(
                "doc_id", F.col("url_canon").alias("url"), "group_id", "post_id",
                "kind", "__rank", "html",
            )
            # explicit repartition: AQE coalesces the upstream shuffle toward
            # 64MB targets, which serializes the Python parse stage on small
            # batches; an explicit count is respected and spreads the Arrow
            # workers across the executor pool — but no wider than the
            # pending frontier (the batch's upper bound) fills at
            # PAGES_PER_PARSE_TASK pages a task, so a one-page round starts
            # one Python task, not one per core
            .repartition(self._parse_width())
            .mapInPandas(P.parse_all, P.PARSE_ALL_SCHEMA)
            .observe(
                obs_parse,
                *[
                    F.count_if(F.col("row_type") == t).alias(t)
                    for t in ("post", "comment", "reaction", "cmeta", "fppost", "link")
                ],
            )
            .persist()
        )
        links = parsed.filter(F.col("row_type") == "link")
        posts = parsed.filter(F.col("row_type") == "post")
        comments = parsed.filter(F.col("row_type") == "comment")
        reactions = parsed.filter(F.col("row_type") == "reaction")
        cmeta = parsed.filter(F.col("row_type") == "cmeta")

        # ---- discoveries ------------------------------------------------------
        discovered = links.select(
            F.col("href").alias("url"), "group_id", "src_rank", "link_idx"
        )
        if self.four_level:
            # post pages yield reaction then comment links (engine-derived:
            # reaction always, comment iff the post shows ≥1 inline comment —
            # Facebook_group_reaction.py:188-205 / Facebook_group_cmt.py:130)
            rxn = posts.select(
                F.concat(
                    F.lit("https://mbasic.facebook.com/ufi/reaction/?ft_ent_identifier="),
                    F.col("post_id"),
                ).alias("url"),
                "group_id",
                "src_rank",
                F.lit(0).alias("link_idx"),
            )
            cmt0 = posts.filter(F.col("n_comments") > 0).select(
                U.comment_url(F.col("group_id"), F.col("post_id"), F.lit(0)).alias("url"),
                "group_id",
                "src_rank",
                F.lit(1).alias("link_idx"),
            )
            # comment pages chain ?p+=step while they parse ≥1 comment
            cmt_next = (
                cmeta.filter(F.col("n_comments") > 0)
                .select(
                    F.regexp_replace(F.col("url"), r"([?&])p=\d+", "$1p=__X__").alias("__tmpl"),
                    (U.comment_offset_of(F.col("url")) + COMMENT_PAGE_STEP).alias("__next_p"),
                    "group_id",
                    "src_rank",
                )
                .select(
                    F.expr("replace(__tmpl, '__X__', cast(__next_p as string))").alias("url"),
                    F.col("group_id"),
                    F.col("src_rank"),
                    F.lit(0).alias("link_idx"),
                )
            )
            discovered = discovered.unionByName(rxn).unionByName(cmt0).unionByName(cmt_next)

        cand = (
            discovered.withColumn("url_canon", U.canonicalize(F.col("url")))
            .filter(F.col("url_canon").rlike(r"^https://mbasic\.facebook"))  # P3 gate
            .withColumn("host", U.host_of(F.col("url_canon")))
            .withColumn("kind", U.classify_kind(F.col("url_canon")))
            .withColumn("priority", U.priority_of(F.col("kind")))
            .withColumn("post_id", U.post_id_of(F.col("url_canon")))
            .withColumn(
                "group_id",
                F.when(F.col("group_id").isNotNull(), F.col("group_id")).otherwise(
                    U.group_id_of(F.col("url_canon"))
                ),
            )
        )
        # within-batch dedup: keep first by discovery order
        wdup = Window.partitionBy("url_canon").orderBy("src_rank", "link_idx")
        cand = (
            cand.withColumn("__dup", F.row_number().over(wdup))
            .filter(F.col("__dup") == 1)
            .persist()
        )
        cache += [fetched, parsed, cand]
        # ---- action 1 of 2: one job materializes fetched → parsed → cand
        # (chained persists) and fires all three observations
        n_cand = cand.count()
        stats.discovered = n_cand
        frow = obs_fetch.get
        stats.dispatched = int(frow["n"] or 0)
        stats.fetched = int(frow["ok"] or 0)
        stats.failed = stats.dispatched - stats.fetched
        stats.exhausted = int(frow["exhausted"] or 0)
        type_counts = {k: int(v or 0) for k, v in obs_parse.get.items()}
        stats.parsed_posts = type_counts.get("post", 0)
        stats.parsed_comments = type_counts.get("comment", 0)
        if stats.dispatched == 0:
            return stats

        # cross-round dedup: seeding builds the filter before any round can
        # dispatch, and a round with nothing dispatched returned above
        fresh = D.dedup_bloom_gated(
            cand, self.seen_df(), self.bloom, self.bloom_version, cleanup=cache
        )

        base = (self.round + 1) * ROUND_BASE
        # discovery-order sequence numbers via the same two-pass distributed
        # rank as the dispatch trace: a round's fresh-discovery batch is the
        # fetch batch × links-per-page, the largest row set in the loop — a
        # partition-less window here would single-task-sort it every round
        new_rows = _pending_events(
            S.distributed_row_number(
                fresh,
                [F.asc("src_rank"), F.asc("link_idx"), F.asc("url_canon")],
                "__r",
                n_rows_hint=n_cand,
            ).withColumn("enqueued_seq", F.lit(base) + F.col("__r")),
            depth=self.round,
        ).persist()
        cache.append(new_rows)
        # ---- state-transition events -----------------------------------------
        tbase = base + 2**31
        f_cols = [f.name for f in FRONTIER_EVENT_SCHEMA.fields]
        done_events = (
            ok.withColumn("state", F.lit("fetched"))
            .withColumn("event_seq", F.lit(tbase) + F.col("__rank"))
            .select(*f_cols)
        )
        fail_rows = failed.withColumn("event_seq", F.lit(tbase) + F.col("__rank") + 2**20)
        retry_events = S.retry_requeue(fail_rows.select(*f_cols)).select(*f_cols)
        exhausted = (
            fail_rows.filter(F.col("attempts") + 1 >= S.MAX_RETRIES)
            .withColumn("state", F.lit("failed"))
            .select(*f_cols)
        )
        frontier_delta = (
            new_rows.unionByName(done_events).unionByName(retry_events).unionByName(exhausted)
        )

        # ---- action 2 of 2: the bloom shard update is the job that
        # materializes new_rows (persisted) — enqueued/deduped counters ride
        # on it as an observation instead of a separate count() action.
        # It runs CONCURRENTLY with staging the round's stat-independent
        # delta writes: staged data files are invisible until the manifest
        # publishes, and only the tiny lineage table needs the observed
        # counters + post-update filter version — so the shard job and the
        # parquet writes (the round's two serial tails) overlap.
        # The observation sits on new_seen, above the cache: every job that
        # reads new_seen (the filter update, the seen write) runs its own
        # counter over all the rows. Inside new_rows' cached plan it would
        # run once, in whichever job builds the cache, and a concurrent job
        # that only read the built blocks could report first with 0 rows.
        obs_new = Observation()
        new_seen = new_rows.select(
            "url_canon", D.bucket_of(F.col("url_canon"), self.n_bloom_shards).alias("bucket")
        ).observe(obs_new, F.count(F.lit(1)).alias("n"))
        self.round += 1

        deltas = {
            "frontier": frontier_delta,
            "seen": new_seen,
            "fetch_log": ok.select(
                F.lit(self.round).alias("round"), F.col("__rank").alias("rank"), "url_canon"
            ),
        }
        if stats.parsed_posts:
            deltas["posts"] = posts.select(
                "doc_id", "url", "post_id", "page_id", "publish_time",
                "username", "user_id", "text", "images", "spans",
            ).withColumn("crawl_round", F.lit(self.round))
        if stats.parsed_comments:
            deltas["comments"] = comments.select(
                "doc_id", "comment_id", "text", "username", "user_id", "comment_url",
                "page_id", "parent_post_id",
            )
        if type_counts.get("reaction"):
            deltas["reactions"] = reactions.select("doc_id", "post_id", "reactions")
        if type_counts.get("fppost"):
            deltas["fanpage_posts"] = parsed.filter(F.col("row_type") == "fppost").select(
                "doc_id", "url", "post_id", "page_id", "text", "source_url",
                F.col("fp_date").alias("date"),
                F.col("fp_reacts").alias("n_reacts"),
                F.col("fp_comments").alias("n_comments_text"),
                F.col("fp_shares").alias("n_shares"),
            ).withColumn("crawl_round", F.lit(self.round))
        if type_counts.get("cmeta"):
            # per-comment-page pagination state: a page that parsed 0 comments
            # proves the post's comment chain was exhausted at crawl time —
            # the T4 completeness signal (Facebook_group_cmt.py:176-178: the
            # chain only continues while a page parses ≥1 comment)
            deltas["comment_pages"] = cmeta.select(
                "post_id", "group_id",
                U.comment_offset_of(F.col("url")).alias("p_offset"),
                F.col("n_comments").cast("int").alias("n_comments"),
                F.lit(self.round).alias("crawl_round"),
            )
        if self.store_raw:
            deltas["raw_pages"] = ok.select(
                "doc_id", F.col("url_canon").alias("url"), "fetched_ts", "html"
            )

        from concurrent.futures import ThreadPoolExecutor

        sid = self.store.manifest()["snapshot_id"] + 1
        with ThreadPoolExecutor(max_workers=2) as ex:
            fut = ex.submit(self.bloom.add, new_seen, self.bloom_version)
            staged = self.store.stage(sid, deltas)  # parallel writes
            self.bloom_version = fut.result()
        stats.enqueued = int(obs_new.get["n"] or 0)
        stats.deduped = n_cand - stats.enqueued

        # ---- per-bucket lineage (north rule): the one delta that needs the
        # observed counters and the post-update filter version ----------------
        lineage = (
            new_rows.groupBy(
                D.bucket_of(F.col("url_canon"), self.n_bloom_shards).alias("partition_id")
            )
            .agg(
                F.max("enqueued_seq").alias("frontier_offset"),
                F.count("*").alias("enq"),
            )
            .select(
                F.lit(0).cast("long").alias("snapshot_id"),  # patched by reader via meta
                F.col("partition_id").cast("int"),
                F.col("frontier_offset"),
                F.lit(self.bloom_version).cast("int").alias("bloom_shard_version"),
                F.lit(stats.fetched).cast("long").alias("fetched_count"),
                F.lit(stats.deduped).cast("long").alias("deduped_count"),
                F.lit(stats.parsed_posts + stats.parsed_comments)
                .cast("long")
                .alias("parsed_count"),
            )
        )
        staged += self.store.stage(sid, {"lineage": lineage})
        # pending loses the fetched and the exhausted rows and gains the
        # enqueued ones; a retried failure stays pending (it is in neither)
        self._pending_est = max(
            0, self._pending_est - stats.fetched - stats.exhausted + stats.enqueued
        )
        stats.snapshot_id = self.store.publish(
            sid, staged, meta=self._meta("round", stats=stats.__dict__)
        )
        return stats

    def compact_frontier(self) -> None:
        """Rewrite the frontier log as its current view (latest event per URL).
        Bounds the merge-on-read delta chain to ``compact_every`` files."""
        self._commit("compact", {"frontier": self.frontier_current()}, replace={"frontier"})

    def run(self, max_rounds: int = 1000) -> list[RoundStats]:
        out = []
        for _ in range(max_rounds):
            st = self.run_round()
            out.append(st)
            if st.dispatched == 0:
                break
        return out

    # ------------------------------------------------------------------ batch jobs
    def enrich_posts(self) -> DataFrame | None:
        """J4/S9: fold collected comments + reactions into the posts table
        (MERGE-style full-table write through the snapshot store; the
        reference does this one Mongo update per comment, pipelines.py
        :59-72). Returns the enriched posts DataFrame."""
        from facebook_page_scrapy_spark.operators import enrich as E

        posts = self.store.read(self.spark, "posts")
        if posts is None:
            return None
        enriched = E.enrich_posts(
            posts,
            self.store.read(self.spark, "comments"),
            self.store.read(self.spark, "reactions"),
            comment_pages=self.store.read(self.spark, "comment_pages"),
        )
        self._commit("enrich", {"posts_enriched": enriched}, replace={"posts_enriched"})
        return self.store.read(self.spark, "posts_enriched")

    def repair_empty_text(self) -> int:
        """T7 repair stream (debug_empty_text.py:111-126) in batch form:
        re-enqueue posts whose extraction yielded empty text, at
        reaction-level priority so repairs drain first. The URLs stay in the
        seen set (they are enqueued directly, not re-discovered — keeping
        seen ⊇ enqueued prevents duplicate discovery-enqueues while the
        repair is pending). Returns the number of URLs re-enqueued."""
        from facebook_page_scrapy_spark.operators import enrich as E

        posts = self.store.read(self.spark, "posts")
        if posts is None:
            return 0
        targets = E.find_empty_text_posts(posts).withColumn(
            "url_canon", U.canonicalize(F.col("url"))
        ).select("url_canon").distinct().persist()
        n = targets.count()
        if n:
            src = targets.select(
                F.col("url_canon").alias("url"), "url_canon",
                U.group_id_of(F.col("url_canon")).alias("group_id"),
            )
            self._requeue(src, n, kind="post", priority=4, phase="repair")  # drain first
        targets.unpersist()
        return n

    def recrawl_comments(self, reset: bool = False) -> int:
        """T4 incremental comment recrawl (Facebook_group_cmt.py:108-153):
        for every post whose comment pagination was NOT proven exhausted at
        crawl time (complete_crawl_comment, derived from the 0-comment page
        that terminates the ?p+=10 chain), enqueue its comment URL resuming
        at ``?p=<comment_count>`` — or ``?p=0`` for every post when ``reset``
        (RESET_COMMENTS, :26,130-134). Interrupted chains resume mid-way;
        never-comment-crawled posts start at their current count (0).
        Requires enrich_posts(); returns URLs enqueued."""
        posts = self.store.read(self.spark, "posts_enriched")
        if posts is None:
            posts = self.enrich_posts()
        if posts is None:
            return 0
        targets = posts.select("page_id", "post_id", "comment_count",
                               "complete_crawl_comment")
        if not reset:
            targets = targets.filter(~F.col("complete_crawl_comment"))
        offset = F.lit(0) if reset else F.coalesce(F.col("comment_count"), F.lit(0))
        requeue_src = targets.select(
            U.comment_url(F.col("page_id"), F.col("post_id"), offset).alias("url"),
            F.col("page_id").alias("group_id"),
        ).persist()
        n = requeue_src.count()
        if n:
            src = requeue_src.withColumn("url_canon", U.canonicalize(F.col("url")))
            self._requeue(
                src, n, kind="comment", priority=3, phase="recrawl_comments", reset=reset
            )
        requeue_src.unpersist()
        return n

    def _requeue(
        self, src: DataFrame, n: int, kind: str, priority: int, phase: str, **meta
    ) -> None:
        """Commit the ``n`` rows of ``src(url, url_canon, group_id)`` as
        pending ``kind`` frontier entries at ``priority``, sequenced in
        url_canon order by the distributed rank (no single-task window)."""
        base = (self.round + 1) * ROUND_BASE
        requeue = _pending_events(
            S.distributed_row_number(src, [F.asc("url_canon")], "__r", n_rows_hint=n)
            .withColumn("host", U.host_of(F.col("url_canon")))
            .withColumn("post_id", U.post_id_of(F.col("url_canon")))
            .withColumn("kind", F.lit(kind))
            .withColumn("priority", F.lit(priority))
            .withColumn("enqueued_seq", F.lit(base) + F.col("__r")),
            depth=self.round,
        )
        self.round += 1
        self._pending_est += n
        self._commit(phase, {"frontier": requeue}, **meta)

    def reset_transient_queues(self) -> int:
        """U3 queue-reset-on-resume (Facebook_group_reaction.py:91-93): the
        reference's 4-level spider drops its reaction/comment queues at
        restore; the page/post queues survive. Call after constructing an
        engine on an existing checkpoint to reproduce that resume mode.
        Dropped URLs stay in the seen set (exactly like the reference, where
        enqueue-time dedup already recorded them), so they are not
        re-enqueued on rediscovery. Returns the number of rows dropped."""
        cur = self.frontier_current()
        is_transient = (F.col("state") == "pending") & F.col("kind").isin(*TRANSIENT_KINDS)
        n = cur.filter(is_transient).count()
        if n == 0:
            return 0
        self.round += 1
        self._commit("queue_reset", {"frontier": cur.filter(~is_transient)}, replace={"frontier"})
        return n

    def forget_urls(self, urls: DataFrame) -> int:
        """True URL-seen retraction (expiry / purge / re-crawl-after-change):
        remove ``urls(url_canon)`` from the seen set so future *discovery*
        re-enqueues them. Bloom shards cannot delete, so the seen table is
        replaced and every shard rebuilt from it at ``bloom_version + 1``.
        Retraction is a rare admin job; the rebuild is one vectorized pass
        per shard. Frontier events for the forgotten URLs are dropped in the
        same commit (an URL that is both 'fetched' in the frontier and
        absent from seen would never be re-dispatched). Returns the number
        of seen URLs forgotten."""
        # Only URLs that are actually in the seen set count: the semi-join
        # gives the return value, and a call that matches none commits
        # nothing (no rebuild, no version bump).
        targets = (
            urls.select("url_canon").distinct()
            .join(self.seen_df().select("url_canon").distinct(), "url_canon", "left_semi")
            .persist()
        )
        n = targets.count()
        if n == 0:
            targets.unpersist()
            return 0
        # two readers each: new_seen (the filter rebuild, the seen write) and
        # targets (new_seen, the frontier write)
        new_seen = self.seen_df().join(targets, "url_canon", "left_anti").persist()
        self.round += 1
        self.bloom_version += 1
        self.bloom.build(new_seen, version=self.bloom_version)
        self._commit(
            "forget",
            {
                "frontier": self.frontier_current().join(targets, "url_canon", "left_anti"),
                "seen": new_seen,
            },
            replace={"frontier", "seen"},
        )
        for df in (targets, new_seen):
            df.unpersist()
        return n

    # ------------------------------------------------------------------ outputs
    def fetch_order(self) -> list[str]:
        log = self.store.read(self.spark, "fetch_log")
        if log is None:
            return []
        return [
            r.url_canon
            for r in log.orderBy("round", "rank").select("url_canon").collect()
        ]

    def seen_set(self) -> set[str]:
        return {r.url_canon for r in self.seen_df().select("url_canon").distinct().collect()}
