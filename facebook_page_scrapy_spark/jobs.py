"""Cluster-launchable jobs (the north-rule frontier-throughput job).

Lives inside the package (not in bench.py) so a ``spark-submit
--py-files fps_spark.zip`` launch has everything it needs on the
executors; ``bench.py`` and ``tools/scaling_runs.py`` call the same
function locally.
"""

from __future__ import annotations

import tempfile
import time
from contextlib import nullcontext as _nullcontext


def frontier_throughput(
    spark, n_urls: int = 4_000_000, n_hosts: int = 10_000, work_dir: str | None = None
) -> dict:
    """North-rule metric: URLs fetched+deduped/sec through the frontier
    pipeline — canonicalize → bloom-gated URL-seen dedup → per-host
    politeness window — at a work-dominated size.

    URLs are generated DISTRIBUTED (spark.range → expression), not from a
    driver-side corpus, so the input scales with the cluster exactly like a
    real 10^10-URL frontier would (each executor materializes its own id
    range). Half the URLs are pre-seen (bloom + seen table built in setup,
    untimed); the timed section is one full frontier pass: the per-URL cost
    model of the steady-state crawl loop minus the (politeness-bound) fetch
    itself.

    ``work_dir`` holds the bloom shard files the executors' Python workers
    probe. ``None`` → a driver-local tempdir (fine for ``local[N]``); on a
    real multi-executor cluster pass a SHARED path (NFS/fuse-mounted object
    store) — executors open shard files directly."""
    from pyspark.sql import functions as F

    from facebook_page_scrapy_spark.functions import urls as U
    from facebook_page_scrapy_spark.operators import dedup as D
    from facebook_page_scrapy_spark.operators import scheduler as S

    P = spark.sparkContext.defaultParallelism

    def messy(ids):
        gid = F.concat(F.lit("g"), (F.col("id") % n_hosts).cast("string"))
        return ids.select(
            F.col("id"),
            F.concat(
                F.lit("https://H"), (F.col("id") % n_hosts).cast("string"),
                F.lit(".Example.com/groups/"), gid,
                F.lit("/permalink/"), F.col("id").cast("string"),
                F.lit("/?refid=18&fbclid=T"), F.col("id").cast("string"),
                F.lit("&p="), ((F.col("id") % 7) * 10).cast("string"),
                F.lit("#frag"),
            ).alias("url"),
        )

    ctx = tempfile.TemporaryDirectory() if work_dir is None else _nullcontext(work_dir)
    with ctx as tmp:
        bloom = D.BloomStore(tmp, n_shards=64)
        # setup (untimed): seen = the first half of the id space (NOT every
        # other id — id%n_hosts strides make parity constant per host, which
        # would turn hosts all-seen/all-fresh)
        seen = (
            messy(spark.range(0, n_urls // 2).repartition(P))
            .select(U.canonicalize(F.col("url")).alias("url_canon"))
            .select("url_canon", D.bucket_of(F.col("url_canon"), 64).alias("bucket"))
            .persist()
        )
        bloom.build(seen, version=1)

        def run_pipeline(n: int) -> int:
            cand = (
                messy(spark.range(0, n).repartition(P))
                .withColumn("url_canon", U.canonicalize(F.col("url")))
                .withColumn("host", U.host_of(F.col("url_canon")))
                .withColumn("kind", U.classify_kind(F.col("url_canon")))
                .withColumn("priority", U.priority_of(F.col("kind")))
                .withColumn("enqueued_seq", F.col("id"))
            )
            probed: list = []
            fresh = D.dedup_bloom_gated(cand, seen, bloom, 1, cleanup=probed)
            n = S.per_host_dispatch(fresh, default_tokens=100).count()
            for df in probed:
                df.unpersist()
            return n

        # warmup at n/10: compiles every stage (Catalyst analysis + Janino
        # codegen are per-plan constants, cached for the identical timed
        # plan) — the timed pass measures steady-state pipeline throughput,
        # which is what extrapolates to a long-running crawl
        run_pipeline(max(n_urls // 10, 1000))
        t0 = time.time()
        n_dispatch = run_pipeline(n_urls)
        dt = time.time() - t0
        seen.unpersist()
    return {
        "urls": n_urls,
        "hosts": n_hosts,
        "dispatched": n_dispatch,
        "sec": round(dt, 2),
        "urls_per_sec": round(n_urls / dt, 1),
    }
