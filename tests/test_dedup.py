from __future__ import annotations

from pyspark.sql import functions as F

from facebook_page_scrapy_spark.operators.dedup import (
    BloomStore,
    dedup_bloom_gated,
    dedup_exact,
)


def _urls(spark, names):
    return spark.createDataFrame([(n,) for n in names], "url_canon string")


def test_bloom_no_false_negatives_and_bounded_fpr(spark, tmp_path):
    seen = [f"https://h{i % 7}.example/p/{i}" for i in range(2000)]
    store = BloomStore(str(tmp_path / "f"), n_shards=8)
    store.build(_urls(spark, seen), version=1)

    flagged = store.probe(_urls(spark, seen), version=1)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0  # zero false negatives

    novel = [f"https://h{i % 7}.example/new/{i}" for i in range(2000)]
    fp = store.probe(_urls(spark, novel), version=1).filter(F.col("maybe_seen")).count()
    assert fp / 2000 < 0.05  # fpr bound with slack


def test_bloom_incremental_add_and_versions(spark, tmp_path):
    store = BloomStore(str(tmp_path / "f"), n_shards=4)
    store.build(_urls(spark, ["a://x/1", "a://x/2"]), version=1)
    v2 = store.add(_urls(spark, ["a://x/3"]), from_version=1)
    assert v2 == 2 and store.latest_version() == 2
    # new url visible at v2, not guaranteed flagged at v1
    got = store.probe(_urls(spark, ["a://x/3"]), version=2).collect()[0]
    assert got.maybe_seen
    # old urls still present at v2 (carry-forward of untouched shards)
    old = store.probe(_urls(spark, ["a://x/1", "a://x/2"]), version=2)
    assert old.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_gated_equals_exact(spark, tmp_path):
    seen_urls = [f"s://seen/{i}" for i in range(500)]
    cand_urls = [f"s://seen/{i}" for i in range(250, 500)] + [f"s://new/{i}" for i in range(300)]
    seen = _urls(spark, seen_urls)
    cand = _urls(spark, cand_urls)
    store = BloomStore(str(tmp_path / "f"), n_shards=4)
    store.build(seen, version=1)

    exact = {r.url_canon for r in dedup_exact(cand, seen).collect()}
    probed: list = []
    gated = {r.url_canon for r in dedup_bloom_gated(cand, seen, store, 1, probed).collect()}
    assert gated == exact == {f"s://new/{i}" for i in range(300)}
    for df in probed:
        df.unpersist()


def test_worker_cache_evicts_old_versions(tmp_path):
    """The per-worker shard cache keeps only the newest version per
    bucket: bloom_version increments every round, so version-keyed
    entries would grow without bound in long-lived python workers."""
    from facebook_page_scrapy_spark.operators import dedup as D

    D._WORKER_CACHE.clear()
    loads = []

    def loader(path):
        loads.append(path)
        return f"shard@{path}"

    assert D._cache_get(3, "/v1/shard_3", loader) == "shard@/v1/shard_3"
    assert D._cache_get(3, "/v1/shard_3", loader) == "shard@/v1/shard_3"
    assert loads == ["/v1/shard_3"]  # cached
    assert D._cache_get(3, "/v2/shard_3", loader) == "shard@/v2/shard_3"
    assert len([k for k in D._WORKER_CACHE if k == 3]) == 1
    assert D._WORKER_CACHE[3][0] == "/v2/shard_3"  # v1 evicted
    D._WORKER_CACHE.clear()


def test_probe_mapside_equals_shuffle(spark, tmp_path):
    """The adaptive probe's two physical paths (map-side worker-cached
    shards vs bucket-shuffled one-shard-per-task) must be value-identical;
    auto mode picks map-side for small shard sets and never changes
    values."""
    from facebook_page_scrapy_spark.operators import dedup as D
    from pyspark.sql import functions as F

    store = D.BloomStore(str(tmp_path / "bl"), n_shards=8)
    seen = spark.range(0, 3000).select(
        F.concat(F.lit("https://h/x"), F.col("id").cast("string")).alias("url_canon")
    ).select("url_canon", D.bucket_of(F.col("url_canon"), 8).alias("bucket"))
    store.build(seen, version=1)

    cand = spark.range(1500, 4500).select(
        F.concat(F.lit("https://h/x"), F.col("id").cast("string")).alias("url_canon")
    )
    a = store.probe(cand, 1, mode="mapside").orderBy("url_canon").collect()
    b = store.probe(cand, 1, mode="shuffle").orderBy("url_canon").collect()
    assert a == b
    # auto == either (values), and no false negatives on the seen half
    c = store.probe(cand, 1).orderBy("url_canon").collect()
    assert c == a
    seen_half = [r for r in a if int(r.url_canon.rsplit("x", 1)[1]) < 3000]
    assert all(r.maybe_seen for r in seen_half)


def test_probe_mapside_plan_has_no_exchange(spark, tmp_path):
    """The map-side path's point: candidates are probed with NO shuffle."""
    from facebook_page_scrapy_spark.operators import dedup as D
    from pyspark.sql import functions as F

    store = D.BloomStore(str(tmp_path / "bl2"), n_shards=4)
    seen = spark.range(0, 500).select(
        F.concat(F.lit("https://h/y"), F.col("id").cast("string")).alias("url_canon")
    ).select("url_canon", D.bucket_of(F.col("url_canon"), 4).alias("bucket"))
    store.build(seen, version=1)
    cand = spark.range(0, 1000).select(
        F.concat(F.lit("https://h/y"), F.col("id").cast("string")).alias("url_canon")
    )
    probed = store.probe(cand, 1, mode="mapside")
    probed.collect()
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    shuffled = store.probe(cand, 1, mode="shuffle")
    shuffled.collect()
    assert "Exchange" in shuffled._jdf.queryExecution().executedPlan().toString()


def test_probe_auto_mode_flips_at_mapside_max_bytes(spark, tmp_path):
    """``auto`` probes map-side while the version's total shard bytes are
    at most MAPSIDE_MAX_BYTES and shuffles by bucket one byte above it;
    on either side its values equal the forced mode's."""
    from facebook_page_scrapy_spark.operators import dedup as D
    from pyspark.sql import functions as F

    store = D.BloomStore(str(tmp_path / "bl3"), n_shards=4)
    seen = spark.range(0, 500).select(
        F.concat(F.lit("https://h/z"), F.col("id").cast("string")).alias("url_canon")
    ).select("url_canon", D.bucket_of(F.col("url_canon"), 4).alias("bucket"))
    store.build(seen, version=1)
    cand = spark.range(250, 750).select(
        F.concat(F.lit("https://h/z"), F.col("id").cast("string")).alias("url_canon")
    )
    total = store._total_shard_bytes(1)
    for limit, forced, exchanged in ((total, "mapside", False), (total - 1, "shuffle", True)):
        store.MAPSIDE_MAX_BYTES = limit
        auto = store.probe(cand, 1)
        got = auto.orderBy("url_canon").collect()
        plan = auto._jdf.queryExecution().executedPlan().toString()
        assert ("Exchange" in plan) is exchanged, (limit, plan)
        assert got == store.probe(cand, 1, mode=forced).orderBy("url_canon").collect()
