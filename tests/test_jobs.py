"""The cluster-launchable frontier job (jobs.frontier_throughput).

Guards the spark-submit refactor: the job must run off the package alone
(no bench.py import), dedup exactly half the id space, and respect an
explicit work_dir (the shared-storage hook for real clusters).
"""

import os

from facebook_page_scrapy_spark.jobs import frontier_throughput


def test_frontier_throughput_smoke(spark, tmp_path):
    before = set(spark.sparkContext._jsc.getPersistentRDDs())
    r = frontier_throughput(spark, n_urls=20_000, n_hosts=50, work_dir=str(tmp_path))
    # the gate's persisted probe output is released after each pass (the
    # context cleaner may drop older RDDs meanwhile, so compare as sets)
    assert set(spark.sparkContext._jsc.getPersistentRDDs()) <= before
    assert r["urls"] == 20_000 and r["hosts"] == 50
    # the second half of the id space (10k urls over 50 hosts = 200/host) is
    # fresh; the politeness window caps dispatch at 100 tokens/host
    assert r["dispatched"] == 50 * 100
    assert r["sec"] > 0 and r["urls_per_sec"] > 0
    # bloom shards landed in the caller-supplied work_dir
    assert any(os.scandir(str(tmp_path)))
