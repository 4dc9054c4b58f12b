"""Structured Streaming replay harness: a table replayed as a multi-file
stream, where stateful aggregation must carry state across micro-batches."""

from __future__ import annotations


def test_replay_table_stream_state_spans_microbatches(spark, tmp_path):
    """The driver-checkable replay harness must feed one file per
    micro-batch so stateful aggregation genuinely carries state: a key
    appearing in several files accumulates into ONE output row whose count
    and min are the batch GROUP BY answer."""
    from pyspark.sql import functions as F

    from facebook_page_scrapy_spark.streaming import frontier_stream as FS

    rows = [("u%d" % (i % 3), i) for i in range(12)]  # every key in many files
    df = spark.createDataFrame(rows, "key string, seq long")
    stream = FS.replay_table_stream(spark, df, str(tmp_path / "replay"), n_files=4)
    agg = stream.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("seq").alias("first_seq"),
    )
    name = FS.next_sink_name("replay_test")
    got = {r.key: (r.n, r.first_seq) for r in FS.run_to_memory(agg, name).collect()}
    assert got == {"u0": (4, 0), "u1": (4, 1), "u2": (4, 2)}
    # the replay really was multi-batch (files_per_trigger=1 over 4 parts)
    q = [q for q in spark.streams.active if q.name == name]
    assert not q  # availableNow drained and stopped
    import glob

    assert len(glob.glob(str(tmp_path / "replay" / "part-*"))) == 4
