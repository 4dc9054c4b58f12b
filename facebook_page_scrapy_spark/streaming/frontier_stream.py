"""Structured Streaming surface of the engine.

The reference's crawl is an unbounded self-feeding stream (each parse yields
the next Request — ``Facebook_group_post.py:188-221``); our batch rounds are
its micro-batch form. This module is the continuous form for the metrics /
ingest paths that are genuinely streaming:

- ``windowed_fetch_metrics``: per-kind tumbling-window fetch counters with a
  watermark for late events (the A5 queue-length log re-expressed as a
  streaming aggregation; late data beyond the watermark is dropped exactly
  like the reference's append-only ``log.txt`` never rewrites history).
- ``stream_frontier_deltas``: readStream over a frontier delta directory
  (parquet files appear per round/snapshot) — the engine's own table layout
  doubles as a streaming source, so downstream consumers (dashboards,
  repair jobs) tail the crawl without touching the engine.
- ``stateful_host_budget``: the T1 politeness budget as a CUSTOM STATEFUL
  streaming operator (``applyInPandasWithState``): per-host token state
  carried across micro-batches, so a host's budget holds over the whole
  stream, not per batch — the continuous form of the batch engine's
  ``per_host_dispatch`` window gate.

All outputs are plain DataFrames/StreamingQueries; tests drive them with
``trigger(availableNow=True)`` and compare against the equivalent batch
aggregation (streaming-batch parity is the correctness oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_fetch_metrics(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts + value sums per key with late-data watermark.

    Works identically on a batch or streaming DataFrame (same plan — that IS
    the parity test)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col(key_col),
            "n",
            "sum_value",
        )
    )


def streaming_url_dedup(
    discovered: DataFrame,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming URL-seen dedup (T5 as a continuous pipeline): first sighting
    of each ``url_canon`` wins, duplicates within the watermark horizon are
    dropped by Spark's stateful ``dropDuplicates`` operator. The watermark
    bounds the state store exactly like the bloom shard bounds the batch
    engine's memory: a URL re-discovered after the horizon re-emits, which is
    the same contract as a bloom shard rotated out of the working set —
    cross-horizon exactness stays with the batch seen-table anti-join.

    Works on a batch DataFrame too (same plan, minus watermark) — the parity
    oracle: availableNow over files == batch dropDuplicates on the union.
    """
    df = discovered
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.dropDuplicates(["url_canon"])


def stream_frontier_deltas(spark: SparkSession, path: str, schema) -> DataFrame:
    """Tail a frontier delta directory as a stream (one file per snapshot)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(path)
    )


def stateful_host_budget(
    frontier: DataFrame,
    default_tokens: int,
    host_col: str = "host",
    seq_col: str = "enqueued_seq",
    priority_col: str | None = "priority",
) -> DataFrame:
    """Per-host politeness budget as a custom stateful streaming operator:
    at most ``default_tokens`` rows pass per host over the LIFETIME of the
    stream, with the per-host used-token count held in ``GroupState`` across
    micro-batches (``applyInPandasWithState``).

    This is the continuous form of the reference's fetch pacing (T1:
    ``scrapy_config.py:1`` SLEEP_TIME before every request — a per-host
    serial budget) and of the batch engine's ``per_host_dispatch`` window
    gate; the batch engine refills tokens per round, the streaming form
    models one round's budget over an unbounded arrival stream. Within a
    micro-batch rows are ranked exactly like the batch gate (priority desc,
    then ``enqueued_seq``); across micro-batches arrival order governs —
    identical to the batch result whenever file/batch order follows
    ``enqueued_seq``, which the parity test constructs and asserts.

    Scale shape: state is ONE int64 per host (bounded by host count, not by
    URLs), the shuffle key is ``host`` — the same partitioning the fetch
    stage needs anyway — and each group's rows stream through Arrow batches
    without driver involvement.
    """
    import pandas as pd  # noqa: F401 (worker-side)

    cols = list(frontier.columns)
    out_schema = frontier.schema

    def gate(key, pdf_iter, state):
        import pandas as pd

        used = state.get[0] if state.exists else 0
        # One group's rows within one micro-batch may arrive as several Arrow
        # chunks; the rank must span the whole micro-batch group (a per-host
        # group is budget-scale, so buffering it is bounded by design).
        chunks = [p for p in pdf_iter]
        if chunks and used < default_tokens:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            if priority_col and priority_col in pdf.columns:
                pdf = pdf.sort_values(
                    [priority_col, seq_col], ascending=[False, True]
                )
            else:
                pdf = pdf.sort_values(seq_col)
            take = pdf.iloc[: default_tokens - used]
            used += len(take)
            if len(take):
                yield take[cols]
        state.update((used,))

    return frontier.groupBy(host_col).applyInPandasWithState(
        gate,
        outputStructType=out_schema,
        stateStructType="used long",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def session_metrics(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Per-user session windows via the native ``session_window`` operator —
    the streaming twin of the batch catalog's ``sessionize`` (gap-based lag +
    running sum). Works on a batch or streaming DataFrame with the same plan.

    Boundary semantics vs the batch form: ``session_window`` merges events
    strictly closer than ``gap`` (an exact-gap event starts a new session),
    while the batch rule keeps an exact-gap event in the old session; the
    parity test avoids exact-boundary gaps. The window END here is
    ``last_event + gap`` (Spark's convention); the batch form reports the
    last event itself."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col)
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key_col),
            F.unix_timestamp(F.col("w.start")).alias("start_epoch"),
            F.unix_timestamp(F.col("w.end")).alias("end_epoch"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# driver-checkable replay harness
# --------------------------------------------------------------------------

_SINK_SEQ = [0]


def next_sink_name(prefix: str) -> str:
    """Session-unique memory-sink name (queryName doubles as the temp-view
    name and must not collide across catalog calls in one session)."""
    _SINK_SEQ[0] += 1
    return f"{prefix}_{_SINK_SEQ[0]}"


def replay_table_stream(
    spark: SparkSession,
    df: DataFrame,
    tmp_dir: str,
    n_files: int = 4,
    files_per_trigger: int = 1,
) -> DataFrame:
    """Re-lay a batch table as ``n_files`` parquet parts and read them back
    as a bounded file stream, one file per micro-batch — the replay harness
    the driver-checkable streaming catalog entries run on. With
    ``maxFilesPerTrigger=1`` the streaming query really crosses micro-batch
    boundaries, so stateful operators are exercised with genuine state
    carry (not a single-batch simulation). At scale the same reader tails
    the engine's frontier-delta directory (``stream_frontier_deltas``);
    only the path changes."""
    df.repartition(n_files).write.mode("overwrite").parquet(tmp_dir)
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(tmp_dir)
    )


def run_to_memory(result: DataFrame, name: str) -> DataFrame:
    """Execute a streaming aggregation with ``trigger(availableNow)`` into a
    complete-mode memory sink, wait for it to drain, and return the final
    table — the bounded-stream execution mode that lets a streaming plan
    answer a batch-shaped oracle query. Memory/complete is the harness form
    for bounded replays only."""
    q = (
        result.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # stash the last executed micro-batch's physical plan for plan audits
    # (tools/dump_plans.py): a streaming query's real plan — with the
    # StateStoreRestore/Save operators the batch twin lacks — is only
    # visible on the StreamingQuery handle, not the returned sink table
    try:
        LAST_MICROBATCH_PLANS[name] = q._jsq.explainInternal(False)
    except Exception:  # plan capture must never fail the data path
        pass
    return result.sparkSession.table(name)


# sink-name → physical plan of its last executed micro-batch (see
# run_to_memory); consumed by tools/dump_plans.py
LAST_MICROBATCH_PLANS: dict[str, str] = {}
