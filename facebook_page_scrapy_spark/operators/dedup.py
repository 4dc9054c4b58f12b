"""URL-seen deduplication.

The reference dedups three ways: Scrapy's request-fingerprint dupefilter
(``Crawl_Data_FaceBook/settings.py:37``), a Mongo ``post_exist`` probe before
enqueueing (``spiders/Facebook_group_post.py:143``, ``DatabaseUtils/DBUtils.py:30-35``)
and a ``cmt_exist`` probe before insert (``pipelines.py:54``). All are one
network round-trip per row. Here the same semantics are a set problem, and
the crawl loop has one path for it:

- **bloom-gated** (``dedup_bloom_gated``): a *partitioned* Bloom filter — one
  shard per ``pmod(xxhash64(url_canon), n_shards)`` bucket, persisted as
  versioned files. Probe is a grouped Arrow UDF that loads only its own shard
  (executor-side file read, worker-local cache), so no giant broadcast and no
  shuffle of the seen set. Bloom negatives are *definitely new* (no false
  negatives); only the positives (~fpr of the new mass) go through the exact
  anti-join. At steady state this turns an O(|frontier|+|seen|) shuffle into
  an O(|frontier|) map plus a tiny join.
- **exact** (``dedup_exact``): ``candidates LEFT ANTI JOIN seen ON
  url_canon`` — the gate's confirm step for its positives. Correct at any
  scale but shuffles both sides.

Bloom shards cannot delete: retracting a URL (``CrawlEngine.forget_urls``)
rebuilds every shard from the remaining seen set at a new version.

Shard versions are monotonic and recorded in checkpoint lineage (north rule):
a probe must never use a shard *newer* than the frontier snapshot it gates.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Per-python-worker shard cache, keyed bucket -> (path, shard).
# Versions are monotonic and probes always use the newest committed version,
# so caching one entry per bucket and evicting the prior version on miss
# keeps worker memory O(buckets-touched), not O(buckets × rounds).
_WORKER_CACHE: dict[int, tuple] = {}


def _cache_get(bucket: int, path: str, loader):
    entry = _WORKER_CACHE.get(bucket)
    if entry is not None and entry[0] == path:
        return entry[1]
    shard = loader(path)
    _WORKER_CACHE[bucket] = (path, shard)  # evicts the old version
    return shard


def _clear_version(version_dir: str) -> None:
    """Drop what an unpublished attempt left at the version about to be
    written, so the retry writes fresh files — never through a hard link
    into the previous version's shard."""
    shutil.rmtree(version_dir, ignore_errors=True)


def bucket_of(url_canon, n_shards: int):
    return F.pmod(F.xxhash64(url_canon), F.lit(n_shards)).cast("int")


def _hash_cols(url_col):
    """The two double-hashing bases, computed JVM-side (whole-stage codegen):
    the Python side of build/probe then does only vectorized numpy bit math.
    (An earlier version hashed per row in Python — blake2b + int loops made
    the probe stage CPU-bound in the workers at ~200 µs/row.)"""
    h1 = F.xxhash64(url_col)
    h2 = F.xxhash64(url_col, F.lit(0x9E3779B9)).bitwiseOR(F.lit(1))
    return h1.alias("__h1"), h2.alias("__h2")


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> "list[np.ndarray]":
    """k probe positions per row; int64 wraparound is deterministic, numpy %
    with a positive divisor is non-negative."""
    out = []
    for i in range(k):
        with np.errstate(over="ignore"):
            out.append(((h1 + np.int64(i) * h2) % np.int64(m)).astype(np.int64))
    return out


def _bloom_params(n: int, fpr: float) -> tuple[int, int]:
    n = max(n, 16)
    m = int(-n * math.log(fpr) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


class BloomStore:
    """Versioned, partitioned Bloom shards on a shared filesystem.

    File layout: ``<path>/bloom/v<version>/shard_<bucket>.npz`` holding the
    bit array plus (m, k, n). On a cluster every executor can read its own
    shard because ``path`` lives on shared storage (HDFS/S3 via a mounted
    path locally). Shards are immutable per version — ``add`` writes v+1.
    """

    def __init__(self, path: str, n_shards: int = 64, fpr: float = 0.01):
        self.path = path
        self.n_shards = n_shards
        self.fpr = fpr

    # -- file helpers --------------------------------------------------------
    def _shard_file(self, version: int, bucket: int) -> str:
        return os.path.join(self.path, "bloom", f"v{version}", f"shard_{bucket}.npz")

    def latest_version(self) -> int:
        base = os.path.join(self.path, "bloom")
        if not os.path.isdir(base):
            return 0
        vs = [int(d[1:]) for d in os.listdir(base) if d.startswith("v")]
        return max(vs, default=0)

    # -- build / add ---------------------------------------------------------
    def build(self, seen: DataFrame, version: int = 1) -> int:
        """Build all shards from the full seen set (url_canon column)."""
        n_shards, fpr, path = self.n_shards, self.fpr, self.path
        shard_file = self._shard_file
        _clear_version(os.path.dirname(shard_file(version, 0)))

        per_bucket = seen.select(
            bucket_of(F.col("url_canon"), n_shards).alias("bucket"),
            *_hash_cols(F.col("url_canon")),
        )

        def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            bucket = int(pdf["bucket"].iloc[0])
            n = max(len(pdf) * 2, 1024)
            m, k = _bloom_params(n, fpr)
            bits = np.zeros(m // 64, dtype=np.uint64)
            h1 = pdf["__h1"].to_numpy(dtype=np.int64)
            h2 = pdf["__h2"].to_numpy(dtype=np.int64)
            for pos in _positions(h1, h2, k, m):
                np.bitwise_or.at(
                    bits, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64)
                )
            f = shard_file(version, bucket)
            os.makedirs(os.path.dirname(f), exist_ok=True)
            np.savez(f, bits=bits, m=m, k=k, n=len(pdf))
            return pd.DataFrame({"bucket": [bucket], "n": [len(pdf)], "m": [m], "k": [k]})

        stats = per_bucket.groupBy("bucket").applyInPandas(
            build_shard, "bucket int, n long, m long, k int"
        )
        total = stats.agg(F.sum("n")).collect()[0][0] or 0
        # empty buckets still need a (trivial) shard so probes can load one
        built = {r.bucket for r in stats.select("bucket").collect()}
        for b in range(n_shards):
            if b not in built:
                m, k = _bloom_params(1024, fpr)
                f = self._shard_file(version, b)
                os.makedirs(os.path.dirname(f), exist_ok=True)
                np.savez(f, bits=np.zeros(m // 64, dtype=np.uint64), m=m, k=k, n=0)
        return int(total)

    def add(self, new: DataFrame, from_version: int) -> int:
        """OR new url hashes into shards → writes version ``from_version+1``.

        Buckets with no new rows get their shard hard-linked/copied forward so
        every version is complete (probe never mixes versions).
        """
        version = from_version + 1
        n_shards = self.n_shards
        src_file, dst_file = self._shard_file, self._shard_file
        _clear_version(os.path.dirname(dst_file(version, 0)))

        def add_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            bucket = int(pdf["bucket"].iloc[0])
            with np.load(src_file(from_version, bucket)) as z:
                bits, m, k = z["bits"].copy(), int(z["m"]), int(z["k"])
                n = int(z["n"])
            h1 = pdf["__h1"].to_numpy(dtype=np.int64)
            h2 = pdf["__h2"].to_numpy(dtype=np.int64)
            for pos in _positions(h1, h2, k, m):
                np.bitwise_or.at(
                    bits, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64)
                )
            f = dst_file(version, bucket)
            os.makedirs(os.path.dirname(f), exist_ok=True)
            np.savez(f, bits=bits, m=m, k=k, n=n + len(pdf))
            return pd.DataFrame({"bucket": [bucket]})

        per_bucket = new.select(
            bucket_of(F.col("url_canon"), n_shards).alias("bucket"),
            *_hash_cols(F.col("url_canon")),
        )
        touched = {
            r.bucket
            for r in per_bucket.groupBy("bucket")
            .applyInPandas(add_shard, "bucket int")
            .collect()
        }
        for b in range(n_shards):
            if b not in touched:
                src = self._shard_file(from_version, b)
                dst = self._shard_file(version, b)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copyfile(src, dst)
        return version

    # -- probe ----------------------------------------------------------------
    # Above this total on-disk shard size the probe shuffles by bucket so
    # each task opens exactly ONE shard (at a 10^10-URL frontier a shard is
    # gigabytes — no worker can cache the full set); at or below it, every
    # worker can hold ALL shards, so the probe runs MAP-SIDE with no
    # exchange at all — the candidate rows never shuffle just to be probed.
    MAPSIDE_MAX_BYTES = 256 * 1024 * 1024

    def probe(
        self, df: DataFrame, version: int, url_col: str = "url_canon",
        mode: str = "auto",
    ) -> DataFrame:
        """Append boolean ``maybe_seen``. False ⇒ definitely new.

        ``mode``: ``"auto"`` (default) picks map-side iff the version's
        total shard bytes fit ``MAPSIDE_MAX_BYTES``; ``"mapside"`` /
        ``"shuffle"`` force a path (both produce identical values —
        pytest pins the equivalence)."""
        n_shards = self.n_shards
        shard_file = self._shard_file
        cols = df.columns
        out_schema = ", ".join(f"`{c}` {df.schema[c].dataType.simpleString()}" for c in cols)
        out_schema += ", maybe_seen boolean"

        def _load(path):
            with np.load(path) as z:
                return (z["bits"].copy(), int(z["m"]), int(z["k"]))

        def _probe_block(pdf: pd.DataFrame, bucket: int, idx) -> np.ndarray:
            bits, m, k = _cache_get(bucket, shard_file(version, bucket), _load)
            h1 = pdf["__h1"].to_numpy(dtype=np.int64)[idx]
            h2 = pdf["__h2"].to_numpy(dtype=np.int64)[idx]
            res = np.ones(len(h1), dtype=bool)
            for pos in _positions(h1, h2, k, m):
                word = bits[pos >> 6]
                res &= ((word >> (pos & 63).astype(np.uint64)) & np.uint64(1)).astype(bool)
            return res

        with_bucket = df.select(
            "*",
            bucket_of(F.col(url_col), n_shards).alias("__bucket"),
            *_hash_cols(F.col(url_col)),
        )

        if mode == "auto":
            mode = "mapside" if self._total_shard_bytes(version) <= self.MAPSIDE_MAX_BYTES else "shuffle"

        if mode == "mapside":
            # no exchange: each Arrow batch groups its own rows by bucket and
            # probes them against worker-locally cached shards
            def probe_batches(batches):
                for pdf in batches:
                    res = np.ones(len(pdf), dtype=bool)
                    if len(pdf):
                        for bucket, idx in pdf.groupby("__bucket").indices.items():
                            res[idx] = _probe_block(pdf, int(bucket), idx)
                    out = pdf.drop(columns=["__bucket", "__h1", "__h2"])
                    out["maybe_seen"] = res
                    yield out

            return with_bucket.mapInPandas(probe_batches, out_schema)

        def probe_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            bucket = int(pdf["__bucket"].iloc[0])
            res = _probe_block(pdf, bucket, slice(None))
            out = pdf.drop(columns=["__bucket", "__h1", "__h2"])
            out["maybe_seen"] = res
            return out

        return with_bucket.groupBy("__bucket").applyInPandas(probe_shard, out_schema)

    def _total_shard_bytes(self, version: int) -> int:
        total = 0
        for b in range(self.n_shards):
            try:
                total += os.path.getsize(self._shard_file(version, b))
            except OSError:
                return self.MAPSIDE_MAX_BYTES + 1  # unknown ⇒ conservative
        return total


def dedup_exact(candidates: DataFrame, seen: DataFrame, key: str = "url_canon") -> DataFrame:
    """Plain left-anti dedup (J1/J2/J3 semantics)."""
    return candidates.join(seen.select(key).distinct(), on=key, how="left_anti")


def dedup_bloom_gated(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: BloomStore,
    version: int,
    key: str = "url_canon",
    cleanup: list | None = None,
) -> DataFrame:
    """Scale path: bloom negatives pass through map-side; only the ~fpr
    positives pay the exact anti-join. Result is exactly the anti-join result
    (bloom has no false negatives).

    The probe output feeds two branches (fresh ∪ confirmed-suspects); persist
    it so the Arrow probe pass runs once per batch, not once per branch. The
    persisted set is the per-round candidate batch (budget-bounded), never
    the frontier. The caller owns its lifetime: pass ``cleanup`` (a list) to
    receive the persisted DataFrame and unpersist it once the result is
    materialized — otherwise it is leaked into the cache for the session."""
    flagged = bloom.probe(candidates, version, key).persist()
    if cleanup is not None:
        cleanup.append(flagged)
    fresh = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    return fresh.unionByName(dedup_exact(suspects, seen, key))

