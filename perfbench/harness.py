"""Shared run plumbing: the Spark session, the timed section, step
accounting and the result line."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import time
from contextlib import contextmanager, nullcontext

import proctree

MB = 1024 * 1024
DRIVER_HEAP = "2g"
# how long shutdown waits for the JVM, then for the rest of the tree
SHUTDOWN_WAIT_S = 30.0


def shutdown() -> None:
    """Stop Spark, then end the JVM and wait until it and every process it
    started (the pyspark daemon and its workers) have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    started = [p for p in proctree.tree_pids() if p != os.getpid()]
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF from its driver
        try:
            proc.wait(timeout=SHUTDOWN_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + SHUTDOWN_WAIT_S
    while time.time() < deadline and any(proctree.alive(p) for p in started):
        time.sleep(0.05)
    for p in started:
        if proctree.alive(p):
            os.kill(p, signal.SIGKILL)


def dir_bytes(path: str) -> int:
    """Bytes stored under ``path``; a hard-linked file counts once."""
    seen, total = set(), 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            st = os.lstat(os.path.join(base, name))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


class Run:
    """One benchmark process: session, steps, timed section, metrics."""

    def __init__(self, args, work: str, probe_s: float):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.probe_s = probe_s
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.context: dict = {}
        self.timed_wall_s: float | None = None
        self.timed_cpu_s: float | None = None
        self.peak_rss: int | None = None
        self.setup_s: float | None = None
        self.tracer = None
        self.spark = self._session()

    # -- session -------------------------------------------------------------
    def _session(self):
        from facebook_page_scrapy_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        extra = {
            "spark.ui.showConsoleProgress": "false",
            # a fixed heap in place of production's growable 8g: grown by G1,
            # the heap put the tree's peak RSS anywhere in 3.3-5.2 GB from one
            # run to the next (see NOTES.md)
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": "-Xms" + DRIVER_HEAP,
        }
        if self.trace:
            events = os.path.join(self.work, "events")
            os.makedirs(events, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
            })
        t0 = time.time()
        spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=extra)
        spark.range(1).count()
        if self.trace:
            import spans

            self.tracer = spans.Tracer(spark, os.path.join(self.work, "events"))
            self.tracer.install()
            self.tracer.add_span("session.start", t0, time.time())
        self.context["cores"] = cores
        return spark

    # -- trace hooks (no-ops on untraced runs) ---------------------------------
    def phase(self, name: str) -> None:
        self.context[f"at_{name}_s"] = round(proctree.process_age_s(), 2)
        if self.tracer:
            self.tracer.phase = name

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    # -- steps ----------------------------------------------------------------
    def step_ok(self) -> None:
        self.attempted += 1

    def step_failed(self, why: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(why)

    # -- timed section ----------------------------------------------------------
    @contextmanager
    def timed(self):
        """Everything before entry is set-up; CPU and RSS of the whole process
        tree are taken over the body."""
        self.setup_s = proctree.process_age_s() - self.probe_s
        if self.tracer:
            self.tracer.phase = "timed"
        cpu0 = proctree.tree_cpu_s()
        t0 = time.perf_counter()
        with proctree.RssPeak() as rss:
            yield
        self.timed_wall_s = time.perf_counter() - t0
        self.context["at_checks_s"] = round(proctree.process_age_s(), 2)
        self.timed_cpu_s = proctree.tree_cpu_s() - cpu0
        self.peak_rss = rss.peak
        if self.tracer:
            self.tracer.phase = "after"

    def result(self, urls: int, state_bytes: int) -> dict:
        """The result line. ``urls`` is the work unit the workload completed in
        the timed section; ``state_bytes`` what it left in its state dir."""
        if self.failures:
            self.context["failures"] = self.failures[:10]
        self.context.update(urls=urls, state_bytes=state_bytes,
                            timed_wall_s=round(self.timed_wall_s, 4))
        out = {"correct": self.failed == 0 and self.attempted > 0,
               "attempted": self.attempted, "failed": self.failed}
        if self.tracer:
            self.spark.stop()
            metrics, ctx = self.tracer.report(self)
            self.context.update(ctx)
            out["metrics"] = metrics
        else:
            url_base = max(urls, 1)
            out["metrics"] = {
                "setup_s": {"value": self.setup_s, "unit": "s"},
                "urls_per_s": {"value": urls / self.timed_wall_s, "unit": "1/s"},
                "cpu_ms_per_url": {"value": 1000 * self.timed_cpu_s / url_base, "unit": "ms"},
                "peak_rss_mb": {"value": self.peak_rss / MB, "unit": "MB"},
                "state_bytes_per_url": {"value": state_bytes / url_base, "unit": "B"},
            }
        out["context"] = self.context
        return out


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
