"""Outside-in tracing for the traced run (``--trace 1``).

Spans come from wrapping the engine's public functions at run time; no
package code changes. Each span records name, start, end, parent, thread and
the step (crawl round) it belongs to, and sets ``spark.job.description`` so
Spark's event log ties the jobs it starts back to it. Spans stay in memory;
the event log is read once Spark has stopped.

Self time partitions a step's wall time: every instant of the step belongs
to the deepest span open at that instant, and when two spans of the same
depth overlap (the bloom ``add`` runs in a worker thread while the round
stages its deltas) the main thread's span owns it. So a span's self time is
its duration minus the union of its children, and the self times of a step
add up to the step's wall time.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager

from harness import dir_bytes, median

DESC = "spark.job.description"

# name, unit — the order of BENCHMARK.json's per_layer list
PER_LAYER = [
    ("scheduler.dispatch_rank_s", "s"),
    ("scheduler.discovery_rank_s", "s"),
    ("spark.jobs_per_step", "count"),
    ("crawl.round_p50_s", "s"),
    ("crawl.round_self_s", "s"),
    ("crawl.round_driver_s", "s"),
    ("crawl.round_job_s", "s"),
    ("parse.pages_per_core_s", "1/s"),
    ("parse.python_s", "s"),
    ("dedup.probe_s", "s"),
    ("dedup.fp_share", "share"),
    ("dedup.add_s", "s"),
    ("dedup.filter_bytes_written", "B"),
    ("state.stage_s", "s"),
    ("state.publish_s", "s"),
    ("state.bytes_per_step", "B"),
    ("crawl.compact_s", "s"),
    ("crawl.resume_s", "s"),
    ("urls.canonicalize_s", "s"),
    ("scheduler.dispatch_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.executor_cpu_s", "s"),
    ("session.start_s", "s"),
    ("dedup.build_s", "s"),
    ("crawl.seed_s", "s"),
    ("trace.urls_per_s", "1/s"),
]


class Tracer:
    def __init__(self, spark, events_dir: str):
        self.sc = spark.sparkContext
        self.events_dir = events_dir
        self.phase = "setup"
        self.spans: list[dict] = []
        self.values: dict[str, list[float]] = {}
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._main = threading.get_ident()
        self._step_root: int | None = None

    # -- recording -------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, step: bool = False):
        stack = self._stack()
        on_main = threading.get_ident() == self._main
        is_step = step and on_main and not stack
        # a worker thread's first span hangs off the round that started it
        parent = stack[-1] if stack else (None if is_step or on_main else self._step_root)
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "phase": self.phase,
                   "main": on_main, "start": time.time(), "end": None}
            rec["step"] = sid if is_step else (
                self.spans[parent]["step"] if parent is not None else None)
            self.spans.append(rec)
        if is_step:
            self._step_root = sid
        prev = self.sc.getLocalProperty(DESC)
        self.sc.setLocalProperty(DESC, f"span:{sid}")
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            self.sc.setLocalProperty(DESC, prev)
            rec["end"] = time.time()
            if is_step:
                self._step_root = None

    def add_span(self, name: str, start: float, end: float) -> None:
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name, "parent": None,
                               "phase": self.phase, "main": True, "start": start,
                               "end": end, "step": None})

    def value(self, name: str, v: float) -> None:
        self.values.setdefault(name, []).append(v)

    # -- wrapping the engine -----------------------------------------------------
    def install(self) -> None:
        from facebook_page_scrapy_spark.crawl import CrawlEngine
        from facebook_page_scrapy_spark.operators import dedup as D
        from facebook_page_scrapy_spark.operators import scheduler as S
        from facebook_page_scrapy_spark.state.snapshot import SnapshotStore

        for owner, attr, name in (
            (S, "distributed_row_number", "scheduler.rank"),
            (D, "dedup_bloom_gated", "dedup.gate"),
            (D.BloomStore, "build", "dedup.build"),
            (D.BloomStore, "add", "dedup.add"),
            (D.BloomStore, "probe", "dedup.probe"),
            (SnapshotStore, "stage", "state.stage"),
            (SnapshotStore, "publish", "state.publish"),
            (CrawlEngine, "seed", "crawl.seed"),
            (CrawlEngine, "compact_frontier", "crawl.compact"),
        ):
            self._wrap(owner, attr, name)

        orig_round = CrawlEngine.run_round
        tracer = self

        @functools.wraps(orig_round)
        def run_round(eng, *a, **k):
            before = dir_bytes(eng.store.path), dir_bytes(eng.bloom.path)
            with tracer.span("crawl.round", step=True) as rec:
                out = orig_round(eng, *a, **k)
            rec["state_bytes"] = dir_bytes(eng.store.path) - before[0]
            rec["filter_bytes"] = dir_bytes(eng.bloom.path) - before[1]
            return out

        CrawlEngine.run_round = run_round

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **k):
            with tracer.span(name):
                return orig(*a, **k)

        setattr(owner, attr, wrapper)

    # -- analysis ----------------------------------------------------------------
    def _self_times(self, root: dict, members: list[dict]) -> dict[int, float]:
        depth = {}
        for s in members:
            d, p = 0, s
            while p["id"] != root["id"] and p["parent"] is not None:
                p, d = self.spans[p["parent"]], d + 1
            depth[s["id"]] = d
        cuts = sorted({root["start"], root["end"]} | {
            min(max(t, root["start"]), root["end"])
            for s in members for t in (s["start"], s["end"])})
        own = {s["id"]: 0.0 for s in members}
        for a, b in zip(cuts, cuts[1:]):
            active = [s for s in members if s["start"] <= a and s["end"] >= b]
            if active:
                best = max(active, key=lambda s: (depth[s["id"]], s["main"]))
                own[best["id"]] += b - a
        return own

    def _jobs(self) -> list[dict]:
        """Jobs with their interval, span and summed stage metrics."""
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        stage_m: dict[int, dict] = {}
        acc_ns: set[int] = set()
        # Spark 4 writes a rolling log: a directory of events_* files
        paths = sorted(p for p in glob.glob(os.path.join(self.events_dir, "**", "*"),
                                            recursive=True)
                       if os.path.isfile(p) and os.path.basename(p).startswith(
                           ("events", "local-")))
        for path in paths:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event", "")
                    if kind == "SparkListenerJobStart":
                        desc = (ev.get("Properties") or {}).get(DESC) or ""
                        jid = ev["Job ID"]
                        jobs[jid] = {"id": jid, "start": ev["Submission Time"] / 1000,
                                     "end": None, "desc": desc, "metrics": {}}
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault(sid, jid)
                    elif kind == "SparkListenerJobEnd":
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                    elif kind == "SparkListenerTaskEnd":
                        tm = ev.get("Task Metrics") or {}
                        m = stage_m.setdefault(ev["Stage ID"], {"cpu": 0.0, "gc": 0.0,
                                                                "shuffle": 0, "py": 0.0})
                        m["cpu"] += tm.get("Executor CPU Time", 0) / 1e9
                        m["gc"] += tm.get("JVM GC Time", 0) / 1000
                        m["shuffle"] += (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                    elif kind.endswith("SparkListenerSQLExecutionStart"):
                        _collect_ns_metrics(ev.get("sparkPlanInfo") or {}, acc_ns)
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        m = stage_m.setdefault(info["Stage ID"], {"cpu": 0.0, "gc": 0.0,
                                                                  "shuffle": 0, "py": 0.0})
                        for acc in info.get("Accumulables", []):
                            if acc.get("Name") == "time to run Python workers":
                                scale = 1e9 if acc["ID"] in acc_ns else 1e3
                                m["py"] += float(acc.get("Value", 0)) / scale
        for sid, m in stage_m.items():
            job = jobs.get(stage_job.get(sid))
            if job is not None:
                for k, v in m.items():
                    job["metrics"][k] = job["metrics"].get(k, 0) + v
        main = [s for s in self.spans if s["main"] and s["end"] is not None]
        for job in jobs.values():
            if job["end"] is None:
                job["end"] = job["start"]
            span_id = None
            if job["desc"].startswith("span:"):
                span_id = int(job["desc"][5:])
            else:
                # jobs from threads the tracer never saw (the snapshot
                # store's write pool): innermost main-thread span by time
                open_ = [s for s in main if s["start"] <= job["start"] <= s["end"]]
                if open_:
                    span_id = max(open_, key=lambda s: s["start"])["id"]
            job["span"] = span_id
        return list(jobs.values())

    def report(self, run) -> tuple[dict, dict]:
        """Per-layer metrics over the timed section's rounds, and context."""
        jobs = self._jobs()
        spans = [s for s in self.spans if s["end"] is not None]
        steps = [s for s in spans if s["name"] == "crawl.round" and s["phase"] == "timed"
                 and s["step"] == s["id"]]
        per_step: dict[str, list[float]] = {}

        def put(name, v):
            per_step.setdefault(name, []).append(v)

        max_err = 0.0
        for root in steps:
            members = [s for s in spans if s["step"] == root["id"]]
            own = self._self_times(root, members)
            wall = root["end"] - root["start"]
            max_err = max(max_err, abs(sum(own.values()) - wall))
            step_jobs = [j for j in jobs
                         if j["span"] is not None and self.spans[j["span"]]["step"] == root["id"]]
            busy = _union([(max(j["start"], root["start"]), min(j["end"], root["end"]))
                           for j in step_jobs])
            put("crawl.round_p50_s", wall)
            put("crawl.round_self_s", own[root["id"]])
            put("crawl.round_job_s", busy)
            put("crawl.round_driver_s", wall - busy)
            put("spark.jobs_per_step", len(step_jobs))
            ranks = [s for s in members if s["name"] == "scheduler.rank" and s["parent"] == root["id"]]
            ranks.sort(key=lambda s: s["start"])
            if len(ranks) > 0:
                put("scheduler.dispatch_rank_s", ranks[0]["end"] - ranks[0]["start"])
            if len(ranks) > 1:
                put("scheduler.discovery_rank_s", ranks[1]["end"] - ranks[1]["start"])
            for name, key in (("state.stage_s", "state.stage"), ("state.publish_s", "state.publish")):
                put(name, sum(s["end"] - s["start"] for s in members if s["name"] == key))
            for s in members:
                if s["name"] == "dedup.add":
                    put("dedup.add_s", s["end"] - s["start"])
            put("parse.python_s", sum(j["metrics"].get("py", 0) for j in step_jobs
                                      if j["span"] == root["id"]))
            put("state.bytes_per_step", root.get("state_bytes", 0))
            put("dedup.filter_bytes_written", root.get("filter_bytes", 0))
            put("spark.gc_s", sum(j["metrics"].get("gc", 0) for j in step_jobs))
            put("spark.shuffle_write_bytes", sum(j["metrics"].get("shuffle", 0) for j in step_jobs))
            put("spark.executor_cpu_s", sum(j["metrics"].get("cpu", 0) for j in step_jobs))

        timed = [s for s in spans if s["phase"] == "timed"]
        for s in timed:
            if s["name"] == "crawl.compact":
                put("crawl.compact_s", s["end"] - s["start"])
        resume = [s for s in timed if s["name"] == "crawl.resume"]
        nxt = min((s for s in steps if resume and s["start"] >= resume[0]["end"]),
                  key=lambda s: s["start"], default=None)
        if nxt is not None:
            put("crawl.resume_s", (resume[0]["end"] - resume[0]["start"])
                + (nxt["end"] - nxt["start"]))
        for iso, name in (("iso.canonicalize", "urls.canonicalize_s"),
                          ("iso.probe", "dedup.probe_s"),
                          ("iso.dispatch", "scheduler.dispatch_s")):
            for s in spans:
                if s["name"] == iso:
                    put(name, s["end"] - s["start"])
        for name, vs in self.values.items():
            per_step.setdefault(name, []).extend(vs)
        # set-up spans: the last one is the timed crawl's (a warm crawl seeds first)
        for key, name in (("session.start", "session.start_s"),
                          ("dedup.build", "dedup.build_s"), ("crawl.seed", "crawl.seed_s")):
            xs = [s["end"] - s["start"] for s in spans if s["name"] == key]
            if xs:
                per_step[name] = [xs[-1]]
        per_step["trace.urls_per_s"] = [run.context["urls"] / run.timed_wall_s]

        # times are medians over steps; counts and bytes are per-step means
        metrics = {}
        for name, unit in PER_LAYER:
            xs = per_step.get(name, [])
            agg = median(xs) if unit in ("s", "1/s", "share") or not xs else sum(xs) / len(xs)
            metrics[name] = {"value": float(agg), "unit": unit}
        ctx = {"trace_steps": len(steps), "trace_jobs": len(jobs),
               "trace_self_sum_max_err_s": round(max_err, 6),
               "trace_not_run": sorted(n for n, _ in PER_LAYER if not per_step.get(n))}
        return metrics, ctx


def _collect_ns_metrics(plan: dict, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m.get("metricType") == "nsTiming":
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _collect_ns_metrics(child, out)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
