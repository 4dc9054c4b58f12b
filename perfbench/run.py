"""Crawl-engine benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_parity --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/NOTES.md for why each exists):

- ``crawl_parity``  reference-parity crawl, one URL per round, one resume;
- ``crawl_bulk``    throughput-mode crawl, ten thousand pages and more a round.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's public functions in spans, turns on Spark's event log and reports
the per-layer metrics instead. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; run context (idle CPU
probe before and after, sizes, trace self-time check) goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))
# every run compiles the same sources: no bytecode left in the checkout
sys.dont_write_bytecode = True

WORKLOADS = ("crawl_parity", "crawl_bulk")


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(work: str) -> None:
    """Point every scratch location Spark, the JVM and Python use at ``work``
    (inside the checkout). Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # every JVM (the launcher too): scratch and perf counters stay out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def main(argv: list[str]) -> int:
    args = _args(argv)
    try:
        # the package under test and tools/burn.py live in the checkout
        import facebook_page_scrapy_spark  # noqa: F401
        import proctree
    except ImportError as e:
        print(f"perfbench: run it from a checkout of the repository: {e}", file=sys.stderr)
        return 2

    probe_before = proctree.idle_probe_s()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _isolate(work)
    import harness
    import workloads

    try:
        run = harness.Run(args, work, probe_s=probe_before)
        result = getattr(workloads, args.workload)(run)
    finally:
        harness.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    context = dict(result.pop("context"), idle_probe_before_s=round(probe_before, 4),
                   idle_probe_after_s=round(proctree.idle_probe_s(), 4))
    print("perfbench context " + json.dumps(context, sort_keys=True), file=sys.stderr)
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
