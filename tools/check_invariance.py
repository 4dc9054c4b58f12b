"""Cross-parallelism invariance sweep: run every catalog query at TWO
parallelism levels (local[4]/sp=4 and local[32]/sp=32) on the same input
and assert sorted outputs are value-identical.

Partition count is the one execution parameter guaranteed to differ
between this sandbox and a 1000-executor cluster, so any query whose
VALUES depend on it (partition-order-sensitive aggregation, floating
sum order, `spark_partition_id` leaking into output arithmetic) is a
correctness bug at scale even if it passes the fixed-parallelism oracle
gate. `scheduler.distributed_row_number` (the distributed rank and prefix
sum behind `suffix_ranks`, `pack_sequences`, `length_deciles` and the
other order-statistic queries) deliberately uses `spark_partition_id`
internally — these sweeps prove the internal pids never reach the output
values.

Usage: python tools/check_invariance.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _collect(spark, name, sf_dir):
    from facebook_page_scrapy_spark import queries as Q

    df = Q.QUERIES[name][0](spark, sf_dir)
    cols = sorted(df.columns)
    rows = sorted("|".join(_norm_cell(r[c]) for c in cols) for r in df.collect())
    return cols, rows


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from facebook_page_scrapy_spark import queries as Q
    from facebook_page_scrapy_spark.session import get_spark

    names = sys.argv[2:] or list(Q.QUERIES)
    results: dict[str, list] = {}
    for cores in (4, 32):
        spark = get_spark(
            f"invar{cores}", cores=cores, shuffle_partitions=cores
        )
        spark.range(10).count()
        for name in names:
            try:
                results.setdefault(name, []).append(_collect(spark, name, sf_dir))
            except Exception as e:  # noqa: BLE001 — report, keep sweeping
                results.setdefault(name, []).append(("ERR", str(e)[:500]))
        spark.stop()

    failures = 0
    for name, runs in results.items():
        if len(runs) != 2 or runs[0] != runs[1]:
            failures += 1
            a, b = runs if len(runs) == 2 else (runs[0], ("missing",))
            print(f"FAIL {name}: local[4] != local[32]")
            if a[0] == "ERR" or b[0] == "ERR":
                print(f"     {a if a[0] == 'ERR' else b}")
            else:
                sa, sb = set(a[1]), set(b[1])
                print(f"     rows {len(a[1])} vs {len(b[1])}; "
                      f"only4={list(sa - sb)[:3]} only32={list(sb - sa)[:3]}")
        else:
            print(f"ok   {name}: {len(runs[0][1])} rows invariant")
    print(f"\n{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
