"""Dump physical plans for the headline queries → PLANS.md.

Review checklist applied to every plan (SURVEY §4.2 / task's scale bar):
- parquet scans show PushedFilters + pruned ReadSchema (no full-width scans);
- small dims join as BroadcastHashJoin, not SortMergeJoin;
- aggregations show partial_ (map-side combine) before the exchange;
- WholeStageCodegen spans cover the expression-heavy stages;
- no unexpected Exchange (shuffle) — each query's shuffles are the ones its
  semantics require (groupBy keys / window partitions).

Usage: python tools/dump_plans.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries whose returned DataFrame is not the interesting plan: rows-only
# engine drivers (the "plan" is the crawl/BPE/k-means round loop, pytest-
# covered) and the streaming entries (the returned memory-sink table hides
# the executed micro-batch plan; the streaming plan shape is the batch
# aggregation's, dumped via its batch twin streaming parity tests assert).
# Entries whose returned DataFrame is not the per-round/micro-batch plan;
# each still gets a PLANS.md section (VERDICT r4 next-step #4): the loop
# entries dump their FINAL-iteration plan with a note pointing at the
# per-round twin dumped elsewhere, and the streaming entries dump the last
# executed micro-batch plan captured off the StreamingQuery handle
# (frontier_stream.LAST_MICROBATCH_PLANS).
LOOP_NOTES = {
    "bpe_learn": (
        "Iterative merge loop: eager localCheckpoints run during plan "
        "construction, so this is the FINAL iteration's post-checkpoint "
        "scan/projection; the per-round shape is bpe_pair_counts' plan."
    ),
    "bpe_encode": (
        "Applies the learned merge table; the merge-learning loop's "
        "per-round shape is bpe_pair_counts' plan. This is the final "
        "encode projection over the checkpointed merge output."
    ),
    "kmeans_train": (
        "Lloyd iteration loop: this is the final assignment/centroid "
        "summary plan after the checkpointed last step; the per-iteration "
        "shape is kmeans_step's plan."
    ),
    "crawl_end_to_end": (
        "Round-based crawl driver: rounds execute eagerly inside the "
        "CrawlEngine (fetch -> fused Arrow parse -> dedup -> snapshot), so "
        "this is the final fetch-log comparison plan; the round's dispatch "
        "shape is topk_per_host / host_budget_gate plus the distributed "
        "rank (scheduler.distributed_row_number), asserted partition-less-"
        "window-free by tests/test_scheduler.py."
    ),
}
STREAMING_PLANS = {"streaming_dedup", "streaming_window_counts"}

# Kept for reference (subset dumps): the historical hand-picked list.
PLAN_QUERIES = [
    "url_canonicalize",
    "seen_antijoin",
    "topk_per_host",
    "host_budget_gate",
    "multisource_join",
    "pricing_summary",
    "post_enrichment",
    "dedup_exact",
    "minhash_lsh_pairs",
    "ngram_jaccard_lsh",
    "simhash_neardup_pairs",
    "embedding_neardup_pairs",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_bruteforce_topk",
    "time_functions",
    "repetition_ratio",
    "pii_scrub",
    "tfidf_top_terms",
    "incremental_neardup",
    "span_media_captions",
    "corpus_stats",
    "robots_parse",
    "link_graph_stats",
    "host_pagerank",
    "shuffle_export",
    "anchor_text_agg",
    "cms_host_counts",
    "kmv_distinct_urls",
    "pack_sequences",
    "sessionize",
    "benchmark_contamination",
    "boilerplate_strip",
    "recrawl_schedule",
    "corpus_pipeline",
    "duplicate_ngrams",
    "dup_span_coverage",
    "quality_classifier",
    "source_mixing",
    "domain_quality_rollup",
    "doc_containment",
    "lm_score_proxy",
    "ann_recall_report",
    "url_template_mining",
    "frontier_skew_report",
    "vocab_coverage",
    "span_interleave_stats",
    "semdedup_prune",
    "bm25_search",
    # suffix_ranks / neardup_clusters_star are iterative: their eager
    # localCheckpoints run during plan construction and the printed plan is
    # the final round's (post-checkpoint) — the per-round shape is the
    # dense-rank distributed_row_number / star-contraction plan repeated.
    "suffix_ranks",
    "bpe_pair_counts",
    "asof_budget_join",
    "length_deciles",
    "kmeans_step",
    "seed_distance",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from facebook_page_scrapy_spark import queries as Q
    from facebook_page_scrapy_spark.session import get_spark
    from facebook_page_scrapy_spark.streaming import frontier_stream as FS

    spark = get_spark("plans", cores=8, shuffle_partitions=8)
    # Every catalog entry, in registry order — a section per query
    # (VERDICT r4 next-step #4: 194 sections), so plan audits of any
    # driver-checked query read from PLANS.md without source-diving.
    names = list(Q.QUERIES)
    print("# Physical plans (explain formatted) — full catalog\n")
    print(f"Generated over `{sf_dir}`. Checklist: filter/column pushdown at the")
    print("scan, broadcast for small dims, partial aggregation before every")
    print("exchange, WholeStageCodegen over expression-heavy stages.")
    print("Loop entries show their final-iteration plan (note inline);")
    print("streaming entries show the last executed micro-batch plan with")
    print("its stateful operators.\n")
    n_sections = 0
    for name in names:
        fn, _ = Q.QUERIES[name]
        df = fn(spark, sf_dir)
        if name in STREAMING_PLANS:
            cands = [k for k in FS.LAST_MICROBATCH_PLANS if k.startswith(name)]
            plan = FS.LAST_MICROBATCH_PLANS[sorted(cands)[-1]] if cands else None
            note = (
                "Last executed micro-batch plan (captured off the "
                "StreamingQuery handle — the memory-sink table the query "
                "returns hides it); note the StateStore operators the "
                "batch twin lacks."
            )
            if plan is None:  # defensive: fall back to the sink-table plan
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                plan = buf.getvalue()
                note += " [capture unavailable; sink-table plan shown]"
            print(f"## {name}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
        else:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            note = LOOP_NOTES.get(name)
            if note:
                print(f"## {name}\n\n{note}\n\n```\n{buf.getvalue().strip()}\n```\n")
            else:
                print(f"## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")
        n_sections += 1
    assert n_sections == len(Q.QUERIES) == 194, (
        f"PLANS.md must carry one section per catalog entry: "
        f"{n_sections} sections vs {len(Q.QUERIES)} entries"
    )
    spark.stop()


if __name__ == "__main__":
    main()
