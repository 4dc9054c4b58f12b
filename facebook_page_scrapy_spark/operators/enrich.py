"""Post-enrichment + repair jobs over the engine's tables.

Reference semantics reproduced here:

- **Enrichment (J4/S9/A1-A4)**: after comment/reaction crawls, each post's
  record is updated with the collected comment ids, comment count, reaction
  histogram and reaction total — ``pipelines.py:59-72`` (``get_post`` →
  ``update_post`` one row at a time) and ``parsing.py:109-123`` (offline
  aggregation). Here it is one batch job: groupBy + collect_list + a
  broadcast-friendly left join, written back as a MERGE-style full-table
  replacement through the snapshot store (merge-on-read analog of Iceberg
  ``MERGE INTO``).
- **Emote translation (F12)**: the Vietnamese emote labels are mapped to
  English via a literal map column (``db_config.py:137-145`` REACTION_MAP) —
  no UDF, just ``element_at`` on a map literal.
- **Repair stream (T7)**: ``debug_empty_text.py:111-126`` re-crawls posts
  whose extracted text is empty and patches them. Batch form:
  ``plan_repair`` finds the target URLs, retracts them from the URL-seen set
  (Bloom shards cannot delete, so the seen table is replaced and every
  shard rebuilt at a new version), and re-enqueues them
  at reaction-level priority so the repair drains first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# db_config.py:137-145 (Vietnamese emote → English), plus STD_RULES :149-150
REACTION_MAP = {
    "Thích": "like",
    "Yêu thích": "love",
    "Haha": "haha",
    "Wow": "wow",
    "Buồn": "sad",
    "Phẫn nộ": "angry",
    "Thương thương": "care",
}


def translate_emotes(reactions_col: F.Column) -> F.Column:
    """map<viet_label,int> → map<english_label,int> via a literal lookup map
    (unknown labels pass through unchanged)."""
    lookup = F.create_map(*[F.lit(x) for kv in REACTION_MAP.items() for x in kv])
    return F.map_from_entries(
        F.transform(
            F.map_entries(reactions_col),
            lambda e: F.struct(
                F.coalesce(lookup[e["key"]], e["key"]).alias("key"),
                e["value"].alias("value"),
            ),
        )
    )


def posts_current(posts: DataFrame) -> DataFrame:
    """Latest extraction per doc_id (posts is an append-only delta log; the
    repair job re-extracts docs, so readers take the newest crawl_round)."""
    if "crawl_round" not in posts.columns:
        return posts
    w = Window.partitionBy("doc_id").orderBy(F.desc("crawl_round"))
    return (
        posts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def enrich_posts(
    posts: DataFrame,
    comments: DataFrame | None,
    reactions: DataFrame | None,
    comment_pages: DataFrame | None = None,
) -> DataFrame:
    """One-pass batch enrichment (replaces the reference's per-row
    get_post/update_post round-trips):

    - ``comments_full``: ordered comment-id list per post (A4);
    - ``comment_count`` = size of that list (A3);
    - ``reactions``: translated emote histogram (A2 + F12);
    - ``reaction_count`` = sum of histogram values (A1);
    - ``complete_crawl_comment``: the T4 incremental-crawl flag, derived from
      *pagination state*: true iff some crawled comment page for the post
      parsed 0 comments — the condition that terminates the ?p+=10 chain
      (Facebook_group_cmt.py:176-178), i.e. exhaustion proven at crawl time.
      (The reference only ever initializes the flag to False
      (:112-127) and re-enqueues every post at ?p=<comments>; deriving it
      from the chain's own termination gives the incremental recrawl a real
      skip condition while keeping the same resume-at-offset semantics for
      interrupted or never-crawled posts.) Without ``comment_pages`` the
      flag is False everywhere — the reference's operational default.
    """
    cur = posts_current(posts)
    out = cur
    if comments is not None:
        cagg = (
            comments.filter(F.col("parent_post_id").isNotNull())
            .groupBy(F.col("parent_post_id").alias("post_id"))
            .agg(
                F.array_sort(F.collect_list("comment_id")).alias("comments_full"),
                F.count("*").cast("int").alias("comment_count"),
            )
        )
        out = out.join(cagg, "post_id", "left")
    else:
        out = out.withColumn("comments_full", F.lit(None).cast("array<string>")).withColumn(
            "comment_count", F.lit(None).cast("int")
        )
    if reactions is not None:
        ragg = reactions.select(
            "post_id", translate_emotes(F.col("reactions")).alias("reactions")
        )
        out = out.join(ragg, "post_id", "left")
        out = out.withColumn(
            "reaction_count",
            F.aggregate(
                F.map_values(F.coalesce(F.col("reactions"), F.create_map())),
                F.lit(0),
                lambda a, x: a + x,
            ),
        )
    else:
        out = out.withColumn(
            "reactions", F.lit(None).cast("map<string,int>")
        ).withColumn("reaction_count", F.lit(0))
    if comment_pages is not None:
        exhausted = (
            comment_pages.filter(F.col("n_comments") == 0)
            .select("post_id")
            .distinct()
            .withColumn("complete_crawl_comment", F.lit(True))
        )
        out = out.join(exhausted, "post_id", "left")
    else:
        out = out.withColumn("complete_crawl_comment", F.lit(None).cast("boolean"))
    return out.withColumn(
        "comment_count", F.coalesce(F.col("comment_count"), F.lit(0))
    ).withColumn(
        "comments_full",
        F.coalesce(F.col("comments_full"), F.array().cast("array<string>")),
    ).withColumn(
        "complete_crawl_comment",
        F.coalesce(F.col("complete_crawl_comment"), F.lit(False)),
    )


def posts_nested(enriched: DataFrame) -> DataFrame:
    """Nest the enriched flat columns into the reference's POST_OBJECT shape
    (db_config.py:90-118): an ``info`` sub-document carrying the counters and
    histogram, alongside the top-level fields — the document J6's field-path
    probe walks."""
    return enriched.select(
        "post_id",
        "page_id",
        F.struct(
            F.col("comment_count").alias("comments"),
            F.col("reaction_count").alias("reaction_count"),
            F.col("reactions").alias("reactions"),
            F.col("complete_crawl_comment").alias("complete_crawl_comment"),
        ).alias("info"),
        "text",
        "comments_full",
        "username",
        "user_id",
    )


def get_post_field(posts: DataFrame, page_id: str, post_id: str, field_keys: list[str]):
    """J6 nested field-path probe (DBUtils.py:59-69 get_post_field): keyed
    lookup of one post, then walk ``field_keys`` into the nested document —
    ``['info', 'comments']`` → ``col('info').getItem('comments')``. The path
    is built as a column expression so Catalyst prunes the scan to exactly
    the probed leaf; getItem works uniformly for struct fields and map keys
    (the reactions histogram). Returns the value, or None when the post or
    any path step is missing / null (the reference's behavior)."""
    if not field_keys:
        return None
    expr = F.col(field_keys[0])
    for key in field_keys[1:]:
        expr = expr.getItem(key)
    try:
        rows = (
            posts.filter((F.col("page_id") == page_id) & (F.col("post_id") == post_id))
            .select(expr.alias("__v"))
            .limit(1)
            .collect()
        )
    except Exception:  # unknown field anywhere in the path → AnalysisException
        return None
    if not rows:
        return None
    return rows[0]["__v"]


def find_empty_text_posts(posts: DataFrame) -> DataFrame:
    """P5: posts whose extraction produced no text (debug_empty_text.py
    :113-114), with the m.→mbasic rewrite P6 folded in (:115)."""
    return (
        posts_current(posts)
        .filter((F.col("text") == "") | F.col("text").isNull())
        .select(
            "doc_id",
            F.regexp_replace(F.col("url"), r"(?i)^https://m\.", "https://mbasic.").alias("url"),
        )
    )
