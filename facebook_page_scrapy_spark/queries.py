"""Driver-facing query catalog: every operator family from SURVEY.md §2
expressed as a (spark_fn, oracle_sql) pair over the shared test tables.

Each entry is a named query ``(spark, sf_dir) -> DataFrame`` plus (where the
semantics are SQL-expressible) an exactly-equivalent DuckDB SQL string run on
the same parquet tables. Column names AND value formulas are mirrored
one-to-one so the driver's order-insensitive value-hash matches: integers are
cast to BIGINT on both sides, floats are rounded identically, timestamps are
exported as epoch seconds.

Catalog map (reference file:line cited per query in the docstrings):

- crawl frontier semantics (SURVEY §2.2/2.3/2.5/2.6/2.8) re-expressed over the
  ``events`` table as a synthetic frontier — canonicalization, kind/priority
  classification, seen anti-joins, per-host top-k dispatch, salted skew
  dispatch, robots gating, identity round-robin, retry lanes, pagination;
- the reference's joins/aggregations (SURVEY §2.3/2.4) over the TPC-H-ish
  tables — enrichment joins, multi-source joins, rollups;
- training-data pipeline operators over ``documents``/``embeddings`` —
  exact/near dedup (hash, n-gram Jaccard, MinHash+LSH, SimHash, asymmetric
  containment, rolling-hash exact-substring spans + coverage, SemDeDup
  cluster-bounded semantic prune, prefix-doubled suffix-array ranks, and
  connected-component cluster resolution by both min-label propagation and
  large-star/small-star contraction), ANN similarity (brute-force +
  LSH-bucketed + IVF, with an oracle-checked recall@5 report), distributed
  BPE training statistics (pair counts + the 6-merge trainer), BM25
  keyword retrieval, text analysis (lang-ID, quality, token counts,
  fingerprints, boilerplate strip, PII scrub, hashed-feature linear
  classifier, bigram-LM proxy, vocabulary coverage), source mixing and
  domain rollups, benchmark decontamination, sequence packing,
  deterministic shuffle export, interleaved-span mix statistics, and the
  composed ``corpus_pipeline`` integration chain;
- crawl-web ingest and prioritization — robots/sitemap/WARC parsing,
  link-graph degree stats, fixed-iteration host PageRank + budget
  allocation, anchor-text aggregation, recrawl scheduling, content
  sniffing, sessionization, Count-Min / KMV frontier monitors, the
  budget as-of join, and exact length deciles (distributed order
  statistics);
- non-SQL-expressible entries (crawl end-to-end, span extraction from HTML,
  media decode stub) return DataFrames for the driver's rows-only check.

Everything stays in built-in ``pyspark.sql.functions`` (JVM, whole-stage
codegen); the only Python-side work is in the explicitly-UDF-based engine ops
(HTML parse, bloom probe) exercised by the no-oracle entries and pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from facebook_page_scrapy_spark.functions import text as T
from facebook_page_scrapy_spark.functions import urls as U
from facebook_page_scrapy_spark.operators import docops as DO
from facebook_page_scrapy_spark.operators import scheduler as S

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_KIND = """CASE event_type WHEN 'purchase' THEN 'reaction'
                           WHEN 'error' THEN 'comment'
                           WHEN 'click' THEN 'post'
                           ELSE 'page' END"""
_PRIO = """CASE event_type WHEN 'purchase' THEN 4 WHEN 'error' THEN 3
                           WHEN 'click' THEN 2 ELSE 1 END"""


def _kind_col() -> F.Column:
    return (
        F.when(F.col("event_type") == "purchase", "reaction")
        .when(F.col("event_type") == "error", "comment")
        .when(F.col("event_type") == "click", "post")
        .otherwise("page")
    )


def _prio_col() -> F.Column:
    return (
        F.when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "error", 3)
        .when(F.col("event_type") == "click", 2)
        .otherwise(1)
    )


def _messy_url_col() -> F.Column:
    """Deterministic 'messy' URL per event — mixed-case host, unsorted query
    params, fbclid tracker, fragment — the canonicalizer's input. Mirrored
    verbatim by ``_MESSY_URL_SQL``."""
    gid = F.concat(F.lit("g"), (F.col("user_id") % 97).cast("string"))
    eid = F.col("event_id").cast("string")
    kind = _kind_col()
    path = (
        F.when(kind == "post", F.concat(F.lit("/groups/"), gid, F.lit("/permalink/"), eid, F.lit("/")))
        .when(kind == "comment", F.concat(F.lit("/groups/"), gid, F.lit("/posts/"), eid, F.lit("/")))
        .when(kind == "reaction", F.lit("/ufi/reaction/"))
        .otherwise(F.concat(F.lit("/groups/"), gid))
    )
    query = (
        F.when(kind == "post", F.concat(F.lit("?refid=18&fbclid=TRK"), eid))
        .when(kind == "comment", F.concat(F.lit("?refid=18&p="), ((F.col("event_id") % 5) * 10).cast("string")))
        .when(kind == "reaction", F.concat(F.lit("?ft_ent_identifier="), eid))
        .when(F.col("event_type") == "signup",
              F.concat(F.lit("?bacr=page"), (F.col("event_id") % 7).cast("string"), F.lit("&refid=18")))
        .otherwise(F.lit(""))
    )
    return F.concat(F.lit("https://MBASIC.Facebook.com"), path, query, F.lit("#frag"))


_MESSY_URL_SQL = f"""
    SELECT event_id, user_id, event_type,
           {_KIND} AS kind, {_PRIO} AS priority,
           'https://MBASIC.Facebook.com'
           || CASE {_KIND}
                WHEN 'post' THEN '/groups/g' || (user_id % 97) || '/permalink/' || event_id || '/'
                WHEN 'comment' THEN '/groups/g' || (user_id % 97) || '/posts/' || event_id || '/'
                WHEN 'reaction' THEN '/ufi/reaction/'
                ELSE '/groups/g' || (user_id % 97) END
           || CASE WHEN {_KIND} = 'post' THEN '?refid=18&fbclid=TRK' || event_id
                   WHEN {_KIND} = 'comment' THEN '?refid=18&p=' || ((event_id % 5) * 10)
                   WHEN {_KIND} = 'reaction' THEN '?ft_ent_identifier=' || event_id
                   WHEN event_type = 'signup' THEN '?bacr=page' || (event_id % 7) || '&refid=18'
                   ELSE '' END
           || '#frag' AS url
    FROM events
"""

# Generic canonicalization in DuckDB SQL, mirroring functions/urls.canonicalize
# (lowercase scheme/host, drop fragment, sorted query params, fbclid stripped,
# empty path → '/').
_CANON_SQL = """
    SELECT *,
        lower(split_part(u, '://', 1)) || '://'
        || lower(split_part(split_part(substr(u, strpos(u, '://') + 3), '/', 1), '?', 1))
        || CASE WHEN path_raw = '' THEN '/' ELSE path_raw END
        || CASE WHEN qcanon <> '' THEN '?' || qcanon ELSE '' END AS url_canon,
        lower(split_part(split_part(substr(u, strpos(u, '://') + 3), '/', 1), '?', 1)) AS host
    FROM (
        SELECT *,
            split_part(substr(u, strpos(u, '://') + 3)
                       || CASE WHEN strpos(substr(u, strpos(u, '://') + 3), '/') = 0
                               AND strpos(substr(u, strpos(u, '://') + 3), '?') = 0
                          THEN '' ELSE '' END, '?', 1) AS _rest_noq,
            CASE WHEN strpos(substr(u, strpos(u, '://') + 3), '/') > 0
                 THEN '/' || split_part(split_part(substr(u, strpos(u, '://') + 3), '/', -1) , '?', 1)
                 ELSE '' END AS _unused,
            -- path = rest after hostport, before '?'
            CASE WHEN strpos(replace(substr(u, strpos(u, '://') + 3), '?', '/'), '/') > 0
                 THEN split_part(substr(substr(u, strpos(u, '://') + 3),
                          length(split_part(split_part(substr(u, strpos(u, '://') + 3), '/', 1), '?', 1)) + 1),
                      '?', 1)
                 ELSE '' END AS path_raw,
            CASE WHEN strpos(substr(u, strpos(u, '://') + 3), '?') > 0
                 THEN array_to_string(list_sort(list_filter(
                          string_split(substr(substr(u, strpos(u, '://') + 3),
                                              strpos(substr(u, strpos(u, '://') + 3), '?') + 1), '&'),
                          p -> p <> '' AND NOT starts_with(p, 'fbclid=') AND p <> 'fbclid')), '&')
                 ELSE '' END AS qcanon
        FROM (SELECT *, split_part(url, '#', 1) AS u FROM messy)
    )
"""


def _canon_cte(inner_sql: str) -> str:
    return f"WITH messy AS ({inner_sql}), canon AS ({_CANON_SQL})"


# Multi-host synthetic frontier for the scheduler queries (hosts h0..h6).
def _frontier_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .select(
            F.concat(F.lit("h"), (F.col("user_id") % 7).cast("string"), F.lit(".example.com")).alias("host"),
            _kind_col().alias("kind"),
            _prio_col().cast("long").alias("priority"),
            F.col("event_id").alias("enqueued_seq"),
            F.concat(F.lit("/groups/g"), (F.col("user_id") % 97).cast("string"),
                     F.lit("/item/"), F.col("event_id").cast("string")).alias("path"),
        )
    )


_FRONTIER_SQL = f"""
    SELECT 'h' || (user_id % 7) || '.example.com' AS host,
           {_KIND} AS kind,
           CAST({_PRIO} AS BIGINT) AS priority,
           event_id AS enqueued_seq,
           '/groups/g' || (user_id % 97) || '/item/' || event_id AS path
    FROM events
"""


# --------------------------------------------------------------------------
# 1. URL canonicalization + frontier classification   (F5-F7, P3, P6, J3)
# --------------------------------------------------------------------------

def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize messy URLs and classify kind/priority; within-batch dedup
    keeps the first discovery (min event seq) per canonical URL.

    Reference semantics: dupefilter fingerprinting (settings.py:37), m.→mbasic
    rewrite (debug_empty_text.py:115), href regex gate
    (Facebook_group_post.py:152-154), priority classes (:19-22)."""
    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type")
        # one parquet file → one input partition; the per-row URL build +
        # canonicalize is expression-heavy, so spread it before computing
        .repartition(spark.sparkContext.defaultParallelism)
    )
    messy = ev.withColumn("url", _messy_url_col())
    canon = messy.withColumn("url_canon", U.canonicalize(F.col("url"))).withColumn(
        "host", U.host_of(F.col("url_canon"))
    )
    return (
        canon.filter(F.col("url_canon").rlike(r"^https://mbasic\.facebook"))
        .groupBy("url_canon", "host")
        .agg(F.min("event_id").alias("first_seq"))
        .withColumn("kind", U.classify_kind(F.col("url_canon")))
        .withColumn("priority", U.priority_of(F.col("kind")).cast("long"))
        .select("url_canon", "host", "kind", "priority", "first_seq")
    )


ORACLE_URL_CANONICALIZE = _canon_cte(_MESSY_URL_SQL) + r"""
    SELECT url_canon, host,
           CASE WHEN regexp_matches(url_canon, '/ufi/reaction|reaction_profile') THEN 'reaction'
                WHEN regexp_matches(url_canon, '/posts/[^/?]+/?\?(.*&)?p=\d+') THEN 'comment'
                WHEN regexp_matches(url_canon, '/permalink/|/posts/') THEN 'post'
                ELSE 'page' END AS kind,
           CAST(CASE WHEN regexp_matches(url_canon, '/ufi/reaction|reaction_profile') THEN 4
                WHEN regexp_matches(url_canon, '/posts/[^/?]+/?\?(.*&)?p=\d+') THEN 3
                WHEN regexp_matches(url_canon, '/permalink/|/posts/') THEN 2
                ELSE 1 END AS BIGINT) AS priority,
           min(event_id) AS first_seq
    FROM canon
    WHERE regexp_matches(url_canon, '^https://mbasic\.facebook')
    GROUP BY 1, 2, 3, 4
"""


# --------------------------------------------------------------------------
# 2. URL-seen anti-join dedup  (J1/J2/J3)
# --------------------------------------------------------------------------

def q_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates LEFT ANTI JOIN seen on url_canon — the exact form of the
    bloom-gated dedup (DBUtils.py:30-35 post_exist; settings.py:37)."""
    cand = q_url_canonicalize(spark, sf_dir)
    seen = cand.filter(F.col("first_seq") % 3 == 0).select("url_canon")
    return (
        cand.join(seen, "url_canon", "left_anti")
        .select("url_canon", "kind", "first_seq")
    )


ORACLE_SEEN_ANTIJOIN = f"""
    WITH cand AS ({ORACLE_URL_CANONICALIZE})
    SELECT url_canon, kind, first_seq FROM cand
    WHERE url_canon NOT IN (SELECT url_canon FROM cand WHERE first_seq % 3 = 0)
"""


def q_entity_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-column entity-key anti-join (cmt_exist, DBUtils.py:71-77): lineitem
    keys not present in the 'already stored' subset."""
    li = _t(spark, sf_dir, "lineitem")
    seen = li.filter(F.col("l_linenumber") == 1).select("l_orderkey", "l_partkey", "l_suppkey")
    return (
        li.select("l_orderkey", "l_partkey", "l_suppkey", F.col("l_linenumber").cast("long").alias("l_linenumber"))
        .join(seen, ["l_orderkey", "l_partkey", "l_suppkey"], "left_anti")
    )


ORACLE_ENTITY_ANTIJOIN = """
    SELECT l_orderkey, l_partkey, l_suppkey, CAST(l_linenumber AS BIGINT) AS l_linenumber
    FROM lineitem l
    WHERE NOT EXISTS (
        SELECT 1 FROM lineitem s
        WHERE s.l_linenumber = 1 AND s.l_orderkey = l.l_orderkey
          AND s.l_partkey = l.l_partkey AND s.l_suppkey = l.l_suppkey)
"""


# --------------------------------------------------------------------------
# 3. Scheduler: per-host top-k dispatch, budgets, salting, robots, identities
# --------------------------------------------------------------------------

def q_topk_per_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness dispatch: top-4 rows per host by (priority desc,
    enqueued_seq asc) — gen_next_url's pop order generalized per host
    (Facebook_group_reaction.py:111-133; T1 token budget)."""
    fr = _frontier_df(spark, sf_dir)
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), F.col("enqueued_seq").asc())
    return (
        fr.withColumn("dispatch_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("dispatch_rank") <= 4)
        .select("host", "kind", "priority", "enqueued_seq", "dispatch_rank")
    )


ORACLE_TOPK_PER_HOST = f"""
    WITH frontier AS ({_FRONTIER_SQL})
    SELECT host, kind, priority, enqueued_seq,
           CAST(row_number() OVER (PARTITION BY host ORDER BY priority DESC, enqueued_seq ASC) AS BIGINT)
               AS dispatch_rank
    FROM frontier
    QUALIFY dispatch_rank <= 4
"""


def q_host_budget_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host token budgets (the 120/n_cookies analog, utils.py:25): a tiny
    broadcast budget table caps each host's dispatch count differently."""
    fr = _frontier_df(spark, sf_dir)
    budget = spark.createDataFrame(
        [(f"h{i}.example.com", i + 1) for i in range(7)], "host string, tokens long"
    )
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), F.col("enqueued_seq").asc())
    return (
        fr.join(F.broadcast(budget), "host")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= F.col("tokens"))
        .select("host", "enqueued_seq", "rn", "tokens")
    )


ORACLE_HOST_BUDGET_GATE = f"""
    WITH frontier AS ({_FRONTIER_SQL}),
    budget AS (SELECT 'h' || i || '.example.com' AS host, CAST(i + 1 AS BIGINT) AS tokens
               FROM range(7) t(i))
    SELECT f.host, enqueued_seq,
           CAST(row_number() OVER (PARTITION BY f.host ORDER BY priority DESC, enqueued_seq ASC) AS BIGINT) AS rn,
           tokens
    FROM frontier f JOIN budget b ON f.host = b.host
    QUALIFY rn <= tokens
"""


def q_salted_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-host skew salting: ranking inside salt sub-windows bounds the
    single-partition sort a 90%-one-host frontier would pay (SURVEY §4.2.3).
    Salt here is a deterministic mod (oracle-checkable stand-in for the
    engine's hash salt); each of 8 sub-windows gets budget 2."""
    fr = _frontier_df(spark, sf_dir).withColumn("salt", (F.col("enqueued_seq") % 8).cast("long"))
    w = Window.partitionBy("host", "salt").orderBy(F.col("priority").desc(), F.col("enqueued_seq").asc())
    return (
        fr.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 2)
        .select("host", "salt", "enqueued_seq", "rn")
    )


ORACLE_SALTED_DISPATCH = f"""
    WITH frontier AS ({_FRONTIER_SQL})
    SELECT host, CAST(enqueued_seq % 8 AS BIGINT) AS salt, enqueued_seq,
           CAST(row_number() OVER (PARTITION BY host, enqueued_seq % 8
                                   ORDER BY priority DESC, enqueued_seq ASC) AS BIGINT) AS rn
    FROM frontier
    QUALIFY rn <= 2
"""


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt gate: longest matching path-prefix rule wins; no rule ⇒
    allow (reference disables robots, settings.py:27 — we parity-gate)."""
    fr = _frontier_df(spark, sf_dir)
    rules = spark.createDataFrame(
        [
            ("h0.example.com", "/", True),
            ("h0.example.com", "/groups/g1", False),
            ("h1.example.com", "/", False),
            ("h1.example.com", "/groups/g2", True),
        ],
        "rhost string, path_prefix string, allow boolean",
    )
    joined = fr.join(
        F.broadcast(rules),
        (F.col("host") == F.col("rhost")) & F.col("path").startswith(F.col("path_prefix")),
        "left",
    )
    w = Window.partitionBy("host", "enqueued_seq").orderBy(F.length("path_prefix").desc())
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .filter(F.col("allow").isNull() | F.col("allow"))
        .select("host", "enqueued_seq", "path")
    )


ORACLE_ROBOTS_GATE = f"""
    WITH frontier AS ({_FRONTIER_SQL}),
    rules AS (
        SELECT * FROM (VALUES
            ('h0.example.com', '/', TRUE), ('h0.example.com', '/groups/g1', FALSE),
            ('h1.example.com', '/', FALSE), ('h1.example.com', '/groups/g2', TRUE)
        ) t(rhost, path_prefix, allow)),
    best AS (
        SELECT f.host, f.enqueued_seq, f.path, r.allow,
               row_number() OVER (PARTITION BY f.host, f.enqueued_seq
                                  ORDER BY length(r.path_prefix) DESC) AS rn
        FROM frontier f LEFT JOIN rules r
          ON f.host = r.rhost AND starts_with(f.path, r.path_prefix))
    SELECT host, enqueued_seq, path FROM best WHERE rn = 1 AND (allow IS NULL OR allow)
"""


def q_identity_roundrobin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-robin identity (cookie) slots per host over the dispatch order
    (utils.py:32-37; cookie_idx = (cookie_idx+1) % n)."""
    fr = _frontier_df(spark, sf_dir)
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), F.col("enqueued_seq").asc())
    return fr.select(
        "host", "enqueued_seq",
        ((F.row_number().over(w) - 1) % 5).cast("long").alias("identity_slot"),
    )


ORACLE_IDENTITY_ROUNDROBIN = f"""
    WITH frontier AS ({_FRONTIER_SQL})
    SELECT host, enqueued_seq,
           CAST((row_number() OVER (PARTITION BY host ORDER BY priority DESC, enqueued_seq ASC) - 1) % 5
                AS BIGINT) AS identity_slot
    FROM frontier
"""


def q_retry_lane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retry budget (RETRY_TIMES=200, settings.py:45): failed rows requeue
    with attempts+1 while under budget."""
    fr = _frontier_df(spark, sf_dir).withColumn("attempts", (F.col("enqueued_seq") % 250).cast("long"))
    return (
        fr.filter(F.col("attempts") + 1 < 200)
        .select("host", "enqueued_seq", (F.col("attempts") + 1).alias("attempts"))
    )


ORACLE_RETRY_LANE = f"""
    WITH frontier AS ({_FRONTIER_SQL})
    SELECT host, enqueued_seq, CAST(enqueued_seq % 250 + 1 AS BIGINT) AS attempts
    FROM frontier WHERE enqueued_seq % 250 + 1 < 200
"""


def q_pagination_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comment-offset pagination: ?p=N → ?p=N+10 continuation URLs
    (Facebook_group_cmt.py:176-178, with the bare-string bug fixed)."""
    cand = q_url_canonicalize(spark, sf_dir).filter(F.col("kind") == "comment")
    p = F.regexp_extract(F.col("url_canon"), r"[?&]p=(\d+)", 1).cast("long")
    return cand.select(
        "url_canon",
        p.alias("p"),
        F.regexp_replace(
            F.col("url_canon"), r"([?&])p=(\d+)", "$1p=__X__"
        ).alias("_tmpl"),
    ).select(
        "url_canon", "p",
        F.expr("replace(_tmpl, '__X__', cast(p + 10 as string))").alias("next_url"),
    )


ORACLE_PAGINATION_NEXT = f"""
    WITH cand AS ({ORACLE_URL_CANONICALIZE})
    SELECT url_canon,
           CAST(regexp_extract(url_canon, '[?&]p=(\\d+)', 1) AS BIGINT) AS p,
           replace(regexp_replace(url_canon, '([?&])p=(\\d+)', '\\1p=__X__'),
                   '__X__', CAST(CAST(regexp_extract(url_canon, '[?&]p=(\\d+)', 1) AS BIGINT) + 10 AS VARCHAR))
               AS next_url
    FROM cand WHERE kind = 'comment'
"""


def q_frontier_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queue-length metrics per kind (A5: len() of each queue per cycle,
    Facebook_group_post.py:198)."""
    return (
        _frontier_df(spark, sf_dir)
        .groupBy("kind")
        .agg(F.count("*").alias("n"), F.min("enqueued_seq").alias("head_seq"))
    )


ORACLE_FRONTIER_METRICS = f"""
    WITH frontier AS ({_FRONTIER_SQL})
    SELECT kind, count(*) AS n, min(enqueued_seq) AS head_seq FROM frontier GROUP BY kind
"""


def q_offset_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group offset slice [10:20] (parsing.py:131's sampled window)."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter((F.col("rn") >= 11) & (F.col("rn") <= 20))
        .select("source", "doc_id", "rn")
    )


ORACLE_OFFSET_SLICE = """
    SELECT source, doc_id,
           CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rn
    FROM documents QUALIFY rn BETWEEN 11 AND 20
"""


def q_filename_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comment-file numbering: %06d.html per entity (A6 + F10,
    Facebook_group_reaction.py:213-214)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.concat(
            F.lpad((F.row_number().over(w) - 1).cast("string"), 6, "0"), F.lit(".html")
        ).alias("fname"),
    )


ORACLE_FILENAME_INDEX = """
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           lpad(CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - 1 AS VARCHAR),
                6, '0') || '.html' AS fname
    FROM lineitem
"""


# --------------------------------------------------------------------------
# 4. Joins + aggregations (J4/J5, A1-A4, F8)
# --------------------------------------------------------------------------

def q_post_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-enrichment join (J4, pipelines.py:59-72): per parent entity,
    collect child ids in order + recount — comments_full/info.comments."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_children"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("l_linenumber", "l_returnflag"))),
                lambda s: s["l_returnflag"],
            ),
            "|",
        ).alias("child_flags"),
    )
    return (
        _t(spark, sf_dir, "orders")
        .join(agg, F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .select(
            "o_orderkey",
            F.coalesce(F.col("n_children"), F.lit(0)).cast("long").alias("n_children"),
            F.coalesce(F.col("child_flags"), F.lit("")).alias("child_flags"),
        )
    )


ORACLE_POST_ENRICHMENT = """
    SELECT o_orderkey,
           CAST(coalesce(a.n_children, 0) AS BIGINT) AS n_children,
           coalesce(a.child_flags, '') AS child_flags
    FROM orders o LEFT JOIN (
        SELECT l_orderkey, count(*) AS n_children,
               string_agg(l_returnflag, '|' ORDER BY l_linenumber, l_returnflag) AS child_flags
        FROM lineitem GROUP BY l_orderkey) a
      ON o.o_orderkey = a.l_orderkey
"""


def q_multisource_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source document join (J5, parsing.py:66-85: post + reaction +
    comments by key): orders × customer × nation × region with revenue
    rollup per (region, nation). Dims are broadcast."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


ORACLE_MULTISOURCE_JOIN = """
    SELECT r_name, n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
"""


def q_reaction_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emote histogram + reaction_count sum (A1/A2, Parser.py:79-84,
    parsing.py:112-114): per user build the map event_type→count, then
    total = sum over map values."""
    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    return (
        per_type.groupBy("user_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("event_type", "cnt"))).alias("emotes"))
        .select(
            "user_id",
            F.aggregate(
                F.map_values(F.col("emotes")), F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("reaction_count"),
            F.size(F.map_values(F.col("emotes"))).cast("long").alias("n_emote_kinds"),
        )
    )


ORACLE_REACTION_ROLLUP = """
    SELECT user_id, count(*) AS reaction_count, count(DISTINCT event_type) AS n_emote_kinds
    FROM events GROUP BY user_id
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem: the canonical
    shuffle-light partial-aggregation showcase (map-side combine)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


def q_top_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by aggregate (priority head-of-queue analog over data volume):
    10 highest-revenue customers, ranked deterministically."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (
        o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_custkey").asc())
    return (
        rev.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("rank", F.col("o_custkey").alias("custkey"), "c_name", "revenue")
    )


ORACLE_TOP_ENTITIES = """
    SELECT CAST(row_number() OVER (ORDER BY revenue DESC, o_custkey ASC) AS BIGINT) AS rank,
           o_custkey AS custkey, c_name, revenue
    FROM (SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue FROM orders GROUP BY o_custkey) r
    JOIN customer ON o_custkey = c_custkey
    QUALIFY rank <= 10
"""


def q_json_field_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """data-ft attribute extraction (P2/F1, Parser.py:22 — `from_json`, never
    eval): pull the numeric k field out of the JSON props blob and aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
    )


ORACLE_JSON_FIELD_EXTRACT = """
    SELECT event_type,
           CAST(sum(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type
"""


def q_emote_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal-map translation (F12, db_config.py:137-145 REACTION_MAP):
    event types relabelled through a lookup map column, unknown keys pass
    through — no UDF, plain ``element_at`` on a map literal."""
    mapping = {"click": "like", "view": "seen", "purchase": "love"}
    ev = _t(spark, sf_dir, "events")
    lookup = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    return (
        ev.select(F.coalesce(lookup[F.col("event_type")], F.col("event_type")).alias("label"))
        .groupBy("label")
        .agg(F.count("*").alias("n"))
    )


ORACLE_EMOTE_TRANSLATE = """
    SELECT CASE event_type WHEN 'click' THEN 'like' WHEN 'view' THEN 'seen'
                           WHEN 'purchase' THEN 'love' ELSE event_type END AS label,
           count(*) AS n
    FROM events GROUP BY 1
"""


def q_time_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch↔timestamp conversions (F3/F4, Parser.py:33,130): tumbling 1-hour
    event windows keyed by epoch seconds — batch form of the streaming
    windowed aggregation."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("event_type"),
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("window_start"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


ORACLE_TIME_FUNCTIONS = """
    SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# 5. Text analysis over documents  (training-data pipeline)
# --------------------------------------------------------------------------

def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counts per document."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count_ws(F.col("text")).cast("long").alias("n_ws"),
        T.token_count_bpe(F.col("text")).cast("long").alias("n_bpe"),
    )


ORACLE_TOKEN_COUNTS = r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_ws,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
    FROM documents
"""


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: argmax of stopword hits per language."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.langid(F.col("text")).alias("langid"))


def _langid_oracle(table: str = "documents") -> str:
    hits = []
    for lg, sw in T.STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in sw)
        hits.append(
            f"len(list_filter(list_filter(string_split(text,' '), x -> x <> ''),"
            f" w -> list_contains([{lst}], lower(w)))) AS h_{lg}"
        )
    langs = list(T.STOPWORDS)
    # replicate the greater-than chain: best=en; for lg in rest: if h_lg>best_h swap
    best_l, best_h = f"'{langs[0]}'", f"h_{langs[0]}"
    for lg in langs[1:]:
        best_l = f"CASE WHEN h_{lg} > {best_h} THEN '{lg}' ELSE {best_l} END"
        best_h = f"CASE WHEN h_{lg} > {best_h} THEN h_{lg} ELSE {best_h} END"
    return f"""
        SELECT doc_id, CASE WHEN {best_h} > 0 THEN {best_l} ELSE 'unknown' END AS langid
        FROM (SELECT doc_id, text, {", ".join(hits)} FROM {table})
    """


ORACLE_LANGID = _langid_oracle()


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document quality score in integer micro-units (×1e6 of
    the [0,1] heuristic): 0.4·min(1,words/100) + 0.3·min(1,mean_word_len/8) +
    0.3·(1−punct_ratio), computed with exact integer floor arithmetic so the
    cross-engine comparison has no float-ulp rounding hazard."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.quality_score_e6(F.col("text")).alias("quality_e6"))


ORACLE_QUALITY_SCORE = r"""
    SELECT doc_id,
        CAST(4000 * least(100, n)
             + CASE WHEN n > 0 THEN least(300000, (300000 * total_len) // (8 * n)) ELSE 0 END
             + CASE WHEN chars > 0 THEN 300000 - (300000 * punct) // chars ELSE 300000 END
             AS BIGINT) AS quality_e6
    FROM (
        SELECT doc_id,
            CAST(len(w) AS BIGINT) AS n,
            CAST(coalesce(list_aggregate(list_transform(w, x -> CAST(length(x) AS BIGINT)), 'sum'), 0) AS BIGINT) AS total_len,
            CAST(length(text) AS BIGINT) AS chars,
            CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS punct
        FROM (SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS w
              FROM documents))
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling document fingerprint (content-shift detection)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


ORACLE_FINGERPRINT = """
    SELECT doc_id,
           CAST(coalesce(sum((i * 31 + ascii(substr(w, 1, 1))) * 131 + length(w)), 0) % 2147483647
                AS BIGINT) AS fp
    FROM (
        SELECT doc_id, unnest(w) AS w, generate_subscripts(w, 1) AS i
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents))
    GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# 6. Deduplication suite  (training-data pipeline)
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup, hash-first: rows group on xxhash64(text) with an
    in-group exact confirm on (md5, length) — the exchange carries fixed
    ~48-byte keys, never document text (operators.docops.exact_dedup; the
    oracle's GROUP BY text is equivalent absent a joint 64+128-bit+length
    collision)."""
    return DO.exact_dedup(_t(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT = """
    SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies FROM documents GROUP BY text
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by word-set Jaccard ≥ 0.75, blocked by
    source (the cheap blocking key keeps the pair space bounded; at scale
    the MinHash-LSH variant below replaces the quadratic block join)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.array_distinct(T.words(F.col("text"))).alias("wset"),
    )
    a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source"), F.col("wset").alias("wa")
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source"), F.col("wset").alias("wb")
    )
    pairs = a.join(b, "source").filter(F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect(F.col("wa"), F.col("wb"))).cast("double")
    union = (F.size("wa") + F.size("wb")).cast("double") - inter
    return (
        pairs.withColumn("jac", F.round(inter / union, 6))
        .filter(F.col("jac") >= 0.75)
        .select("doc_a", "doc_b", "jac")
    )


ORACLE_NGRAM_JACCARD_PAIRS = """
    WITH w AS (SELECT doc_id, source,
                      list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS wset
               FROM documents),
    pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_filter(a.wset, x -> list_contains(b.wset, x))) AS DOUBLE)
                 / (CAST(len(a.wset) + len(b.wset) AS DOUBLE)
                    - len(list_filter(a.wset, x -> list_contains(b.wset, x)))), 6) AS jac
    FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, jac FROM pairs WHERE jac >= 0.75
"""


# MinHash machinery: word hash = base-131 polynomial over the first 8 chars
# (rpad'd) — deterministic and exactly expressible in SQL on both engines.
# The Spark-side signature computation lives in operators.docops
# (numpy-vectorized Arrow batches); these constants parameterize the oracle.
_MH_P = DO.MH_P
_MH_COEF = DO.MH_COEF


def _word_fp(col: F.Column) -> F.Column:
    padded = F.rpad(col, 8, "x")
    fp = F.lit(0).cast("long")
    for j in range(8):
        fp = fp + F.ascii(F.substring(padded, j + 1, 1)).cast("long") * F.lit(131 ** j)
    return fp


def _word_fp_sql(col: str) -> str:
    terms = " + ".join(
        f"CAST(ascii(substr(rpad({col}, 8, 'x'), {j + 1}, 1)) AS BIGINT) * {131 ** j}"
        for j in range(8)
    )
    return f"({terms})"


def q_ngram_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Jaccard near-dup *scale path*: word-level MinHash LSH prefilter
    (8 permutations, 8 bands of 1 row — collide on any permutation ⇒
    candidate) followed by the exact word-set Jaccard ≥ 0.75 confirm on
    candidates only. Nothing quadratic: the candidate join shuffles on
    (band, minhash-bucket); word arrays travel only for candidate pairs.

    Unlike q_ngram_jaccard_pairs (the per-source quadratic ground-truth
    baseline), this is global — no blocking key — and single-row bands give
    per-pair miss probability (1−jac)^8 ≤ 1.5e-5 at the 0.75 threshold;
    tests assert exact equality with the unblocked quadratic form on the
    driver corpus (verified: 0 of ~40k true pairs missed at sf0.01).

    All signature math is JVM-side (explode → codegen'd hash expressions →
    partial-agg min): per-word work is one fixed 8-char polynomial, no
    Python anywhere.

    Candidate generation is skew-proof by construction: the band join
    broadcasts one (tiny: docs × 8 rows) side and round-robin-repartitions
    the probe side, so a popular bucket costs output volume but never
    serializes onto one task (measured: the driver corpus is so dense that
    one bucket holds ~77% of docs — a hash-partitioned self-join ran that
    bucket on a single core for 42 s at sf0.1). Each pair is emitted ONLY at
    its first colliding band (both signatures ride the join; keep iff
    band == min matching band), which makes pairs unique without the
    60M-row distinct exchange — provably the same pair set as
    distinct-over-all-collisions, which is what the oracle states."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(T.words(F.col("text"))).alias("wset")
    )
    fps = docs.select(
        "doc_id", (F.explode("wset")).alias("w")
    ).select("doc_id", (_word_fp(F.col("w")) % _MH_P).alias("fp"))
    sig = fps.groupBy("doc_id").agg(
        *[
            F.min((F.lit(aj) * F.col("fp") + F.lit(bj)) % _MH_P).alias(f"mh{j}")
            for j, (aj, bj) in enumerate(_MH_COEF)
        ]
    )
    bands = sig.select(
        "*",
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("band"), F.col(f"mh{j}").alias("bucket"))
                for j in range(8)
            ])
        ).alias("bb"),
    ).select("doc_id", *[f"mh{j}" for j in range(8)],
             F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"amh{j}") for j in range(8)],
        "band", "bucket",
    ).repartition(spark.sparkContext.defaultParallelism)
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"bmh{j}") for j in range(8)],
        "band", "bucket",
    )
    first_band = F.lit(None).cast("int")
    for j in reversed(range(8)):
        first_band = F.when(F.col(f"amh{j}") == F.col(f"bmh{j}"), F.lit(j)).otherwise(first_band)
    cand = (
        a.join(F.broadcast(b), ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.col("band") == first_band)
        .select("doc_a", "doc_b")
    )
    wa = docs.select(F.col("doc_id").alias("doc_a"), F.col("wset").alias("wa"))
    wb = docs.select(F.col("doc_id").alias("doc_b"), F.col("wset").alias("wb"))
    pairs = cand.join(wa, "doc_a").join(wb, "doc_b")
    inter = F.size(F.array_intersect(F.col("wa"), F.col("wb"))).cast("double")
    union = (F.size("wa") + F.size("wb")).cast("double") - inter
    return (
        pairs.withColumn("jac", F.round(inter / union, 6))
        .filter(F.col("jac") >= 0.75)
        .select("doc_a", "doc_b", "jac")
    )


def _ngram_jaccard_lsh_oracle() -> str:
    mins = ", ".join(
        f"min(({aj} * fp + {bj}) % {_MH_P}) AS mh{j}"
        for j, (aj, bj) in enumerate(_MH_COEF)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, mh{j} AS bucket FROM sig" for j in range(8)
    )
    return f"""
        WITH w AS (SELECT doc_id,
                          list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS wset
                   FROM documents),
        f AS (SELECT doc_id, unnest(wset) AS wd FROM w),
        sig AS (SELECT doc_id, {mins}
                FROM (SELECT doc_id, ({_word_fp_sql('wd')} % {_MH_P}) AS fp FROM f)
                GROUP BY doc_id),
        bands AS ({bands}),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        scored AS (
            SELECT doc_a, doc_b,
                   round(CAST(len(list_filter(wa.wset, x -> list_contains(wb.wset, x))) AS DOUBLE)
                         / (CAST(len(wa.wset) + len(wb.wset) AS DOUBLE)
                            - len(list_filter(wa.wset, x -> list_contains(wb.wset, x)))), 6) AS jac
            FROM cand JOIN w wa ON wa.doc_id = doc_a JOIN w wb ON wb.doc_id = doc_b)
        SELECT doc_a, doc_b, jac FROM scored WHERE jac >= 0.75
    """


ORACLE_NGRAM_JACCARD_LSH = _ngram_jaccard_lsh_oracle()


def q_ngram_jaccard_lsh_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline-sized rollup of the LSH near-dup pass: total confirmed-pair
    count plus a histogram of per-document max Jaccard (bucket =
    floor(max_jac·10), so 7..10 at the 0.75 threshold) — the report a
    dedup run actually ships (how much of the corpus is near-duplicated,
    and how hard), without materializing the multi-million-row pair dump
    the full q_ngram_jaccard_lsh emits (3.94 M true pairs at sf0.1 by
    corpus construction — output volume, not compute, dominated the old
    headline). The pair query stays in the catalog as the exact oracle
    entry; this rollup shares its whole verified plan and adds one
    aggregation pass over ids-only rows.

    Single pass over the pair stream: each pair EXPLODES into its two
    (doc_id, jac) sides — one evaluation of the LSH plan, no union
    double-compute and no multi-million-row checkpoint (measured: eagerly
    checkpointing the pair stream cost more than it saved, because the
    bench action never materializes the dump anyway — count() already
    collapsed it). Per-doc side counts ride the max aggregation, so the
    global pair total falls out of the ≤4-row histogram itself (sum of
    sides / 2) — the only re-used branch is checkpointed at 4 rows, not
    3.94 M. Bucketing is integer-exact cross-engine: jac is already
    rounded to 6 dp, so round(jac·1e6) recovers the exact integer and the
    /1e5 floor is identical IEEE arithmetic in both engines."""
    pairs = q_ngram_jaccard_lsh(spark, sf_dir)
    sides = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("doc_id"), F.col("jac").alias("jac")),
                F.struct(F.col("doc_b").alias("doc_id"), F.col("jac").alias("jac")),
            )
        ).alias("s")
    ).select("s.doc_id", "s.jac")
    per_doc = sides.groupBy("doc_id").agg(
        F.max("jac").alias("max_jac"),
        F.count(F.lit(1)).cast("long").alias("n_pair_sides"),
    )
    hist = (
        per_doc.withColumn(
            "bucket",
            F.floor(
                F.round(F.col("max_jac") * 1000000).cast("long") / F.lit(100000.0)
            ).cast("long"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_pair_sides").cast("long").alias("sides_sum"),
        )
        .localCheckpoint(eager=True)  # <= a few rows; re-used by the total
    )
    total = hist.agg((F.sum("sides_sum") / F.lit(2)).cast("long").alias("n_pairs"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select("bucket", "n_docs", "n_pairs")
    )


ORACLE_NGRAM_JACCARD_LSH_STATS = f"""
    WITH pairs AS ({ORACLE_NGRAM_JACCARD_LSH}),
    sides AS (SELECT doc_a AS doc_id, jac FROM pairs
              UNION ALL SELECT doc_b AS doc_id, jac FROM pairs),
    perdoc AS (SELECT doc_id, max(jac) AS max_jac,
                      count(*) AS n_pair_sides
               FROM sides GROUP BY doc_id),
    hist AS (SELECT CAST(floor(CAST(round(max_jac * 1000000) AS BIGINT) / 100000.0)
                         AS BIGINT) AS bucket,
                    CAST(count(*) AS BIGINT) AS n_docs,
                    sum(n_pair_sides) AS sides_sum
             FROM perdoc GROUP BY 1),
    tot AS (SELECT CAST(sum(sides_sum) / 2 AS BIGINT) AS n_pairs FROM hist)
    SELECT bucket, n_docs, n_pairs FROM hist CROSS JOIN tot
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-permutation MinHash signature per document over its 3-word shingle
    set: mh_j = min over shingles of (a_j·fp + b_j) mod p — numpy-vectorized
    Arrow batches (docops.minhash_batches; the earlier pure-column HOF form
    was interpreted per element at ~58 s / 5000 docs, and the per-char Python
    loop form it replaced was the LSH pipeline's dominant cost)."""
    schema = "doc_id long, " + ", ".join(f"mh{j} long" for j in range(8))
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(DO.minhash_batches, schema)
    )


def _minhash_oracle() -> str:
    mins = ", ".join(
        f"min(({aj} * sfp + {bj}) % {_MH_P}) AS mh{j}"
        for j, (aj, bj) in enumerate(_MH_COEF)
    )
    return f"""
        WITH ws AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
                    FROM documents),
        f AS (SELECT doc_id, unnest(w) AS wd, generate_subscripts(w, 1) AS i
              FROM ws WHERE len(w) >= 3),
        fp AS (SELECT doc_id, i, ({_word_fp_sql('wd')} % {_MH_P}) AS v FROM f),
        sh AS (SELECT DISTINCT a.doc_id,
                      ((((a.v * 131 + b.v) % {_MH_P}) * 131 + c.v) % {_MH_P}) AS sfp
               FROM fp a
               JOIN fp b ON a.doc_id = b.doc_id AND b.i = a.i + 1
               JOIN fp c ON a.doc_id = c.doc_id AND c.i = a.i + 2)
        SELECT doc_id, {mins} FROM sh GROUP BY doc_id
    """


ORACLE_MINHASH_SIGNATURES = _minhash_oracle()


def _mh_bands(sig: DataFrame) -> DataFrame:
    """4 bands × 2 rows over a MinHash signature table → (doc_id, band, bucket)."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws("_", F.col(f"mh{2*b}"), F.col(f"mh{2*b+1}")).alias("bucket"),
                )
                for b in range(4)
            ])
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: 4 bands × 2 rows — docs sharing any band
    bucket become a candidate pair. This is the scale path for near-dup
    (band-bucket shuffle instead of a quadratic join)."""
    sig = q_minhash_signatures(spark, sf_dir)
    bands = _mh_bands(sig)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


ORACLE_MINHASH_LSH_PAIRS = f"""
    WITH sig AS ({ORACLE_MINHASH_SIGNATURES}),
    bands AS (
        SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) AS bucket FROM sig
        UNION ALL SELECT doc_id, 1, CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) FROM sig
        UNION ALL SELECT doc_id, 2, CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) FROM sig
        UNION ALL SELECT doc_id, 3, CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) FROM sig)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the MinHash-LSH pair
    graph, keeping the min doc_id as each cluster's representative — the
    keep-one-per-cluster step a dedup pipeline runs after pair generation
    (transitive near-dup groups, not just pairs; singletons keep themselves).

    Iterative min-label propagation until fixpoint: each round every vertex
    takes the min label among itself and its neighbors; rounds needed =
    component diameter. The result is the exact component-min labeling,
    deterministic regardless of execution order — which is why this
    *iterative* operator still carries a full value-hash oracle (DuckDB
    computes the same components via a recursive-CTE transitive closure).
    Every round ends in ``localCheckpoint(eager=True)``: loop state must
    never chain through DataFrame lineage (Catalyst re-analysis of a
    growing plan goes super-linear), and the edge list is checkpointed once
    so the LSH pipeline isn't re-executed per round. At 100 TB the same
    loop shape holds with edges hash-partitioned by src and the alternating
    large-star/small-star contraction (O(log n) rounds) replacing plain
    propagation; state lives in a table between rounds exactly like the
    crawl frontier (crawl.py's snapshot pattern)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("rep")).localCheckpoint(eager=True)
    while True:
        nbr_min = (
            edges.join(labels.select(F.col("doc_id").alias("dst"), "rep"), "dst")
            .groupBy("src")
            .agg(F.min("rep").alias("rep"))
            .select(F.col("src").alias("doc_id"), "rep")
        )
        new_labels = (
            labels.unionByName(nbr_min)
            .groupBy("doc_id")
            .agg(F.min("rep").alias("rep"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(
                labels.select("doc_id", F.col("rep").alias("old_rep")), "doc_id"
            )
            .filter(F.col("rep") != F.col("old_rep"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("doc_id", F.col("rep").alias("cluster_rep"))


ORACLE_NEARDUP_CLUSTERS = f"""
    WITH RECURSIVE pairs AS ({ORACLE_MINHASH_LSH_PAIRS}),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, min(dst) AS cluster_rep FROM reach GROUP BY src
"""


_SPLIT_EXPR_SQL = "((doc_id % 1000003) * 31 + 7) % 100"


def _split_col() -> F.Column:
    """Deterministic 0-99 split bucket from doc_id — multiplicative-mod hash
    kept inside BIGINT range (ANSI-safe, identical arithmetic in DuckDB).
    Content-stable: re-running datagen or re-sharding never moves a doc."""
    return (((F.col("doc_id") % 1000003) * 31 + 7) % 100).cast("long")


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split — the assignment every training
    pipeline needs to be reproducible and shuffle-free: split bucket from a
    doc_id hash (narrow map, no exchange), 90/5/5 by bucket range."""
    docs = _t(spark, sf_dir, "documents")
    b = _split_col()
    return docs.select(
        "doc_id",
        b.alias("bucket"),
        F.when(b < 90, F.lit("train"))
        .when(b < 95, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


ORACLE_DATASET_SPLIT = f"""
    SELECT doc_id,
           CAST({_SPLIT_EXPR_SQL} AS BIGINT) AS bucket,
           CASE WHEN {_SPLIT_EXPR_SQL} < 90 THEN 'train'
                WHEN {_SPLIT_EXPR_SQL} < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
"""


def _split_of(doc_col: str) -> F.Column:
    b = ((F.col(doc_col) % 1000003) * 31 + 7) % 100
    return (
        F.when(b < 90, F.lit("train")).when(b < 95, F.lit("val")).otherwise(F.lit("test"))
    )


def _split_of_sql(doc_col: str) -> str:
    e = f"(({doc_col} % 1000003) * 31 + 7) % 100"
    return f"CASE WHEN {e} < 90 THEN 'train' WHEN {e} < 95 THEN 'val' ELSE 'test' END"


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check — near-duplicate pairs that straddle a
    split boundary (the leak an eval suffers when a test doc's near-dup sits
    in train). The split is a pure function of doc_id, so it evaluates
    INLINE on the MinHash-LSH pair stream (scale path: bucket join, no
    quadratic stage) — zero extra joins, zero extra shuffles at any corpus
    size. That no-join property is the point of hash-based splits."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    return (
        pairs.withColumn("split_a", _split_of("doc_a"))
        .withColumn("split_b", _split_of("doc_b"))
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b")
    )


ORACLE_SPLIT_LEAKAGE = f"""
    WITH pairs AS ({ORACLE_MINHASH_LSH_PAIRS}),
    flagged AS (
        SELECT doc_a, doc_b,
               {_split_of_sql('doc_a')} AS split_a,
               {_split_of_sql('doc_b')} AS split_b
        FROM pairs)
    SELECT doc_a, doc_b, split_a, split_b FROM flagged WHERE split_a <> split_b
"""


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion — the asymmetric dedup a live pipeline
    runs every batch: admit an INCOMING document only if no MinHash band
    bucket collides with the EXISTING corpus. The incoming slice (here a
    deterministic 20% of doc_ids; in production, the day's crawl) is orders
    of magnitude smaller than the corpus, so its band table is BROADCAST
    into a scan of the corpus band index — the corpus is never shuffled, and
    the whole admission decision is one streamed pass + one id-only anti-join.
    That asymmetry is what makes daily ingestion O(batch), not O(corpus),
    at 100 TB."""
    sig = q_minhash_signatures(spark, sf_dir)
    # persist: existing scan + broadcast incoming are two branches of the
    # same expensive mapInPandas subtree — without this it runs twice
    bands = _mh_bands(sig).persist()
    incoming = bands.filter(F.col("doc_id") % 10 >= 8)
    existing = bands.filter(F.col("doc_id") % 10 < 8)
    dup_ids = (
        existing.join(F.broadcast(incoming.withColumnRenamed("doc_id", "inc_id")),
                      ["band", "bucket"])
        .select(F.col("inc_id").alias("doc_id"))
        .distinct()
    )
    # the incoming-doc list comes from the CORPUS, not from the signature
    # table: docs too short to shingle (<3 words) have no bands, can't
    # collide, and must still be admitted — deriving the list from bands
    # would silently drop them from the output entirely
    inc_docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 >= 8)
        .select("doc_id")
    )
    return inc_docs.join(dup_ids.withColumn("dup", F.lit(1)), "doc_id", "left").select(
        "doc_id",
        F.when(F.col("dup").isNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("admitted"),
    )


ORACLE_INCREMENTAL_NEARDUP = f"""
    WITH sig AS ({ORACLE_MINHASH_SIGNATURES}),
    bands AS (
        SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) AS bucket FROM sig
        UNION ALL SELECT doc_id, 1, CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) FROM sig
        UNION ALL SELECT doc_id, 2, CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) FROM sig
        UNION ALL SELECT doc_id, 3, CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) FROM sig),
    dup AS (
        SELECT DISTINCT i.doc_id
        FROM bands i JOIN bands e ON i.band = e.band AND i.bucket = e.bucket
        WHERE i.doc_id % 10 >= 8 AND e.doc_id % 10 < 8)
    SELECT s.doc_id,
           CAST(CASE WHEN dup.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS admitted
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) s
    LEFT JOIN dup ON s.doc_id = dup.doc_id
"""


_SAMPLE_RATES = {"src0": 50, "src1": 25}  # pct kept per source; default 10


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling — rebalancing over-represented
    sources before training, reproducibly: each doc lands in a stable
    0–99 bucket from pure doc_id arithmetic (portable across engines, unlike
    engine-native hash functions), and each source keeps its own bucket
    threshold. Content-stable, shuffle-free narrow map: re-running the
    pipeline keeps/drops exactly the same documents, which is what makes
    downstream dedup/split artifacts reusable across runs. The same map
    runs unchanged at any corpus size (no sampling state, no count pass)."""
    docs = _t(spark, sf_dir, "documents")
    b = ((F.col("doc_id") % 999983) * 37 + 11) % 100
    rate = F.lit(10)
    for src, pct in _SAMPLE_RATES.items():
        rate = F.when(F.col("source") == src, F.lit(pct)).otherwise(rate)
    return docs.select(
        "doc_id", "source",
        b.cast("long").alias("bucket"),
        (b < rate).cast("long").alias("kept"),
    )


_SAMPLE_RATE_SQL = (
    "CASE "
    + " ".join(f"WHEN source = '{s}' THEN {p}" for s, p in _SAMPLE_RATES.items())
    + " ELSE 10 END"
)

ORACLE_STRATIFIED_SAMPLE = f"""
    SELECT doc_id, source,
           CAST(((doc_id % 999983) * 37 + 11) % 100 AS BIGINT) AS bucket,
           CAST(CASE WHEN ((doc_id % 999983) * 37 + 11) % 100 < {_SAMPLE_RATE_SQL}
                     THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM documents
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profiling — the size/shape report a pipeline emits
    per ingest batch: doc count, total chars, and EXACT p50/p90 length
    percentiles. Exact percentiles are computed positionally (sort by
    (n_chars, doc_id), pick rank ceil(q·n)) instead of percentile_cont —
    interpolation semantics differ across engines, rank selection cannot.
    Shape at scale: one partial-agg groupBy for the counts + one window sort
    per source for the ranks; the sort key is (source, n_chars) — the same
    partitioning a size-bucketed storage layout already has."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    counts = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.withColumn("rank", F.row_number().over(w))
    with_n = ranked.join(F.broadcast(counts.select("source", "n_docs")), "source")
    p50 = with_n.filter(
        F.col("rank") == F.ceil(F.col("n_docs") * 0.5).cast("long")
    ).select("source", F.col("n_chars").alias("p50_chars"))
    p90 = with_n.filter(
        F.col("rank") == F.ceil(F.col("n_docs") * 0.9).cast("long")
    ).select("source", F.col("n_chars").alias("p90_chars"))
    return (
        counts.join(p50, "source").join(p90, "source")
        .select("source", "n_docs", "total_chars", "max_chars",
                "p50_chars", "p90_chars")
    )


ORACLE_CORPUS_STATS = """
    WITH counts AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars
        FROM documents GROUP BY source),
    ranked AS (
        SELECT source, n_chars,
               row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rank
        FROM documents),
    withn AS (SELECT r.*, c.n_docs FROM ranked r JOIN counts c USING (source))
    SELECT c.source, c.n_docs, c.total_chars, c.max_chars,
           CAST(p50.n_chars AS BIGINT) AS p50_chars,
           CAST(p90.n_chars AS BIGINT) AS p90_chars
    FROM counts c
    JOIN (SELECT source, n_chars FROM withn
          WHERE rank = CAST(ceil(n_docs * 0.5) AS BIGINT)) p50 ON c.source = p50.source
    JOIN (SELECT source, n_chars FROM withn
          WHERE rank = CAST(ceil(n_docs * 0.9) AS BIGINT)) p90 ON c.source = p90.source
"""


# Deterministic robots.txt corpus (both engines UNION the same literals —
# the testdata has no robots documents; same planted-rows pattern as
# pii_scrub). Semantics supported: one User-agent per group (the common
# case), '#' comments, blank lines, empty Disallow = no rule.
_ROBOTS_PLANTED = [
    (1, "User-agent: *\nDisallow: /private\nAllow: /private/ok\nCrawl-delay: 30\n\nUser-agent: fbbot\nDisallow: /\nCrawl-delay: 120"),
    (2, "# crawl policy\nUser-agent: *\nDisallow:\nAllow: /public # inline note\nDisallow: /tmp"),
    (3, "User-agent: archiver\nAllow: /\nDisallow: /session\nCrawl-delay: 5\n\n# trailing comment"),
]


def _robots_lines(spark: SparkSession) -> DataFrame:
    """Shared robots.txt line pipeline: explode, strip comments, classify
    directive, attribute to the most recent User-agent (running last-non-null
    window)."""
    docs = spark.createDataFrame(_ROBOTS_PLANTED, "robots_id long, body string")
    lines = docs.select(
        "robots_id",
        F.posexplode(F.split(F.col("body"), "\n")).alias("i", "raw"),
    ).select(
        "robots_id",
        F.col("i").cast("long").alias("i"),
        F.trim(F.regexp_replace(F.col("raw"), "#.*$", "")).alias("line"),
    )
    low = F.lower(F.col("line"))
    kind = (
        F.when(low.startswith("user-agent:"), F.lit("ua"))
        .when(low.startswith("disallow:"), F.lit("disallow"))
        .when(low.startswith("allow:"), F.lit("allow"))
        .when(low.startswith("crawl-delay:"), F.lit("delay"))
    )
    val = F.trim(F.regexp_replace(F.col("line"), "^[^:]*:", ""))
    parsed = lines.select("robots_id", "i", kind.alias("kind"), val.alias("value"))
    w = (
        Window.partitionBy("robots_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return parsed.withColumn(
        "agent",
        F.last(F.when(F.col("kind") == "ua", F.col("value")), ignorenulls=True).over(w),
    )


def q_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt text → rules table, the ingest step ahead of the engine's
    robots_gate (T3): split lines, strip comments, and attribute each
    Allow/Disallow to the most recent User-agent line via a running
    last-non-null window — the streaming-friendly way to do block
    attribution without a per-document UDF. Pure column expressions; at
    scale this is a narrow map + one window partitioned by robots doc, and
    the output feeds scheduler.robots_gate's broadcast side directly
    (reference parity note: the reference crawler has no robots handling —
    SLEEP_TIME politeness only, scrapy_config.py:1 — so this surface is
    engine-new, mandated by the north rule's 'robots.txt rules gate
    dispatch')."""
    with_ua = _robots_lines(spark)
    return (
        with_ua.filter(
            F.col("kind").isin("allow", "disallow")
            & F.col("agent").isNotNull()
            & (F.col("value") != "")
        )
        .select(
            "robots_id",
            F.col("i").alias("rule_seq"),
            "agent",
            F.col("value").alias("path_prefix"),
            (F.col("kind") == "allow").cast("long").alias("allow"),
        )
    )


def q_robots_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay directives → per-host politeness budgets: the bridge from
    robots.txt (T3) to the dispatch gate (T1). A delay of N seconds becomes
    tokens_per_round = max(1, round_len // N) for the engine's 60-second
    rounds — exactly the column per_host_dispatch's host_budget table
    consumes (the reference's analog is the global 120/n_cookies sleep,
    utils.py:25-26, which this generalizes per host)."""
    with_ua = _robots_lines(spark)
    d = F.col("value").cast("long")
    return (
        with_ua.filter((F.col("kind") == "delay") & F.col("agent").isNotNull())
        .select(
            "robots_id",
            "agent",
            d.alias("delay_s"),
            F.greatest(F.lit(1).cast("long"), F.expr("60 div CAST(value AS BIGINT)"))
            .alias("tokens_per_round"),
        )
    )


_ROBOTS_PLANTED_SQL = " UNION ALL ".join(
    "SELECT {} AS robots_id, '{}' AS body".format(i, b.replace("\n", "' || chr(10) || '"))
    for i, b in _ROBOTS_PLANTED
)

ORACLE_ROBOTS_PARSE = f"""
    WITH docs AS ({_ROBOTS_PLANTED_SQL}),
    lines AS (
        SELECT robots_id,
               generate_subscripts(string_split(body, chr(10)), 1) - 1 AS i,
               trim(regexp_replace(unnest(string_split(body, chr(10))), '#.*$', '')) AS line
        FROM docs),
    parsed AS (
        SELECT robots_id, CAST(i AS BIGINT) AS i,
               CASE WHEN lower(line) LIKE 'user-agent:%' THEN 'ua'
                    WHEN lower(line) LIKE 'disallow:%' THEN 'disallow'
                    WHEN lower(line) LIKE 'allow:%' THEN 'allow' END AS kind,
               trim(regexp_replace(line, '^[^:]*:', '')) AS value
        FROM lines),
    with_ua AS (
        SELECT *,
               last_value(CASE WHEN kind = 'ua' THEN value END IGNORE NULLS)
                   OVER (PARTITION BY robots_id ORDER BY i
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS agent
        FROM parsed)
    SELECT robots_id, i AS rule_seq, agent, value AS path_prefix,
           CAST(CASE WHEN kind = 'allow' THEN 1 ELSE 0 END AS BIGINT) AS allow
    FROM with_ua
    WHERE kind IN ('allow', 'disallow') AND agent IS NOT NULL AND value <> ''
"""

ORACLE_ROBOTS_CRAWL_DELAY = f"""
    WITH docs AS ({_ROBOTS_PLANTED_SQL}),
    lines AS (
        SELECT robots_id,
               generate_subscripts(string_split(body, chr(10)), 1) - 1 AS i,
               trim(regexp_replace(unnest(string_split(body, chr(10))), '#.*$', '')) AS line
        FROM docs),
    parsed AS (
        SELECT robots_id, CAST(i AS BIGINT) AS i,
               CASE WHEN lower(line) LIKE 'user-agent:%' THEN 'ua'
                    WHEN lower(line) LIKE 'disallow:%' THEN 'disallow'
                    WHEN lower(line) LIKE 'allow:%' THEN 'allow'
                    WHEN lower(line) LIKE 'crawl-delay:%' THEN 'delay' END AS kind,
               trim(regexp_replace(line, '^[^:]*:', '')) AS value
        FROM lines),
    with_ua AS (
        SELECT *,
               last_value(CASE WHEN kind = 'ua' THEN value END IGNORE NULLS)
                   OVER (PARTITION BY robots_id ORDER BY i
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS agent
        FROM parsed)
    SELECT robots_id, agent,
           CAST(value AS BIGINT) AS delay_s,
           CAST(greatest(1, 60 // CAST(value AS BIGINT)) AS BIGINT) AS tokens_per_round
    FROM with_ua
    WHERE kind = 'delay' AND agent IS NOT NULL
"""


# Deterministic sitemap.xml corpus (planted literals on both engines, like
# robots_parse — the testdata has no sitemap documents).
_SITEMAP_PLANTED = [
    (1, "<urlset><url><loc>https://mbasic.facebook.com/groups/g1</loc>"
        "<lastmod>2023-05-01</lastmod></url>"
        "<url><loc>https://MBASIC.facebook.com/groups/g2?fbclid=x</loc>"
        "<lastmod>2023-06-15</lastmod></url></urlset>"),
    (2, "<urlset><url><loc>https://example.org/a</loc>"
        "<lastmod>2024-01-02</lastmod></url>"
        "<url><loc>https://mbasic.facebook.com/p3</loc>"
        "<lastmod>2022-11-30</lastmod></url></urlset>"),
]


def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sitemap.xml → seed candidates, the discovery source a crawler consumes
    alongside robots.txt: extract each <url> block's <loc>/<lastmod> pair by
    positional zip of two regexp_extract_all lists (no XML library — the
    two-tag subset is regular, and staying in column expressions keeps the
    pass in whole-stage codegen), emit lastmod as epoch-day BIGINT for
    recency-priority seeding. Downstream the locs flow through the same
    canonicalize → kind/priority → dedup pipe as parsed hrefs (crawl.py
    candidate build). Narrow map; at scale, one sitemap document per row."""
    docs = spark.createDataFrame(_SITEMAP_PLANTED, "sitemap_id long, body string")
    locs = F.regexp_extract_all(F.col("body"), F.lit(r"<loc>([^<]*)</loc>"), 1)
    mods = F.regexp_extract_all(F.col("body"), F.lit(r"<lastmod>([^<]*)</lastmod>"), 1)
    staged = docs.select("sitemap_id", locs.alias("locs"), mods.alias("mods"))
    return (
        staged.select(
            "sitemap_id",
            F.posexplode(F.arrays_zip(F.col("locs"), F.col("mods"))).alias("i", "z"),
        )
        # rows are driven by <loc> entries (oracle semantics): arrays_zip
        # pads to the LONGER list, so a malformed sitemap with stray
        # <lastmod> tags would otherwise emit loc-less rows DuckDB never sees
        .filter(F.col("z.locs").isNotNull())
        .select(
            "sitemap_id",
            F.col("i").cast("long").alias("url_seq"),
            F.col("z.locs").alias("loc"),
            F.datediff(F.to_date(F.col("z.mods")), F.lit("1970-01-01"))
            .cast("long")
            .alias("lastmod_epoch_day"),
            F.col("z.locs").rlike(r"^https://(?i)mbasic\.facebook")
            .cast("long")
            .alias("in_scope"),
        )
    )


_SITEMAP_PLANTED_SQL = " UNION ALL ".join(
    "SELECT {} AS sitemap_id, '{}' AS body".format(i, b) for i, b in _SITEMAP_PLANTED
)

ORACLE_SITEMAP_PARSE = f"""
    WITH docs AS ({_SITEMAP_PLANTED_SQL}),
    lists AS (
        SELECT sitemap_id,
               regexp_extract_all(body, '<loc>([^<]*)</loc>', 1) AS locs,
               regexp_extract_all(body, '<lastmod>([^<]*)</lastmod>', 1) AS mods
        FROM docs),
    zipped AS (
        SELECT sitemap_id,
               generate_subscripts(locs, 1) - 1 AS url_seq,
               unnest(locs) AS loc
        FROM lists),
    withmod AS (
        SELECT z.sitemap_id, z.url_seq, z.loc,
               l.mods[z.url_seq + 1] AS mod
        FROM zipped z JOIN lists l ON z.sitemap_id = l.sitemap_id)
    SELECT sitemap_id,
           CAST(url_seq AS BIGINT) AS url_seq,
           loc,
           CAST(date_diff('day', DATE '1970-01-01', CAST(mod AS DATE)) AS BIGINT)
               AS lastmod_epoch_day,
           CAST(CASE WHEN regexp_matches(loc, '^https://(?i)mbasic\\.facebook')
                     THEN 1 ELSE 0 END AS BIGINT) AS in_scope
    FROM withmod
"""


# Deterministic redirect edges (planted on both engines; acyclic).
_REDIRECT_PLANTED = [
    ("https://m.fb.x/a", "https://m.fb.x/b"),
    ("https://m.fb.x/b", "https://m.fb.x/c"),
    ("https://m.fb.x/d", "https://m.fb.x/c"),
    ("https://m.fb.x/e", "https://m.fb.x/f"),
    ("https://m.fb.x/h", "https://m.fb.x/i"),
    ("https://m.fb.x/i", "https://m.fb.x/j"),
    ("https://m.fb.x/j", "https://m.fb.x/k"),
]


def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive redirect resolution — every crawler needs the TERMINAL URL
    of a 3xx chain before dedup/canonicalization, or the same document is
    seen once per alias. Iterative successor-following over the redirect
    edge table, loop state checkpointed every round (never chained through
    lineage — the plan-growth trap), terminating when no row advances. The
    DuckDB oracle walks the same chains with a recursive CTE, so this
    *iterative* operator still carries a full value-hash oracle (same
    pattern as neardup_clusters). At 10^10 URLs the loop becomes pointer
    doubling (join resolve with itself, O(log max_hops) rounds) with edges
    hash-partitioned by src; successor-following here keeps the small-case
    plan readable."""
    max_hops = 32  # cycle guard: real redirect graphs contain loops; a chain
    # still moving after max_hops is reported at its cap instead of hanging
    # the driver (browsers cap near 20 for the same reason)
    edges = spark.createDataFrame(_REDIRECT_PLANTED, "src string, dst string")
    nxt = edges.select(F.col("src").alias("cur"), F.col("dst").alias("nxt"))
    res = edges.select(
        "src", F.col("dst").alias("cur"), F.lit(1).cast("long").alias("hops")
    ).localCheckpoint(eager=True)
    for _ in range(max_hops):
        stepped = (
            res.join(F.broadcast(nxt), "cur", "left")
            .select(
                "src",
                F.coalesce(F.col("nxt"), F.col("cur")).alias("cur"),
                (F.col("hops") + F.col("nxt").isNotNull().cast("long")).alias("hops"),
                F.col("nxt").isNotNull().alias("moved"),
            )
            .localCheckpoint(eager=True)
        )
        res = stepped.select("src", "cur", "hops")
        if stepped.filter(F.col("moved")).isEmpty():
            break
    return res.select("src", F.col("cur").alias("final_url"), "hops")


ORACLE_REDIRECT_RESOLVE = (
    "WITH RECURSIVE edges AS ("
    + " UNION ALL ".join(
        f"SELECT '{s}' AS src, '{d}' AS dst" for s, d in _REDIRECT_PLANTED
    )
    + """),
    walk(src, cur, hops) AS (
        SELECT src, dst, 1 FROM edges
        UNION ALL
        SELECT w.src, e.dst, w.hops + 1 FROM walk w JOIN edges e ON w.cur = e.src)
    SELECT src, cur AS final_url, CAST(hops AS BIGINT) AS hops
    FROM walk
    QUALIFY row_number() OVER (PARTITION BY src ORDER BY hops DESC) = 1
"""
)


def _built_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic interleaved (doc_id, span_idx, kind, text, media_ref)
    table from the corpus: 8-word text chunks; every 4th span is a media
    span carrying a media_ref. Row-based build (posexplode → groupBy) so
    DuckDB mirrors it exactly; shared by the span-algebra queries."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id",
        F.posexplode(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
        .alias("i", "word"),
    )
    chunks = (
        words.withColumn("span_idx", F.expr("i div 8"))
        .groupBy("doc_id", "span_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("i", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("text")
        )
    )
    return chunks.select(
        "doc_id",
        F.col("span_idx").cast("long").alias("span_idx"),
        F.when(F.col("span_idx") % 4 == 3, F.lit("media")).otherwise(F.lit("text")).alias("kind"),
        F.when(F.col("span_idx") % 4 == 3, F.lit("")).otherwise(F.col("text")).alias("text"),
        F.when(
            F.col("span_idx") % 4 == 3,
            F.concat(F.lit("m"), F.col("doc_id").cast("string"),
                     F.lit("_"), F.col("span_idx").cast("string")),
        ).alias("media_ref"),
    )


def q_span_media_captions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-span operation with a full oracle: pair each media span
    with the text span immediately before it — caption-candidate extraction,
    the text↔media alignment step an interleaved multimodal pipeline runs
    before training. The span build's groupBy and the pairing window share
    the doc_id key, so at scale the second exchange coalesces into the
    first's partitioning. The HTML-parsed span surface (span_extraction /
    test_span_sequence_equality) covers the extractor; this covers span
    ALGEBRA with a value-hash oracle."""
    spans = _built_spans(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("span_idx")
    return (
        spans.withColumn("caption", F.lag("text").over(w))
        .filter(F.col("kind") == "media")
        .select("doc_id", "span_idx", "media_ref", "caption")
    )


_SPAN_BUILD_SQL = """
    wd AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents),
    rows_ AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) - 1 AS i
        FROM wd),
    chunks AS (
        SELECT doc_id, i // 8 AS span_idx, string_agg(word, ' ' ORDER BY i) AS text
        FROM rows_ GROUP BY doc_id, i // 8),
    spans AS (
        SELECT doc_id, CAST(span_idx AS BIGINT) AS span_idx,
               CASE WHEN span_idx % 4 = 3 THEN 'media' ELSE 'text' END AS kind,
               CASE WHEN span_idx % 4 = 3 THEN '' ELSE text END AS text,
               CASE WHEN span_idx % 4 = 3
                    THEN 'm' || CAST(doc_id AS VARCHAR) || '_' || CAST(span_idx AS VARCHAR)
                    END AS media_ref
        FROM chunks)
"""

ORACLE_SPAN_MEDIA_CAPTIONS = f"""
    WITH {_SPAN_BUILD_SQL},
    cap AS (
        SELECT doc_id, span_idx, kind, media_ref,
               lag(text) OVER (PARTITION BY doc_id ORDER BY span_idx) AS caption
        FROM spans)
    SELECT doc_id, span_idx, media_ref, caption FROM cap WHERE kind = 'media'
"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization — the preprocessing pass every training pipeline
    runs before dedup/tokenization: lowercase, collapse whitespace runs to
    one space, trim. Pure JVM column expressions (narrow map, no shuffle);
    both engines use ASCII \\s semantics (Java regex default; RE2)."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


ORACLE_TEXT_NORMALIZE = r"""
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text,
           CAST(length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS BIGINT)
               AS n_chars_norm
    FROM documents
"""


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal — the duplicate-bigram fraction that
    flags boilerplate / spam documents before they enter a training corpus:
    per doc, of the n−1 adjacent word bigrams, what fraction are repeats of
    an earlier bigram (in integer micro-units, no float hazard). Pure JVM
    array expressions — the word list is materialized as a column once, the
    bigram list is built with shifted-slice zip_with (never element_at inside
    a transform — that HOF form is interpreted O(n²) per row), and the whole
    thing is a narrow map: no shuffle at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    w = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    staged = docs.select("doc_id", w.alias("w"), F.greatest(
        F.size(w) - 1, F.lit(0)).cast("long").alias("n_bigrams"))
    grams = F.zip_with(
        F.slice(F.col("w"), 1, F.col("n_bigrams").cast("int")),
        F.slice(F.col("w"), 2, F.col("n_bigrams").cast("int")),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    staged = staged.select(
        "doc_id", "n_bigrams",
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct"),
    )
    return staged.select(
        "doc_id", "n_bigrams", "n_distinct",
        # integer `div`, not `/`+cast: double division loses ulps past 2^53
        # and would diverge from DuckDB's exact BIGINT `//` at extreme counts
        F.when(
            F.col("n_bigrams") > 0,
            F.expr("((n_bigrams - n_distinct) * 1000000) div n_bigrams"),
        ).otherwise(F.lit(0)).cast("long").alias("dup_e6"),
    )


ORACLE_REPETITION_RATIO = """
    WITH wd AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents),
    rows_ AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i
        FROM wd),
    grams AS (
        SELECT doc_id,
               word || ' ' || lead(word) OVER (PARTITION BY doc_id ORDER BY i) AS g
        FROM rows_),
    agg AS (
        SELECT doc_id, count(g) AS t, count(DISTINCT g) AS d
        FROM grams GROUP BY doc_id)
    SELECT wd.doc_id,
           CAST(coalesce(agg.t, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(agg.d, 0) AS BIGINT) AS n_distinct,
           CAST(CASE WHEN coalesce(agg.t, 0) > 0
                     THEN ((agg.t - agg.d) * 1000000) // agg.t
                     ELSE 0 END AS BIGINT) AS dup_e6
    FROM wd LEFT JOIN agg ON wd.doc_id = agg.doc_id
"""


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"(\+[0-9]{7,15}|[0-9]{3}-[0-9]{3}-[0-9]{4})"

# The generated corpus is PII-free word soup, so both engines UNION the same
# planted rows (deterministic literals) — otherwise the oracle would be
# vacuous (0 detections = 0 detections proves nothing). Same pattern as the
# planted embedding twins.
_PII_PLANTED = [
    (9000001, "reach me at alice.smith+spam@mail-host.example.com for details"),
    (9000002, "call +14155550123 or 415-555-0123 before the window closes"),
    (9000003, "two contacts bob@ex.org carol_x%y@sub.domain.io and +4915712345678"),
    (9000004, "no pii here just the usual word soup table scan join"),
]


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the scrub pass a training corpus takes
    before release: count and mask emails and phone numbers with patterns
    restricted to the RE2 ∩ Java-regex common subset (no lookaround, no
    backrefs) so one definition runs on both engines. Counts are measured on
    the raw text, then emails are redacted before phones (fixed order — the
    two patterns can touch the same span). Narrow map, no shuffle; at 100 TB
    this is a scan-shaped pass whose cost is the regex engine, which stays
    JVM-side in whole-stage codegen (no Python)."""
    # single-file corpus scan = one partition; spread it or the regex pass
    # runs single-threaded (measured 20.8 s → ~1 s at sf0.1 on 32 cores)
    docs = (
        _t(spark, sf_dir, "documents").select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    planted = spark.createDataFrame(_PII_PLANTED, "doc_id long, text string")
    both = docs.unionByName(planted)
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
        _PII_PHONE, "<PHONE>")
    return both.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
        clean.alias("clean_text"),
    )


_PII_PLANTED_SQL = " UNION ALL ".join(
    "SELECT {} AS doc_id, '{}' AS text".format(i, t) for i, t in _PII_PLANTED
)

ORACLE_PII_SCRUB = f"""
    WITH both_ AS (
        SELECT doc_id, text FROM documents
        UNION ALL {_PII_PLANTED_SQL})
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_PHONE}', '<PHONE>', 'g') AS clean_text
    FROM both_
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profiling — top-5 terms per source by an
    integer-exact tf-idf surrogate (tf × (N·1e6 ÷ df), floor division; log
    idf would hash-differently across engines at ulp boundaries). Shape at
    scale: one explode + two partial-aggregated groupBys; the per-word
    document-frequency table is vocabulary-sized (≪ corpus) and broadcast
    into the tf join; N arrives as a broadcast 1-row aggregate, never a
    driver collect. The top-k is a per-source window (WindowGroupLimit
    pushes the limit below the sort at scale)."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "source",
        F.explode(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).alias("word"),
    )
    tf = words.groupBy("source", "word").agg(F.count("*").cast("long").alias("tf"))
    df_ = (
        words.select("doc_id", "word").distinct()
        .groupBy("word").agg(F.count("*").cast("long").alias("df"))
    )
    n = docs.agg(F.count("*").cast("long").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "word")
        .crossJoin(F.broadcast(n))
        # integer `div` keeps the idf exact in BIGINT on both engines (the
        # double-division form loses ulps once n_docs*1e6 passes 2^53)
        .withColumn("score", (F.col("tf") * F.expr("(n_docs * 1000000) div df"))
                    .cast("long"))
    )
    win = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("word").asc())
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("source", "word", "tf", "df", "score", "rank")
    )


ORACLE_TFIDF_TOP_TERMS = """
    WITH words AS (
        SELECT doc_id, source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        FROM documents),
    tf AS (SELECT source, word, count(*) AS tf FROM words GROUP BY source, word),
    df_ AS (SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.source, tf.word,
               CAST(tf.tf AS BIGINT) AS tf,
               CAST(df_.df AS BIGINT) AS df,
               CAST(tf.tf * ((n.n_docs * 1000000) // df_.df) AS BIGINT) AS score
        FROM tf JOIN df_ USING (word) CROSS JOIN n)
    SELECT source, word, tf, df, score,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY score DESC, word ASC) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization — the 4× storage cut an ANN corpus takes
    at 100 TB: per-vector symmetric max-abs scale, codes = round(x·scale),
    plus the max reconstruction error |x − round(x·scale)/scale| that decides
    whether the quantized index can serve the cosine prefilter.

    The math is one Arrow-batched numpy ``mapInPandas`` pass — the 100-TB
    form: a narrow map with no exchange at all, each batch vectorized as a
    (rows × d) float64 matrix. Rounding is half-away-from-zero
    (``floor(|x|+0.5)·sign``), bit-matching Spark's ``F.round`` HALF_UP and
    DuckDB's ``round`` so the oracle stays exact. Codes are emitted as a
    comma-joined string (a hash-stable scalar, not ``array<int>``) so the
    row survives value-hash comparison downstream; the int8 array form at
    scale is the same bytes written as a parquet BYTE_ARRAY column."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def quant(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            mat = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            maxabs = np.abs(mat).max(axis=1)
            scale = np.where(maxabs > 0, 127.0 / np.where(maxabs > 0, maxabs, 1.0), 1.0)
            scaled = mat * scale[:, None]
            codes = np.copysign(np.floor(np.abs(scaled) + 0.5), scaled)
            max_err = np.abs(mat - codes / scale[:, None]).max(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes_str": [
                        ",".join(str(int(c)) for c in row) for row in codes
                    ],
                    "max_err": max_err,
                }
            )

    return emb.mapInPandas(
        quant, schema="vec_id long, codes_str string, max_err double"
    )


ORACLE_EMBEDDING_QUANTIZE = """
    WITH scaled AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) > 0
                    THEN 127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)))
                    ELSE 1.0 END AS scale
        FROM embeddings)
    SELECT vec_id,
           array_to_string(
               list_transform(v, x -> CAST(CAST(round(x * scale) AS INTEGER) AS VARCHAR)),
               ',') AS codes_str,
           list_max(list_transform(v, x -> abs(x - round(x * scale) / scale))) AS max_err
    FROM scaled
"""


def q_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup resolution — the corpus a training pipeline actually keeps:
    one representative document per near-dup cluster (min doc_id over the
    MinHash-LSH component, q_neardup_clusters) with the cluster size it
    absorbed. Singletons survive with n_members=1; the sum of n_members is
    the original corpus size (asserted in tests). At 100 TB this is one
    groupBy on the (doc_id, cluster_rep) labeling — fixed-size keys, no
    text in the exchange."""
    clusters = q_neardup_clusters(spark, sf_dir)
    return (
        clusters.groupBy("cluster_rep")
        .agg(F.count("*").cast("long").alias("n_members"))
        .select(F.col("cluster_rep").alias("doc_id"), "n_members")
    )


ORACLE_DEDUP_RESOLVE = f"""
    WITH RECURSIVE pairs AS ({ORACLE_MINHASH_LSH_PAIRS}),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    clusters AS (SELECT src AS doc_id, min(dst) AS cluster_rep FROM reach GROUP BY src)
    SELECT cluster_rep AS doc_id, CAST(count(*) AS BIGINT) AS n_members
    FROM clusters GROUP BY cluster_rep
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: bit b set iff the signed sum of word-hash
    bit b over all words is strictly positive."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(T.words(F.col("text"))).alias("w"))
    fp = words.select("doc_id", _word_fp(F.col("w")).alias("fp"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("fp"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(16)
    ]
    per_doc = fp.groupBy("doc_id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for b in range(16):
        sim = sim + F.when(F.col(f"s{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
    return per_doc.select("doc_id", sim.alias("simhash"))


def _simhash_oracle() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (fp >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(16)
    )
    bits = " + ".join(f"CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END" for b in range(16))
    return f"""
        SELECT doc_id, CAST({bits} AS BIGINT) AS simhash
        FROM (
            SELECT doc_id, {sums}
            FROM (SELECT doc_id, {_word_fp_sql('w')} AS fp
                  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
                        FROM documents))
            GROUP BY doc_id)
    """


ORACLE_SIMHASH = _simhash_oracle()


# 64 independent parity hashes (one per SimHash bit), deterministic seed —
# the literals are baked identically into the Spark expressions and the
# DuckDB oracle SQL, so both engines compute the same signature.
_SH_COEF = [
    (_rng.randrange(1, _MH_P), _rng.randrange(0, _MH_P))
    for _rng in [__import__("random").Random(20260817)]
    for _ in range(64)
]


def q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, banded-Hamming scale path: a 64-bit SimHash
    per document (bit j set iff the signed sum over words of parity hash j
    is strictly positive), held as four 16-bit band columns b0..b3 (never
    assembled into one long — no 2^63 sign-overflow under ANSI mode), then
    a bucket join on any equal band and an exact Hamming confirm
    ``sum(bit_count(xor(band pairs))) <= 3``.

    Unlike the probabilistic MinHash prefilter, this candidate set is
    provably LOSSLESS for the ham<=3 predicate: 3 differing bits touch at
    most 3 of the 4 bands, so one band matches exactly (pigeonhole) — the
    banded form equals the quadratic all-pairs form by construction
    (asserted in tests on the driver corpus). Signature math is all
    JVM-side codegen (explode -> 64 parity sums with map-side partial agg:
    the shuffle carries 64 longs per doc, never words). The candidate join
    reuses the skew-proof shape of q_ngram_jaccard_lsh: broadcast the tiny
    bands side, round-robin the probe side, and emit each pair only at its
    first matching band (no distinct exchange). At 100 TB the band width is
    the scale knob (wider bands = more buckets = fewer false candidates;
    the signature itself stays 8 bytes/doc — reference dedup semantics:
    J1/J3, DBUtils.py:30-35 exact-membership analog for near-identical
    text)."""
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )  # single-file scan = one partition; spread the 64-hash map side
    words = docs.select("doc_id", F.explode(T.words(F.col("text"))).alias("w"))
    fp = words.select("doc_id", (_word_fp(F.col("w")) % _MH_P).alias("fp"))
    aggs = [
        F.sum(
            F.when(
                ((F.lit(a) * F.col("fp") + F.lit(b)) % _MH_P).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"s{j}")
        for j, (a, b) in enumerate(_SH_COEF)
    ]
    per_doc = fp.groupBy("doc_id").agg(*aggs)
    band_cols = []
    for k in range(4):
        e = F.lit(0).cast("long")
        for i in range(16):
            e = e + F.when(F.col(f"s{16 * k + i}") > 0, F.lit(2 ** i)).otherwise(F.lit(0))
        band_cols.append(e.alias(f"b{k}"))
    sig = per_doc.select("doc_id", *band_cols)
    bands = sig.select(
        "*",
        F.explode(
            F.array(*[
                F.struct(F.lit(k).alias("band"), F.col(f"b{k}").alias("bucket"))
                for k in range(4)
            ])
        ).alias("bb"),
    ).select(
        "doc_id", *[f"b{k}" for k in range(4)],
        F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{k}").alias(f"a{k}") for k in range(4)],
        "band", "bucket",
    ).repartition(spark.sparkContext.defaultParallelism)
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{k}").alias(f"c{k}") for k in range(4)],
        "band", "bucket",
    )
    first_band = F.lit(None).cast("int")
    for k in reversed(range(4)):
        first_band = F.when(F.col(f"a{k}") == F.col(f"c{k}"), F.lit(k)).otherwise(first_band)
    ham = sum(
        F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"c{k}"))).cast("long")
        for k in range(4)
    )
    return (
        a.join(F.broadcast(b), ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.col("band") == first_band)
        .withColumn("ham", ham)
        .filter(F.col("ham") <= 3)
        .select("doc_a", "doc_b", "ham")
    )


def _simhash_neardup_oracle() -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (({a} * fp + {b}) % {_MH_P}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j, (a, b) in enumerate(_SH_COEF)
    )
    band_cols = ", ".join(
        "CAST("
        + " + ".join(f"CASE WHEN s{16 * k + i} > 0 THEN {2 ** i} ELSE 0 END" for i in range(16))
        + f" AS BIGINT) AS b{k}"
        for k in range(4)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {k} AS band, b{k} AS bucket, b0, b1, b2, b3 FROM sig"
        for k in range(4)
    )
    ham = " + ".join(f"CAST(bit_count(xor(a.b{k}, b.b{k})) AS BIGINT)" for k in range(4))
    return f"""
        WITH wd AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
                    FROM documents),
        fp AS (SELECT doc_id, ({_word_fp_sql('w')} % {_MH_P}) AS fp FROM wd),
        s AS (SELECT doc_id, {bit_sums} FROM fp GROUP BY doc_id),
        sig AS (SELECT doc_id, {band_cols} FROM s),
        bands AS ({bands}),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, {ham} AS ham
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, ham FROM pairs WHERE ham <= 3
    """


ORACLE_SIMHASH_NEARDUP = _simhash_neardup_oracle()


# --------------------------------------------------------------------------
# 7. Similarity search over embeddings
# --------------------------------------------------------------------------

def _cosine(a: F.Column, b: F.Column) -> F.Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    return dot / (na * nb)


def _exact_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Brute-force cosine top-k: (query_id, neighbor_id, rank) ground truth
    over any (vec_id, embedding) corpus/query pair — the intentional cross
    join every ANN scale path is judged against. Ties break by neighbor id
    (float-order-proof). Shared by the bruteforce baseline and the recall
    report so their ground-truth semantics can never drift apart."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    pairs = q.crossJoin(
        corpus.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")
        )
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn(
        "cos",
        DO.dot_expr("qe", "ne", _EMB_NDIMS)
        / (DO.vec_norm_expr("qe", _EMB_NDIMS) * DO.vec_norm_expr("ne", _EMB_NDIMS)),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for every 50th vector (the exact
    baseline ANN answer; ranks only — float-rounding-proof)."""
    emb = _t(spark, sf_dir, "embeddings")
    return _exact_topk(emb, emb.filter(F.col("vec_id") % 50 == 0))


ORACLE_ANN_BRUTEFORCE_TOPK = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
    scored AS (
        SELECT query_id, e.vec_id AS neighbor_id,
               list_dot_product(CAST(qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(qe AS DOUBLE[]), CAST(qe AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS cos
        FROM q, embeddings e WHERE e.vec_id <> query_id)
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 5
"""


# --- augmented embedding corpus with planted near-duplicate twins ----------
# The driver's embeddings table has no pair above cosine ~0.51, which made a
# ≥0.99 near-dup oracle vacuous (0 = 0 rows proves nothing). Both engines
# deterministically plant a twin for every 25th vector — same label, first
# coordinate + 0.05 (unit-norm vectors ⇒ twin cosine ≥ 0.9987, every other
# pair ≤ 0.52: both margins are huge, so the threshold is float-safe). All
# arithmetic is the identical double-precision expression on both sides.

_TWIN_STEP = 25
_TWIN_OFFSET = 100000
_TWIN_EPS = 0.05
# The driver corpus's embedding width (TESTDATA.md: array<float> of 64).
# Known width lets the cosine math run as unrolled codegen'd expressions
# (docops.dot_expr) instead of interpreted array HOFs — bit-identical floats.
_EMB_NDIMS = 64


def _aug_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    twins = emb.filter(F.col("vec_id") % _TWIN_STEP == 0).select(
        (F.col("vec_id") + _TWIN_OFFSET).alias("vec_id"),
        F.col("label").cast("long").alias("label"),
        F.concat(
            F.array(F.element_at(F.col("embedding"), 1).cast("double") + _TWIN_EPS),
            F.transform(
                F.expr("slice(embedding, 2, size(embedding) - 1)"),
                lambda x: x.cast("double"),
            ),
        ).alias("v"),
    )
    return base.unionByName(twins)


_AUG_EMB_SQL = f"""
    SELECT vec_id AS vec_id, CAST(label AS BIGINT) AS label,
           CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings
    UNION ALL
    SELECT vec_id + {_TWIN_OFFSET} AS vec_id, CAST(label AS BIGINT) AS label,
           list_value(CAST(embedding[1] AS DOUBLE) + {_TWIN_EPS})
               || CAST(embedding[2:] AS DOUBLE[]) AS v
    FROM embeddings WHERE vec_id % {_TWIN_STEP} = 0
"""


def _lsh_bucket_sql_cols(emb_expr: str) -> str:
    return ", ".join(
        f"{DO.hyperplane_bucket_sql(emb_expr, t)} AS b{t}" for t in range(DO.ANN_TABLES)
    )


_LSH_BANDS_SQL = f"""
    buckets AS (SELECT vec_id, label, v, {_lsh_bucket_sql_cols('v')} FROM aug),
    bands AS (
        {" UNION ALL ".join(f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM buckets" for t in range(DO.ANN_TABLES))}
    )
"""


def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-prefiltered: candidate
    pairs collide in ≥1 signed-hyperplane band (4 tables × 4 planes,
    operators.docops), then the exact cosine ≥ 0.99 confirm runs on
    candidates only — no quadratic block join anywhere in the plan. On the
    planted-twin corpus the LSH prefilter provably retains every true pair
    (tests assert equality with the quadratic form)."""
    # aug and its bucket projection sit on BOTH sides of the candidate join
    # and feed the vector re-join — persist the two (MB-scale, per-vector
    # rows) so the 256-term bucket expression and the augmented scan run
    # once, not four times. Session-lifetime blocks by design: the cache IS
    # what a real pipeline would keep of its corpus index between queries.
    aug = _aug_embeddings(spark, sf_dir).persist()
    bk = DO.lsh_buckets(aug.withColumnRenamed("v", "embedding")).persist()
    # Candidate generation and the band-OR distinct carry ids only (16 B/row);
    # vectors re-join by id with norms precomputed, so the exact confirm is
    # one dot product per unique candidate pair (same shuffle discipline as
    # docops.ann_lsh_topk).
    # Probe side spread round-robin so popular buckets cost volume, never
    # parallelism (the id-only build side broadcasts); same skew discipline
    # as q_ngram_jaccard_lsh.
    P = spark.sparkContext.defaultParallelism
    cand = (
        bk.select(F.col("vec_id").alias("vec_a"), "table", "bucket")
        .repartition(P)
        .join(
            F.broadcast(
                bk.select(F.col("vec_id").alias("vec_b"), "table", "bucket")
            ),
            ["table", "bucket"],
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    va = aug.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("ea"),
        DO.vec_norm_expr("v", _EMB_NDIMS).alias("na"), "label",
    )
    vb = aug.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("eb"),
        DO.vec_norm_expr("v", _EMB_NDIMS).alias("nb"),
    )
    # The pair-level dot runs at full width: candidates spread over P tasks,
    # vector lookups broadcast (per-VECTOR payload — at 100 TB this becomes
    # a shuffle join on vec_id; the pair stream still never carries vectors
    # through an exchange).
    return (
        cand.repartition(P, "vec_a")
        .join(F.broadcast(va), "vec_a")
        .join(F.broadcast(vb), "vec_b")
        .withColumn(
            "cos", DO.dot_expr("ea", "eb", _EMB_NDIMS) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos") >= 0.99)
        .select("vec_a", "vec_b", "label")
    )


ORACLE_EMBEDDING_NEARDUP_PAIRS = f"""
    WITH aug AS ({_AUG_EMB_SQL}),
    {_LSH_BANDS_SQL},
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a JOIN bands b ON a.tbl = b.tbl AND a.bucket = b.bucket
                                  AND a.vec_id < b.vec_id)
    SELECT c.vec_a, c.vec_b, va.label
    FROM cand c
    JOIN aug va ON va.vec_id = c.vec_a
    JOIN aug vb ON vb.vec_id = c.vec_b
    WHERE list_dot_product(va.v, vb.v)
          / (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v)))
          >= 0.99
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN *scale path* that actually answers an ANN query: hyperplane-LSH
    candidate generation (band-OR over 4 tables) + exact cosine re-rank +
    top-5 per query (docops.ann_lsh_topk). Queries = every 50th original
    vector; corpus = originals + planted twins, so each query has a known
    near neighbor the LSH must find (tests assert twin recall = 1.0 and
    report recall@5 vs the brute-force ground truth). The candidate join
    shuffles on (table, bucket) — bucket occupancy, not corpus², bounds the
    work at 100 TB; the cross join exists only in ann_bruteforce_topk, the
    ground-truth baseline."""
    # persist: aug feeds the bucket build on both sides plus the re-rank
    # vector joins — without it each branch re-scans parquet and re-derives
    # the twin union (same pattern as q_ann_ivf_topk).
    aug = (
        _aug_embeddings(spark, sf_dir).withColumnRenamed("v", "embedding").persist()
    )
    queries = aug.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < _TWIN_OFFSET)
    )
    return DO.ann_lsh_topk(aug, queries, k=5, n_dims=_EMB_NDIMS)


ORACLE_ANN_LSH_TOPK = f"""
    WITH aug AS ({_AUG_EMB_SQL}),
    {_LSH_BANDS_SQL},
    q AS (SELECT vec_id, v FROM aug WHERE vec_id % 50 = 0 AND vec_id < {_TWIN_OFFSET}),
    cand AS (
        SELECT DISTINCT qa.vec_id AS query_id, cb.vec_id AS neighbor_id
        FROM bands qa
        JOIN q ON q.vec_id = qa.vec_id
        JOIN bands cb ON cb.tbl = qa.tbl AND cb.bucket = qa.bucket
                      AND cb.vec_id <> qa.vec_id),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               list_dot_product(vq.v, vn.v)
               / (sqrt(list_dot_product(vq.v, vq.v)) * sqrt(list_dot_product(vn.v, vn.v))) AS cos
        FROM cand c
        JOIN aug vq ON vq.vec_id = c.query_id
        JOIN aug vn ON vn.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 5
"""


def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (scale path): 4 deterministic hyperplanes partition
    vectors into sign buckets; per bucket, count members + a centroid norm.
    At 100 TB this is the shuffle-bounded pre-filter before exact re-rank."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = 8  # use the first 8 dims for plane projections
    bucket = F.lit(0).cast("long")
    for p in range(4):
        # deterministic plane: coef_{p,d} = ((p*31 + d*17) % 13) - 6
        proj = F.lit(0.0)
        for d in range(dims):
            coef = float(((p * 31 + d * 17) % 13) - 6)
            proj = proj + F.element_at(F.col("embedding"), d + 1).cast("double") * F.lit(coef)
        bucket = bucket + F.when(proj > 0, F.lit(2 ** p)).otherwise(F.lit(0))
    return (
        emb.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_members"), F.min("vec_id").alias("min_vec_id"))
    )


def _ann_lsh_oracle() -> str:
    parts = []
    for p in range(4):
        proj = " + ".join(
            f"CAST(embedding[{d + 1}] AS DOUBLE) * ({float(((p * 31 + d * 17) % 13) - 6)})"
            for d in range(8)
        )
        parts.append(f"CASE WHEN ({proj}) > 0 THEN {2 ** p} ELSE 0 END")
    return f"""
        SELECT CAST({" + ".join(parts)} AS BIGINT) AS bucket,
               count(*) AS n_members, min(vec_id) AS min_vec_id
        FROM embeddings GROUP BY 1
    """


ORACLE_ANN_LSH_BUCKETED = _ann_lsh_oracle()


# --- IVF-Flat ANN (the second scale path named by the brief: "IVF or
# LSH-bucketed") ------------------------------------------------------------
# Coarse quantizer: a deterministic corpus sample (every 25th original,
# residue 3 — disjoint from nothing in particular, just fixed) seeds the
# centroid table, so the whole operator — assignment argmax, nprobe probe,
# exact re-rank — is expressible as one DuckDB oracle with bit-identical
# float math (same unrolled left-assoc double sums as every ANN query here).
_IVF_SEED_STEP = 25
_IVF_SEED_RESIDUE = 3


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN scale path: deterministic sample-seeded centroids
    (every 25th original vector), nearest-cell assignment via a broadcast +
    partial-agg argmax (max_by, map-side combine — the N×C scored rows never
    shuffle), nprobe=4 probed cells per query, exact cosine re-rank over the
    probed posting lists only (docops.ivf_topk). Complements ann_lsh_topk:
    cell occupancy × nprobe bounds the candidate count at 100 TB, recall is
    tuned by C and nprobe (FAISS IVF-Flat semantics). Queries = every 50th
    original vector; corpus includes the planted twins, so each query has a
    known near neighbor the probe must find (tests assert twin recall)."""
    # aug feeds five plan legs (assignment, probe, centroid seed, and both
    # re-rank vector sides) — persist it so the parquet scan + twin
    # transform runs once per corpus, not per leg (same session-lifetime
    # corpus-index caching discipline as q_embedding_neardup_pairs).
    aug = _aug_embeddings(spark, sf_dir).withColumnRenamed("v", "embedding").persist()
    centroids = aug.filter(
        (F.col("vec_id") % _IVF_SEED_STEP == _IVF_SEED_RESIDUE)
        & (F.col("vec_id") < _TWIN_OFFSET)
    ).select(F.col("vec_id").alias("cell_id"), "embedding")
    queries = aug.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < _TWIN_OFFSET)
    )
    return DO.ivf_topk(
        aug, queries, centroids, k=5, nprobe=DO.IVF_NPROBE, n_dims=_EMB_NDIMS
    )


ORACLE_ANN_IVF_TOPK = f"""
    WITH aug AS ({_AUG_EMB_SQL}),
    norms AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM aug),
    cent AS (
        SELECT vec_id AS cell_id, v AS cv, sqrt(list_dot_product(v, v)) AS cn
        FROM aug
        WHERE vec_id % {_IVF_SEED_STEP} = {_IVF_SEED_RESIDUE} AND vec_id < {_TWIN_OFFSET}),
    assign AS (
        SELECT vec_id, cell_id FROM (
            SELECT n.vec_id, c.cell_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cn) DESC,
                                c.cell_id ASC) AS rn
            FROM norms n CROSS JOIN cent c) WHERE rn = 1),
    probe AS (
        SELECT vec_id AS query_id, cell_id FROM (
            SELECT n.vec_id, c.cell_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cn) DESC,
                                c.cell_id ASC) AS rn
            FROM norms n CROSS JOIN cent c
            WHERE n.vec_id % 50 = 0 AND n.vec_id < {_TWIN_OFFSET}) WHERE rn <= {DO.IVF_NPROBE}),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probe p JOIN assign a USING (cell_id)
        WHERE a.vec_id <> p.query_id),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cos
        FROM cand c
        JOIN norms q ON q.vec_id = c.query_id
        JOIN norms n ON n.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 5
"""


# --------------------------------------------------------------------------
# 8. Multimodal metadata (binary columns; decode is a stubbed UDF path)
# --------------------------------------------------------------------------

def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary media columns with typed metadata: byte length + header
    hex of the payload (documents.text stands in for the media bytes; real
    decode lives in operators.media as a mapInPandas stub)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
        F.upper(F.hex(F.substring(F.col("text"), 1, 4))).alias("header_hex"),
    )


ORACLE_MEDIA_METADATA = """
    SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           upper(hex(substr(text, 1, 4))) AS header_hex
    FROM documents
"""


# --------------------------------------------------------------------------
# 8b. Link graph, host rank, budget allocation, shuffle export
#     (crawl-prioritization + training-export ops beyond the reference)
# --------------------------------------------------------------------------

# Deterministic host-level link graph derived from events: each event is one
# hyperlink src_host -> dst_host discovered during parsing (the engine's real
# link discovery is operators/parse.py:339-375; here the same edge shape is
# synthesized so the graph ops are oracle-checkable on the shared tables).
# 97 hosts, skew baked in by the quadratic dst term.
def _link_edges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    src = F.concat(F.lit("n"), (F.col("user_id") % 97).cast("string"))
    dst = F.concat(
        F.lit("n"), ((F.col("user_id") * 31 + F.col("event_id")) % 97).cast("string")
    )
    return (
        ev.select(src.alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


_LINK_EDGES_SQL = """
    SELECT 'n' || (user_id % 97) AS src,
           'n' || ((user_id * 31 + event_id) % 97) AS dst
    FROM events
    WHERE 'n' || (user_id % 97) <> 'n' || ((user_id * 31 + event_id) % 97)
"""


def q_link_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host link-graph degree profile: distinct out/in neighbors plus raw
    out/in link counts — the fan-out/fan-in signal a frontier uses to spot
    hubs and link farms before scheduling.

    Extends the reference's per-page link discovery
    (Facebook_group_post.py:152-155 collects hrefs per fetched page) to the
    corpus-level aggregate it never computes. Scale shape: two partial-agg
    groupBys (src, dst) — map-side combine shrinks each to one row per host
    before the exchange — then a host-keyed full outer join; no row-level
    shuffle of the edge list beyond the two aggs."""
    edges = _link_edges_df(spark, sf_dir)
    out_side = edges.groupBy("src").agg(
        F.countDistinct("dst").cast("long").alias("out_degree"),
        F.count("*").cast("long").alias("out_links"),
    )
    in_side = edges.groupBy("dst").agg(
        F.countDistinct("src").cast("long").alias("in_degree"),
        F.count("*").cast("long").alias("in_links"),
    )
    return (
        out_side.withColumnRenamed("src", "host")
        .join(in_side.withColumnRenamed("dst", "host"), "host", "full_outer")
        .select(
            "host",
            F.coalesce("out_degree", F.lit(0)).cast("long").alias("out_degree"),
            F.coalesce("out_links", F.lit(0)).cast("long").alias("out_links"),
            F.coalesce("in_degree", F.lit(0)).cast("long").alias("in_degree"),
            F.coalesce("in_links", F.lit(0)).cast("long").alias("in_links"),
        )
    )


ORACLE_LINK_GRAPH_STATS = f"""
    WITH edges AS ({_LINK_EDGES_SQL}),
    outs AS (
        SELECT src AS host,
               CAST(count(DISTINCT dst) AS BIGINT) AS out_degree,
               CAST(count(*) AS BIGINT) AS out_links
        FROM edges GROUP BY src),
    ins AS (
        SELECT dst AS host,
               CAST(count(DISTINCT src) AS BIGINT) AS in_degree,
               CAST(count(*) AS BIGINT) AS in_links
        FROM edges GROUP BY dst)
    SELECT coalesce(o.host, i.host) AS host,
           CAST(coalesce(o.out_degree, 0) AS BIGINT) AS out_degree,
           CAST(coalesce(o.out_links, 0) AS BIGINT) AS out_links,
           CAST(coalesce(i.in_degree, 0) AS BIGINT) AS in_degree,
           CAST(coalesce(i.in_links, 0) AS BIGINT) AS in_links
    FROM outs o FULL OUTER JOIN ins i ON o.host = i.host
"""


_PR_ITERS = 3
_PR_DAMP = 0.85


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level PageRank (3 fixed power iterations, damping 0.85, simplified
    form without dangling-mass redistribution: r' = 0.15 + 0.85·Σ r(u)/out(u))
    — the classic crawl-frontier prioritization signal (OPIC/PageRank ordering,
    Cho et al. 1998), feeding topk_per_host with a rank column the reference's
    strict kind-priority (Facebook_group_post.py:19-22) cannot express.

    Determinism across engines: each iteration's rank is rounded to 12 dp in
    BOTH engines, so float summation-order differences (≤1 ulp over ≤97-term
    sums) are quantized away before they can compound; the final output is
    rounded to 6 dp.

    Scale shape: the edge list is the big table — each iteration is one join
    of edges (partitioned by src) against the rank table plus one groupBy dst
    with map-side partial sums. At web scale: pre-partition edges by src once
    and reuse that co-partitioning every iteration, checkpoint ranks per
    iteration to truncate lineage; iterations are a fixed small constant so
    the plan stays bounded. Here N=97 so the rank side broadcasts."""
    # materialize the distinct edge list ONCE (localCheckpoint, the
    # neardup_clusters loop-state pattern) so every iteration reuses it
    # instead of re-running the scan+distinct through lazy lineage
    edges = _link_edges_df(spark, sf_dir).distinct().localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    e = edges.join(outdeg, "src")
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(_PR_ITERS):
        contrib = (
            e.join(F.broadcast(ranks), e["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("s"))
            .withColumnRenamed("dst", "node")
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            F.round(
                F.lit(1.0 - _PR_DAMP) + F.lit(_PR_DAMP) * F.coalesce("s", F.lit(0.0)),
                12,
            ).alias("rank"),
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _pagerank_cte() -> str:
    """Unrolled power-iteration CTE chain mirroring q_host_pagerank."""
    parts = [
        f"edges AS (SELECT DISTINCT src, dst FROM ({_LINK_EDGES_SQL}))",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src)",
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes)",
    ]
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f"""r{i} AS (
            SELECT n.node,
                   round({1.0 - _PR_DAMP} + {_PR_DAMP} * coalesce(c.s, 0), 12) AS rank
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(r.rank / o.outdeg) AS s
                FROM edges e
                JOIN outdeg o ON o.src = e.src
                JOIN {prev} r ON r.node = e.src
                GROUP BY e.dst) c ON c.node = n.node)"""
        )
        prev = f"r{i}"
    return "WITH " + ",\n    ".join(parts) + f"\n    SELECT node, round(rank, 6) AS rank FROM {prev}"


ORACLE_HOST_PAGERANK = _pagerank_cte()


def q_crawl_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-proportional per-host crawl budget: split a global fetch budget of
    100k across hosts proportionally to PageRank, floor of the exact share,
    minimum 1 fetch per known host — replacing the reference's flat
    one-request-every-SLEEP_TIME budget (settings.py:28 DOWNLOAD_DELAY) with
    the importance-weighted allocation a 10^10-URL frontier needs.

    Determinism: ranks are already 6-dp quantized; the rank sum and the
    product are rounded to 9 dp in both engines before floor so the integer
    boundary cannot flip on summation order. Scale shape: one scalar agg
    (broadcastable) + a narrow map over the rank table."""
    total_budget = 100_000
    ranks = q_host_pagerank(spark, sf_dir)
    total = ranks.agg(F.round(F.sum("rank"), 9).alias("total_rank"))
    return (
        ranks.crossJoin(F.broadcast(total))
        .select(
            "node",
            "rank",
            F.greatest(
                F.lit(1),
                F.floor(
                    F.round(
                        F.lit(float(total_budget)) * F.col("rank") / F.col("total_rank"), 9
                    )
                ),
            ).cast("long").alias("budget"),
        )
    )


ORACLE_CRAWL_BUDGET_ALLOCATION = (
    _pagerank_cte().rsplit("SELECT node", 1)[0]
    + f""", ranks AS (SELECT node, round(rank, 6) AS rank FROM r{_PR_ITERS}),
    total AS (SELECT round(sum(rank), 9) AS total_rank FROM ranks)
    SELECT node, rank,
           CAST(greatest(1, floor(round(100000.0 * rank / total_rank, 9))) AS BIGINT) AS budget
    FROM ranks, total
"""
)


def q_shuffle_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-data export: every document
    gets a content-independent pseudo-random shard (md5 of doc_id → first 8
    hex digits → int % 16) and a stable position within its shard (ordered by
    the full md5 hex). Re-running the export on the same corpus reproduces
    byte-identical shards regardless of input partitioning — the property a
    resumable 100-TB export job needs.

    Scale shape: one narrow map to compute (shard, key), then exactly one
    exchange hash-partitioned by shard with an in-partition sort — i.e. a
    single total-shuffle write, which is the theoretical minimum for a global
    shuffle; the window per shard becomes the writer's local sort. n_shards
    is the parallelism of that exchange: 16 here so the oracle output stays
    reviewable, tens of thousands at 100 TB (shards sized to the target
    output file, e.g. ~1 GB each) — nothing else in the plan changes."""
    n_shards = 16
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    hexkey = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(hexkey, 1, 8), 16, 10).cast("long") % n_shards
    )
    w = Window.partitionBy("shard").orderBy("sort_key")
    return (
        docs.withColumn("sort_key", hexkey)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos", F.col("n_chars").cast("long").alias("n_chars"))
    )


ORACLE_SHUFFLE_EXPORT = """
    WITH keyed AS (
        SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS sort_key,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS shard
        FROM documents)
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY sort_key) AS BIGINT) AS pos,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM keyed
"""


def q_anchor_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text aggregation — the classic web-graph relevance
    signal (what other pages call this page): raw/distinct anchor counts, the
    modal anchor (ties broken lexicographically, deterministic in both
    engines), and the sorted distinct-anchor list. Anchors are synthesized
    deterministically from events the same way _link_edges_df builds edges.

    Extends the reference's href collection (Facebook_group_post.py:152-155,
    which keeps only the link) with the anchor-text aggregation a ranking
    pipeline needs. Scale shape: one partial-agg groupBy (host, anchor) —
    map-side combine collapses duplicate anchors before the exchange — then a
    host-keyed groupBy + one window for the mode; the collected distinct-
    anchor list is bounded by the distinct-anchor count, not the link count."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    host = F.concat(
        F.lit("n"), ((F.col("user_id") * 31 + F.col("event_id")) % 97).cast("string")
    )
    anchor = F.concat(
        F.col("event_type"), F.lit(" v"), (F.col("event_id") % 3).cast("string")
    )
    per = (
        ev.select(host.alias("host"), anchor.alias("anchor"))
        .groupBy("host", "anchor")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.partitionBy("host").orderBy(F.desc("cnt"), F.asc("anchor"))
    top = (
        per.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "host",
            F.col("anchor").alias("top_anchor"),
            F.col("cnt").alias("top_anchor_links"),
        )
    )
    stats = per.groupBy("host").agg(
        F.sum("cnt").cast("long").alias("n_links"),
        F.count("*").cast("long").alias("n_distinct_anchors"),
        F.array_join(F.sort_array(F.collect_list("anchor")), "|").alias("anchors"),
    )
    return stats.join(top, "host").select(
        "host", "n_links", "n_distinct_anchors", "top_anchor",
        "top_anchor_links", "anchors",
    )


ORACLE_ANCHOR_TEXT_AGG = """
    WITH edges AS (
        SELECT 'n' || ((user_id * 31 + event_id) % 97) AS host,
               event_type || ' v' || (event_id % 3) AS anchor
        FROM events),
    per AS (
        SELECT host, anchor, CAST(count(*) AS BIGINT) AS cnt
        FROM edges GROUP BY host, anchor),
    stats AS (
        SELECT host,
               CAST(sum(cnt) AS BIGINT) AS n_links,
               CAST(count(*) AS BIGINT) AS n_distinct_anchors,
               string_agg(anchor, '|' ORDER BY anchor) AS anchors
        FROM per GROUP BY host),
    top AS (
        SELECT host, anchor AS top_anchor, cnt AS top_anchor_links
        FROM (SELECT *, row_number() OVER (PARTITION BY host
                                           ORDER BY cnt DESC, anchor) AS rn
              FROM per)
        WHERE rn = 1)
    SELECT s.host, s.n_links, s.n_distinct_anchors,
           t.top_anchor, t.top_anchor_links, s.anchors
    FROM stats s JOIN top t ON s.host = t.host
"""


# Deterministic WARC-style corpus (planted literals, same pattern as
# robots_parse — the testdata has no WARC documents). Simplified LF framing
# (real WARC uses CRLF); payloads must not contain the record magic — a
# documented limitation of delimiter-split parsing, the same assumption
# Common Crawl's own WET text extraction makes.
_WARC_PLANTED = [
    (1,
     "WARC/1.0\nWARC-Type: response\nWARC-Target-URI: https://a.example.com/x"
     "\nWARC-Date: 2026-01-02T03:04:05Z\nContent-Length: 11\n\nhello world\n\n"
     "WARC/1.0\nWARC-Type: response\nWARC-Target-URI: https://b.example.com/y?q=1"
     "\nWARC-Date: 2026-01-02T03:05:06Z\nContent-Length: 9\n\n<p>two</p>"),
    (2,
     "WARC/1.0\nWARC-Type: warcinfo\nContent-Length: 14\n\nisPartOf: test\n\n"
     "WARC/1.0\nWARC-Type: request\nWARC-Target-URI: https://a.example.com/x"
     "\nContent-Length: 0\n\n"),
]


def q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-record ingest — the Common-Crawl-shaped source a web-scale corpus
    actually arrives as: split concatenated records on the framing magic,
    extract the typed headers (type, target URI, date, declared length) and
    the payload. Record extraction is a narrow map over the raw blobs (one
    explode per archive file), so at 100 TB this runs scan-shaped with no
    exchange; downstream the payload column feeds the same canonicalize →
    dedup → parse pipe the crawl engine uses."""
    docs = spark.createDataFrame(_WARC_PLANTED, "warc_id long, body string")
    recs = docs.select(
        "warc_id",
        F.posexplode(F.split(F.col("body"), r"WARC/1\.0\n")).alias("rec_no", "rec"),
    ).filter(F.trim(F.col("rec")) != "")
    return recs.select(
        "warc_id",
        F.col("rec_no").cast("long").alias("rec_no"),
        F.regexp_extract(F.col("rec"), r"WARC-Type: ([^\n]+)", 1).alias("warc_type"),
        F.regexp_extract(F.col("rec"), r"WARC-Target-URI: ([^\n]+)", 1).alias("target_uri"),
        F.regexp_extract(F.col("rec"), r"Content-Length: (\d+)", 1)
        .try_cast("long").alias("content_length"),
        F.trim(F.split(F.col("rec"), r"\n\n").getItem(1)).alias("payload"),
    )


_WARC_PLANTED_SQL = " UNION ALL ".join(
    "SELECT {} AS warc_id, '{}' AS body".format(
        i, b.replace("'", "''").replace("\n", "' || chr(10) || '")
    )
    for i, b in _WARC_PLANTED
)

ORACLE_WARC_PARSE = f"""
    WITH raw AS ({_WARC_PLANTED_SQL}),
    split_ AS (
        SELECT warc_id, string_split(body, 'WARC/1.0' || chr(10)) AS parts
        FROM raw),
    recs AS (
        SELECT warc_id, i - 1 AS rec_no, parts[i] AS rec
        FROM split_, UNNEST(generate_series(1, len(parts))) AS t(i)
        WHERE trim(parts[i]) <> '')
    SELECT warc_id, CAST(rec_no AS BIGINT) AS rec_no,
           coalesce(regexp_extract(rec, 'WARC-Type: ([^\n]+)', 1), '') AS warc_type,
           coalesce(regexp_extract(rec, 'WARC-Target-URI: ([^\n]+)', 1), '') AS target_uri,
           TRY_CAST(regexp_extract(rec, 'Content-Length: (\\d+)', 1) AS BIGINT) AS content_length,
           trim(string_split(rec, chr(10) || chr(10))[2]) AS payload
    FROM recs
"""


_CMS_DEPTH = 4
_CMS_WIDTH = 1024


def q_cms_host_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketched per-host frequency next to the exact count — the
    fixed-space frequency monitor a 10^10-URL frontier keeps instead of exact
    per-host counters (the reference's counters are log-file appends,
    utils.py:12-15). The sketch is md5-hashed in both engines, so the DuckDB
    oracle verifies the ESTIMATES exactly, not just the exact counts.

    Scale shape: sketch build = explode ×depth + one partial-agg groupBy whose
    exchange is capped at depth×width rows per partition; cell tables merge
    across days/partitions by union + re-groupBy (CMS cells are additive).
    Probing joins a broadcast-sized probe list against the fixed-size cells."""
    from facebook_page_scrapy_spark.operators import sketches as SK

    keys = _t(spark, sf_dir, "events").select(
        F.concat(
            F.lit("n"), ((F.col("user_id") * 31 + F.col("event_id")) % 97).cast("string")
        ).alias("key")
    )
    cells = SK.cms_cells(keys, "key", _CMS_DEPTH, _CMS_WIDTH)
    probes = keys.distinct()
    est = SK.cms_estimate(cells, probes, "key", _CMS_DEPTH, _CMS_WIDTH)
    exact = keys.groupBy("key").agg(F.count("*").cast("long").alias("exact_count"))
    return (
        exact.join(est, "key")
        .select(F.col("key").alias("host"), "exact_count", "cms_count")
    )


def _cms_oracle() -> str:
    from facebook_page_scrapy_spark.operators.sketches import cms_hash_sql

    cell_branches = " UNION ALL ".join(
        f"SELECT {d} AS d, {cms_hash_sql('key', d, _CMS_WIDTH)} AS bucket FROM keys"
        for d in range(_CMS_DEPTH)
    )
    probe_branches = " UNION ALL ".join(
        f"SELECT key, {d} AS d, {cms_hash_sql('key', d, _CMS_WIDTH)} AS bucket FROM probes"
        for d in range(_CMS_DEPTH)
    )
    return f"""
    WITH keys AS (
        SELECT 'n' || ((user_id * 31 + event_id) % 97) AS key FROM events),
    cells AS (
        SELECT d, bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM ({cell_branches}) GROUP BY d, bucket),
    probes AS (SELECT DISTINCT key FROM keys),
    probe_cells AS ({probe_branches}),
    est AS (
        SELECT key, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_count
        FROM probe_cells p LEFT JOIN cells c ON p.d = c.d AND p.bucket = c.bucket
        GROUP BY key),
    exact AS (
        SELECT key, CAST(count(*) AS BIGINT) AS exact_count FROM keys GROUP BY key)
    SELECT e.key AS host, e.exact_count, s.cms_count
    FROM exact e JOIN est s ON e.key = s.key
"""


ORACLE_CMS_HOST_COUNTS = _cms_oracle()

_KMV_K = 256


def q_kmv_distinct_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) distinct-URL estimate next to the exact distinct count —
    the fixed-space cardinality monitor for "how many distinct canonical URLs
    has the frontier discovered". md5-hashed in both engines, so the oracle
    verifies the estimate itself. Scale shape: partial-agg distinct + a
    TakeOrderedAndProject bottom-k (k rows per partition reach the merge);
    the retained state is k 8-byte hashes however large the frontier."""
    from facebook_page_scrapy_spark.operators import sketches as SK

    urls = q_url_canonicalize(spark, sf_dir).select(F.col("url_canon").alias("key"))
    est = SK.kmv_estimate(urls, "key", _KMV_K)
    exact = urls.distinct().agg(F.count("*").cast("long").alias("exact_distinct"))
    return est.crossJoin(exact)


ORACLE_KMV_DISTINCT_URLS = f"""
    WITH cand AS ({{canon}}),
    keys AS (SELECT DISTINCT url_canon AS key FROM cand),
    hashed AS (
        SELECT DISTINCT
            CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || ''), 1, 8)) AS BIGINT) + 1 AS h
        FROM keys),
    bottom AS (SELECT h FROM hashed ORDER BY h LIMIT {_KMV_K}),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk FROM bottom),
    exact AS (SELECT CAST(count(*) AS BIGINT) AS exact_distinct FROM keys)
    SELECT CAST({_KMV_K} AS BIGINT) AS k,
           round(CASE WHEN n_kept < {_KMV_K} THEN CAST(n_kept AS DOUBLE)
                      ELSE {float(_KMV_K - 1)} / (CAST(hk AS DOUBLE) / 4294967296.0)
                 END, 3) AS distinct_estimate,
           exact_distinct
    FROM agg, exact
""".format(canon=ORACLE_URL_CANONICALIZE)


_PACK_SEQ_LEN = 2048


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing — the standard LLM-pretraining
    tokenizer step: documents are concatenated in a deterministic order
    (doc_id) into one global token stream, which is cut into fixed-length
    training sequences; each doc reports the sequence it starts in, its
    offset there, and how many sequences it spans.

    The global running token count is a distributed prefix sum —
    scheduler.distributed_row_number with a running ``sum`` as its rank:
    range-partition by doc_id, sum within each partition, add the token
    totals of all lower partitions. Same values as a global ORDER BY
    window, but no single-partition bottleneck at 100 TB — the only serial
    state is one row per partition."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", T.token_count_ws(F.col("text")).cast("long").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    cum = S.distributed_row_number(
        docs, ["doc_id"], "cum", rank_fn=lambda: F.sum("n_tokens")
    )
    start = F.col("cum") - F.col("n_tokens")
    seq_id = F.floor(start / _PACK_SEQ_LEN).cast("long")
    return cum.select(
        "doc_id",
        "n_tokens",
        seq_id.alias("seq_id"),
        (start % _PACK_SEQ_LEN).cast("long").alias("seq_offset"),
        (F.floor((F.col("cum") - 1) / _PACK_SEQ_LEN).cast("long") - seq_id + 1)
        .alias("n_seqs_spanned"),
    )


ORACLE_PACK_SEQUENCES = f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
                   AS n_tokens
        FROM documents),
    nz AS (SELECT * FROM toks WHERE n_tokens > 0),
    cumt AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        FROM nz)
    SELECT doc_id, n_tokens,
           CAST(floor((cum - n_tokens) / {_PACK_SEQ_LEN}.0) AS BIGINT) AS seq_id,
           CAST((cum - n_tokens) % {_PACK_SEQ_LEN} AS BIGINT) AS seq_offset,
           CAST(floor((cum - 1) / {_PACK_SEQ_LEN}.0) AS BIGINT)
               - CAST(floor((cum - n_tokens) / {_PACK_SEQ_LEN}.0) AS BIGINT) + 1
               AS n_seqs_spanned
    FROM cumt
"""


# Deterministic multi-line pages with boilerplate planted around content
# (same planted-literals pattern as robots_parse; the corpus documents are
# single-line and pass through the keep-filter unchanged).
_BOILER_PLANTED = [
    (1000000009001, "Home | About | Contact\nThe quick brown fox jumps over the lazy dog today.\n"
           "Subscribe to our newsletter\nThis second paragraph carries the actual article "
           "content of the page.\nCopyright 2026 Example Corp. All rights reserved."),
    (1000000009002, "Menu\nLogin\nA single real sentence with more than five words here.\n"
           "We use cookies to improve your experience"),
    (1000000009003, "Nav\nFooter"),
]

_BOILER_RE = "(?i)copyright|all rights reserved|cookie|subscribe"


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal — the trafilatura/jusText-shaped content
    extraction a crawled-page corpus runs before training: drop short lines
    (< 5 words: nav items, menus) and lines matching chrome patterns
    (copyright/cookie/subscribe), keep the rest re-joined. The reference
    ingests mbasic pages whole (Parser.py:65-69 collects all text nodes);
    this is the refinement step for general web pages.

    Scan-shaped: split + higher-order array filter + re-join, all inside
    whole-stage codegen — no explode, no shuffle, no Python. At 100 TB the
    cost is the regex/split engine on a narrow map."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = spark.createDataFrame(_BOILER_PLANTED, "doc_id long, text string")
    both = docs.unionByName(planted)
    lines = F.split(F.col("text"), "\n")
    # "real words" = alphabetic tokens of >= 2 chars, so nav separators
    # ("Home | About | Contact") don't inflate the count
    is_content = lambda l: (  # noqa: E731
        F.size(F.filter(F.split(l, " "), lambda x: x.rlike("^[A-Za-z]{2,}$"))) >= 5
    ) & ~l.rlike(_BOILER_RE)
    kept = F.filter(lines, is_content)
    return both.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, "\n").alias("content"),
    )


_BOILER_PLANTED_SQL = " UNION ALL ".join(
    "SELECT {} AS doc_id, '{}' AS text".format(
        i, t.replace("'", "''").replace("\n", "' || chr(10) || '")
    )
    for i, t in _BOILER_PLANTED
)

ORACLE_BOILERPLATE_STRIP = f"""
    WITH both_ AS (
        SELECT doc_id, text FROM documents
        UNION ALL {_BOILER_PLANTED_SQL}),
    split_ AS (
        SELECT doc_id, string_split(text, chr(10)) AS lines FROM both_),
    kept AS (
        SELECT doc_id, lines,
               list_filter(lines, l ->
                   len(list_filter(string_split(l, ' '),
                                   x -> regexp_matches(x, '^[A-Za-z]{{2,}}$'))) >= 5
                   AND NOT regexp_matches(l, '{_BOILER_RE}')) AS keep
        FROM split_)
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(keep) AS BIGINT) AS n_kept,
           coalesce(array_to_string(keep, chr(10)), '') AS content
    FROM kept
"""


def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive revisit scheduling — the freshness policy a continuous crawl
    needs (Cho & Garcia-Molina 2000): per URL, estimate the change rate from
    its fetch history and set the next revisit interval inversely to it,
    clamped to [1h, 168h]. The reference refetches everything unconditionally
    on each run (Facebook_group_cmt.py:110 re-reads all posts); this replaces
    that with the per-URL schedule a 10^10-URL frontier requires.

    History is synthesized from events (each event = one observation of
    url u<event_id % 1499>; 'changed' = value above its threshold).
    Integer-exact formula: interval_h = clamp(24·n_fetches ÷ (4·n_changes+1))
    — pure partial-agg groupBy + narrow map, no window, no float."""
    ev = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % 1499).alias("url_id"),
        F.unix_timestamp(F.col("ts")).alias("ts_epoch"),
        (F.col("value") > 500.0).cast("int").alias("changed"),
    )
    agg = ev.groupBy("url_id").agg(
        F.count("*").cast("long").alias("n_fetches"),
        F.sum("changed").cast("long").alias("n_changes"),
        F.max("ts_epoch").alias("last_fetch_epoch"),
    )
    interval = F.greatest(
        F.lit(1),
        F.least(
            F.lit(168),
            F.floor((F.lit(24) * F.col("n_fetches")) / (F.lit(4) * F.col("n_changes") + 1)),
        ),
    ).cast("long")
    return agg.select(
        "url_id", "n_fetches", "n_changes",
        interval.alias("interval_hours"),
        (F.col("last_fetch_epoch") + interval * 3600).cast("long").alias("next_fetch_epoch"),
    )


ORACLE_RECRAWL_SCHEDULE = """
    WITH obs AS (
        SELECT event_id % 1499 AS url_id,
               -- floor, not round: Spark's timestamp->long cast truncates
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
               CASE WHEN value > 500.0 THEN 1 ELSE 0 END AS changed
        FROM events),
    agg AS (
        SELECT url_id,
               CAST(count(*) AS BIGINT) AS n_fetches,
               CAST(sum(changed) AS BIGINT) AS n_changes,
               max(ts_epoch) AS last_fetch_epoch
        FROM obs GROUP BY url_id)
    SELECT url_id, n_fetches, n_changes,
           CAST(greatest(1, least(168, (24 * n_fetches) // (4 * n_changes + 1)))
                AS BIGINT) AS interval_hours,
           CAST(last_fetch_epoch
                + greatest(1, least(168, (24 * n_fetches) // (4 * n_changes + 1))) * 3600
                AS BIGINT) AS next_fetch_epoch
    FROM agg
"""


_SESSION_GAP_S = 1800


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization — group each user's events into sessions split
    at >30-min inactivity gaps, the standard sessionizing pass over crawl/user
    logs (the batch twin of Structured Streaming's session windows). Per
    session: ordinal, event count, start/end epoch, duration.

    Shape: two windows partitioned by user_id (lag to flag gap starts, running
    sum to number sessions) + one partial-agg groupBy — all partitioned by the
    same user_id key, so at 100 TB it is one exchange reused by every stage;
    no global window anywhere. Ties broken by event_id for determinism."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id"),
        F.unix_timestamp(F.col("ts")).alias("ts_epoch"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_epoch", "event_id")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            (F.col("ts_epoch") - F.lag("ts_epoch").over(w)) > _SESSION_GAP_S, 1
        ).otherwise(0),
    )
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn(
        "session_seq", (F.sum("new_sess").over(wc) + 1).cast("long")
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("ts_epoch").alias("start_epoch"),
        F.max("ts_epoch").alias("end_epoch"),
        (F.max("ts_epoch") - F.min("ts_epoch")).alias("duration_s"),
    )


ORACLE_SESSIONIZE = f"""
    WITH ev AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
        FROM events),
    flagged AS (
        SELECT *,
               CASE WHEN ts_epoch - lag(ts_epoch) OVER
                        (PARTITION BY user_id ORDER BY ts_epoch, event_id)
                        > {_SESSION_GAP_S}
                    THEN 1 ELSE 0 END AS new_sess
        FROM ev),
    sess AS (
        SELECT *,
               CAST(sum(new_sess) OVER
                   (PARTITION BY user_id ORDER BY ts_epoch, event_id
                    ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) AS session_seq
        FROM flagged)
    SELECT user_id, session_seq,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts_epoch) AS start_epoch,
           max(ts_epoch) AS end_epoch,
           max(ts_epoch) - min(ts_epoch) AS duration_s
    FROM sess GROUP BY user_id, session_seq
"""


_CONTAM_N = 13  # n-gram width, the standard benchmark-decontamination window

# Planted benchmark items (>= 13 words each) and two planted corpus docs —
# one embedding benchmark item 1's window verbatim, one clean — so the
# oracle row set is non-vacuous regardless of the generated corpus.
_BENCH_ITEMS = [
    (1, "the quick brown fox jumps over the lazy dog while the cat watches quietly from afar"),
    (2, "in a hole in the ground there lived a hobbit not a nasty dirty wet hole"),
]
_CONTAM_DOCS = [
    (1000000009101, "prefix words here the quick brown fox jumps over the lazy dog while "
           "the cat watches quietly and more trailing text"),
    (1000000009102, "a perfectly clean document about something else entirely with many distinct words"),
]


def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag corpus documents sharing any 13-gram
    with an eval-benchmark item (the standard n-gram contamination test run
    before training). Distinct from split_leakage (near-dup ACROSS split
    halves): this is exact n-gram overlap against a tiny external set.

    Scale shape: the benchmark side is small by definition — its exploded
    13-gram set BROADCASTS; the corpus side is one scan that explodes each
    doc's 13-grams into a hash-join probe (ids + 13-gram only, never full
    text in the exchange... there is no exchange: broadcast join + partial-agg
    count). At 100 TB the cost is the corpus scan, which is the floor."""
    docs = (
        _t(spark, sf_dir, "documents").select("doc_id", "text")
        .unionByName(spark.createDataFrame(_CONTAM_DOCS, "doc_id long, text string"))
    )
    bench = spark.createDataFrame(_BENCH_ITEMS, "bench_id long, text string")

    def grams(df, idc):
        w = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        n_grams = F.size(w) - F.lit(_CONTAM_N - 1)
        # sequence(1, n) is DESCENDING for n < 1 — guard short docs with an
        # explicit empty array, matching generate_series(1, 0) = [] in the oracle
        idx = F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams)).otherwise(
            F.array().cast("array<int>")
        )
        return df.select(
            idc,
            F.explode(
                F.transform(idx, lambda i: F.array_join(F.slice(w, i, _CONTAM_N), " "))
            ).alias("gram"),
        )

    bgrams = grams(bench, "bench_id").distinct()
    dgrams = grams(docs, "doc_id")
    hits = dgrams.join(F.broadcast(bgrams), "gram")
    return hits.groupBy("doc_id", "bench_id").agg(
        F.count("*").cast("long").alias("n_shared_grams")
    )


_BENCH_ITEMS_SQL = " UNION ALL ".join(
    f"SELECT {i} AS bench_id, '{t}' AS text" for i, t in _BENCH_ITEMS
)
_CONTAM_DOCS_SQL = " UNION ALL ".join(
    f"SELECT {i} AS doc_id, '{t}' AS text" for i, t in _CONTAM_DOCS
)

ORACLE_BENCHMARK_CONTAMINATION = f"""
    WITH docs AS (
        SELECT doc_id, text FROM documents UNION ALL {_CONTAM_DOCS_SQL}),
    bench AS ({_BENCH_ITEMS_SQL}),
    dg AS (
        SELECT doc_id, gram FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS w
            FROM docs),
            UNNEST(list_transform(
                generate_series(1, greatest(0, len(w) - {_CONTAM_N - 1})),
                i -> array_to_string(w[i:i+{_CONTAM_N - 1}], ' '))) AS t(gram)),
    bg AS (
        SELECT DISTINCT bench_id, gram FROM (
            SELECT bench_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS w
            FROM bench),
            UNNEST(list_transform(
                generate_series(1, greatest(0, len(w) - {_CONTAM_N - 1})),
                i -> array_to_string(w[i:i+{_CONTAM_N - 1}], ' '))) AS t(gram))
    SELECT dg.doc_id, bg.bench_id, CAST(count(*) AS BIGINT) AS n_shared_grams
    FROM dg JOIN bg ON dg.gram = bg.gram
    GROUP BY dg.doc_id, bg.bench_id
"""


# Deterministic fetched-page headers/bodies (planted literals; the corpus
# has no HTML-head documents). Covers the precedence chain a fetcher needs:
# Content-Type header charset > meta charset > meta http-equiv > default.
_SNIFF_PLANTED = [
    (1, "text/html; charset=ISO-8859-1",
     "<html><head><meta charset=\"utf-8\"><title>A</title></head><body>x</body></html>"),
    (2, "text/html",
     "<html><head><meta http-equiv=\"Content-Type\" content=\"text/html; charset=windows-1252\">"
     "</head><body>y</body></html>"),
    (3, "application/json", "{\"k\": 1}"),
    (4, "", "<html><head><meta charset='utf-8'></head><body></body></html>"),
    (5, "text/plain; charset=us-ascii", "plain body, no markup"),
]


def q_content_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-type + charset resolution for fetched pages — the decode
    decision the fetch sink makes before parsing (the reference assumes
    Facebook's UTF-8 everywhere, Facebook_group_post.py:179-185 writes
    response.text raw; a general crawler cannot). Precedence: charset in the
    Content-Type header > <meta charset> > <meta http-equiv Content-Type>,
    default utf-8; mime is the header's media type, text/html sniffed from
    the body when the header is absent.

    Pure regexp narrow map over (header, body) — scan-shaped, codegen'd, no
    exchange; runs inline in the fetch stage at any scale."""
    pages = spark.createDataFrame(
        _SNIFF_PLANTED, "page_id long, content_type string, body string"
    )
    hdr_charset = F.regexp_extract(F.col("content_type"), r"(?i)charset=([A-Za-z0-9_\-]+)", 1)
    meta_charset = F.regexp_extract(F.col("body"), r"(?i)<meta\s+charset=[\"']?([A-Za-z0-9_\-]+)", 1)
    meta_equiv = F.regexp_extract(
        F.col("body"), r"(?i)http-equiv=[\"']?content-type[\"']?\s+content=[\"'][^\"']*charset=([A-Za-z0-9_\-]+)", 1
    )
    mime_hdr = F.trim(F.regexp_extract(F.col("content_type"), r"^([^;]+)", 1))
    looks_html = F.col("body").rlike(r"(?i)^\s*<(!doctype|html)")
    return pages.select(
        "page_id",
        F.when(mime_hdr != "", mime_hdr)
        .when(looks_html, F.lit("text/html"))
        .otherwise(F.lit("application/octet-stream"))
        .alias("mime"),
        F.lower(
            F.when(hdr_charset != "", hdr_charset)
            .when(meta_charset != "", meta_charset)
            .when(meta_equiv != "", meta_equiv)
            .otherwise(F.lit("utf-8"))
        ).alias("charset"),
    )


_SNIFF_PLANTED_SQL = " UNION ALL ".join(
    "SELECT {} AS page_id, '{}' AS content_type, '{}' AS body".format(
        i, h.replace("'", "''"), b.replace("'", "''")
    )
    for i, h, b in _SNIFF_PLANTED
)

ORACLE_CONTENT_SNIFF = f"""
    WITH pages AS ({_SNIFF_PLANTED_SQL}),
    x AS (
        SELECT page_id,
               coalesce(regexp_extract(content_type, '(?i)charset=([A-Za-z0-9_\\-]+)', 1), '') AS hdr_cs,
               coalesce(regexp_extract(body, '(?i)<meta\\s+charset=["'']?([A-Za-z0-9_\\-]+)', 1), '') AS meta_cs,
               coalesce(regexp_extract(body, '(?i)http-equiv=["'']?content-type["'']?\\s+content=["''][^"'']*charset=([A-Za-z0-9_\\-]+)', 1), '') AS equiv_cs,
               trim(coalesce(regexp_extract(content_type, '^([^;]+)', 1), '')) AS mime_hdr,
               regexp_matches(body, '(?i)^\\s*<(!doctype|html)') AS looks_html
        FROM pages)
    SELECT page_id,
           CASE WHEN mime_hdr <> '' THEN mime_hdr
                WHEN looks_html THEN 'text/html'
                ELSE 'application/octet-stream' END AS mime,
           lower(CASE WHEN hdr_cs <> '' THEN hdr_cs
                      WHEN meta_cs <> '' THEN meta_cs
                      WHEN equiv_cs <> '' THEN equiv_cs
                      ELSE 'utf-8' END) AS charset
    FROM x
"""


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data pipeline as ONE DataFrame chain — what a user
    of this engine actually runs over a crawled corpus: near-dup resolution
    (keep one per MinHash-LSH cluster) → quality gate (langid == lang AND
    quality score above floor) → deterministic split → per-split summary
    (docs, tokens, total chars). Every stage is individually oracle-checked
    by its own catalog entry (dedup_resolve, quality_score, langid,
    dataset_split, token_counts); this composition is the integration
    surface, reported per (split, lang).

    Plan shape: the LSH cluster labeling is the only multi-exchange part;
    the survivors join is id-keyed; the gates and split are narrow maps; the
    final rollup is one partial-agg groupBy on a 6-value key."""
    docs = _t(spark, sf_dir, "documents")
    survivors = q_dedup_resolve(spark, sf_dir).select("doc_id", "n_members")
    kept = docs.join(survivors, "doc_id")
    gated = kept.filter(
        (T.langid(F.col("text")) == F.col("lang"))
        & (T.quality_score_e6(F.col("text")) >= 100_000)
    )
    b = ((F.col("doc_id") % 1000003) * 31 + 7) % 100
    split = (
        F.when(b < 90, F.lit("train")).when(b < 95, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        gated.select(
            split.alias("split"),
            F.col("lang"),
            T.token_count_ws(F.col("text")).cast("long").alias("n_tokens"),
            F.col("n_chars").cast("long").alias("n_chars"),
            "n_members",
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_members").cast("long").alias("n_absorbed"),
        )
    )


def _corpus_pipeline_oracle() -> str:
    # reuse the dedup_resolve recursive-CTE chain up to `clusters`, then
    # graft the survivors/gates/rollup on top
    prefix = ORACLE_DEDUP_RESOLVE.rsplit("SELECT cluster_rep", 1)[0].rstrip().rstrip(",")
    return f"""{prefix},
    survivors AS (
        SELECT cluster_rep AS doc_id, CAST(count(*) AS BIGINT) AS n_members
        FROM clusters GROUP BY cluster_rep),
    lang_of AS ({ORACLE_LANGID}),
    qual AS ({ORACLE_QUALITY_SCORE})
    SELECT CASE WHEN {_SPLIT_EXPR_SQL} < 90 THEN 'train'
                WHEN {_SPLIT_EXPR_SQL} < 95 THEN 'val'
                ELSE 'test' END AS split,
           d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(list_filter(string_split(d.text, ' '), x -> x <> '')))
                AS BIGINT) AS total_tokens,
           CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
           CAST(sum(s.n_members) AS BIGINT) AS n_absorbed
    FROM documents d
    JOIN survivors s USING (doc_id)
    JOIN lang_of l USING (doc_id)
    JOIN qual q USING (doc_id)
    WHERE l.langid = d.lang AND q.quality_e6 >= 100000
    GROUP BY 1, 2
"""


ORACLE_CORPUS_PIPELINE = _corpus_pipeline_oracle()


# --------------------------------------------------------------------------
# 9. Engine-native entries. Their inputs are NOT the parquet corpus but a
#    seed-pinned synthetic site (datagen.make_site(seed=42)), so the DuckDB
#    oracle cannot recompute them from the registered views — instead each
#    gets a pinned-golden VALUES oracle: the engine's output, generated by
#    tools/gen_goldens.py, verified identical at local[4] and local[32],
#    and frozen as a literal relation. Same idea as the pytest golden
#    fixtures, but in the driver's hard-evidence correctness channel (the
#    engine must reproduce the pinned rows bit-exactly in the driver's own
#    environment). tests/ §5.2 parity vs the pure-Python simulator remains
#    the independent semantic check.
# --------------------------------------------------------------------------


def _values_oracle(rows: list, cols: list[tuple[str, str]]) -> str:
    """Render a pinned-golden oracle as `SELECT ... FROM (VALUES ...)`.

    ``cols`` is [(name, duckdb_type), ...] in the Spark output's column
    order; every cell is CAST so the pandas dtypes the driver hashes match
    Spark's exactly (the suffix_ranks HUGEINT→float64 lesson)."""

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return repr(v)

    values = ",\n        ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in rows
    )
    names = ", ".join(f'"{n}"' for n, _ in cols)
    sel = ", ".join(f'CAST("{n}" AS {t}) AS "{n}"' for n, t in cols)
    return (
        f"SELECT {sel}\n    FROM (VALUES\n        {values}\n    ) AS g({names})"
    )


# Fetch log of the full engine loop on the seed-42 site: 2 seed groups in
# round 2 (round 1 seeds the frontier), then per-group posts + the ?bacr=
# next-page links in round 3, then page-2 posts in round 4.
_GOLDEN_CRAWL_END_TO_END = [
    (2, 1, "https://mbasic.facebook.com/groups/g42000"),
    (2, 2, "https://mbasic.facebook.com/groups/g42001"),
    (3, 1, "https://mbasic.facebook.com/groups/g42000/permalink/1000000000/?refid=18"),
    (3, 2, "https://mbasic.facebook.com/groups/g42000/permalink/1000000001/?refid=18"),
    (3, 3, "https://mbasic.facebook.com/groups/g42001/permalink/2000000000/?refid=18"),
    (3, 4, "https://mbasic.facebook.com/groups/g42001/permalink/2000000001/?refid=18"),
    (3, 5, "https://mbasic.facebook.com/groups/g42000?bacr=page1&refid=18"),
    (3, 6, "https://mbasic.facebook.com/groups/g42001?bacr=page1&refid=18"),
    (4, 1, "https://mbasic.facebook.com/groups/g42000/permalink/1000001000/?refid=18"),
    (4, 2, "https://mbasic.facebook.com/groups/g42000/permalink/1000001001/?refid=18"),
    (4, 3, "https://mbasic.facebook.com/groups/g42001/permalink/2000001000/?refid=18"),
    (4, 4, "https://mbasic.facebook.com/groups/g42001/permalink/2000001001/?refid=18"),
]

ORACLE_CRAWL_END_TO_END = _values_oracle(
    _GOLDEN_CRAWL_END_TO_END,
    [("round", "BIGINT"), ("rank", "INTEGER"), ("url_canon", "VARCHAR")],
)


def q_crawl_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full crawl on a deterministic synthetic site: seeds → canonicalize
    → bloom dedup → politeness dispatch → fetch → parse → frontier union →
    snapshot; returns the fetch log (round, rank, url)."""
    import tempfile

    from facebook_page_scrapy_spark import datagen
    from facebook_page_scrapy_spark.crawl import CrawlEngine
    from facebook_page_scrapy_spark.operators.fetch import CorpusFetcher

    site = datagen.make_site(n_groups=2, pages_per_group=2, posts_per_page=2, seed=42)
    _, corpus = datagen.site_to_dataframes(spark, site)
    with tempfile.TemporaryDirectory() as tmp:
        eng = CrawlEngine(spark, tmp, CorpusFetcher(corpus), default_tokens=100, use_bloom=True,
                          n_bloom_shards=4)
        eng.seed(site.seeds)
        eng.run(max_rounds=12)
        log = eng.store.read(spark, "fetch_log")
        rows = log.select("round", "rank", "url_canon").collect()
    return spark.createDataFrame(rows, "round long, rank int, url_canon string")


# The input_hint invariant (span-sequence equality: kind, text, media_ref,
# order) pinned over the seed-42 site's 8 posts — 34 ordered spans.
_GOLDEN_SPAN_EXTRACTION = [
    ("post:1000000000", 0, "text", "nay noi binh xem nhat", ""),
    ("post:1000000000", 1, "text", "cam ban moi cam luan ban xuc", ""),
    ("post:1000000000", 2, "text", "tin nhat ban nong bai chia cong them cap anh chu", ""),
    ("post:1000000001", 0, "text", "se chu trang tin binh tin dung binh tin tin nay", ""),
    ("post:1000000001", 1, "media", "", "https://cdn.example/g42000_1000000001_1.jpg"),
    ("post:1000000001", 2, "text", "se nhom viet dong chu cap anh", ""),
    ("post:1000000001", 3, "text", "nhat nhat cam binh nhom", ""),
    ("post:1000000001", 4, "text", "nhat anh trang anh hom video dung tin luan", ""),
    ("post:1000001000", 0, "media", "", "https://cdn.example/g42000_1000001000_0.jpg"),
    ("post:1000001000", 1, "media", "", "https://cdn.example/g42000_1000001000_1.jpg"),
    ("post:1000001000", 2, "media", "", "https://cdn.example/g42000_1000001000_2.jpg"),
    ("post:1000001000", 3, "text", "nhom dung cam chia viet video luan hom cap nhat chia", ""),
    ("post:1000001001", 0, "media", "", "https://cdn.example/g42000_1000001001_0.jpg"),
    ("post:1000001001", 1, "text", "luan xem dung cap", ""),
    ("post:2000000000", 0, "media", "", "https://cdn.example/g42001_2000000000_0.jpg"),
    ("post:2000000000", 1, "media", "", "https://cdn.example/g42001_2000000000_1.jpg"),
    ("post:2000000000", 2, "text", "anh xuc chia", ""),
    ("post:2000000000", 3, "text", "ban xem nhat se bai moi cong chia cong hom", ""),
    ("post:2000000000", 4, "text", "nong dong tin cong", ""),
    ("post:2000000001", 0, "text", "moi ban ban chia nong", ""),
    ("post:2000000001", 1, "text", "chia xem nhom nhat bai binh noi cap binh xuc", ""),
    ("post:2000000001", 2, "text", "chu dong tin", ""),
    ("post:2000000001", 3, "text", "chia chia video", ""),
    ("post:2000000001", 4, "text", "anh chu nay tin viet luan", ""),
    ("post:2000000001", 5, "text", "bai nhat hom nay cong bai binh xem ban tin xem dung", ""),
    ("post:2000001000", 0, "text", "bai nong se nhat dong se cam tin", ""),
    ("post:2000001000", 1, "text", "nong bai noi", ""),
    ("post:2000001000", 2, "text", "luan hom cap cong tin dong chu", ""),
    ("post:2000001000", 3, "media", "", "https://cdn.example/g42001_2000001000_3.jpg"),
    ("post:2000001000", 4, "text", "nong nong se nay", ""),
    ("post:2000001001", 0, "text", "cap chu nay xem nhat", ""),
    ("post:2000001001", 1, "text", "chu chia xem se bai", ""),
    ("post:2000001001", 2, "text", "ban tin nhat ban", ""),
    ("post:2000001001", 3, "text", "viet bai them nong viet", ""),
]

ORACLE_SPAN_EXTRACTION = _values_oracle(
    _GOLDEN_SPAN_EXTRACTION,
    [
        ("doc_id", "VARCHAR"),
        ("span_idx", "BIGINT"),
        ("kind", "VARCHAR"),
        ("text", "VARCHAR"),
        ("media_ref", "VARCHAR"),
    ],
)


def q_span_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input_hint invariant surface: parse rendered post HTML into ordered
    (kind, text, media_ref, offset) spans via the Arrow-batched extractor."""
    from facebook_page_scrapy_spark import datagen
    from facebook_page_scrapy_spark.operators import parse as P

    site = datagen.make_site(n_groups=2, pages_per_group=2, posts_per_page=2, seed=42)
    _, corpus = datagen.site_to_dataframes(spark, site)
    posts = corpus.filter(F.col("url").rlike("/permalink/"))
    parsed = posts.select("doc_id", "url", "html").mapInPandas(
        P.posts_from_html, P.POST_OUT_SCHEMA
    )
    return (
        parsed.select("doc_id", F.posexplode("spans").alias("span_idx", "span"))
        .select(
            "doc_id",
            F.col("span_idx").cast("long").alias("span_idx"),
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.media_ref").alias("media_ref"),
        )
        .orderBy("doc_id", "span_idx")
    )


def q_media_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing: binary payloads through the mapInPandas
    decode stub (deterministic fake features; real codecs are gated). The
    doc_id < 200 subset is deterministic (a bare limit() is
    partition-order-dependent) so the md5-arithmetic oracle can replay the
    exact row set."""
    from facebook_page_scrapy_spark.operators import media as M

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return M.decode_features(
        docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("media_bytes"))
    )


def q_media_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize plumbing: aspect-preserving fit-to-224 over binary
    payloads via mapInPandas (real geometry; stubbed pixel resample).
    Deterministic doc_id < 200 subset — see q_media_decode_stub."""
    from facebook_page_scrapy_spark.operators import media as M

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return M.resize_images(
        docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("media_bytes")),
        max_side=224,
    )


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plumbing: each binary payload fans out to 4
    evenly spaced pseudo-frames via mapInPandas (UDTF shape; stubbed codec).
    Deterministic doc_id < 100 subset — see q_media_decode_stub."""
    from facebook_page_scrapy_spark.operators import media as M

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.sample_frames(
        docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("media_bytes")),
        n_frames=4,
    )


def _md5_hexbyte_sql(h: str, pos: int) -> str:
    """SQL for byte ``pos`` (0-based) of an md5 hex string ``h`` — two hex
    chars decoded via instr over the hex alphabet (DuckDB has no hex→int
    cast; instr is 1-based, hence the -1s)."""
    i = 2 * pos + 1
    return (
        f"((instr('0123456789abcdef', substr({h}, {i}, 1)) - 1) * 16"
        f" + instr('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
    )


# The media stubs' fake decode is md5-derived arithmetic (operators/media.py
# _decode_payload), so the oracles are exact: DuckDB's md5(VARCHAR) hashes
# the same UTF-8 bytes Spark's encode(text) feeds the Python stub. The
# jpeg/png magic prefixes are unreachable from UTF-8 text, so only the
# ASCII-representable RIFF/GIF8 sniffs are mirrored.
_MEDIA_SNIFF_SQL = """CASE WHEN starts_with(text, 'RIFF') THEN 'riff'
                WHEN starts_with(text, 'GIF8') THEN 'gif'
                ELSE 'unknown' END"""

ORACLE_MEDIA_DECODE_STUB = f"""
    WITH p AS (SELECT doc_id, text, md5(text) AS h
               FROM documents WHERE doc_id < 200)
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           {_MEDIA_SNIFF_SQL} AS format,
           CAST(16 + {_md5_hexbyte_sql('h', 0)} % 240 AS INTEGER) AS width,
           CAST(16 + {_md5_hexbyte_sql('h', 1)} % 240 AS INTEGER) AS height,
           substr(h, 1, 16) AS feat_hash,
           TRUE AS ok
    FROM p
"""

ORACLE_MEDIA_RESIZE_STUB = f"""
    WITH p AS (SELECT doc_id, text, md5(text) AS h
               FROM documents WHERE doc_id < 200),
    dims AS (SELECT doc_id, text,
                    CAST(16 + {_md5_hexbyte_sql('h', 0)} % 240 AS INTEGER) AS ow,
                    CAST(16 + {_md5_hexbyte_sql('h', 1)} % 240 AS INTEGER) AS oh
             FROM p),
    fit AS (SELECT doc_id, text, ow, oh,
                   CASE WHEN greatest(ow, oh) <= 224 THEN ow
                        ELSE greatest(1, (ow * 224) // greatest(ow, oh)) END AS w,
                   CASE WHEN greatest(ow, oh) <= 224 THEN oh
                        ELSE greatest(1, (oh * 224) // greatest(ow, oh)) END AS h
            FROM dims)
    SELECT doc_id,
           ow AS orig_width, oh AS orig_height,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           substr(md5(text || ':' || CAST(w AS VARCHAR) || 'x'
                      || CAST(h AS VARCHAR)), 1, 16) AS resized_hash,
           TRUE AS ok
    FROM fit
"""

ORACLE_MEDIA_FRAME_SAMPLE = f"""
    WITH p AS (SELECT doc_id, text, md5(text) AS h
               FROM documents WHERE doc_id < 100),
    dur AS (SELECT doc_id, text,
                   1000 + ({_md5_hexbyte_sql('h', 2)} * 65536
                           + {_md5_hexbyte_sql('h', 3)} * 256
                           + {_md5_hexbyte_sql('h', 4)}) % 59000 AS duration_ms
            FROM p),
    fr AS (SELECT unnest(generate_series(0, 3)) AS i)
    SELECT d.doc_id,
           CAST(fr.i AS INTEGER) AS frame_idx,
           CAST((d.duration_ms * fr.i) // 4 AS BIGINT) AS ts_ms,
           substr(md5(d.text || ':frame' || CAST(fr.i AS VARCHAR)), 1, 16)
               AS frame_hash,
           TRUE AS ok
    FROM dur d CROSS JOIN fr
"""


# --------------------------------------------------------------------------
# 6d. Exact-substring duplicate spans, corpus mixing, classifier filters
# --------------------------------------------------------------------------
# The substring-level dedup family ("Deduplicating Training Data Makes
# Language Models Better" runs a suffix array; at Spark scale the standard
# re-expression is rolling-hash n-gram windows — same duplicated-span
# signal, embarrassingly parallel). Grams are 16-word windows hashed with a
# modular polynomial (base 131, mod 2^31-1, the MinHash word-fp arithmetic)
# so only 8-byte hashes ever cross an exchange; a production run would use a
# 128-bit hash for collision headroom, the plan shape is identical.

_DUP_N = 16
_DUP_POW = [pow(131, _DUP_N - 1 - k, _MH_P) for k in range(_DUP_N)]


def _doc_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, gram_hash) for every 16-word window of every document.

    Token fingerprints are the shared MinHash word fp (JVM codegen); the
    window hash is 16 ``lead()`` terms over one (doc_id, pos) window — a
    single exchange on doc_id, then narrow. Each term is reduced mod P
    before summing (16 terms < 2^35, no BIGINT overflow); trailing windows
    shorter than 16 words hash to NULL via lead() and are dropped.
    """
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", T.words(F.col("text")).alias("ws")
    )
    tok = docs.select("doc_id", F.posexplode("ws").alias("pos", "w"))
    fp = tok.select("doc_id", "pos", (_word_fp(F.col("w")) % _MH_P).alias("fp"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    gh = F.lit(0).cast("long")
    for k, c in enumerate(_DUP_POW):
        term = (F.lead("fp", k).over(win) if k else F.col("fp")) * F.lit(c) % _MH_P
        gh = gh + term
    return fp.select(
        "doc_id", "pos", (gh % _MH_P).alias("gram_hash")
    ).filter(F.col("gram_hash").isNotNull())


def _doc_grams_sql() -> str:
    terms = " + ".join(
        (f"fp * {c} % {_MH_P}" if k == 0 else f"lead(fp, {k}) OVER win * {c} % {_MH_P}")
        for k, c in enumerate(_DUP_POW)
    )
    return f"""
        w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
              FROM documents),
        tok AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS wd FROM w),
        fpt AS (SELECT doc_id, pos, ({_word_fp_sql('wd')} % {_MH_P}) AS fp FROM tok),
        gr AS (SELECT doc_id, pos, ({terms}) % {_MH_P} AS gram_hash
               FROM fpt WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
    """


def q_duplicate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated 16-word spans: every gram hash seen in ≥2
    distinct documents, with its occurrence count and first carrier. This is
    the discovery half of exact-substring dedup; the shuffle carries
    (hash, doc_id) pairs only, never text."""
    grams = _doc_grams(spark, sf_dir)
    return (
        grams.groupBy("gram_hash")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


ORACLE_DUPLICATE_NGRAMS = f"""
    WITH {_doc_grams_sql()}
    SELECT gram_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occ,
           min(doc_id) AS first_doc
    FROM gr WHERE gram_hash IS NOT NULL
    GROUP BY gram_hash HAVING count(DISTINCT doc_id) >= 2
"""


def q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring coverage — the filter column an
    exact-substring dedup pipeline actually thresholds on (drop docs whose
    text is mostly spans that also appear elsewhere). coverage_e6 =
    floor(1e6 · dup_grams / grams); docs shorter than one window get 0.

    Plan: ONE pass over the gram stream (the naive groupBy-then-join form
    recomputes the window-heavy gram derivation twice): occurrences collapse
    to (doc_id, gram_hash, occ) with a partial agg, the distinct-doc count
    per gram is a count() window over gram_hash on that already-deduped
    table, and the per-doc rollup weights by occ. Every exchange keys on the
    8-byte hash (or doc_id); document text never shuffles."""
    grams = _doc_grams(spark, sf_dir)
    per_doc_gram = grams.groupBy("doc_id", "gram_hash").agg(
        F.count(F.lit(1)).alias("occ")
    )
    nd_win = Window.partitionBy("gram_hash")
    per = (
        per_doc_gram.withColumn("nd", F.count(F.lit(1)).over(nd_win))
        .groupBy("doc_id")
        .agg(
            F.sum("occ").alias("g"),
            F.sum(F.when(F.col("nd") >= 2, F.col("occ")).otherwise(0)).alias("d"),
        )
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("g", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("d", F.lit(0)).cast("long").alias("n_dup"),
        )
        .withColumn(
            "coverage_e6",
            F.when(
                F.col("n_grams") > 0,
                F.expr("(1000000 * n_dup) div n_grams"),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )


ORACLE_DUP_SPAN_COVERAGE = f"""
    WITH {_doc_grams_sql()},
    nd AS (SELECT gram_hash, count(DISTINCT doc_id) AS nd
           FROM gr WHERE gram_hash IS NOT NULL GROUP BY gram_hash),
    per AS (SELECT g.doc_id, count(*) AS n_grams,
                   sum(CASE WHEN nd.nd >= 2 THEN 1 ELSE 0 END) AS n_dup
            FROM gr g JOIN nd ON g.gram_hash = nd.gram_hash
            GROUP BY g.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(per.n_dup, 0) AS BIGINT) AS n_dup,
           CAST(CASE WHEN coalesce(per.n_grams, 0) > 0
                     THEN (1000000 * per.n_dup) // per.n_grams
                     ELSE 0 END AS BIGINT) AS coverage_e6
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


_QC_DIM = 64
_QC_MULT = 2654435761  # Knuth multiplicative constant; doc_id/bucket spreading


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A fastText-shaped linear quality classifier: hash every token into 64
    feature buckets, dot with a fixed deterministic weight vector, keep docs
    with positive score. Stands in for the learned quality filters (e.g.
    CCNet/C4-style model scoring) with the exact distributed plan a real one
    uses — explode → codegen'd hash → map-side partial sum — while staying
    integer-exact for the cross-engine oracle. Swapping in learned weights
    is a broadcast lookup, not a plan change."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", T.words(F.col("text")).alias("ws")
    )
    tok = docs.select("doc_id", F.explode("ws").alias("w"))
    bucket = (_word_fp(F.col("w")) % _MH_P) % _QC_DIM
    weight = bucket * F.lit(_QC_MULT) % 1997 - 998
    per = tok.select("doc_id", weight.alias("wt")).groupBy("doc_id").agg(
        F.sum("wt").alias("s")
    )
    base = _t(spark, sf_dir, "documents").select("doc_id")
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("s", F.lit(0)).cast("long").alias("score"),
        F.when(F.coalesce("s", F.lit(0)) > 0, 1).otherwise(0).cast("long").alias("keep"),
    )


ORACLE_QUALITY_CLASSIFIER = f"""
    WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents),
    tok AS (SELECT doc_id, unnest(ws) AS wd FROM w),
    sc AS (SELECT doc_id,
                  sum((({_word_fp_sql('wd')} % {_MH_P}) % {_QC_DIM}) * {_QC_MULT} % 1997 - 998) AS s
           FROM tok GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(sc.s, 0) AS BIGINT) AS score,
           CAST(CASE WHEN coalesce(sc.s, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
"""


def q_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source mixing weights — the reproducible weighted
    subsample a training mix needs (keep source s with probability w_s,
    decided by a doc_id hash, never by rand()). The weights dim is a
    broadcast join; the keep decision is a narrow map, so the sample is
    shuffle-free and stable under re-runs and re-sharding. At real corpus
    scale the doc_id multiply becomes xxhash64 to stay in range; arithmetic
    here is kept in BIGINT for the cross-engine oracle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    weights = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            (F.lit(50000) + (_word_fp(F.col("source")) % _MH_P) % 900001)
            .cast("long")
            .alias("weight_ppm"),
        )
    )
    u = F.col("doc_id") * F.lit(_QC_MULT) % 1000000
    return (
        docs.join(F.broadcast(weights), "source")
        .select(
            "doc_id",
            "source",
            "weight_ppm",
            u.cast("long").alias("u"),
            F.when(u < F.col("weight_ppm"), 1).otherwise(0).cast("long").alias("kept"),
        )
    )


ORACLE_SOURCE_MIXING = f"""
    WITH wt AS (SELECT source,
                       CAST(50000 + ({_word_fp_sql('source')} % {_MH_P}) % 900001 AS BIGINT)
                           AS weight_ppm
                FROM (SELECT DISTINCT source FROM documents))
    SELECT d.doc_id, d.source, wt.weight_ppm,
           CAST(d.doc_id * {_QC_MULT} % 1000000 AS BIGINT) AS u,
           CAST(CASE WHEN d.doc_id * {_QC_MULT} % 1000000 < wt.weight_ppm
                     THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM documents d JOIN wt ON d.source = wt.source
"""


def q_domain_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level quality rollup — the RefinedWeb-style move of filtering
    whole domains, not documents: aggregate the per-doc quality_e6 heuristic
    by source and flag sources whose floor-average falls under 0.6. One
    partial-agg exchange on the (low-cardinality) source key; the per-doc
    score itself is a narrow map."""
    docs = _t(spark, sf_dir, "documents")
    q = docs.select("source", T.quality_score_e6(F.col("text")).alias("q"))
    agg = q.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("q").cast("long").alias("sum_quality_e6"),
    )
    avg = F.expr("sum_quality_e6 div n_docs")
    return agg.select(
        "source",
        "n_docs",
        "sum_quality_e6",
        avg.cast("long").alias("avg_quality_e6"),
        F.when(avg < 600000, 1).otherwise(0).cast("long").alias("low_quality"),
    )


ORACLE_DOMAIN_QUALITY_ROLLUP = f"""
    WITH q AS ({ORACLE_QUALITY_SCORE}),
    j AS (SELECT d.source, q.quality_e6 FROM documents d JOIN q ON d.doc_id = q.doc_id),
    a AS (SELECT source, count(*) AS n_docs, sum(quality_e6) AS sum_q
          FROM j GROUP BY source)
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(sum_q AS BIGINT) AS sum_quality_e6,
           CAST(sum_q // n_docs AS BIGINT) AS avg_quality_e6,
           CAST(CASE WHEN sum_q // n_docs < 600000 THEN 1 ELSE 0 END AS BIGINT)
               AS low_quality
    FROM a
"""


def q_doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: containment |A∩B|/|A| ≥ 0.9 — catches a short
    doc embedded inside a longer one, which symmetric Jaccard misses
    (|A∩B|/|A∪B| dilutes as |B| grows, so a MinHash-LSH gate whose collision
    probability tracks Jaccard misses exactly these pairs).

    Candidate generation is exact PREFIX FILTERING (the AllPairs/PPJoin
    move): if cont_a ≥ 0.9 then at most ⌊0.1·|A|⌋ of A's words are missing
    from B, so A's ⌊0.1·|A|⌋+1 globally-rarest words must overlap B —
    joining each doc's rarest-word prefix against the full word postings
    provably generates every qualifying pair (both directions), and the
    rare-word postings bound the candidate volume on any Zipfian vocabulary.
    Because recall is exactly 1.0, the oracle is the plain quadratic form —
    the driver's value-hash comparison PROVES the prefilter lost nothing,
    rather than sharing its blind spots. (This synthetic corpus's ~31-word
    vocabulary is the prefix filter's worst case — postings are dense and
    candidates approach quadratic here — but the plan shape is the scalable
    one for real word distributions.)"""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(T.words(F.col("text"))).alias("wset")
    )
    tok = docs.select(
        "doc_id", F.size("wset").alias("sz"), F.explode("wset").alias("w")
    )
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    ranked = tok.join(F.broadcast(dfreq), "w")
    wnd = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("w").asc())
    prefix = ranked.withColumn("rn", F.row_number().over(wnd)).filter(
        F.col("rn") <= F.expr("sz div 10 + 1")
    )
    cand = (
        prefix.select(F.col("doc_id").alias("pa"), "w")
        .join(tok.select(F.col("doc_id").alias("pb"), "w"), "w")
        .filter(F.col("pa") != F.col("pb"))
        .select(
            F.least("pa", "pb").alias("doc_a"),
            F.greatest("pa", "pb").alias("doc_b"),
        )
        .distinct()
    )
    wa = docs.select(F.col("doc_id").alias("doc_a"), F.col("wset").alias("wa"))
    wb = docs.select(F.col("doc_id").alias("doc_b"), F.col("wset").alias("wb"))
    inter = F.size(F.array_intersect(F.col("wa"), F.col("wb"))).cast("double")
    pairs = cand.join(wa, "doc_a").join(wb, "doc_b")
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.round(inter / F.size("wa"), 6).alias("cont_a"),
            F.round(inter / F.size("wb"), 6).alias("cont_b"),
        )
        .filter((F.col("cont_a") >= 0.9) | (F.col("cont_b") >= 0.9))
    )


# The oracle is deliberately the QUADRATIC ground truth (not the prefix
# filter mirrored): equality proves the prefilter's recall is exactly 1.0.
ORACLE_DOC_CONTAINMENT = """
    WITH w AS (SELECT doc_id,
                      list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS wset
               FROM documents),
    s AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 round(CAST(len(list_filter(a.wset, x -> list_contains(b.wset, x))) AS DOUBLE)
                       / len(a.wset), 6) AS cont_a,
                 round(CAST(len(list_filter(a.wset, x -> list_contains(b.wset, x))) AS DOUBLE)
                       / len(b.wset), 6) AS cont_b
          FROM w a JOIN w b ON a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, cont_a, cont_b FROM s
    WHERE cont_a >= 0.9 OR cont_b >= 0.9
"""


def q_lm_score_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality proxy (the CCNet/KenLM perplexity-filter
    shape, integer-exact): per document, the average corpus bigram
    probability P(w2|w1) of its bigrams in micro-units. Fluent/common text
    scores high; shuffled or boilerplate-noise text scores low.

    Plan: ONE window pass builds the bigram stream, collapsed immediately to
    (doc_id, bigram, occ); the corpus bigram counts roll up FROM that table,
    the prefix total is a sum() window over w1 on the already-tiny count
    table, and the probability join input is bounded by distinct bigrams per
    doc, not token count. The (doc, bigram, occ) table fans out to two
    consumers — in this stateless catalog form Catalyst re-derives it per
    consumer; a 100-TB pipeline materializes it once (persist / table write)
    and both the count rollup and the probability join read the
    materialization. A learned LM would replace the probability table with a
    broadcast lookup — same plan."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", T.words(F.col("text")).alias("ws")
    )
    tok = docs.select("doc_id", F.posexplode("ws").alias("pos", "w"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    bg = tok.select(
        "doc_id",
        F.col("w").alias("w1"),
        F.lead("w", 1).over(win).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    dbg = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("occ"))
    cb = dbg.groupBy("w1", "w2").agg(F.sum("occ").alias("c2"))
    probs = cb.withColumn(
        "c1", F.sum("c2").over(Window.partitionBy("w1"))
    ).select("w1", "w2", F.expr("(1000000 * c2) div c1").alias("p_e6"))
    per = (
        dbg.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("occ").alias("nb"),
            F.sum(F.col("occ") * F.col("p_e6")).alias("sump"),
        )
    )
    base = _t(spark, sf_dir, "documents").select("doc_id")
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("nb", F.lit(0)).cast("long").alias("n_bigrams"),
        F.when(F.coalesce("nb", F.lit(0)) > 0, F.expr("sump div nb"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("lm_score_e6"),
    )


ORACLE_LM_SCORE_PROXY = """
    WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents),
    tok AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS wd FROM w),
    bgn AS (SELECT * FROM (
                SELECT doc_id, wd AS w1,
                       lead(wd) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
                FROM tok)
            WHERE w2 IS NOT NULL),
    cb AS (SELECT w1, w2, count(*) AS c2 FROM bgn GROUP BY w1, w2),
    cp AS (SELECT w1, sum(c2) AS c1 FROM cb GROUP BY w1),
    pr AS (SELECT cb.w1, cb.w2, (1000000 * cb.c2) // cp.c1 AS p_e6
           FROM cb JOIN cp ON cb.w1 = cp.w1),
    db AS (SELECT doc_id, w1, w2, count(*) AS occ FROM bgn GROUP BY doc_id, w1, w2),
    per AS (SELECT doc_id, sum(occ) AS nb, sum(occ * p_e6) AS sump
            FROM db JOIN pr ON db.w1 = pr.w1 AND db.w2 = pr.w2
            GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(per.nb, 0) AS BIGINT) AS n_bigrams,
           CAST(CASE WHEN coalesce(per.nb, 0) > 0 THEN per.sump // per.nb
                     ELSE 0 END AS BIGINT) AS lm_score_e6
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH ANN path against the exact answer, per query —
    the metric an ANN index is actually judged by, as a first-class
    oracle-checked output instead of only a pytest assertion. Both sides run
    on the same twin-augmented corpus; the exact side is the brute-force
    re-rank (ground truth), the LSH side is ``ann_lsh_topk``'s plan.

    Expected magnitude: planted twins (the genuinely-near neighbors) are
    found at recall 1.0 (tests/test_dedup_suite.py); the *average* recall@5
    here is ~0.58 at the default 4-tables × 4-planes config because on a
    uniform-random corpus the exact "top-5" are barely-correlated vectors an
    LSH is designed to skip. More tables/probes buys recall linearly in
    candidate volume — that trade is the knob this report exists to tune."""
    # persist: aug feeds ~6 plan branches here (LSH buckets on both sides,
    # the re-rank vector joins, and both sides of the exact cross join) —
    # without it each branch re-scans parquet and re-derives the twin union.
    aug = (
        _aug_embeddings(spark, sf_dir).withColumnRenamed("v", "embedding").persist()
    )
    queries = aug.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < _TWIN_OFFSET)
    )
    lsh = DO.ann_lsh_topk(aug, queries, k=5, n_dims=_EMB_NDIMS).select(
        "query_id", "neighbor_id"
    )
    exact = _exact_topk(aug, queries).select("query_id", "neighbor_id")
    n_exact = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = (
        exact.join(lsh, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        n_exact.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
        )
        .withColumn("recall_e6", F.expr("(1000000 * n_hit) div n_exact").cast("long"))
    )


ORACLE_ANN_RECALL_REPORT = f"""
    WITH lsh AS ({ORACLE_ANN_LSH_TOPK}),
    aug AS ({_AUG_EMB_SQL}),
    q AS (SELECT vec_id, v FROM aug WHERE vec_id % 50 = 0 AND vec_id < {_TWIN_OFFSET}),
    scored AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS cos
        FROM q JOIN aug n ON n.vec_id <> q.vec_id),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id ASC) AS rn
            FROM scored)
        WHERE rn <= 5),
    e AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id),
    h AS (SELECT exact.query_id, count(*) AS n_hit
          FROM exact JOIN lsh ON lsh.query_id = exact.query_id
                             AND lsh.neighbor_id = exact.neighbor_id
          GROUP BY exact.query_id)
    SELECT e.query_id,
           CAST(e.n_exact AS BIGINT) AS n_exact,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST((1000000 * coalesce(h.n_hit, 0)) // e.n_exact AS BIGINT) AS recall_e6
    FROM e LEFT JOIN h ON e.query_id = h.query_id
"""


def q_url_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL template mining — the crawler's spider-trap / infinite-space
    detector: fold digit runs in the (scheme+host)-stripped, fragment-free
    URL to a template, count concrete URLs per template, and flag templates
    whose URL count explodes (calendar pages, session-id paths, pagination
    mills). One partial-agg exchange on the template string; at real scale
    the group key is (host, template) so hot sites don't serialize."""
    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    rest = F.substring_index(
        F.regexp_replace(_messy_url_col(), r"^https://[^/]+", ""), "#", 1
    )
    t = ev.select(
        F.col("event_id"),
        rest.alias("rest"),
        F.regexp_replace(rest, r"[0-9]+", "{d}").alias("template"),
    )
    return t.groupBy("template").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.countDistinct("rest").cast("long").alias("n_distinct"),
        F.min("event_id").alias("first_seq"),
    ).withColumn(
        "trap",
        F.when(F.col("n_urls") > 100, 1).otherwise(0).cast("long"),
    )


ORACLE_URL_TEMPLATE_MINING = (
    "WITH m AS (" + _MESSY_URL_SQL + "),\n"
    "t AS (SELECT event_id,\n"
    "             split_part(regexp_replace(url, '^https://[^/]+', ''), '#', 1) AS rest\n"
    "      FROM m)\n"
    "SELECT regexp_replace(rest, '[0-9]+', '{d}', 'g') AS template,\n"
    "       CAST(count(*) AS BIGINT) AS n_urls,\n"
    "       CAST(count(DISTINCT rest) AS BIGINT) AS n_distinct,\n"
    "       min(event_id) AS first_seq,\n"
    "       CAST(CASE WHEN count(*) > 100 THEN 1 ELSE 0 END AS BIGINT) AS trap\n"
    "FROM t GROUP BY regexp_replace(rest, '[0-9]+', '{d}', 'g')"
)


def _rank_share_curve(
    per: DataFrame, key_col: str, count_col: str, cum_alias: str,
    limit: int | None = None,
) -> DataFrame:
    """Shared rank / share_e6 / cumulative-share window block used by
    frontier_skew_report and vocab_coverage: the input is already aggregated
    to one row per key (dim-sized), so the single-partition window is fine;
    swap it for scheduler.distributed_row_number (rank and running sum) if
    the key cardinality ever outgrows one task. Integer micro-units (e6 +
    div) keep the curve bit-identical cross-engine."""
    w = Window.orderBy(F.col(count_col).desc(), F.col(key_col).asc())
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy()
    out = per.select(
        key_col,
        count_col,
        F.row_number().over(w).cast("long").alias("rank"),
        F.sum(count_col).over(cum).alias("_c"),
        F.sum(count_col).over(tot).alias("_t"),
    )
    if limit is not None:
        out = out.filter(F.col("rank") <= limit)
    return out.select(
        key_col,
        count_col,
        "rank",
        F.expr(f"(1000000 * {count_col}) div _t").cast("long").alias("share_e6"),
        F.expr("(1000000 * _c) div _t").cast("long").alias(cum_alias),
    )


def _rank_share_sql(src: str, key: str, cnt: str, cum_alias: str,
                    limit: int | None = None) -> str:
    """DuckDB mirror of _rank_share_curve (keeps the two oracles in sync)."""
    qual = f"\n    QUALIFY rank <= {limit}" if limit is not None else ""
    return f"""
    SELECT {key}, CAST({cnt} AS BIGINT) AS {cnt},
           CAST(row_number() OVER (ORDER BY {cnt} DESC, {key} ASC) AS BIGINT) AS rank,
           CAST((1000000 * {cnt}) // sum({cnt}) OVER () AS BIGINT) AS share_e6,
           CAST((1000000 * sum({cnt}) OVER (ORDER BY {cnt} DESC, {key} ASC
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                // sum({cnt}) OVER () AS BIGINT) AS {cum_alias}
    FROM {src}{qual}
"""


def q_frontier_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier skew report — the diagnostic behind the salting/budget
    decisions: per-host URL counts with share and cumulative share of the
    whole frontier, ranked hottest-first. The per-host agg is the only
    data-sized exchange; rank + running sum operate on the host table
    (rows = #hosts) via the shared _rank_share_curve block."""
    fr = _frontier_df(spark, sf_dir)
    per = fr.groupBy("host").agg(F.count(F.lit(1)).cast("long").alias("n_urls"))
    return _rank_share_curve(per, "host", "n_urls", "cum_share_e6")


ORACLE_FRONTIER_SKEW_REPORT = f"""
    WITH frontier AS ({_FRONTIER_SQL}),
    per AS (SELECT host, count(*) AS n_urls FROM frontier GROUP BY host)
    {_rank_share_sql("per", "host", "n_urls", "cum_share_e6")}
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-design question "how much
    of the corpus do the top-k terms cover": term frequencies ranked
    hottest-first with share and cumulative share of all token occurrences,
    top 50. The explode→count is one partial-agg exchange; rank/cumsum run
    on the term table (rows = vocab size), where
    scheduler.distributed_row_number replaces the single-partition window
    once the vocabulary outgrows one task. Ties break lexicographically so the curve
    is deterministic cross-engine."""
    docs = _t(spark, sf_dir, "documents").select(T.words(F.col("text")).alias("ws"))
    tf = (
        docs.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return _rank_share_curve(tf, "w", "n", "cum_coverage_e6", limit=50)


ORACLE_VOCAB_COVERAGE = f"""
    WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
                 FROM documents),
    tf AS (SELECT w, count(*) AS n FROM tok GROUP BY w)
    {_rank_share_sql("tf", "w", "n", "cum_coverage_e6", limit=50)}
"""


def q_span_interleave_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleave profile of the span table (input_hint's multimodal shape):
    per document, text/media span counts, kind alternations, and the text
    share — the mix statistics an interleaved-corpus curriculum is balanced
    on. One lag() window and the final groupBy share the doc_id key with the
    span build's exchange, so the whole chain repartitions once."""
    spans = _built_spans(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("span_idx")
    fl = spans.withColumn("prev_kind", F.lag("kind").over(w))
    return (
        fl.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.when(F.col("kind") == "text", 1).otherwise(0))
            .cast("long")
            .alias("n_text"),
            F.sum(F.when(F.col("kind") == "media", 1).otherwise(0))
            .cast("long")
            .alias("n_media"),
            F.sum(
                F.when(
                    F.col("prev_kind").isNotNull()
                    & (F.col("prev_kind") != F.col("kind")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_alternations"),
        )
        .withColumn(
            "text_ratio_e6", F.expr("(1000000 * n_text) div n_spans").cast("long")
        )
    )


ORACLE_SPAN_INTERLEAVE_STATS = f"""
    WITH {_SPAN_BUILD_SQL},
    fl AS (
        SELECT doc_id, kind,
               lag(kind) OVER (PARTITION BY doc_id ORDER BY span_idx) AS pk
        FROM spans)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
           CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
           CAST(sum(CASE WHEN pk IS NOT NULL AND pk <> kind THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alternations,
           CAST((1000000 * sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS text_ratio_e6
    FROM fl GROUP BY doc_id
"""


# --- SemDeDup: cluster-bounded semantic dedup ------------------------------
# SemDeDup (Abbas et al. 2023): cluster the embedding corpus with a coarse
# quantizer, then search for semantic duplicates only WITHIN each cluster —
# the published fix for embedding dedup's quadratic blowup. The centroid
# table reuses the IVF coarse quantizer (every 25th original vector), so the
# assignment plan (broadcast + max_by partial agg) is shared machinery.

_SEMDEDUP_TAU = 0.95  # twins sit at cos ≥ 0.9987, random pairs ≤ 0.52


def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup, cluster-bounded: assign every vector to its
    nearest coarse-quantizer centroid (broadcast + ``max_by`` partial agg —
    the N×C scored rows never shuffle, same discipline as
    ``docops.ivf_topk``), then drop any vector whose cosine to a LOWER-id
    vector in the SAME cell is ≥ 0.95; survivors are the pruned corpus.
    The within-cell pair join is the point of the design: cell occupancy
    (corpus/C on average), not corpus², bounds the pairwise work — at 100 TB
    C scales with the corpus so occupancy stays constant and the quadratic
    term never materializes. Pair streams carry ids only; vectors re-join
    by id for the one-dot-per-pair confirm."""
    aug = _aug_embeddings(spark, sf_dir).withColumnRenamed("v", "embedding").persist()
    centroids = aug.filter(
        (F.col("vec_id") % _IVF_SEED_STEP == _IVF_SEED_RESIDUE)
        & (F.col("vec_id") < _TWIN_OFFSET)
    ).select(F.col("vec_id").alias("cell_id"), "embedding")
    cent = centroids.select(
        "cell_id",
        F.col("embedding").alias("ce"),
        DO.vec_norm_expr("embedding", _EMB_NDIMS).alias("cn"),
    )
    base = aug.select(
        "vec_id", "embedding", DO.vec_norm_expr("embedding", _EMB_NDIMS).alias("vn")
    )
    assigned = (
        base.crossJoin(F.broadcast(cent))
        .withColumn(
            "cos", DO.dot_expr("embedding", "ce", _EMB_NDIMS) / (F.col("vn") * F.col("cn"))
        )
        .groupBy("vec_id")
        .agg(F.expr("max_by(cell_id, struct(cos, -cell_id))").alias("cell_id"))
        .persist()
    )
    P = spark.sparkContext.defaultParallelism
    # Within-cell candidate pairs (ids only, 16 B/row); the id-only build
    # side broadcasts, the probe side spreads round-robin so a dense cell
    # costs volume, never parallelism.
    cand = (
        assigned.select(F.col("vec_id").alias("vec_a"), "cell_id")
        .repartition(P)
        .join(
            F.broadcast(assigned.select(F.col("vec_id").alias("vec_b"), "cell_id")),
            "cell_id",
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
    )
    va = base.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("vn").alias("na"),
    )
    vb = base.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        F.col("vn").alias("nb"),
    )
    drops = (
        cand.join(F.broadcast(va), "vec_a")
        .join(F.broadcast(vb), "vec_b")
        .withColumn(
            "cos", DO.dot_expr("ea", "eb", _EMB_NDIMS) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos") >= _SEMDEDUP_TAU)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return assigned.join(drops, "vec_id", "left_anti").select("vec_id", "cell_id")


ORACLE_SEMDEDUP_PRUNE = f"""
    WITH aug AS ({_AUG_EMB_SQL}),
    base AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vn FROM aug),
    cent AS (
        SELECT vec_id AS cell_id, v AS ce, sqrt(list_dot_product(v, v)) AS cn
        FROM aug
        WHERE vec_id % {_IVF_SEED_STEP} = {_IVF_SEED_RESIDUE} AND vec_id < {_TWIN_OFFSET}),
    assigned AS (
        SELECT vec_id, cell_id FROM (
            SELECT b.vec_id, c.cell_id,
                   row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY list_dot_product(b.v, c.ce) / (b.vn * c.cn) DESC,
                                c.cell_id ASC) AS rn
            FROM base b CROSS JOIN cent c) WHERE rn = 1),
    drops AS (
        SELECT DISTINCT pb.vec_id
        FROM assigned pa
        JOIN assigned pb ON pa.cell_id = pb.cell_id AND pa.vec_id < pb.vec_id
        JOIN base ba ON ba.vec_id = pa.vec_id
        JOIN base bb ON bb.vec_id = pb.vec_id
        WHERE list_dot_product(ba.v, bb.v) / (ba.vn * bb.vn) >= {_SEMDEDUP_TAU})
    SELECT a.vec_id, a.cell_id
    FROM assigned a ANTI JOIN drops d ON a.vec_id = d.vec_id
"""


# --- BM25 keyword retrieval -------------------------------------------------
# The retrieval half of a corpus pipeline: given a fixed query-term set,
# score documents with BM25 (k1=1.2, b=0.75) and return the top 10. The idf
# is the transcendental-free Robertson ratio (N - df + 0.5)/(df + 0.5) and
# every per-term contribution is quantized to integer micro-units BEFORE the
# per-doc sum, so the aggregate is order-free and bit-identical cross-engine
# (same discipline as tfidf_top_terms / lm_score_proxy).

_BM25_TERMS = ("vector", "hash", "spark")
_BM25_K1 = "1.2"
_BM25_B = "0.75"


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval over the documents corpus for a fixed query.
    Shape at scale: tf is filtered to query terms BEFORE any exchange (the
    per-doc-term table is query-sized, not vocabulary-sized); df and the
    corpus stats (N, avgdl) are broadcast terms-sized/1-row aggregates; the
    global top-10 is orderBy+limit = TakeOrderedAndProject, k rows per
    partition reach the driver-side merge. Self-contained form re-derives
    tokens per leg (4 scans at sf — PLANS.md); a real deployment maintains
    tf/df/dl as the incrementally-updated inverted index and runs ONLY the
    scoring join, whose shape is identical from the tf table down."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("w"),
    )
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    stats = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs")).crossJoin(
        words.agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    )
    tf = (
        words.filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    k1, b = _BM25_K1, _BM25_B
    contrib = (
        tf.join(F.broadcast(df_), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        # identical double-op order as the oracle text: idf ratio, tf
        # saturation with dl/avgdl length norm, ×1e6, floor(+0.5)
        .withColumn(
            "contrib_micro",
            F.expr(
                f"CAST(FLOOR((((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
                f" / (CAST(df AS DOUBLE) + 0.5))"
                f" * ((CAST(tf AS DOUBLE) * ({k1} + 1.0))"
                f" / (CAST(tf AS DOUBLE) + {k1} * (1.0 - {b} + {b}"
                f" * (CAST(dl AS DOUBLE) / (CAST(n_tokens AS DOUBLE)"
                f" / CAST(n_docs AS DOUBLE))))))) * 1000000.0 + 0.5) AS BIGINT)"
            ),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.sum("contrib_micro").cast("long").alias("score_micro")
    )
    top = scored.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc()).limit(10)
    w10 = Window.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w10).cast("long"))


ORACLE_BM25_SEARCH = f"""
    WITH words AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM words GROUP BY doc_id),
    stats AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
               (SELECT CAST(count(*) AS BIGINT) FROM words) AS n_tokens),
    tf AS (
        SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        FROM words WHERE w IN {_BM25_TERMS!r}
        GROUP BY doc_id, w),
    df_ AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
    contrib AS (
        SELECT tf.doc_id,
               CAST(FLOOR((((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                 / (CAST(df AS DOUBLE) + 0.5))
                 * ((CAST(tf AS DOUBLE) * ({_BM25_K1} + 1.0))
                 / (CAST(tf AS DOUBLE) + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B}
                 * (CAST(dl AS DOUBLE) / (CAST(n_tokens AS DOUBLE)
                 / CAST(n_docs AS DOUBLE))))))) * 1000000.0 + 0.5) AS BIGINT)
                 AS contrib_micro
        FROM tf JOIN df_ USING (w) JOIN dl USING (doc_id) CROSS JOIN stats),
    scored AS (
        SELECT doc_id, CAST(sum(contrib_micro) AS BIGINT) AS score_micro
        FROM contrib GROUP BY doc_id)
    SELECT doc_id, score_micro,
           CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT)
               AS rank
    FROM scored
    QUALIFY rank <= 10
"""


# --------------------------------------------------------------------------
# suffix ranks — distributed prefix doubling (exact-substring dedup, the
# Lee et al. 2022 "Deduplicating Training Data" suffix-array path)
# --------------------------------------------------------------------------

_SA_HORIZON = 32  # compare the first 32 tokens of each suffix (5 doublings)
_SA_FULL_CAP = 256  # fixpoint mode asserts all ranks distinct by this horizon
_SA_BASE = 8  # direct rank over the first 8 tokens before doubling starts
_SA_BASE_FULL = 16  # fixpoint mode: wider pivot skips one full rank round
#   (A/B sf0.1 interleaved: 16 beat 8 in both fixpoint reps, ~11%; the
#   32-horizon cut showed no gain, so q_suffix_ranks keeps _SA_BASE=8 and
#   its smaller base exchange)


def _token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(gpos, doc_id, fp): the corpus as one global token stream —
    documents concatenated in doc_id order, token identity the same 8-char
    polynomial fingerprint the MinHash family uses. A doc's first position
    is its exclusive running token count: scheduler.distributed_row_number
    with a running ``sum`` as the rank, minus the doc's own count; no
    global window anywhere."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", T.words(F.col("text")).alias("ws"))
        .withColumn("n", F.size("ws").cast("long"))
        .filter(F.col("n") > 0)
    )
    start = S.distributed_row_number(
        docs, ["doc_id"], "cum", rank_fn=lambda: F.sum("n")
    ).withColumn("st", F.col("cum") - F.col("n"))
    stream = start.select(
        "doc_id", "st", F.posexplode("ws").alias("pos", "wd")
    ).select(
        (F.col("st") + F.col("pos")).cast("long").alias("gpos"),
        "doc_id",
        (_word_fp(F.col("wd")) % _MH_P).alias("fp"),
    ).localCheckpoint(eager=True)
    return stream


def q_suffix_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array construction by distributed prefix doubling — the core
    of suffix-array exact-substring dedup (Lee et al. 2022): every corpus
    position gets the dense rank of its suffix among all suffixes of the
    concatenated token stream, compared to a 32-token horizon (ties beyond
    the horizon share a rank; the full suffix array is the same loop run
    until all ranks are distinct — identical plan shape, more rounds).

    Round k: each position joins the rank of the position k ahead
    (equi-join on gpos, missing → -1 so shorter suffixes sort first,
    exactly DuckDB's prefix-shorter-first list ordering), then takes a
    distributed dense_rank over the (r, r+k) pair. Every round's rank
    table is a fixed-width (gpos, doc_id, rank) exchange — token text
    appears in no shuffle after the fingerprint map. The loop starts from
    a direct rank over the first EIGHT tokens (shift-explode + pivot —
    one 8n-row exchange re-assembles every position's window; see the
    loop body) so the horizon needs log2(32/8) = 2 doubling rounds
    instead of 5 — each rank pass costs a range exchange plus a pinned
    materialization, which is the constant that dominates at bench
    scale. At 100 TB the same loop holds: ranks are 8-byte keys, the
    range exchange is the only data movement, and each round ends in an
    eager localCheckpoint so Catalyst never re-analyzes a growing plan
    (the neardup_clusters lesson)."""
    return _suffix_ranks_loop(spark, sf_dir, _SA_HORIZON, to_fixpoint=False)


def _suffix_ranks_loop(
    spark: SparkSession, sf_dir: str, horizon: int, to_fixpoint: bool,
    base_width: int | None = None,
) -> DataFrame:
    """Shared prefix-doubling loop. ``to_fixpoint=True`` adds one cheap
    driver action per round (count vs countDistinct over the checkpointed
    rank table — two 8-byte aggregates, no recompute) and stops as soon as
    every suffix has a distinct rank, i.e. the ranks ARE the full suffix
    array; ``horizon`` then acts as the termination cap that also bounds
    the oracle's window (ranks still tied past the cap would make the
    bounded oracle unsound, so that case raises instead of returning).

    ``base_width`` is the direct-rank pivot width (default ``_SA_BASE``);
    wider bases trade a larger one-shot shift-explode exchange (base·n
    skinny rows) for one fewer doubling round (a full rank pass + fixpoint
    probe). Base width never changes VALUES — the base rank orders by the
    first ``base`` tokens exactly as ``base/2`` tokens + one doubling
    would — only which rounds compute them (A/B at sf0.1, interleaved:
    fixpoint mode won both reps at 16 vs 8, ~11%; the 32-horizon cut was
    a wash, so it keeps the smaller exchange; 32 vs 16 lost all three
    warm interleaved reps — the doubled explode exchange costs more than
    the saved round — so 16 is the fixpoint optimum on this corpus)."""
    bw = base_width or _SA_BASE
    tok = _token_stream(spark, sf_dir).select("gpos", "doc_id", "fp")
    # Base rank over the first ``bw`` tokens via shift-explode + pivot:
    # each token row fans out to the ``bw`` positions whose window it
    # falls in, and one groupBy(gpos) re-assembles the window columns —
    # ONE exchange of BASE·n skinny rows (mostly collapsed map-side, since
    # a receiver's sources are its own neighbors) instead of BASE-1
    # separate shifted-join exchanges, and it halves the number of
    # doubling rounds the old 4-token base needed (each rank pass costs a
    # range exchange + pinned materialization — the constant that
    # dominates at bench scale). Missing shifts past the stream end pivot
    # to NULL → -1, keeping DuckDB's shorter-prefix-sorts-first ordering.
    sh = tok.select(
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("gpos") - F.lit(i)).alias("g"),
                    F.lit(i).alias("i"),
                    F.col("fp").alias("fp"),
                    F.col("doc_id").alias("d"),
                )
                for i in range(bw)
            ])
        ).alias("s")
    ).select("s.g", "s.i", "s.fp", "s.d").filter(F.col("g") >= 0)
    base = (
        sh.groupBy("g")
        .agg(
            F.max(F.when(F.col("i") == 0, F.col("d"))).alias("doc_id"),
            *[
                F.coalesce(
                    F.max(F.when(F.col("i") == j, F.col("fp"))), F.lit(-1)
                ).alias(f"f{j}")
                for j in range(bw)
            ],
        )
        .withColumnRenamed("g", "gpos")
    )
    r = S.distributed_row_number(
        base, [f"f{j}" for j in range(bw)], "r", rank_fn=F.dense_rank
    ).select("gpos", "doc_id", "r")
    k = bw
    done = False
    while k < horizon:
        if to_fixpoint:
            n_tot, n_dist = r.agg(
                F.count(F.lit(1)), F.countDistinct("r")
            ).first()
            if n_tot == n_dist:
                done = True
                break
        ahead = r.select((F.col("gpos") - k).alias("gpos"), F.col("r").alias("rk"))
        j = (
            r.join(ahead, "gpos", "left")
            .withColumn("rk", F.coalesce("rk", F.lit(-1)))
            .select("gpos", "doc_id", "r", "rk")
        )
        r = S.distributed_row_number(j, ["r", "rk"], "r2", rank_fn=F.dense_rank).select(
            "gpos", "doc_id", F.col("r2").alias("r")
        )
        k *= 2
    if to_fixpoint and not done:
        n_tot, n_dist = r.agg(F.count(F.lit(1)), F.countDistinct("r")).first()
        if n_tot != n_dist:
            raise RuntimeError(
                f"suffix ranks not distinct at the {horizon}-token cap "
                f"({n_tot - n_dist} ties remain); raise _SA_FULL_CAP and "
                "the oracle window together"
            )
    return r.select("gpos", "doc_id", F.col("r").alias("sa_rank"))


def q_suffix_ranks_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL suffix-array ranks — the same distributed prefix-doubling loop
    as q_suffix_ranks run to FIXPOINT (every suffix's rank distinct) rather
    than cut at the 32-token horizon, closing the last daylight to the Lee
    et al. 2022 suffix-array semantics end-to-end: at fixpoint the dense
    rank is a permutation 1..n — position p's rank IS its row in the
    suffix array of the concatenated token stream (shorter-suffix-first on
    prefix ties, the -1 sentinel's ordering).

    Each doubling round adds one driver action (count + countDistinct on
    the checkpointed 8-byte rank column) to detect the fixpoint; rounds
    stop as early as the corpus allows (token streams with near-dup docs
    need the horizon to clear the longest repeated span — ~2× max doc
    length here — not the corpus length). _SA_FULL_CAP bounds both the
    loop and the oracle's comparison window; reaching the cap with ties
    left raises rather than silently diverging from the oracle."""
    return _suffix_ranks_loop(
        spark, sf_dir, _SA_FULL_CAP, to_fixpoint=True, base_width=_SA_BASE_FULL
    )


def _suffix_ranks_oracle(horizon: int) -> str:
    return f"""
    WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents),
    nz AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n FROM w WHERE len(ws) > 0),
    cum AS (SELECT doc_id, ws,
                   sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS st
            FROM nz),
    tok AS (SELECT doc_id,
                   -- CAST is load-bearing for the driver's dtype-sensitive
                   -- hasher: st comes from a windowed sum() → HUGEINT, which
                   -- pandas materializes as float64 while Spark emits int64
                   -- (numerically identical, hash-mismatched in r3)
                   CAST(st + pos - 1 AS BIGINT) AS gpos,
                   ({_word_fp_sql('wd')} % {_MH_P}) AS fp
            FROM (SELECT doc_id, st, generate_subscripts(ws, 1) AS pos,
                         unnest(ws) AS wd
                  FROM cum)),
    win AS (SELECT t.gpos, t2.gpos - t.gpos AS off, t2.fp
            FROM tok t JOIN tok t2
              ON t2.gpos >= t.gpos AND t2.gpos < t.gpos + {horizon}),
    sfx AS (SELECT gpos, list(fp ORDER BY off) AS sl FROM win GROUP BY gpos)
    SELECT t.gpos, t.doc_id,
           CAST(dense_rank() OVER (ORDER BY s.sl) AS BIGINT) AS sa_rank
    FROM tok t JOIN sfx s USING (gpos)
"""


ORACLE_SUFFIX_RANKS = _suffix_ranks_oracle(_SA_HORIZON)

# Sound because the engine RAISES if any rank tie survives the
# _SA_FULL_CAP horizon: whenever q_suffix_ranks_full returns at all, every
# pair of suffixes differs within the cap window, so ranking by the capped
# window equals ranking by the full suffixes.
ORACLE_SUFFIX_RANKS_FULL = _suffix_ranks_oracle(_SA_FULL_CAP)


def q_sa_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate 32-token spans read straight off the suffix ranks: two
    positions share a sa_rank exactly when their horizon windows are
    identical, so every rank with ≥2 positions is a repeated span — the
    unit suffix-array dedup removes (Lee et al. use a 50-token threshold;
    the horizon here is 32). Tail positions shorter than the horizon tie
    only on full-suffix equality, which is still a genuine duplicate span.

    One fixed-width groupBy on the 8-byte rank — the canonical "sort once,
    then every duplicate query is an aggregation" payoff of building the
    suffix array."""
    r = q_suffix_ranks(spark, sf_dir)
    return (
        r.groupBy("sa_rank")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pos"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.min("gpos").cast("long").alias("first_gpos"),
        )
        .filter(F.col("n_pos") >= 2)
    )


ORACLE_SA_DUP_SPANS = f"""
    WITH ranks AS ({ORACLE_SUFFIX_RANKS})
    SELECT sa_rank,
           CAST(count(*) AS BIGINT) AS n_pos,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc,
           CAST(min(gpos) AS BIGINT) AS first_gpos
    FROM ranks GROUP BY sa_rank HAVING count(*) >= 2
"""


# --------------------------------------------------------------------------
# connected components — alternating large-star / small-star contraction
# --------------------------------------------------------------------------


def q_neardup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") over the same MinHash-LSH pair graph as q_neardup_clusters —
    same component-min labeling, same oracle; tests additionally assert
    row-for-row parity with the min-label-propagation form.

    This is the *scale path* the propagation docstring promises: rounds
    needed are O(log n) in component size rather than component diameter,
    so a 10^9-node chain that propagation walks in 10^9 rounds contracts
    in ~30. Each half-round is a groupBy-min plus one join that re-attaches
    the per-node min to the edge list (never a collect_set of neighbor
    lists — hot nodes cost output rows, not task memory), ends in an eager
    localCheckpoint (loop state never chains through lineage), and
    convergence is one symmetric-difference isEmpty action per round."""

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        mdf = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("u", "mn").alias("m")
        )
        return (
            sym.filter(F.col("v") > F.col("u"))
            .join(mdf, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # input edges all satisfy u > v (large_star output)
        mdf = e.groupBy("u").agg(F.min("v").alias("m"))
        return (
            e.join(mdf, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mdf.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    while True:
        nxt = small_star(large_star(edges)).localCheckpoint(eager=True)
        stable = (
            nxt.exceptAll(edges).unionByName(edges.exceptAll(nxt)).isEmpty()
        )
        edges = nxt
        if stable:
            break
    reps = edges.groupBy("u").agg(F.min("v").alias("rep")).select(
        F.col("u").alias("doc_id"), "rep"
    )
    return docs.join(reps, "doc_id", "left").select(
        "doc_id", F.coalesce("rep", F.col("doc_id")).alias("cluster_rep")
    )


# --------------------------------------------------------------------------
# as-of join + exact distributed quantiles
# --------------------------------------------------------------------------


def q_asof_budget_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — every dispatch-like event picks up the most recent
    prior budget update for its key (the crawl use: each fetch reads the
    per-host politeness budget that was in force at fetch time; config
    changes must not apply retroactively).

    Scale path: no per-row subquery and no range join — the two streams
    are tagged (updates sort before probes at equal ts, giving ≤
    semantics), unioned, and a ``last(value, ignorenulls)`` window per key
    carries each update forward to the probes that follow it. One
    hash-partitioned exchange on the key; the window never crosses keys,
    so there is no global sort. The build side is deduped to one row per
    (key, ts) — max event_id wins, picked as ``max(struct(event_id,
    value)).value`` rather than ``max_by(value, event_id)``: max_by's
    engines disagree on NULL args (Spark returns the value at the max
    event_id even when NULL; DuckDB skips NULL-arg rows and leaks an
    older non-NULL value forward), while the struct max is decided
    entirely by the unique event_id, so a NULL update value wins its
    tie-break and then correctly overwrites the carried budget — the
    same in both engines. Oracle: DuckDB's native ASOF LEFT JOIN over a
    row_number dedup."""
    ev = _t(spark, sf_dir, "events")
    updates = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max(F.struct("event_id", "value")).getField("value").alias("value"))
        .select(
            "user_id", "ts",
            F.lit(None).cast("long").alias("event_id"),
            "value", F.lit(0).alias("tag"),
        )
    )
    probes = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "ts", "event_id",
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry the latest update ROW, not its value: an update whose value is
    # NULL must still win the as-of match (ASOF JOIN semantics) rather than
    # let an older non-NULL value leak forward — so updates ride inside a
    # non-null struct and the value is unwrapped after the carry
    uval = F.when(F.col("tag") == 0, F.struct(F.col("value").alias("v")))
    return (
        updates.unionByName(probes)
        .withColumn("u", F.last(uval, ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            "user_id",
            # ts is TIMESTAMP_NTZ; the session tz is pinned UTC, so the
            # cast is instant-preserving and epoch_us(ts) matches in DuckDB
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.round(F.coalesce(F.col("u.v"), F.lit(-1.0)), 6).alias("asof_value"),
        )
    )


ORACLE_ASOF_BUDGET_JOIN = """
    WITH updates AS (
        SELECT user_id, ts, value FROM (
            SELECT user_id, ts, value,
                   row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'purchase')
        WHERE rn = 1),
    probes AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type IN ('view', 'click'))
    SELECT p.event_id, p.user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS ts_us,
           round(coalesce(u.value, -1.0), 6) AS asof_value
    FROM probes p ASOF LEFT JOIN updates u
      ON p.user_id = u.user_id AND p.ts >= u.ts
"""


def q_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-length deciles over the corpus — the sizing profile a
    packing/bucketing stage is tuned against, computed as exact order
    statistics (not approx_percentile, whose result is
    implementation-defined and un-oracle-able): a distributed row_number
    over length (two-pass range partition, no global window), then the
    rows at ranks ceil(d·n/10) join a 10-row broadcast decile table. The
    value at a rank is unique even where lengths tie, so tie order inside
    the row_number is immaterial."""
    docs = _t(spark, sf_dir, "documents").select(
        T.token_count_ws(F.col("text")).cast("long").alias("len_tokens")
    )
    ranked = S.distributed_row_number(docs, ["len_tokens"], "rn")
    total = ranked.groupBy().agg(F.max("rn").alias("n"))
    deciles = spark.range(1, 11).select(F.col("id").alias("decile"))
    targets = deciles.crossJoin(F.broadcast(total)).select(
        "decile", F.ceil(F.col("decile") * F.col("n") / 10).cast("long").alias("rn")
    )
    return targets.join(ranked, "rn").select(
        "decile", F.col("rn").alias("rank"), "len_tokens"
    )


ORACLE_LENGTH_DECILES = """
    WITH t AS (SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS BIGINT) AS len_tokens
               FROM documents),
    o AS (SELECT len_tokens, row_number() OVER (ORDER BY len_tokens) AS rn FROM t),
    c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
    d AS (SELECT unnest(generate_series(1, 10)) AS decile)
    SELECT CAST(d.decile AS BIGINT) AS decile,
           CAST(CEIL(d.decile * n / 10.0) AS BIGINT) AS rank,
           o.len_tokens
    FROM d CROSS JOIN c JOIN o ON o.rn = CAST(CEIL(d.decile * n / 10.0) AS BIGINT)
"""


_KMEANS_K = 8


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd's k-means iteration over the int8-quantized embeddings —
    the centroid-training step an IVF index build runs repeatedly (the
    shipped ann_ivf_topk probes a fixed centroid table; this is where that
    table comes from). Quantized codes keep every distance and centroid
    update in integer/exact arithmetic, so the DuckDB oracle matches
    bit-for-bit — the same trick the sketch family uses.

    Plan: centroids are the K lowest vec_ids' codes (deterministic seed),
    broadcast against the corpus; distances run as zip_with + aggregate in
    whole-stage codegen (64 fixed terms); the argmin is a min(struct)
    partial agg (ties break toward the lower cluster id); the update step
    explodes assigned codes to (cluster, dim) integer rows and partial-agg
    sums them — fixed-width exchanges only, the full iteration loop is
    this plan under foreachBatch/localCheckpoint exactly like the CC and
    BPE loops. Output per cluster: membership, within-cluster sum of
    squares, and the updated centroid (floor of the per-dim mean)."""
    # materialize the quantized codes ONCE: `codes` is itself a HOF
    # expression tree (transform/array_max), and it feeds three plan
    # branches (centroid seed, distance cross join, update explode) — left
    # lazy it re-evaluates per branch and per broadcast row (the
    # interpreted-HOF trap embedding_quantize's docstring warns about;
    # measured 40.5 s -> ~3 s at sf0.01 for this query)
    q = _kmeans_codes(spark, sf_dir)
    cent = _kmeans_seed(q)
    best = _kmeans_assign(q, cent)
    per_dim = _kmeans_per_dim(best, q)
    stats = best.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("d2").cast("long").alias("wss"),
    )
    # comma-joined string, not array<long>: the driver's hash
    # canonicalization cannot sort list cells (the embedding_quantize
    # lesson, re-learned on this sibling in r3 — TypeError: unhashable
    # type: 'list'); _kmeans_codes splits codes_str back for loop callers
    new_cent = per_dim.groupBy("cluster").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"].cast("string"),
            ),
            ",",
        ).alias("new_codes")
    )
    return stats.join(new_cent, "cluster").select(
        "cluster", "n_members", "wss", "new_codes"
    )


def _kmeans_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized codes as array<long>, materialized once (see q_kmeans_step's
    docstring for why the HOF tree must not stay lazy). The quantizer emits
    its codes as a comma-joined string (hash-stable driver output); split
    back to the integer array here — the split+cast stays in codegen."""
    return (
        q_embedding_quantize(spark, sf_dir)
        .select(
            "vec_id",
            F.transform(
                F.split("codes_str", ","), lambda c: c.cast("long")
            ).alias("codes"),
        )
        .localCheckpoint(eager=True)
    )


def _kmeans_seed(q: DataFrame) -> DataFrame:
    w = Window.orderBy("vec_id")
    return q.orderBy("vec_id").limit(_KMEANS_K).select(
        (F.row_number().over(w) - 1).cast("long").alias("cluster"),
        F.col("codes").alias("ccodes"),
    )


def _kmeans_assign(q: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cluster, d2): nearest centroid per vector — broadcast
    centroids, codegen'd zip_with distance, min-struct argmin with ties
    breaking toward the lower cluster id."""
    d2 = F.aggregate(
        F.zip_with("codes", "ccodes", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        q.crossJoin(F.broadcast(cent))
        .select("vec_id", d2.alias("d2"), "cluster")
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cluster")).alias("b"))
        .select("vec_id", F.col("b.cluster").alias("cluster"), F.col("b.d2").alias("d2"))
    )


def _kmeans_per_dim(best: DataFrame, q: DataFrame) -> DataFrame:
    """(cluster, dim, c): floor of the per-dimension mean over members."""
    return (
        best.join(q, "vec_id")
        .select("cluster", F.posexplode("codes").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(F.floor(F.sum("x") / F.count(F.lit(1))).cast("long").alias("c"))
    )


_KMEANS_ITERS = 3


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Lloyd's loop (3 iterations) over the quantized embeddings —
    the IVF index build end to end: seed → assign → update, with empty
    clusters keeping their previous centroid. Returns the per-iteration
    convergence trace (assignments moved, total within-cluster sum of
    squares) a pipeline monitors to pick its iteration budget.

    Loop mechanics mirror CC/BPE: centroids localCheckpoint per round
    (never chain lineage), exactly two driver actions per iteration (the
    wss scalar and the moved count — same budget as the CC convergence
    check). The oracle (ORACLE_KMEANS_TRAIN) unrolls the fixed 3-iteration
    arithmetic as chained CTE blocks — the iteration count is a constant,
    so the "iterative" loop is SQL-expressible after all; pytest
    additionally asserts parity with a pure-Python Lloyd's reference."""
    q = _kmeans_codes(spark, sf_dir)
    cent = _kmeans_seed(q).localCheckpoint(eager=True)
    n_vec = q.count()
    prev = None
    rows = []
    for it in range(_KMEANS_ITERS):
        best = _kmeans_assign(q, cent).localCheckpoint(eager=True)
        wss = best.agg(F.sum("d2").alias("s")).collect()[0]["s"]
        if prev is None:
            moved = n_vec
        else:
            moved = (
                best.select("vec_id", F.col("cluster").alias("new"))
                .join(prev.select("vec_id", F.col("cluster").alias("old")), "vec_id")
                .filter(F.col("new") != F.col("old"))
                .count()
            )
        rows.append((it, int(moved), int(wss)))
        nc = _kmeans_per_dim(best, q).groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
            ).alias("ncodes")
        )
        cent = (
            cent.join(nc, "cluster", "left")
            .select("cluster", F.coalesce("ncodes", "ccodes").alias("ccodes"))
            .localCheckpoint(eager=True)
        )
        prev = best
    return spark.createDataFrame(rows, "iter long, moved long, wss long")


# quantize → integer codes → (vec_id, dim, x) — the CTE prefix both k-means
# oracles share (mirrors _kmeans_codes, arithmetic pinned by
# ORACLE_EMBEDDING_QUANTIZE)
_KMEANS_CODES_SQL = """
    scaled AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) > 0
                    THEN 127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)))
                    ELSE 1.0 END AS s
        FROM embeddings),
    codes AS (SELECT vec_id,
                     list_transform(v, x -> CAST(round(x * s) AS BIGINT)) AS codes
              FROM scaled),
    cdim AS (SELECT vec_id, generate_subscripts(codes, 1) AS dim, unnest(codes) AS x
             FROM codes)
"""

ORACLE_KMEANS_STEP = f"""
    WITH {_KMEANS_CODES_SQL},
    cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
                    codes
             FROM codes ORDER BY vec_id LIMIT {_KMEANS_K}),
    kdim AS (SELECT cluster, generate_subscripts(codes, 1) AS dim, unnest(codes) AS cx
             FROM cent),
    dist AS (SELECT c.vec_id, k.cluster,
                    CAST(sum((c.x - k.cx) * (c.x - k.cx)) AS BIGINT) AS d2
             FROM cdim c JOIN kdim k USING (dim)
             GROUP BY c.vec_id, k.cluster),
    best AS (SELECT vec_id, cluster, d2 FROM (
                 SELECT vec_id, cluster, d2,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY d2, cluster) AS rk
                 FROM dist)
             WHERE rk = 1),
    per_dim AS (SELECT b.cluster, c.dim,
                       CAST(floor(sum(c.x) * 1.0 / count(*)) AS BIGINT) AS cc
                FROM best b JOIN cdim c USING (vec_id)
                GROUP BY b.cluster, c.dim),
    stats AS (SELECT cluster,
                     CAST(count(*) AS BIGINT) AS n_members,
                     CAST(sum(d2) AS BIGINT) AS wss
              FROM best GROUP BY cluster)
    SELECT s.cluster, s.n_members, s.wss,
           (SELECT array_to_string(list(CAST(cc AS VARCHAR) ORDER BY dim), ',')
            FROM per_dim p
            WHERE p.cluster = s.cluster) AS new_codes
    FROM stats s
"""


def _kmeans_train_oracle() -> str:
    """ORACLE_KMEANS_STEP's arithmetic unrolled _KMEANS_ITERS times — one
    assign/update CTE block per Lloyd's iteration (empty clusters carry the
    previous centroid via the LEFT JOIN + coalesce, exactly the Spark
    loop's rule), emitting the (iter, moved, wss) convergence trace."""
    blocks = [
        f"""cent0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                    AS cluster, codes
             FROM codes ORDER BY vec_id LIMIT {_KMEANS_K})"""
    ]
    for i in range(_KMEANS_ITERS):
        blocks.append(f"""
    kdim{i} AS (SELECT cluster, generate_subscripts(codes, 1) AS dim,
                      unnest(codes) AS cx
               FROM cent{i}),
    dist{i} AS (SELECT c.vec_id, k.cluster,
                      CAST(sum((c.x - k.cx) * (c.x - k.cx)) AS BIGINT) AS d2
               FROM cdim c JOIN kdim{i} k USING (dim)
               GROUP BY c.vec_id, k.cluster),
    best{i} AS (SELECT vec_id, cluster, d2 FROM (
                   SELECT vec_id, cluster, d2,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY d2, cluster) AS rk
                   FROM dist{i})
               WHERE rk = 1),
    newc{i} AS (SELECT cluster, list(cc ORDER BY dim) AS codes FROM (
                   SELECT b.cluster, c.dim,
                          CAST(floor(sum(c.x) * 1.0 / count(*)) AS BIGINT) AS cc
                   FROM best{i} b JOIN cdim c USING (vec_id)
                   GROUP BY b.cluster, c.dim)
               GROUP BY cluster),
    cent{i + 1} AS (SELECT c.cluster, coalesce(n.codes, c.codes) AS codes
                    FROM cent{i} c LEFT JOIN newc{i} n USING (cluster))""")
    rows = []
    for i in range(_KMEANS_ITERS):
        moved = (
            "(SELECT CAST(count(*) AS BIGINT) FROM codes)"
            if i == 0
            else f"""(SELECT CAST(count(*) AS BIGINT)
                 FROM best{i} b JOIN best{i - 1} a USING (vec_id)
                 WHERE b.cluster <> a.cluster)"""
        )
        rows.append(
            f"""SELECT CAST({i} AS BIGINT) AS iter, {moved} AS moved,
               (SELECT CAST(sum(d2) AS BIGINT) FROM best{i}) AS wss"""
        )
    return (
        "\n    WITH " + _KMEANS_CODES_SQL + ",\n    " + ",".join(blocks)
        + "\n    " + "\n    UNION ALL\n    ".join(rows)
    )


ORACLE_KMEANS_TRAIN = _kmeans_train_oracle()


# --------------------------------------------------------------------------
# distributed BPE — tokenizer training over the corpus vocabulary
# --------------------------------------------------------------------------

_BPE_MERGES = 6
_BPE_NEW_SYM = 1 << 20  # merge step i mints symbol _BPE_NEW_SYM + i


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(wd, cnt): corpus word vocabulary with occurrence counts — the
    weighted-word form every BPE trainer reduces the corpus to first (one
    groupBy; afterwards all per-merge work is O(vocab), not O(corpus))."""
    return (
        _t(spark, sf_dir, "documents")
        .select(F.explode(T.words(F.col("text"))).alias("wd"))
        .groupBy("wd")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE statistics, iteration 0: corpus-weighted adjacent
    character-pair counts over the vocabulary — the argmax input of the
    first BPE merge. Pairs come from zipping each word's char-code array
    with its own tail (``slice``+``zip_with``+``explode``, all JVM
    expressions); the shuffle carries (a, b, cnt) integer triples only.
    The full merge loop (argmax → greedy merge application → recount)
    is q_bpe_learn."""
    vocab = _bpe_vocab(spark, sf_dir)
    syms = vocab.select(
        "cnt",
        F.expr(
            "transform(split(wd, ''), c -> cast(ascii(c) as bigint))"
        ).alias("s"),
    ).withColumn("s", F.expr("filter(s, x -> x > 0)"))
    pairs = syms.filter(F.size("s") >= 2).select(
        "cnt",
        F.explode(
            F.expr("zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1), (a, b) -> struct(a, b))")
        ).alias("p"),
    )
    return (
        pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").cast("long").alias("n"))
    )


ORACLE_BPE_PAIR_COUNTS = """
    WITH vocab AS (
        SELECT wd, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS wd
              FROM documents)
        GROUP BY wd),
    syms AS (SELECT cnt, list_filter(
                 list_transform(string_split_regex(wd, ''),
                                c -> CAST(ascii(c) AS BIGINT)),
                 x -> x > 0) AS s
             FROM vocab),
    pr AS (SELECT cnt, i, s[i] AS a, s[i + 1] AS b
           FROM (SELECT cnt, s, generate_subscripts(s, 1) AS i FROM syms)
           WHERE i < len(s))
    SELECT a, b, CAST(sum(cnt) AS BIGINT) AS n
    FROM pr GROUP BY a, b
"""


def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training, 6 merges: repeat (count adjacent symbol
    pairs weighted by word frequency → argmax with deterministic
    (count desc, a asc, b asc) tie-break → greedy left-to-right merge in
    every word). Returns the learned merge table (step, left/right symbol,
    minted symbol id, pair count at merge time).

    Plan notes for the 100-TB corpus: the corpus collapses to its weighted
    vocabulary once (q_bpe_pair_counts' groupBy); each iteration then costs
    one pair-count aggregation over the vocab plus one Arrow-batched merge
    map (greedy pair replacement is inherently sequential *within* a word,
    so it runs as numpy-backed mapInPandas per word — the one operation
    here built-ins can't express). The argmax collects exactly ONE row per
    iteration (same driver-action budget as the CC convergence check), and
    the symbol table localCheckpoints per round. The oracle
    (ORACLE_BPE_LEARN) unrolls the fixed 6-merge loop as a chained-CTE
    string-replace pipeline — see _bpe_chain_sql for the greedy-merge
    equivalence argument; pytest additionally asserts parity with a
    pure-Python reference BPE on the same vocabulary."""
    vocab = _bpe_vocab(spark, sf_dir)
    syms = (
        vocab.select(
            "cnt",
            F.expr("transform(split(wd, ''), c -> cast(ascii(c) as bigint))").alias("s"),
        )
        .withColumn("s", F.expr("filter(s, x -> x > 0)"))
        .filter(F.size("s") >= 1)
        .localCheckpoint(eager=True)
    )
    merges = []
    for step in range(_BPE_MERGES):
        pc = (
            syms.filter(F.size("s") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1),"
                        " (a, b) -> struct(a, b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("n"))
        )
        top = pc.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], top[0]["n"]
        new_sym = _BPE_NEW_SYM + step
        merges.append((step, int(a), int(b), int(new_sym), int(n)))

        def apply_merge(batches, _a=a, _b=b, _new=new_sym):
            for pdf in batches:
                out = []
                for s in pdf["s"]:
                    s = list(s)
                    res = []
                    i = 0
                    while i < len(s):
                        if i + 1 < len(s) and s[i] == _a and s[i + 1] == _b:
                            res.append(_new)
                            i += 2
                        else:
                            res.append(s[i])
                            i += 1
                    out.append(res)
                pdf = pdf.copy()
                pdf["s"] = out
                yield pdf

        syms = syms.mapInPandas(apply_merge, schema=syms.schema).localCheckpoint(
            eager=True
        )
    return spark.createDataFrame(
        merges, "step long, left_sym long, right_sym long, new_sym long, pair_count long"
    )


def _bpe_chain_sql(n_steps: int) -> str:
    """Shared CTE chain for the BPE oracles: the data-dependent argmax loop
    unrolled ``n_steps`` times IN SQL. Each word's symbol sequence is kept
    as the delimited string ',s1,,s2,,...,,sn,' — every symbol wrapped in
    commas on both sides, so a pattern ',a,,b,' can neither false-match
    inside a multi-digit symbol nor miss a back-to-back repeat — and one
    merge step is a single ``replace()``: DuckDB's replace scans left to
    right and continues AFTER each substitution, which is exactly BPE's
    greedy non-overlapping merge order (verified on aaa/abab/aaaa shapes).
    Step i mints symbol {_BPE_NEW_SYM}+i, mirroring the Spark loop.

    Assumes the vocabulary never runs out of pairs before ``n_steps``
    merges (true for any non-degenerate corpus; the Spark side breaks
    early in that case and row counts would flag the divergence)."""
    parts = [
        f"""vocab AS (
        SELECT wd, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS wd
              FROM documents)
        GROUP BY wd),
    w0 AS (SELECT wd, cnt,
                  ',' || array_to_string(
                      list_transform(
                          list_filter(
                              list_transform(string_split_regex(wd, ''),
                                             c -> CAST(ascii(c) AS BIGINT)),
                              x -> x > 0),
                          x -> CAST(x AS VARCHAR)), ',,') || ',' AS s
           FROM vocab
           WHERE len(list_filter(list_transform(string_split_regex(wd, ''),
                                                c -> CAST(ascii(c) AS BIGINT)),
                                 x -> x > 0)) >= 1)"""
    ]
    for i in range(n_steps):
        parts.append(f"""
    sy{i} AS (SELECT cnt, list_transform(
                      string_split(substr(s, 2, length(s) - 2), ',,'),
                      x -> CAST(x AS BIGINT)) AS sym
             FROM w{i}),
    p{i} AS (SELECT a, b, CAST(sum(cnt) AS BIGINT) AS n FROM (
                 SELECT cnt, sym[i] AS a, sym[i + 1] AS b
                 FROM (SELECT cnt, sym, generate_subscripts(sym, 1) AS i FROM sy{i})
                 WHERE i < len(sym))
             GROUP BY a, b),
    t{i} AS (SELECT a, b, n FROM p{i} ORDER BY n DESC, a ASC, b ASC LIMIT 1),
    w{i + 1} AS (SELECT w.wd, w.cnt,
                       replace(w.s,
                               ',' || CAST(t.a AS VARCHAR) || ',,'
                                   || CAST(t.b AS VARCHAR) || ',',
                               ',{_BPE_NEW_SYM + i},') AS s
                FROM w{i} w CROSS JOIN t{i} t)""")
    return ",".join(parts)


def _bpe_learn_oracle() -> str:
    rows = [
        f"""SELECT CAST({i} AS BIGINT) AS step, t.a AS left_sym, t.b AS right_sym,
               CAST({_BPE_NEW_SYM + i} AS BIGINT) AS new_sym, t.n AS pair_count
        FROM t{i} t"""
        for i in range(_BPE_MERGES)
    ]
    return (
        "\n    WITH " + _bpe_chain_sql(_BPE_MERGES)
        + "\n    " + "\n    UNION ALL\n    ".join(rows)
    )


ORACLE_BPE_LEARN = _bpe_learn_oracle()


def _bpe_encode_oracle() -> str:
    n = _BPE_MERGES
    return f"""
    WITH {_bpe_chain_sql(n)},
    enc AS (SELECT wd,
                   CAST(len(string_split(substr(s, 2, length(s) - 2), ',,'))
                        AS BIGINT) AS n_sym
            FROM w{n}),
    tokw AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                               x -> x <> '')) AS wd
             FROM documents),
    per AS (SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
            FROM tokw JOIN enc USING (wd)
            GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(p.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
           CAST(CASE WHEN coalesce(p.n_words, 0) > 0
                     THEN (1000000 * p.n_bpe_tokens) // p.n_words
                     ELSE 0 END AS BIGINT) AS tokens_per_word_e6
    FROM documents d LEFT JOIN per p USING (doc_id)
"""


ORACLE_BPE_ENCODE = _bpe_encode_oracle()


def q_warc_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-record export — the write half of D39's ingest: each document
    becomes a framed WARC/1.0 response record (the interchange format a
    crawl corpus ships as), using exactly the framing q_warc_parse splits
    on, so export → concat → parse roundtrips (asserted in tests). Pure
    narrow map (concat + length), scan-shaped with no exchange; the
    records column feeds a text sink partitioned however the shipper
    wants.

    PRECONDITION (the roundtrip guarantee's boundary): payloads must be
    single-line — no blank line (``\\n\\n``) and no literal ``WARC/1.0``
    line inside ``text`` — because q_warc_parse splits records on the
    blank-line + version-line framing; a payload violating this would be
    split mid-record on the parse side. Corpus documents satisfy this by
    construction (one-line text; asserted in tests). Lengths are CODEPOINT
    counts in both engines, a deliberate divergence from WARC/1.0's octet
    Content-Length (kept so the DuckDB oracle's ``length()`` matches
    exactly); an octet-true exporter is ``octet_length``/``encode`` in the
    same plan shape."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    uri = F.concat(F.lit("https://corpus.local/doc/"), F.col("doc_id").cast("string"))
    record = F.concat(
        F.lit("WARC/1.0\nWARC-Type: response\nWARC-Target-URI: "),
        uri,
        F.lit("\nContent-Length: "),
        F.length("text").cast("string"),
        F.lit("\n\n"),
        F.col("text"),
        F.lit("\n\n"),
    )
    return docs.select(
        "doc_id",
        uri.alias("target_uri"),
        record.alias("record"),
        F.length(record).cast("long").alias("record_len"),
    )


ORACLE_WARC_EXPORT = """
    SELECT doc_id,
           'https://corpus.local/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
           'WARC/1.0' || chr(10) || 'WARC-Type: response' || chr(10)
               || 'WARC-Target-URI: https://corpus.local/doc/'
               || CAST(doc_id AS VARCHAR) || chr(10)
               || 'Content-Length: ' || CAST(length(text) AS VARCHAR)
               || chr(10) || chr(10) || text || chr(10) || chr(10) AS record,
           CAST(length('WARC/1.0' || chr(10) || 'WARC-Type: response' || chr(10)
               || 'WARC-Target-URI: https://corpus.local/doc/'
               || CAST(doc_id AS VARCHAR) || chr(10)
               || 'Content-Length: ' || CAST(length(text) AS VARCHAR)
               || chr(10) || chr(10) || text || chr(10) || chr(10)) AS BIGINT)
               AS record_len
    FROM documents
"""


_SEED_HOSTS = tuple(f"n{i}" for i in range(8))
_SEED_MAX_HOPS = 6


def q_seed_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-distance labeling — min link-graph hops from the seed host set,
    capped at 6: the breadth-first expansion a crawl runs from its seed
    list, and the quantity behind depth-tiered priorities (the reference's
    page→post→comment levels generalized to arbitrary link graphs;
    unreached hosts report -1 and stay out of the frontier).

    Iterative frontier BFS: each hop joins the current frontier against
    the (checkpointed-once) edge list, anti-joins already-labeled hosts,
    and checkpoints the new layer — O(diameter) rounds, frontier rows only
    in each exchange, one isEmpty action per hop (the CC loop's budget).
    The oracle is a recursive CTE with UNION (set) semantics, so its row
    count is bounded by hosts × hops, not path counts."""
    edges = _link_edges_df(spark, sf_dir).distinct().localCheckpoint(eager=True)
    hosts = (
        edges.select(F.col("src").alias("host"))
        .unionByName(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    dist = hosts.filter(F.col("host").isin(*_SEED_HOSTS)).select(
        "host", F.lit(0).cast("long").alias("dist")
    ).localCheckpoint(eager=True)
    frontier = dist.select("host")
    for hop in range(1, _SEED_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier.host == edges.src)
            .select(F.col("dst").alias("host"))
            .distinct()
            .join(dist.select("host"), "host", "left_anti")
            .select("host", F.lit(hop).cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("host")
    return hosts.join(dist, "host", "left").select(
        "host", F.coalesce("dist", F.lit(-1)).cast("long").alias("dist")
    )


ORACLE_SEED_DISTANCE = f"""
    WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ({_LINK_EDGES_SQL})),
    hosts AS (SELECT DISTINCT host FROM
              (SELECT src AS host FROM e UNION ALL SELECT dst FROM e)),
    reach(host, d) AS (
        SELECT host, 0 FROM hosts WHERE host IN {_SEED_HOSTS!r}
        UNION
        SELECT e.dst, r.d + 1 FROM reach r JOIN e ON e.src = r.host
        WHERE r.d < {_SEED_MAX_HOPS}
    ),
    dmin AS (SELECT host, min(d) AS d FROM reach GROUP BY host)
    SELECT h.host, CAST(coalesce(dmin.d, -1) AS BIGINT) AS dist
    FROM hosts h LEFT JOIN dmin ON h.host = dmin.host
"""


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges to the corpus — the tokenize step a
    training pipeline runs between q_bpe_learn and q_pack_sequences. The
    merge table (6 tiny rows) is collected and closed over; encoding runs
    ONCE per distinct word (the vocabulary, via the same Arrow-batched
    merge map the trainer uses), and documents get their token counts by
    summing their words' encoded lengths — explode → broadcast-sized
    vocab join → partial-agg sum, so the per-word Python work is O(vocab),
    not O(corpus). Output: per doc, whitespace-word count, BPE token
    count, and the micro-exact compression ratio. The oracle
    (ORACLE_BPE_ENCODE) replays the same 6 unrolled merges via
    _bpe_chain_sql and counts surviving symbols per word; pytest
    additionally asserts parity with the pure-Python reference encoder."""
    merges = [
        (r["left_sym"], r["right_sym"], r["new_sym"])
        for r in q_bpe_learn(spark, sf_dir).orderBy("step").collect()
    ]
    vocab = _bpe_vocab(spark, sf_dir).select("wd")

    def encode(batches, _merges=merges):
        for pdf in batches:
            out = []
            for wd in pdf["wd"]:
                s = [ord(c) for c in wd if ord(c) > 0]
                for a, b, new in _merges:
                    res, i = [], 0
                    while i < len(s):
                        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                            res.append(new)
                            i += 2
                        else:
                            res.append(s[i])
                            i += 1
                    s = res
                out.append(len(s))
            pdf = pdf.copy()
            pdf["n_sym"] = out
            yield pdf

    enc = vocab.mapInPandas(encode, schema="wd string, n_sym long")
    tok = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(T.words(F.col("text"))).alias("wd"))
    )
    per = tok.join(enc, "wd").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_words", F.lit(0)).alias("n_words"),
        F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
        F.when(
            F.coalesce("n_words", F.lit(0)) > 0,
            F.expr("(1000000 * n_bpe_tokens) div n_words"),
        ).otherwise(F.lit(0)).cast("long").alias("tokens_per_word_e6"),
    )


# --------------------------------------------------------------------------
# streaming surface, driver-checkable (D20/D26/D49 with hard SQL oracles)
# --------------------------------------------------------------------------


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming URL-seen dedup surfaced for the driver's oracle gate (the
    D20/D26 family's hard-signal entry): the events table is replayed as a
    4-file bounded stream with one file per micro-batch
    (``replay_table_stream``), the messy-URL build + canonicalization run
    as streaming codegen expressions, and the seen set is a STATEFUL
    streaming aggregation — a URL first seen in micro-batch 0 accumulates,
    not re-emits, when micro-batch 3 re-discovers it. The output per
    canonical URL (occurrence count + first discovery seq) is
    order-independent, so the availableNow drain is exactly the batch
    GROUP BY the oracle states: streaming/batch parity IS the correctness
    statement, now driver-hashed rather than pytest-only.

    At scale: same plan over the frontier-delta tail
    (``stream_frontier_deltas``), RocksDB state store, foreachBatch MERGE
    sink instead of the complete-mode memory sink of this bounded replay."""
    import tempfile

    from facebook_page_scrapy_spark.streaming import frontier_stream as FS

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    stream = FS.replay_table_stream(
        spark, ev, tempfile.mkdtemp(prefix="sgraft_sdedup_")
    )
    canon = (
        stream.withColumn("url", _messy_url_col())
        .withColumn("url_canon", U.canonicalize(F.col("url")))
        .filter(F.col("url_canon").rlike(r"^https://mbasic\.facebook"))
    )
    agg = canon.groupBy("url_canon").agg(
        F.count(F.lit(1)).cast("long").alias("n_seen"),
        F.min("event_id").alias("first_seq"),
    )
    return FS.run_to_memory(agg, FS.next_sink_name("streaming_dedup"))


ORACLE_STREAMING_DEDUP = _canon_cte(_MESSY_URL_SQL) + r"""
    SELECT url_canon,
           CAST(count(*) AS BIGINT) AS n_seen,
           min(event_id) AS first_seq
    FROM canon
    WHERE regexp_matches(url_canon, '^https://mbasic\.facebook')
    GROUP BY url_canon
"""


def q_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows on the replayed stream (the D49 family's
    driver-checkable entry): 1-day windows per event_type, occurrence count
    plus value sum in integer cents — micro-units make the sum associative
    and order-independent across micro-batches, so the streaming drain
    hash-matches the batch GROUP BY oracle exactly (a double sum would be
    at the mercy of accumulation order). The watermark is declared as every
    streaming deployment would (2 h late-data horizon); the availableNow
    bounded replay drains everything, so no row is late relative to the
    final watermark and the batch equivalence is exact."""
    import tempfile

    from facebook_page_scrapy_spark.streaming import frontier_stream as FS

    # event-time ops require TIMESTAMP (not NTZ); the session tz is pinned
    # UTC, so the cast is instant-preserving and epoch_us matches in DuckDB
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    stream = FS.replay_table_stream(
        spark, ev, tempfile.mkdtemp(prefix="sgraft_swin_")
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window(F.col("ts"), "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "value_cents",
        )
    )
    return FS.run_to_memory(agg, FS.next_sink_name("streaming_windows"))


ORACLE_STREAMING_WINDOW_COUNTS = """
    SELECT CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS window_start_us,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, 2
"""


_HLL_P = 8  # 2^8 = 256 registers per group; std err ~1.04/sqrt(256) = 6.5%


def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host distinct-visitor estimate via HyperLogLog registers next to
    the exact count — the per-key cardinality monitor a 10^10-URL crawl
    keeps where KMV (`kmv_distinct_urls`) answers the single global
    question. Registers are md5-split with exact integer bit-length ranks
    in both engines, so the DuckDB oracle verifies the ESTIMATES
    themselves, not just the exact counts (operators/sketches.py:
    hll_registers/hll_estimate/hll_sql).

    Scale shape: two partial-agg groupBys — (host, bucket)→max(rank) is
    capped at hosts × 256 rows per partition map-side, then host→estimate.
    Register tables are additive across days/partitions (union +
    re-groupBy(max)), the merge property that makes per-host HLL state
    practical on 1000 executors where exact distinct sets are not."""
    from facebook_page_scrapy_spark.operators import sketches as SK

    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("h"), (F.col("event_id") % 53).cast("string")).alias("host"),
        F.col("user_id").alias("key"),
    )
    regs = SK.hll_registers(ev, "key", ["host"], p=_HLL_P)
    est = SK.hll_estimate(regs, ["host"], p=_HLL_P)
    exact = ev.groupBy("host").agg(
        F.count_distinct("key").cast("long").alias("exact_distinct")
    )
    return exact.join(est, "host").select("host", "exact_distinct", "hll_estimate")


def _hll_oracle() -> str:
    from facebook_page_scrapy_spark.operators.sketches import hll_sql

    inner = hll_sql("key", "src", ["host"], p=_HLL_P)
    return f"""
    WITH src AS (
        SELECT 'h' || (event_id % 53) AS host, user_id AS key FROM events),
    est AS (SELECT * FROM ({inner}) hq),
    exact AS (
        SELECT host, CAST(count(DISTINCT key) AS BIGINT) AS exact_distinct
        FROM src GROUP BY host)
    SELECT e.host, e.exact_distinct, s.hll_estimate
    FROM exact e JOIN est s USING (host)
"""


ORACLE_HLL_DISTINCT_USERS = _hll_oracle()

_WSAMPLE_K = 64


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample WITHOUT replacement of k documents, probability
    proportional to size — the training-data mixing primitive ("sample docs
    ∝ length/quality weight") run as one distributed top-k. Uses the
    Efraimidis–Spirakis A-ES reduction: give item i the key ln(u_i)/w_i
    (u_i a deterministic md5-uniform in (0,1)), and the k LARGEST keys are
    exactly a w-weighted draw without replacement. Seeded by doc_id, so the
    sample is reproducible and the DuckDB oracle re-derives it bit-for-bit.

    Scale shape: narrow map (hash + one ln) then orderBy().limit(k) —
    TakeOrderedAndProject, each partition forwards only its local top-k; no
    global sort, no shuffle of the corpus. The final rank window runs over
    the k-row result only."""
    from facebook_page_scrapy_spark.operators import sketches as SK
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") + 1).cast("long").alias("weight")
    )
    u = (SK._md5_u32(F.col("doc_id")).cast("double") + F.lit(0.5)) / F.lit(
        SK.KMV_SCALE
    )
    keyed = docs.withColumn("k", F.log(u) / F.col("weight").cast("double"))
    top = keyed.orderBy(F.desc("k")).limit(_WSAMPLE_K)
    # rank window over the k-row top set only (bounded, not a corpus sort)
    w = Window.orderBy(F.desc("k"))
    return top.select(
        F.row_number().over(w).cast("long").alias("sample_rank"),
        "doc_id",
        "weight",
    )


def _weighted_sample_oracle() -> str:
    from facebook_page_scrapy_spark.operators.sketches import KMV_SCALE, _md5_u32_sql

    h = _md5_u32_sql("doc_id")
    return f"""
    WITH keyed AS (
        SELECT doc_id, CAST(n_chars + 1 AS BIGINT) AS weight,
               ln((CAST({h} AS DOUBLE) + 0.5) / {KMV_SCALE!r})
                   / CAST(n_chars + 1 AS DOUBLE) AS k
        FROM documents),
    top AS (SELECT * FROM keyed ORDER BY k DESC LIMIT {_WSAMPLE_K})
    SELECT CAST(row_number() OVER (ORDER BY k DESC) AS BIGINT) AS sample_rank,
           doc_id, weight
    FROM top
"""


ORACLE_WEIGHTED_SAMPLE = _weighted_sample_oracle()

_CHUNK_LEN = 64  # tokens per chunk
_CHUNK_STRIDE = 48  # 16-token overlap between neighbors


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window document chunking — the retrieval/RAG
    indexing step that cuts each document into 64-token chunks on a
    48-token stride (16-token overlap) so no boundary sentence is lost to
    a chunk edge. Every document yields at least one chunk; the last chunk
    may be short.

    Scale shape: pure narrow map — split + per-doc sequence(0, (nc-1)·s, s)
    + posexplode; NO shuffle anywhere, so it pipelines into whatever
    consumes the chunks (embedding UDF, near-dup pass) and scales linearly
    with corpus bytes. Chunk count per doc is 1 + ceil((n-64)/48), computed
    with double ceil on both engines (exact at the divisible boundaries —
    IEEE division of exactly-representable integers)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda c: c != "")
    d = (
        docs.select("doc_id", toks.alias("toks"))
        .withColumn("n", F.size("toks"))
        .withColumn(
            "nc",
            F.when(F.col("n") <= _CHUNK_LEN, F.lit(1)).otherwise(
                (
                    F.lit(1)
                    + F.ceil(
                        (F.col("n") - _CHUNK_LEN) / F.lit(float(_CHUNK_STRIDE))
                    )
                ).cast("int")
            ),
        )
    )
    exploded = d.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.sequence(
                F.lit(0),
                (F.col("nc") - 1) * _CHUNK_STRIDE,
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("pos", "start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, _CHUNK_LEN)
    return exploded.select(
        "doc_id",
        F.col("pos").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("chunk_ntok"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


ORACLE_DOC_CHUNKING = f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents),
    c AS (
        SELECT doc_id, toks, len(toks) AS n,
               CASE WHEN len(toks) <= {_CHUNK_LEN} THEN 1
                    ELSE 1 + CAST(ceil((len(toks) - {_CHUNK_LEN})
                                       / {float(_CHUNK_STRIDE)!r}) AS BIGINT)
               END AS nc
        FROM t),
    x AS (SELECT doc_id, toks, unnest(range(0, nc)) AS i FROM c)
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           CAST(len(list_slice(toks, i * {_CHUNK_STRIDE} + 1,
                               i * {_CHUNK_STRIDE} + {_CHUNK_LEN})) AS BIGINT)
               AS chunk_ntok,
           array_to_string(list_slice(toks, i * {_CHUNK_STRIDE} + 1,
                                      i * {_CHUNK_STRIDE} + {_CHUNK_LEN}), ' ')
               AS chunk_text
    FROM x
"""


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF-Flat ANN path against the exact answer, per
    query — the same quality gate `ann_recall_report` gives the LSH path,
    closing the ANN family's report pair (an index you can't measure you
    can't tune; FAISS IVF recall is tuned by C and nprobe, and this report
    is the knob's readout). Both sides run on the same twin-augmented
    corpus; exact side = brute-force re-rank ground truth, IVF side =
    ``ann_ivf_topk``'s plan (broadcast centroids, partial-agg argmax
    assignment, nprobe=4 posting lists, exact re-rank on candidates only).

    Scale shape: the IVF leg is cell-occupancy-bounded (never all-pairs);
    the exact leg is the intentionally-quadratic ground truth, bounded here
    by the 1-in-50 query sample exactly as in `ann_recall_report`."""
    aug = (
        _aug_embeddings(spark, sf_dir).withColumnRenamed("v", "embedding").persist()
    )
    queries = aug.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < _TWIN_OFFSET)
    )
    centroids = aug.filter(
        (F.col("vec_id") % _IVF_SEED_STEP == _IVF_SEED_RESIDUE)
        & (F.col("vec_id") < _TWIN_OFFSET)
    ).select(F.col("vec_id").alias("cell_id"), "embedding")
    ivf = DO.ivf_topk(
        aug, queries, centroids, k=5, nprobe=DO.IVF_NPROBE, n_dims=_EMB_NDIMS
    ).select("query_id", "neighbor_id")
    exact = _exact_topk(aug, queries).select("query_id", "neighbor_id")
    n_exact = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = (
        exact.join(ivf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        n_exact.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
        )
        .withColumn("recall_e6", F.expr("(1000000 * n_hit) div n_exact").cast("long"))
    )


ORACLE_ANN_IVF_RECALL = f"""
    WITH ivf AS ({ORACLE_ANN_IVF_TOPK}),
    aug AS ({_AUG_EMB_SQL}),
    q AS (SELECT vec_id, v FROM aug WHERE vec_id % 50 = 0 AND vec_id < {_TWIN_OFFSET}),
    scored AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS cos
        FROM q JOIN aug n ON n.vec_id <> q.vec_id),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id ASC) AS rn
            FROM scored)
        WHERE rn <= 5),
    e AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id),
    h AS (SELECT exact.query_id, count(*) AS n_hit
          FROM exact JOIN ivf ON ivf.query_id = exact.query_id
                             AND ivf.neighbor_id = exact.neighbor_id
          GROUP BY exact.query_id)
    SELECT e.query_id,
           CAST(e.n_exact AS BIGINT) AS n_exact,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST((1000000 * coalesce(h.n_hit, 0)) // e.n_exact AS BIGINT) AS recall_e6
    FROM e LEFT JOIN h ON e.query_id = h.query_id
"""


def q_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two crawl epochs — the incremental-crawl
    planning question "what appeared, vanished, or changed since last
    time". Events are split at the midpoint timestamp into epoch A and
    epoch B; each page's state in an epoch is its LAST event's value
    (NULL-safe max-struct pick, the house dedup idiom), and the full outer
    join classifies every page as added / gone / changed / unchanged.
    The reference re-crawls by diffing comment counts per post
    (Facebook_group_cmt.py:94-105 semantics); this is that diff generalized
    to whole-snapshot state. The page key is fine-grained (1499 buckets,
    event-spread like the CMS key)
    and the state fingerprint is the LAST event's type, so all four
    statuses actually occur in the corpus — single-epoch pages exercise
    added/gone, repeated latest types exercise unchanged (a continuous
    value would make every both-epoch page "changed" and the oracle
    vacuous for the other branches).

    Scale shape: two partial-agg groupBys (one per epoch, map-side
    max-struct combine) + one key-partitioned full outer join — state rows
    are fixed-width (page, state), never event payloads; at 100 TB both
    snapshot states bucket by page key and the join co-locates."""
    ev = _t(spark, sf_dir, "events").select(
        F.concat(
            F.lit("p"),
            ((F.col("user_id") * 131 + F.col("event_id") % 89) % 1499).cast("string"),
        ).alias("page"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        F.col("event_type").alias("state"),
    )
    # midpoint: the int64 sum is exact in both engines, and both then round
    # it to double identically before the /2 (exact — exponent decrement)
    # and the floor/trunc (equal on positives) — so the cut agrees bit-for-
    # bit even though the sum exceeds 2^53
    cut = ev.agg(
        ((F.min("ts_us") + F.max("ts_us")) / F.lit(2)).cast("long").alias("cut_us")
    )
    tagged = ev.crossJoin(F.broadcast(cut)).withColumn(
        "epoch", F.when(F.col("ts_us") <= F.col("cut_us"), F.lit("a")).otherwise(F.lit("b"))
    )

    def _state(epoch: str) -> DataFrame:
        return (
            tagged.filter(F.col("epoch") == epoch)
            .groupBy("page")
            .agg(
                F.max(F.struct("ts_us", "event_id", "state")).alias("last"),
                F.count(F.lit(1)).cast("long").alias(f"{epoch}_n"),
            )
            .select(
                "page",
                F.col("last.state").alias(f"{epoch}_state"),
                f"{epoch}_n",
            )
        )

    a, b = _state("a"), _state("b")
    joined = a.join(b, "page", "full_outer")
    status = (
        F.when(F.col("a_n").isNull(), F.lit("added"))
        .when(F.col("b_n").isNull(), F.lit("gone"))
        .when(F.col("a_state") != F.col("b_state"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        "page",
        status.alias("status"),
        F.coalesce("a_state", F.lit("-")).alias("a_state"),
        F.coalesce("b_state", F.lit("-")).alias("b_state"),
        F.coalesce("a_n", F.lit(0)).cast("long").alias("a_n"),
        F.coalesce("b_n", F.lit(0)).cast("long").alias("b_n"),
    )


ORACLE_CRAWL_DELTA = """
    WITH src AS (
        SELECT 'p' || ((user_id * 131 + event_id % 89) % 1499) AS page,
               epoch_us(ts) AS ts_us, event_id, event_type AS state
        FROM events),
    cut AS (SELECT CAST(floor((min(ts_us) + max(ts_us)) / 2.0) AS BIGINT) AS cut_us
            FROM src),
    tagged AS (
        SELECT s.*, CASE WHEN s.ts_us <= c.cut_us THEN 'a' ELSE 'b' END AS epoch
        FROM src s, cut c),
    ranked AS (
        SELECT page, epoch, state,
               row_number() OVER (PARTITION BY page, epoch
                                  ORDER BY ts_us DESC, event_id DESC) AS rn,
               count(*) OVER (PARTITION BY page, epoch) AS n
        FROM tagged),
    a AS (SELECT page, state AS a_state, n AS a_n FROM ranked
          WHERE epoch = 'a' AND rn = 1),
    b AS (SELECT page, state AS b_state, n AS b_n FROM ranked
          WHERE epoch = 'b' AND rn = 1)
    SELECT coalesce(a.page, b.page) AS page,
           CASE WHEN a.page IS NULL THEN 'added'
                WHEN b.page IS NULL THEN 'gone'
                WHEN a.a_state <> b.b_state THEN 'changed'
                ELSE 'unchanged' END AS status,
           coalesce(a_state, '-') AS a_state,
           coalesce(b_state, '-') AS b_state,
           CAST(coalesce(a_n, 0) AS BIGINT) AS a_n,
           CAST(coalesce(b_n, 0) AS BIGINT) AS b_n
    FROM a FULL OUTER JOIN b USING (page)
"""


_DSIR_B = 1024  # hashed-bigram feature buckets (DSIR's 10k, bench-scaled)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    score every raw document by how much its hashed-bigram distribution
    resembles a target distribution, so a weighted sample of the raw pool
    (``weighted_sample`` over exp(score)) reproduces the target's feature
    mix. Features are md5-hashed word bigrams into 1024 buckets; the target
    here is the English slice of the corpus (the deterministic stand-in for
    "Wikipedia-like" — swap the predicate for a real target table at
    scale). Per-bucket importance is the Laplace-smoothed log-ratio
    ln(p_target(b)/p_raw(b)), floored to integer micro-units ONCE per
    bucket; a document's weight is then the integer sum Σ occ_b · lr_e6[b]
    — order-independent and bit-equal cross-engine (the only double op is
    one ln per bucket on identical exact-integer ratios; the count products
    stay < 2^53 through sf1).

    Scale shape: token explode → per-doc lead() window → (doc, bucket)
    partial agg, all partitioned by doc_id (the window's exchange is
    reused); the bucket rollup collapses to ≤1024 rows map-side and comes
    back as a broadcast join; the final per-doc sum re-uses the doc_id
    partitioning. Nothing quadratic, no Python."""
    from facebook_page_scrapy_spark.operators import sketches as SK

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    tok = docs.select(
        "doc_id", "lang", F.posexplode(T.words(F.lower(F.col("text")))).alias("pos", "w")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    bg = tok.select(
        "doc_id",
        "lang",
        F.concat_ws(" ", F.col("w"), F.lead("w", 1).over(win)).alias("bigram"),
        F.lead("w", 1).over(win).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    # materialize the (doc, bucket, occ) table ONCE — it fans out to four
    # consumers (raw, target, totals, per-doc join) and would otherwise
    # re-run the explode+window per branch (the house fan-out idiom)
    db = (
        bg.groupBy(
            "doc_id",
            "lang",
            (SK._md5_u32(F.col("bigram"), ":dsir") % _DSIR_B).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("occ"))
        .localCheckpoint(eager=True)
    )
    raw = db.groupBy("b").agg(F.sum("occ").alias("c_r"))
    tgt = db.filter(F.col("lang") == "en").groupBy("b").agg(F.sum("occ").alias("c_t"))
    tot = db.agg(
        F.sum("occ").alias("n_r"),
        F.sum(F.when(F.col("lang") == "en", F.col("occ")).otherwise(F.lit(0))).alias(
            "n_t"
        ),
    )
    # exact BIGINT products, then ONE double division + ln + floor per bucket
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.floor(
                F.lit(1000000.0)
                * F.log(
                    (
                        (F.coalesce("c_t", F.lit(0)) + 1) * (F.col("n_r") + _DSIR_B)
                    ).cast("double")
                    / ((F.col("c_r") + 1) * (F.col("n_t") + _DSIR_B)).cast("double")
                )
            ).alias("lr_e6"),
        )
    )
    per = (
        db.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").alias("n_feat"),
            F.sum(F.col("occ") * F.col("lr_e6")).alias("s"),
        )
    )
    base = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce("n_feat", F.lit(0)).cast("long").alias("n_feat"),
        F.coalesce("s", F.lit(0)).cast("long").alias("dsir_e6"),
    )


def _dsir_oracle() -> str:
    from facebook_page_scrapy_spark.operators.sketches import _md5_u32_sql

    h = _md5_u32_sql("bigram", ":dsir")
    return f"""
    WITH wd AS (
        SELECT doc_id, lang,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents),
    tok AS (
        SELECT doc_id, lang, unnest(w) AS w1, generate_subscripts(w, 1) AS pos
        FROM wd),
    bg AS (
        SELECT doc_id, lang,
               w1 || ' ' || lead(w1) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS bigram
        FROM tok
        QUALIFY lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL),
    db AS (
        SELECT doc_id, lang, {h} % {_DSIR_B} AS b, count(*) AS occ
        FROM bg GROUP BY 1, 2, 3),
    raw AS (SELECT b, sum(occ) AS c_r FROM db GROUP BY b),
    tgt AS (SELECT b, sum(occ) AS c_t FROM db WHERE lang = 'en' GROUP BY b),
    tot AS (SELECT sum(occ) AS n_r,
                   sum(CASE WHEN lang = 'en' THEN occ ELSE 0 END) AS n_t
            FROM db),
    lr AS (
        SELECT r.b,
               CAST(floor(1000000.0 * ln(
                   CAST((coalesce(t.c_t, 0) + 1) * (n_r + {_DSIR_B}) AS DOUBLE)
                   / CAST((r.c_r + 1) * (n_t + {_DSIR_B}) AS DOUBLE)))
                   AS BIGINT) AS lr_e6
        FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tot),
    per AS (
        SELECT doc_id, sum(occ) AS n_feat, sum(occ * lr_e6) AS s
        FROM db JOIN lr USING (b) GROUP BY doc_id)
    SELECT d.doc_id, d.lang,
           CAST(coalesce(n_feat, 0) AS BIGINT) AS n_feat,
           CAST(coalesce(s, 0) AS BIGINT) AS dsir_e6
    FROM documents d LEFT JOIN per USING (doc_id)
"""


ORACLE_DSIR_WEIGHTS = _dsir_oracle()

_SPAN_BUDGET = 176  # context-window token budget per doc (2 full quartets)
_MEDIA_TOK_COST = 64  # fixed vision-token cost per media span (ViT-patch stand-in)


def q_span_budget_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-budget truncation of interleaved multimodal documents — the
    packing-prep step a multimodal trainer runs on (text, image, text, …)
    span sequences, where a media span costs a FIXED number of vision
    tokens (64 here — the ViT patch-grid stand-in) and a text span costs
    its word count. Spans are kept in document order while the running
    token total fits the budget; the first span always survives so no
    document vanishes. Emits the running total and the kept flag for every
    span, so the consumer can either take the kept prefix or re-budget.

    Scale shape: the span build's groupBy and the running-sum window share
    the doc_id key — ONE corpus exchange total; the cumulative sum is a
    rows-between running frame (no second sort), everything JVM-side."""
    spans = _built_spans(spark, sf_dir)
    cost = F.when(F.col("kind") == "media", F.lit(_MEDIA_TOK_COST)).otherwise(
        F.size(T.words(F.col("text")))
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("span_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = spans.withColumn("cost_tok", cost).withColumn(
        "cum_tok", F.sum("cost_tok").over(w)
    )
    kept = (F.col("cum_tok") <= _SPAN_BUDGET) | (F.col("span_idx") == 0)
    return d.select(
        "doc_id",
        "span_idx",
        "kind",
        F.col("cost_tok").cast("long").alias("cost_tok"),
        F.col("cum_tok").cast("long").alias("cum_tok"),
        kept.cast("long").alias("kept"),
    )


ORACLE_SPAN_BUDGET_TRUNCATE = f"""
    WITH {_SPAN_BUILD_SQL},
    c AS (
        SELECT doc_id, span_idx, kind,
               CASE WHEN kind = 'media' THEN {_MEDIA_TOK_COST}
                    ELSE len(list_filter(string_split(text, ' '), x -> x <> ''))
               END AS cost_tok
        FROM spans),
    r AS (
        SELECT doc_id, span_idx, kind, cost_tok,
               sum(cost_tok) OVER (PARTITION BY doc_id ORDER BY span_idx
                                   ROWS UNBOUNDED PRECEDING) AS cum_tok
        FROM c)
    SELECT doc_id, span_idx, kind,
           CAST(cost_tok AS BIGINT) AS cost_tok,
           CAST(cum_tok AS BIGINT) AS cum_tok,
           CAST(CASE WHEN cum_tok <= {_SPAN_BUDGET} OR span_idx = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM r
"""


_HITS_ITERS = 3


def q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level HITS hubs & authorities (Kleinberg 1999), 3 fixed
    mutual-reinforcement iterations with per-iteration max-normalization —
    the link-analysis complement to q_host_pagerank: PageRank scores global
    importance, HITS separates *hub* hosts (link out to good content — the
    directory/listing pages a crawler mines for frontier seeds) from
    *authority* hosts (linked to by good hubs — the pages worth fetch
    budget). The reference's per-page link discovery
    (Facebook_group_post.py:152-155) feeds exactly this kind of signal once
    aggregated corpus-wide.

    Determinism across engines: each iteration's raw sums are rounded to
    12 dp BEFORE the max-normalize, so float summation-order differences
    (≤1 ulp over ≤97-term sums) are quantized away before they can
    compound; the normalizing division is IEEE-exact given identical
    inputs, and each normalized score is re-rounded to 12 dp. Final output
    rounds to 6 dp.

    Scale shape: identical to q_host_pagerank — the edge list is the big
    table, materialized once (localCheckpoint) and reused by all 6 joins;
    each half-iteration is one edges⋈scores join + one partial-agg groupBy;
    the score side (one row per host) broadcasts, and the per-iteration max
    is a 1-row scalar broadcast. At web scale: pre-partition edges by the
    join key once per direction and checkpoint scores per iteration."""
    edges = _link_edges_df(spark, sf_dir).distinct().localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _norm(scores: DataFrame, col: str) -> DataFrame:
        # scores fans out into 3 plan branches (max agg, the next half-
        # iteration's join, the final output) — pin it once per iteration or
        # the lazy lineage re-evaluates exponentially across iterations
        # (measured 64 s → 9 s at sf0.01)
        scores = scores.localCheckpoint(eager=True)
        m = scores.agg(F.max(col).alias("m"))
        # no second checkpoint: the normalized frame is one cheap crossJoin
        # above the pinned parent, so downstream branches re-derive it in
        # O(1) instead of paying another eager job
        return scores.crossJoin(F.broadcast(m)).select(
            "node", F.round(F.col(col) / F.col("m"), 12).alias(col)
        )

    hub = nodes.withColumn("hub", F.lit(1.0))
    auth = nodes.withColumn("auth", F.lit(1.0))
    for _ in range(_HITS_ITERS):
        a_raw = (
            edges.join(F.broadcast(hub), edges["src"] == hub["node"])
            .groupBy("dst")
            .agg(F.round(F.sum("hub"), 12).alias("s"))
            .withColumnRenamed("dst", "node")
        )
        auth = _norm(
            nodes.join(a_raw, "node", "left").select(
                "node", F.coalesce("s", F.lit(0.0)).alias("auth")
            ),
            "auth",
        )
        h_raw = (
            edges.join(F.broadcast(auth), edges["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.round(F.sum("auth"), 12).alias("s"))
            .withColumnRenamed("src", "node")
        )
        hub = _norm(
            nodes.join(h_raw, "node", "left").select(
                "node", F.coalesce("s", F.lit(0.0)).alias("hub")
            ),
            "hub",
        )
    return (
        auth.join(hub, "node")
        .select(
            "node",
            F.round("auth", 6).alias("auth"),
            F.round("hub", 6).alias("hub"),
        )
    )


def _hits_cte() -> str:
    """Unrolled HITS iteration CTE chain mirroring q_host_hits."""
    # every CTE here is multi-referenced (scores feed both the max-normalize
    # subquery and the next half-iteration) — MATERIALIZED stops DuckDB from
    # inlining the chain into an exponentially re-evaluated tree (measured
    # 20 s -> 0.05 s at sf0.01), mirroring the Spark side's localCheckpoint
    parts = [
        f"edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({_LINK_EDGES_SQL}))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes)",
    ]
    ph = "h0"
    for i in range(1, _HITS_ITERS + 1):
        parts.append(
            f"""a{i}r AS MATERIALIZED (
            SELECT n.node, coalesce(c.s, 0) AS auth
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, round(sum(h.hub), 12) AS s
                FROM edges e JOIN {ph} h ON h.node = e.src
                GROUP BY e.dst) c ON c.node = n.node)"""
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT node,"
            f" round(auth / (SELECT max(auth) FROM a{i}r), 12)"
            f" AS auth FROM a{i}r)"
        )
        parts.append(
            f"""h{i}r AS MATERIALIZED (
            SELECT n.node, coalesce(c.s, 0) AS hub
            FROM nodes n LEFT JOIN (
                SELECT e.src AS node, round(sum(a.auth), 12) AS s
                FROM edges e JOIN a{i} a ON a.node = e.dst
                GROUP BY e.src) c ON c.node = n.node)"""
        )
        parts.append(
            f"h{i} AS MATERIALIZED (SELECT node,"
            f" round(hub / (SELECT max(hub) FROM h{i}r), 12)"
            f" AS hub FROM h{i}r)"
        )
        ph = f"h{i}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT a.node, round(a.auth, 6) AS auth, round(h.hub, 6) AS hub
    FROM a{_HITS_ITERS} a JOIN h{_HITS_ITERS} h ON a.node = h.node"""
    )


ORACLE_HOST_HITS = _hits_cte()

_MIX_TEMP = 2.0  # UniMax/Gopher-style temperature: w_s ∝ p_s^(1/T), T=2 → sqrt


def q_mixing_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing weights — the multilingual/multi-
    source sampling rule (w_s ∝ p_s^(1/T), T=2) that flattens a training
    mix toward uniform without inverting it (UniMax / Gopher / mC4 style):
    large sources are down-weighted, small ones boosted, and the
    oversample_x column reports each source's resulting up/down-sampling
    factor vs its natural share. Complements q_source_mixing (which applies
    per-doc keep decisions for GIVEN weights) by computing the weights
    themselves from corpus statistics.

    Determinism: source sizes are exact BIGINTs; sqrt is IEEE-exact on both
    engines and rounded to 12 dp; the 20-term normalizer sum is rounded to
    9 dp before the share division; ppm shares floor after a 9-dp round so
    the integer boundary cannot flip on summation order.

    Scale shape: one partial-agg groupBy(source) collapses the corpus to
    one row per source before any exchange; the two normalizers are 1-row
    scalar broadcasts; everything after the first agg is over the
    |sources|-row table. At 100 TB this is a single map-side-combined pass
    regardless of corpus size."""
    sizes = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .withColumn("q", F.round(F.sqrt(F.col("total_chars").cast("double")), 12))
    )
    tot = sizes.agg(
        F.sum("total_chars").cast("double").alias("tot_chars"),
        F.round(F.sum("q"), 9).alias("z"),
    )
    raw_ppm = F.floor(
        F.round(F.lit(1e6) * F.col("total_chars") / F.col("tot_chars"), 9)
    ).cast("long")
    temp_ppm = F.floor(F.round(F.lit(1e6) * F.col("q") / F.col("z"), 9)).cast("long")
    return (
        sizes.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "total_chars",
            raw_ppm.alias("raw_ppm"),
            temp_ppm.alias("temp_ppm"),
            F.round(
                temp_ppm.cast("double") / raw_ppm.cast("double"), 6
            ).alias("oversample_x"),
        )
    )


ORACLE_MIXING_TEMPERATURE = """
    WITH sizes AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               round(sqrt(CAST(sum(n_chars) AS DOUBLE)), 12) AS q
        FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(total_chars) AS DOUBLE) AS tot_chars,
                   round(sum(q), 9) AS z
            FROM sizes),
    shares AS (
        SELECT source, n_docs, total_chars,
               CAST(floor(round(1e6 * total_chars / tot_chars, 9)) AS BIGINT) AS raw_ppm,
               CAST(floor(round(1e6 * q / z, 9)) AS BIGINT) AS temp_ppm
        FROM sizes, tot)
    SELECT source, n_docs, total_chars, raw_ppm, temp_ppm,
           round(CAST(temp_ppm AS DOUBLE) / CAST(raw_ppm AS DOUBLE), 6) AS oversample_x
    FROM shares
"""

_SSAMPLE_K = 5  # per-stratum draw size


def q_source_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum weighted sample without replacement: k=5 docs PER SOURCE,
    probability ∝ (n_chars+1), via the same Efraimidis–Spirakis A-ES keys
    as q_weighted_sample but drawn independently inside every stratum —
    the "balanced mix, weighted within source" draw a training-data
    curation run uses so no source is starved by a global draw. Seeded by
    doc_id (md5-uniform), so the sample is reproducible and the oracle
    re-derives it bit-for-bit.

    Scale shape: narrow map (hash + one ln) then a row_number window
    partitioned by source — ONE exchange hash-partitioned on the stratum
    key with an in-partition sort. For skewed strata at 100 TB, cap the
    sort cost with a two-phase draw: per-input-partition local top-k per
    source (mapInPandas heap) feeding the same window over ≤k·n_partitions
    rows per stratum; the A-ES reduction makes the two-phase result
    identical because the global top-k is a subset of the local top-ks."""
    from facebook_page_scrapy_spark.operators import sketches as SK

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", (F.col("n_chars") + 1).cast("long").alias("weight")
    )
    u = (SK._md5_u32(F.col("doc_id")).cast("double") + F.lit(0.5)) / F.lit(
        SK.KMV_SCALE
    )
    keyed = docs.withColumn("k", F.log(u) / F.col("weight").cast("double"))
    w = Window.partitionBy("source").orderBy(F.desc("k"))
    return (
        keyed.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= _SSAMPLE_K)
        .select("source", "sample_rank", "doc_id", "weight")
    )


def _source_weighted_sample_oracle() -> str:
    from facebook_page_scrapy_spark.operators.sketches import KMV_SCALE, _md5_u32_sql

    h = _md5_u32_sql("doc_id")
    return f"""
    WITH keyed AS (
        SELECT doc_id, source, CAST(n_chars + 1 AS BIGINT) AS weight,
               ln((CAST({h} AS DOUBLE) + 0.5) / {KMV_SCALE!r})
                   / CAST(n_chars + 1 AS DOUBLE) AS k
        FROM documents),
    ranked AS (
        SELECT source, doc_id, weight,
               CAST(row_number() OVER (PARTITION BY source ORDER BY k DESC)
                    AS BIGINT) AS sample_rank
        FROM keyed)
    SELECT source, sample_rank, doc_id, weight
    FROM ranked WHERE sample_rank <= {_SSAMPLE_K}
"""


ORACLE_SOURCE_WEIGHTED_SAMPLE = _source_weighted_sample_oracle()


_PHRASE_SEED_DOCS = (0, 100, 200)  # phrase = first 3 tokens of these docs
_PHRASE_LEN = 3


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search — the exact-match retrieval primitive a
    corpus-inspection tool runs over a positional inverted index ("find every
    occurrence of this 3-word phrase"). Query phrases are derived from the
    corpus itself (the first {_PHRASE_LEN} tokens of docs {_PHRASE_SEED_DOCS})
    so the query set is deterministic and non-vacuous at every SF.

    Plan shape at 100 TB: the postings table (doc_id, pos, word) is one
    narrow posexplode — no shuffle; the phrase table is O(queries·len) rows
    and broadcast, so candidate generation is a map-side hash join. The only
    exchange is the groupBy on (query_id, doc_id, anchor), which carries
    candidate rows only (postings matching some query word), a vocabulary
    -filtered sliver of the corpus. A match anchors where all {_PHRASE_LEN}
    query positions land: pos - q_pos constant and count == phrase length
    (for a fixed anchor each q_pos pins exactly one pos, so count(*) cannot
    overcount even when the phrase repeats a word)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", T.words(F.col("text")).alias("ws")
    )
    tok = docs.select(
        "doc_id", F.posexplode("ws").alias("pos0", "wd")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "wd")
    phrases = (
        docs.filter(F.col("doc_id").isin(*_PHRASE_SEED_DOCS))
        .select(
            F.col("doc_id").alias("query_id"),
            F.posexplode(F.slice("ws", 1, _PHRASE_LEN)).alias("qpos0", "wd"),
        )
        .select("query_id", (F.col("qpos0") + 1).alias("q_pos"), "wd")
    )
    cand = tok.join(F.broadcast(phrases), "wd").select(
        "query_id", "doc_id", (F.col("pos") - F.col("q_pos")).alias("anchor")
    )
    return (
        cand.groupBy("query_id", "doc_id", "anchor")
        .agg(F.count(F.lit(1)).alias("nhit"))
        .filter(F.col("nhit") == _PHRASE_LEN)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("doc_id").cast("long").alias("doc_id"),
            (F.col("anchor") + 1).cast("long").alias("match_pos"),
        )
    )


ORACLE_PHRASE_SEARCH = f"""
    WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents),
    tok AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS wd FROM w),
    ph AS (SELECT doc_id AS query_id,
                  generate_subscripts(ws[1:{_PHRASE_LEN}], 1) AS q_pos,
                  unnest(ws[1:{_PHRASE_LEN}]) AS wd
           FROM w WHERE doc_id IN {_PHRASE_SEED_DOCS}),
    cand AS (SELECT ph.query_id, tok.doc_id, tok.pos - ph.q_pos AS anchor
             FROM tok JOIN ph USING (wd))
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(anchor + 1 AS BIGINT) AS match_pos
    FROM cand
    GROUP BY query_id, doc_id, anchor
    HAVING count(*) = {_PHRASE_LEN}
"""


_PMI_MIN_COUNT = 10


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining — adjacent-bigram association strength, the
    signal a tokenizer/phrase-vocab designer uses to decide which word pairs
    merge into one unit. pmi_e6 is an integer-exact monotone surrogate for
    exp(PMI): floor-division chain ((c_xy·1e6 div c_x) · n_tokens div c_y),
    identical BIGINT arithmetic on both engines (all operands non-negative,
    so div/floor agree). At 100-TB token counts (n ≳ 1e13) the product would
    pass 2^63 — the scale form swaps the surrogate for double log-PMI once
    counts leave the exact-integer window; the structure is unchanged.

    Plan: one exchange on doc_id for the adjacency window (bigrams never
    cross documents), a partial-aggregated bigram groupBy, and two broadcast
    joins against the vocabulary-sized unigram table; n_tokens arrives as a
    broadcast 1-row aggregate, never a driver collect."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", T.words(F.col("text")).alias("ws")
    )
    tok = docs.select("doc_id", F.posexplode("ws").alias("pos", "wd"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    bg = tok.select(
        F.col("wd").alias("w1"), F.lead("wd", 1).over(win).alias("w2")
    ).filter(F.col("w2").isNotNull())
    cxy = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
    uni = tok.groupBy("wd").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = tok.agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    return (
        cxy.filter(F.col("c_xy") >= _PMI_MIN_COUNT)
        .join(F.broadcast(uni.select(F.col("wd").alias("w1"),
                                     F.col("c").alias("c_x"))), "w1")
        .join(F.broadcast(uni.select(F.col("wd").alias("w2"),
                                     F.col("c").alias("c_y"))), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1", "w2", "c_xy", "c_x", "c_y",
            F.expr("((c_xy * 1000000) div c_x) * n_tokens div c_y")
            .cast("long").alias("pmi_e6"),
        )
    )


ORACLE_PMI_COLLOCATIONS = f"""
    WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents),
    tok AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS wd FROM w),
    bg AS (SELECT wd AS w1,
                  lead(wd) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
           FROM tok),
    cxy AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
            FROM bg WHERE w2 IS NOT NULL GROUP BY w1, w2),
    uni AS (SELECT wd, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY wd),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok)
    SELECT cxy.w1, cxy.w2, c_xy, ux.c AS c_x, uy.c AS c_y,
           CAST(((c_xy * 1000000) // ux.c) * n_tokens // uy.c AS BIGINT) AS pmi_e6
    FROM cxy
    JOIN uni ux ON cxy.w1 = ux.wd
    JOIN uni uy ON cxy.w2 = uy.wd
    CROSS JOIN n
    WHERE c_xy >= {_PMI_MIN_COUNT}
"""


_WINNOW_W = 8  # winnowing window: grams per selection window
_WINNOW_POS_CAP = 1 << 20  # combined-key pos headroom (docs < 2^20 tokens)


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer et al., SIGMOD 2003 — the
    MOSS scheme): from every window of {_WINNOW_W} consecutive 16-word gram
    hashes pick the minimum (rightmost on ties), then dedup the picks — a
    guaranteed-density ~2/(w+1) fingerprint set with the property that any
    shared substring of ≥ w+15 words yields a shared fingerprint.

    The rightmost-min tie-break rides one combined BIGINT key
    k = h·2^21 + (2^20 − pos) (h < 2^31 so k < 2^52; docs are assumed
    < 2^20 tokens — true by construction here, and a per-shard re-chunk
    restores it at scale): min(k) = min hash, then max pos. Plan: the gram
    derivation's single doc_id exchange is the ONLY exchange until the final
    distinct on (doc_id, k) — the sliding min/count are narrow window passes
    over the same partitioning, and the distinct keys are 16 bytes/row."""
    grams = _doc_grams(spark, sf_dir)
    k = (F.col("gram_hash") * F.lit(1 << 21)
         + (F.lit(_WINNOW_POS_CAP) - F.col("pos"))).alias("k")
    keyed = grams.select("doc_id", "pos", k)
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WINNOW_W - 1)
    picks = (
        keyed.select(
            "doc_id",
            F.min("k").over(win).alias("k_min"),
            F.count(F.lit(1)).over(win).alias("wlen"),
        )
        .filter(F.col("wlen") == _WINNOW_W)
        .select("doc_id", "k_min").distinct()
    )
    return picks.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        # Spark gram pos is 0-based; +1 matches the oracle's 1-based subscripts
        (F.lit(_WINNOW_POS_CAP) - F.col("k_min") % F.lit(1 << 21) + 1)
        .cast("long").alias("fp_pos"),
        F.expr(f"k_min div {1 << 21}").cast("long").alias("gram_hash"),
    )


ORACLE_WINNOWING_FINGERPRINTS = f"""
    WITH {_doc_grams_sql()},
    keyed AS (
        SELECT doc_id, pos,
               gram_hash * {1 << 21} + ({_WINNOW_POS_CAP} - pos) AS k
        FROM gr WHERE gram_hash IS NOT NULL),
    picks AS (
        SELECT DISTINCT doc_id,
               min(k) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
                   AS k_min,
               count(*) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
                   AS wlen
        FROM keyed)
    SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id,
           CAST({_WINNOW_POS_CAP} - (k_min % {1 << 21}) AS BIGINT) AS fp_pos,
           CAST(k_min // {1 << 21} AS BIGINT) AS gram_hash
    FROM picks WHERE wlen = {_WINNOW_W}
"""


def q_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty contribution — the data-curation readout ("does
    this doc add anything the corpus doesn't already have?"): for each doc,
    the share of its distinct 16-word gram hashes whose globally-first
    carrier (min doc_id) is this doc. Crawl ordering by novelty is the
    frontier-side form of dedup: skip re-fetching pages whose content the
    corpus already holds.

    Plan: distinct (doc_id, gram_hash) → one exchange; the first-carrier
    min rides a gram_hash-partitioned window over ids only (16 bytes/row);
    the per-doc rollup is a partial-agg groupBy. Document text never
    shuffles. novelty_e6 is floor BIGINT division (non-negative operands,
    div/floor agree across engines)."""
    grams = _doc_grams(spark, sf_dir)
    dg = grams.select("doc_id", "gram_hash").distinct()
    hwin = Window.partitionBy("gram_hash")
    flagged = dg.select(
        "doc_id",
        (F.min("doc_id").over(hwin) == F.col("doc_id")).alias("is_first"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.col("is_first").cast("long")).cast("long").alias("n_novel"),
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_grams", "n_novel",
            F.expr("(n_novel * 1000000) div n_grams").cast("long")
            .alias("novelty_e6"),
        )
    )


ORACLE_GRAM_NOVELTY = f"""
    WITH {_doc_grams_sql()},
    dg AS (SELECT DISTINCT doc_id, gram_hash FROM gr WHERE gram_hash IS NOT NULL),
    flagged AS (
        SELECT doc_id,
               CASE WHEN min(doc_id) OVER (PARTITION BY gram_hash) = doc_id
                    THEN 1 ELSE 0 END AS is_first
        FROM dg)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(is_first) AS BIGINT) AS n_novel,
           CAST((sum(is_first) * 1000000) // count(*) AS BIGINT) AS novelty_e6
    FROM flagged GROUP BY doc_id
"""


def q_host_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host triangle participation on the undirected host link graph —
    the local-clustering signal that separates organically interlinked site
    clusters from star-shaped link farms (triangle-free hubs).

    Canonical orientation (lo < hi lexicographically) makes each triangle
    a<b<c countable exactly once via two self-joins: (a,b)⋈(b,c) then the
    closing (a,c) probe. At web scale the orientation becomes by-degree
    (low→high), bounding per-vertex join fan-out by graph arboricity
    instead of max degree — same plan shape, different sort key. All joins
    key on host strings; per-triangle rows are 3 short strings. Hosts with
    no triangles still get a row (count 0) via the vertex-table left join."""
    e = (
        _link_edges_df(spark, sf_dir)
        .select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .distinct()
    )
    tri = (
        e.alias("ab")
        .join(e.alias("bc"), F.col("ab.hi") == F.col("bc.lo"))
        .join(
            e.alias("ac"),
            (F.col("ac.lo") == F.col("ab.lo")) & (F.col("ac.hi") == F.col("bc.hi")),
        )
        .select(
            F.col("ab.lo").alias("a"), F.col("ab.hi").alias("b"),
            F.col("bc.hi").alias("c"),
        )
    )
    per_host = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    verts = e.select(F.col("lo").alias("host")).union(
        e.select(F.col("hi").alias("host"))
    ).distinct()
    return verts.join(per_host, "host", "left").select(
        "host", F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles")
    )


ORACLE_HOST_TRIANGLES = f"""
    WITH raw AS ({_LINK_EDGES_SQL}),
    e AS (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi FROM raw),
    tri AS (
        SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
        FROM e ab
        JOIN e bc ON ab.hi = bc.lo
        JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi),
    hosts AS (
        SELECT a AS host FROM tri UNION ALL
        SELECT b FROM tri UNION ALL
        SELECT c FROM tri),
    per AS (SELECT host, count(*) AS n_triangles FROM hosts GROUP BY host),
    verts AS (SELECT lo AS host FROM e UNION SELECT hi FROM e)
    SELECT verts.host, CAST(coalesce(per.n_triangles, 0) AS BIGINT) AS n_triangles
    FROM verts LEFT JOIN per ON verts.host = per.host
"""


_LPA_ITERS = 3


def q_host_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007), {_LPA_ITERS}
    fixed iterations — host-graph community detection: each host adopts the
    most common label among its neighbors (ties → smallest label), seeded
    with its own numeric id. Communities tell a crawl scheduler which host
    groups interlink (shared CMS farms, mirror networks) so budget caps can
    apply per community instead of per host.

    Deterministic across engines: votes are exact integer counts, the pick
    is (max count, then min label) — no floats anywhere. The output carries
    the label after EVERY iteration (c1..c{_LPA_ITERS}; the last one is the
    community): the synthetic host graph densifies with SF until LPA
    converges to one label, so the intermediate labels are what keep the
    oracle sensitive to the vote/tie-break logic at every scale. Scale
    shape: per iteration one edge⋈label join (label side is node-sized,
    broadcast; at web scale pre-partition edges by neighbor and co-partition
    the label table instead) and one (node, label) partial-agg groupBy; the
    edge list is checkpointed once and reused by all iterations (the
    host_pagerank loop-state pattern)."""
    edges = (
        _link_edges_df(spark, sf_dir)
        .select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    und = edges.select(F.col("lo").alias("a"), F.col("hi").alias("b")).union(
        edges.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
    )
    labels = und.select(F.col("a").alias("node")).distinct().select(
        "node", F.expr("CAST(substring(node, 2) AS BIGINT)").alias("label")
    )
    out = labels.select("node")
    for i in range(1, _LPA_ITERS + 1):
        votes = (
            und.join(F.broadcast(labels), und["b"] == labels["node"])
            .groupBy("a", "label")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        labels = (
            votes.groupBy("a")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("m"))
            .select(F.col("a").alias("node"), (-F.col("m.nl")).cast("long").alias("label"))
        )
        out = out.join(
            F.broadcast(labels.select("node", F.col("label").alias(f"c{i}"))), "node"
        )
    return out.withColumn("community", F.col(f"c{_LPA_ITERS}"))


def _lpa_cte() -> str:
    """Unrolled synchronous-LPA CTE chain mirroring q_host_communities."""
    parts = [
        f"""edges AS (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
                      FROM ({_LINK_EDGES_SQL}))""",
        "und AS (SELECT lo AS a, hi AS b FROM edges UNION ALL SELECT hi, lo FROM edges)",
        """l0 AS (SELECT DISTINCT a AS node,
                         CAST(substring(a, 2) AS BIGINT) AS label FROM und)""",
    ]
    prev = "l0"
    for i in range(1, _LPA_ITERS + 1):
        parts.append(f"""
        v{i} AS (SELECT und.a, l.label, count(*) AS cnt
                 FROM und JOIN {prev} l ON und.b = l.node
                 GROUP BY und.a, l.label),
        l{i} AS (SELECT a AS node, label FROM (
                     SELECT a, label,
                            row_number() OVER (PARTITION BY a
                                               ORDER BY cnt DESC, label ASC) AS rn
                     FROM v{i}) WHERE rn = 1)""")
        prev = f"l{i}"
    cols = ", ".join(
        f"CAST(l{i}.label AS BIGINT) AS c{i}" for i in range(1, _LPA_ITERS + 1)
    )
    joins = " ".join(
        f"JOIN l{i} ON l{i}.node = l1.node" for i in range(2, _LPA_ITERS + 1)
    )
    return (
        "WITH " + ",".join(parts)
        + f""" SELECT l1.node, {cols},
                      CAST(l{_LPA_ITERS}.label AS BIGINT) AS community
               FROM l1 {joins}"""
    )


ORACLE_HOST_COMMUNITIES = _lpa_cte()


_RBJ_W = 40  # range bin width; ranges are 2 bins wide


def q_range_bin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval join via binning — the scale-safe form of the
    theta join (key ≥ lo AND key < hi) that Spark would otherwise execute as
    a BroadcastNestedLoopJoin: every range spans exactly two {_RBJ_W}-wide
    bins, so exploding ranges to their bins turns the containment predicate
    into an equi-join on bin + a residual filter. With a 25-row dim the
    broadcast would win anyway; the binned plan is the one that survives when
    the range side is millions of rows (IP→geo, time-window enrichment) —
    hash-partitioned on bin, per-bin fan-out bounded by range width, never
    |probe|×|ranges|.

    Probe keys spread deterministically over [0, 1000) via
    (user_id·131 + event_id) mod 1000; ranges are nation-keyed
    [k·{_RBJ_W}, k·{_RBJ_W} + {2 * _RBJ_W}) so interior keys match exactly
    two nations and edge keys one. The oracle runs the PLAIN theta join —
    the cross-engine compare proves binned ≡ theta."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("user_id") * 131 + F.col("event_id")) % 1000).alias("key"),
    )
    ranges = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("nationkey"),
        (F.col("n_nationkey").cast("long") * _RBJ_W).alias("lo"),
        (F.col("n_nationkey").cast("long") * _RBJ_W + 2 * _RBJ_W).alias("hi"),
    )
    rc = ranges.select(
        "nationkey", "lo", "hi",
        F.explode(
            F.sequence(F.expr(f"lo div {_RBJ_W}"), F.expr(f"(hi - 1) div {_RBJ_W}"))
        ).alias("bin"),
    )
    evb = ev.withColumn("bin", F.expr(f"key div {_RBJ_W}"))
    matched = evb.join(rc, "bin").filter(
        (F.col("key") >= F.col("lo")) & (F.col("key") < F.col("hi"))
    )
    return (
        matched.groupBy("nationkey", "lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("key").cast("long").alias("n_keys"),
        )
    )


ORACLE_RANGE_BIN_JOIN = f"""
    WITH ev AS (SELECT event_id, (user_id * 131 + event_id) % 1000 AS key
                FROM events),
    ranges AS (SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
                      CAST(n_nationkey AS BIGINT) * {_RBJ_W} AS lo,
                      CAST(n_nationkey AS BIGINT) * {_RBJ_W} + {2 * _RBJ_W} AS hi
               FROM nation)
    SELECT nationkey, lo, hi,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT key) AS BIGINT) AS n_keys
    FROM ev JOIN ranges ON ev.key >= ranges.lo AND ev.key < ranges.hi
    GROUP BY nationkey, lo, hi
"""


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering — the global training-order assignment that
    interleaves sources round-robin by per-source quality rank (rank-1 docs
    of every source first, then rank-2, …), so early training steps see the
    best of every source instead of one source's whole corpus.

    The naive form is a GLOBAL row_number over (rank, source) — a
    single-partition sort that dies at 100 TB. Here the global position is
    computed arithmetically: curriculum_pos(rank, s) = Σ_t min(size_t,
    rank−1) + #{t < s : size_t ≥ rank} + 1, with the per-source size table
    collapsed to ONE sorted array row and broadcast — the assignment is then
    a narrow map (F.aggregate over the ≤|sources| array), no global sort
    anywhere. The oracle runs the naive global row_number; the compare
    proves closed-form ≡ sort. Quality proxy: n_chars (desc), doc_id
    tiebreak."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    rwin = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = docs.select(
        "doc_id", "source", F.row_number().over(rwin).cast("long").alias("rank")
    )
    sizes = (
        ranked.groupBy("source")
        .agg(F.max("rank").alias("size"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("source"), F.col("size")))
            ).alias("sz")
        )
    )
    pos = F.aggregate(
        F.col("sz"),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.least(x["size"], F.col("rank") - 1)
        + F.when(
            (x["source"] < F.col("source")) & (x["size"] >= F.col("rank")), 1
        ).otherwise(0),
    )
    return (
        ranked.crossJoin(F.broadcast(sizes))
        .select("doc_id", "source", "rank", (pos + 1).alias("curriculum_pos"))
    )


ORACLE_CURRICULUM_ORDER = """
    WITH ranked AS (
        SELECT doc_id, source,
               CAST(row_number() OVER (PARTITION BY source
                                       ORDER BY n_chars DESC, doc_id ASC)
                    AS BIGINT) AS rank
        FROM documents)
    SELECT doc_id, source, rank,
           CAST(row_number() OVER (ORDER BY rank, source) AS BIGINT)
               AS curriculum_pos
    FROM ranked
"""


_CDX_SHARDS = 8


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX offset index over the WARC export — the lookup sidecar a web
    archive ships next to its WARC shards (Common Crawl's cdx-*.gz): for
    every record, which shard holds it, at what byte offset, and how long it
    is, assuming records are concatenated in doc_id order within each of
    {_CDX_SHARDS} doc_id-mod shards. Random access into a 100-TB archive is
    exactly (shard, offset, length).

    Offsets are per-shard running sums of the framed record lengths
    (codepoint lengths, matching q_warc_export's deliberate convention) —
    one exchange on shard, then a narrow cumulative window. Shards
    parallelize the build; within-shard order is the write order, so the
    index is exact by construction rather than re-scanned from the files."""
    exp = q_warc_export(spark, sf_dir).select(
        (F.col("doc_id") % _CDX_SHARDS).alias("shard"),
        "doc_id", "target_uri", "record_len",
    )
    win = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return exp.select(
        "shard", "doc_id", "target_uri",
        F.coalesce(F.sum("record_len").over(win), F.lit(0))
        .cast("long").alias("byte_offset"),
        F.col("record_len").cast("long").alias("rec_len"),
    )


ORACLE_CDX_INDEX = f"""
    WITH export AS ({ORACLE_WARC_EXPORT})
    SELECT doc_id % {_CDX_SHARDS} AS shard, doc_id, target_uri,
           CAST(coalesce(sum(record_len) OVER (
                    PARTITION BY doc_id % {_CDX_SHARDS} ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS byte_offset,
           CAST(record_len AS BIGINT) AS rec_len
    FROM export
"""


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ss) — each doc's distinct 3-word shingle strings, the exact
    feature set q_minhash_signatures's MinHash estimates. Checkpointed: the
    HOF expression tree would otherwise re-evaluate per plan branch in the
    self-join below (the measured 10× pitfall)."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", T.words(F.col("text")).alias("ws"))
        .filter(F.size("ws") >= 3)  # sequence(1, n-2) is DESCENDING if n < 3
    )
    return docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("ws"), i),
                    F.element_at(F.col("ws"), i + 1),
                    F.element_at(F.col("ws"), i + 2),
                ),
            )
        ).alias("ss"),
    ).localCheckpoint(eager=True)


_SHINGLE_SETS_SQL = """
    shw AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
            FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct(list_transform(generate_series(1, len(ws) - 2),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS ss
           FROM shw WHERE len(ws) >= 3)
"""


def q_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH quality gate — the text-near-dup analogue of
    `ann_recall_report`, for the 4-band × 2-row shingle-MinHash path
    (`minhash_lsh_pairs`): measured recall against the exact 3-word-shingle
    Jaccard ≥ 0.75 ground truth (intentionally quadratic, test-SF only — at
    100 TB the analytic banding bound replaces the measured one), plus
    confirm-precision (the share of band candidates surviving the exact
    re-check — what prices the confirm stage). Banding theory: candidate
    prob = 1−(1−s²)⁴ at similarity s, ≈0.96 at the 0.75 threshold —
    this query is the empirical readout of that bound on the live corpus.
    NB the truth is SHINGLE Jaccard — the quantity this MinHash estimates —
    not the word-set Jaccard of the ngram_jaccard family (its recall gate
    is the exact-equality pytest on q_ngram_jaccard_lsh).

    One row; ratios are integer micro-units (floor div, both engines
    BIGINT). Every count is a 1-row aggregate broadcast into the final
    projection — no driver collect."""
    sh = _shingle_sets(spark, sf_dir)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb"))

    def jac() -> F.Column:
        inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
        union = (F.size("sa") + F.size("sb")).cast("double") - inter
        return F.round(inter / union, 6)

    truth = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jac", jac())
        .filter(F.col("jac") >= 0.75)
        .select("doc_a", "doc_b")
    )
    cand = q_minhash_lsh_pairs(spark, sf_dir)
    conf = (
        cand.join(a, "doc_a").join(b, "doc_b")
        .withColumn("jac", jac())
        .filter(F.col("jac") >= 0.75)
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    n_hits = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    n_conf = conf.agg(F.count(F.lit(1)).cast("long").alias("n_confirmed"))
    return (
        n_truth.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hits))
        .crossJoin(F.broadcast(n_conf))
        .select(
            "n_truth", "n_candidates", "n_hits", "n_confirmed",
            F.expr("(n_hits * 1000000) div n_truth").cast("long")
            .alias("recall_e6"),
            F.expr("(n_confirmed * 1000000) div n_candidates").cast("long")
            .alias("precision_e6"),
        )
    )


ORACLE_LSH_RECALL_REPORT = f"""
    WITH {_SHINGLE_SETS_SQL},
    truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE round(CAST(len(list_filter(a.ss, x -> list_contains(b.ss, x))) AS DOUBLE)
              / (len(a.ss) + len(b.ss)
                 - len(list_filter(a.ss, x -> list_contains(b.ss, x)))), 6) >= 0.75),
    cand AS ({ORACLE_MINHASH_LSH_PAIRS}),
    conf AS (
        SELECT count(*) AS n_confirmed
        FROM cand
        JOIN sh a ON a.doc_id = cand.doc_a
        JOIN sh b ON b.doc_id = cand.doc_b
        WHERE round(CAST(len(list_filter(a.ss, x -> list_contains(b.ss, x))) AS DOUBLE)
              / (len(a.ss) + len(b.ss)
                 - len(list_filter(a.ss, x -> list_contains(b.ss, x)))), 6) >= 0.75),
    nt AS (SELECT count(*) AS n_truth FROM truth),
    nc AS (SELECT count(*) AS n_candidates FROM cand),
    nh AS (SELECT count(*) AS n_hits
           FROM truth JOIN cand USING (doc_a, doc_b))
    SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_confirmed AS BIGINT) AS n_confirmed,
           CAST((n_hits * 1000000) // n_truth AS BIGINT) AS recall_e6,
           CAST((n_confirmed * 1000000) // n_candidates AS BIGINT) AS precision_e6
    FROM nt CROSS JOIN nc CROSS JOIN nh CROSS JOIN conf
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: per query,
    the top-3 most-cosine-similar vectors with a DIFFERENT label — the
    near-miss examples a triplet/InfoNCE loss learns the most from (easy
    negatives are already far; same-label neighbors are positives).

    Queries are every 50th vector and the scoring is the same unrolled
    codegen'd cosine as the `_exact_topk` ground-truth family — the
    intentional bounded cross join (test-SF exact answer). At 100 TB the
    candidate stream swaps to the IVF posting lists (`ann_ivf_topk`) with
    this same label-exclusion filter before the re-rank; the plan shape
    downstream of candidates is unchanged. Ranks-only output
    (float-order-proof; ties → min neighbor_id)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
    )
    pairs = q.crossJoin(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("n_label"),
            F.col("embedding").alias("ne"),
        )
    ).filter(
        (F.col("query_id") != F.col("neighbor_id"))
        & (F.col("q_label") != F.col("n_label"))
    )
    scored = pairs.withColumn(
        "cos",
        DO.dot_expr("qe", "ne", _EMB_NDIMS)
        / (DO.vec_norm_expr("qe", _EMB_NDIMS) * DO.vec_norm_expr("ne", _EMB_NDIMS)),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank")
    )


ORACLE_HARD_NEGATIVES = """
    WITH q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS qe
               FROM embeddings WHERE vec_id % 50 = 0),
    scored AS (
        SELECT query_id, e.vec_id AS neighbor_id,
               list_dot_product(CAST(qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(qe AS DOUBLE[]), CAST(qe AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))) AS cos
        FROM q, embeddings e
        WHERE e.vec_id <> query_id AND e.label <> q_label)
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id ASC)
                AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 3
"""


def q_latency_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency-adaptive politeness — the budget refinement a real crawler
    layers over robots crawl-delay: per-host p95 response latency (events'
    ``value`` column as the ms proxy) sets next round's token budget, so
    slow hosts are fetched gently and fast hosts use their headroom.

    The p95 is EXACT by rank selection, not a float quantile estimate:
    idx = ceil(0.95·n) computed in BIGINT ((19n+19) div 20), the row picked
    by row_number over (value, event_id) — both engines select the same
    physical row, so the emitted p95 is bit-identical without any float
    summation. Budget = max(1, 10_000_000 div (p95_e6 + 1)) — integer floor
    division end to end. One exchange on host; the window and rollup share
    it. At 100 TB hosts are the natural partition key and per-host event
    counts are politeness-bounded, so the window never sees a giant
    partition."""
    ev = (
        _t(spark, sf_dir, "events")
        # NULL ordering defaults diverge between engines; latencies are
        # non-null by construction, the filter makes that a guarantee
        .filter(F.col("value").isNotNull())
        .select(
            F.concat(F.lit("n"), (F.col("user_id") % 97).cast("string"))
            .alias("host"),
            "event_id",
            F.col("value").alias("lat"),
        )
    )
    win = Window.partitionBy("host").orderBy(
        F.col("lat").asc(), F.col("event_id").asc()
    )
    ranked = ev.select(
        "host", "lat",
        F.row_number().over(win).cast("long").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("host")).cast("long").alias("n"),
    )
    picked = ranked.filter(
        F.col("rn") == F.expr("(19 * n + 19) div 20")
    ).select(
        "host",
        F.col("n").alias("n_events"),
        F.round(F.col("lat") * 1e6).cast("long").alias("p95_e6"),
    )
    return picked.select(
        "host", "n_events", "p95_e6",
        F.greatest(F.lit(1).cast("long"),
                   F.expr("10000000 div (p95_e6 + 1)").cast("long"))
        .alias("budget_tokens"),
    )


ORACLE_LATENCY_BUDGET = """
    WITH ev AS (SELECT 'n' || (user_id % 97) AS host, event_id, value AS lat
                FROM events WHERE value IS NOT NULL),
    ranked AS (
        SELECT host, lat,
               CAST(row_number() OVER (PARTITION BY host
                                       ORDER BY lat ASC, event_id ASC)
                    AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY host) AS BIGINT) AS n
        FROM ev),
    picked AS (
        SELECT host, n AS n_events,
               CAST(round(lat * 1e6) AS BIGINT) AS p95_e6
        FROM ranked WHERE rn = (19 * n + 19) // 20)
    SELECT host, n_events, p95_e6,
           greatest(CAST(1 AS BIGINT),
                    CAST(10000000 // (p95_e6 + 1) AS BIGINT)) AS budget_tokens
    FROM picked
"""


_FERT_PLANTED = [
    (9100001, "the server is in a retry loop: attempt #1, attempt #2 (backoff=2.5s)!"),
    (9100002, "der code ist nicht gut: fehler 500; neustart... und nochmal!"),
    (9100003, "xq zvq 9941 !!! ??? ### 12.34.56 qqq-zzz"),
]


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — BPE-ish tokens per whitespace word,
    the readout a multilingual tokenizer design is judged on (high fertility
    = the vocab splinters that language, inflating its effective sequence
    length and compute cost; UniMax/XLM-R papers tune vocab against exactly
    this table).

    The synthetic corpus is punctuation-free by construction, so its true
    fertility is exactly 1.0 for every language — three planted
    punctuation/digit-rich docs (the q_pii_scrub pattern) keep the readout
    discriminating (fertility > 1, one per language bucket). One scan
    computes langid + both token counts side by side (no join — the three
    are expressions over the same row), then one partial-agg exchange on
    the ≤|languages| key. fertility_e6 = (Σbpe·1e6) div Σws, BIGINT floor
    division on both engines."""
    planted = spark.createDataFrame(_FERT_PLANTED, "doc_id long, text string")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        planted
    )
    per = docs.select(
        T.langid(F.col("text")).alias("langid"),
        T.token_count_ws(F.col("text")).cast("long").alias("n_ws"),
        T.token_count_bpe(F.col("text")).cast("long").alias("n_bpe"),
    ).filter(F.col("n_ws") > 0)
    return (
        per.groupBy("langid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_ws").cast("long").alias("sum_ws"),
            F.sum("n_bpe").cast("long").alias("sum_bpe"),
        )
        .select(
            "langid", "n_docs", "sum_ws", "sum_bpe",
            F.expr("(sum_bpe * 1000000) div sum_ws").cast("long")
            .alias("fertility_e6"),
        )
    )


_FERT_PLANTED_SQL = " UNION ALL ".join(
    "SELECT CAST({} AS BIGINT) AS doc_id, '{}' AS text".format(i, t)
    for i, t in _FERT_PLANTED
)

ORACLE_TOKENIZER_FERTILITY = f"""
    WITH fd AS (SELECT doc_id, text FROM documents
                UNION ALL {_FERT_PLANTED_SQL}),
    lang_of AS ({_langid_oracle("fd")}),
    tok AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS BIGINT) AS n_ws,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                    AS BIGINT) AS n_bpe
        FROM fd)
    SELECT langid,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_ws) AS BIGINT) AS sum_ws,
           CAST(sum(n_bpe) AS BIGINT) AS sum_bpe,
           CAST((sum(n_bpe) * 1000000) // sum(n_ws) AS BIGINT) AS fertility_e6
    FROM lang_of JOIN tok USING (doc_id)
    WHERE n_ws > 0
    GROUP BY langid
"""


def q_lang_mix_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition cross-tab — per (source, language): doc count and
    its integer-micro-unit share of the source (the table a data-mixing
    decision reads before setting per-source weights; a source whose
    'unknown' share spikes is a scraper regression). One scan, one
    partial-agg exchange on the tiny (source, langid) key; the per-source
    total rides a window over the already-aggregated rows."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.select("source", T.langid(F.col("text")).alias("langid"))
    agg = per.groupBy("source", "langid").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    swin = Window.partitionBy("source")
    return agg.select(
        "source", "langid", "n_docs",
        # integer floor div against the windowed total (float / would
        # truncate-after-ulp and diverge from the oracle's // at boundaries)
        F.expr("n_docs * 1000000").cast("long").alias("_num"),
        F.sum("n_docs").over(swin).cast("long").alias("_den"),
    ).select(
        "source", "langid", "n_docs",
        F.expr("_num div _den").cast("long").alias("share_e6"),
    )


ORACLE_LANG_MIX_BY_SOURCE = f"""
    WITH lang_of AS ({ORACLE_LANGID}),
    src AS (SELECT doc_id, source FROM documents),
    agg AS (
        SELECT source, langid, CAST(count(*) AS BIGINT) AS n_docs
        FROM src JOIN lang_of USING (doc_id)
        GROUP BY source, langid)
    SELECT source, langid, n_docs,
           CAST((n_docs * 1000000) // sum(n_docs) OVER (PARTITION BY source)
                AS BIGINT) AS share_e6
    FROM agg
"""


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup by edit distance — the character-level near-dup family
    (OCR noise, template fills, minor edits) that set-based Jaccard and
    SimHash both miss when the edit is mid-token. Quadratic Levenshtein is
    unpayable at corpus scale, so candidates come from the MinHash-LSH band
    join (shingle-similar docs) and the O(len²) DP runs ONLY on those pairs
    — the same candidates/confirm split as every dedup scale path here.
    Emits relative distance in integer micro-units (lev·1e6 div max_len)
    for pairs within 20%; both engines' levenshtein counts unicode
    codepoints identically."""
    cand = q_minhash_lsh_pairs(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    paired = cand.join(
        docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")),
        "doc_a",
    ).join(
        docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")),
        "doc_b",
    )
    return (
        paired.select(
            "doc_a", "doc_b",
            F.levenshtein("ta", "tb").cast("long").alias("lev"),
            F.greatest(F.length("ta"), F.length("tb")).cast("long")
            .alias("max_len"),
        )
        .withColumn(
            "rel_e6", F.expr("(lev * 1000000) div max_len").cast("long")
        )
        .filter(F.col("rel_e6") <= 200000)
    )


ORACLE_EDIT_DISTANCE_PAIRS = f"""
    WITH cand AS ({ORACLE_MINHASH_LSH_PAIRS}),
    paired AS (
        SELECT doc_a, doc_b,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
               CAST(greatest(length(a.text), length(b.text)) AS BIGINT) AS max_len
        FROM cand
        JOIN documents a ON a.doc_id = cand.doc_a
        JOIN documents b ON b.doc_id = cand.doc_b)
    SELECT doc_a, doc_b, lev, max_len,
           CAST((lev * 1000000) // max_len AS BIGINT) AS rel_e6
    FROM paired
    WHERE (lev * 1000000) // max_len <= 200000
"""


_HRW_K = 8  # worker count; the stability check adds one (K+1)


def q_rendezvous_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding — the stable URL→worker
    assignment a crawl fleet uses so that adding a worker moves only
    ~1/(K+1) of the keyspace (mod-K hashing would reshuffle ~K/(K+1) and
    dump every politeness/bloom shard's locality). Per URL, worker =
    argmax_w md5(url‖'|'‖w); computed for K={_HRW_K} and K+1, then rolled
    up per original worker with how many of its keys the expansion stole —
    the measured ≈1/(K+1) movement IS the HRW property.

    Plan: one narrow (K+1)-fan-out of the key stream, two partial-agg
    argmaxes on url, one co-partitioned self-join, final tiny rollup. Ties
    (h, then w) are deterministic in both engines."""
    from facebook_page_scrapy_spark.operators.sketches import _md5_u32

    urls = _t(spark, sf_dir, "events").select(
        F.concat(
            F.lit("https://n"), (F.col("user_id") % 97).cast("string"),
            F.lit(".example/p?id="), F.col("event_id").cast("string"),
        ).alias("url")
    ).distinct()
    wk = spark.range(_HRW_K + 1).select(F.col("id").cast("long").alias("w"))
    scored = urls.crossJoin(F.broadcast(wk)).select(
        "url", "w",
        _md5_u32(F.concat(F.col("url"), F.lit("|"), F.col("w").cast("string")))
        .alias("h"),
    )

    def assign(df: DataFrame, out: str) -> DataFrame:
        # combined key h·16 + w: max = (max h, tie → max w); one BIGINT so
        # the identical expression runs on both engines (no struct arg_max)
        return df.groupBy("url").agg(
            F.max(F.col("h") * 16 + F.col("w")).alias("k")
        ).select("url", (F.col("k") % 16).alias(out))

    a = assign(scored.filter(F.col("w") < _HRW_K), "w_k")
    b = assign(scored, "w_k1")
    both = a.join(b, "url")
    return (
        both.groupBy("w_k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.sum((F.col("w_k") != F.col("w_k1")).cast("long"))
            .cast("long").alias("n_moved"),
        )
        .select(
            "w_k", "n_urls", "n_moved",
            F.expr("(n_moved * 1000000) div n_urls").cast("long")
            .alias("moved_e6"),
        )
    )


def _rendezvous_oracle() -> str:
    from facebook_page_scrapy_spark.operators.sketches import _md5_u32_sql

    h = _md5_u32_sql("url || '|' || w")
    return f"""
    WITH urls AS (
        SELECT DISTINCT 'https://n' || (user_id % 97)
               || '.example/p?id=' || event_id AS url
        FROM events),
    scored AS (
        SELECT url, w, {h} AS h
        FROM urls CROSS JOIN (SELECT unnest(generate_series(0, {_HRW_K})) AS w)),
    a AS (SELECT url, max(h * 16 + w) % 16 AS w_k
          FROM scored WHERE w < {_HRW_K} GROUP BY url),
    b AS (SELECT url, max(h * 16 + w) % 16 AS w_k1 FROM scored GROUP BY url)
    SELECT CAST(w_k AS BIGINT) AS w_k,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(sum(CASE WHEN w_k <> w_k1 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
           CAST((sum(CASE WHEN w_k <> w_k1 THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS moved_e6
    FROM a JOIN b USING (url)
    GROUP BY w_k
"""


ORACLE_RENDEZVOUS_ASSIGNMENT = _rendezvous_oracle()


_POOL_GROUP = 10  # vectors per pooled group (passage→document stand-in)


def q_embedding_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pooled embeddings — the passage→document pooling step a
    retrieval corpus runs before indexing at the coarser granularity
    (pool {_POOL_GROUP} consecutive vectors per group here, standing in for
    chunks-of-a-document). Exactness across engines: each component is
    quantized to integer micro-units FIRST (round(x·1e6), identical on both
    engines), so the group sums are order-independent BIGINT adds and the
    mean is floor division — float mean-pooling would be summation-order
    sensitive and hash-unstable. Output is one row per (group, dim): fully
    columnar, no array column in the compare (driver-hasher-safe).

    Plan: posexplode (narrow {_EMB_NDIMS}× fan-out of a skinny table) + one
    partial-agg groupBy on (gid, dim) — component sums combine map-side, so
    the exchange carries ≤ groups×dims rows regardless of corpus size."""
    emb = _t(spark, sf_dir, "embeddings").select(
        F.expr(f"vec_id div {_POOL_GROUP}").cast("long").alias("gid"),
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * 1e6).cast("long"),
            )
        ).alias("dim", "c_e6"),
    )
    return (
        emb.groupBy("gid", "dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("c_e6").cast("long").alias("sum_e6"),
        )
        .select(
            "gid",
            F.col("dim").cast("long").alias("dim"),
            "n_vecs",
            F.expr("sum_e6 div n_vecs").cast("long").alias("mean_e6"),
        )
    )


ORACLE_EMBEDDING_POOL = f"""
    WITH comp AS (
        SELECT vec_id // {_POOL_GROUP} AS gid,
               generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS c_e6
        FROM embeddings)
    SELECT CAST(gid AS BIGINT) AS gid,
           CAST(dim AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(c_e6) // count(*) AS BIGINT) AS mean_e6
    FROM comp
    GROUP BY gid, dim
"""


_NF_LEN = 256   # bin capacity (tokens) for no-split packing
_NF_SHARD = 64  # docs per shard; bins never cross shards


def q_greedy_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split greedy packing (next-fit) — the OTHER packing regime from
    `pack_sequences`: documents are never split across training sequences
    (SFT / long-context curricula), so each doc goes whole into the current
    bin or opens a new one. Next-fit carries sequential state (the running
    remainder), which no prefix-sum trick linearizes — so the engine runs it
    the way real packers do: embarrassingly parallel across {_NF_SHARD}-doc
    shards (bins never cross shards — the at-scale sharding is exactly
    this), sequential only within a shard via one Arrow-batched
    ``applyInPandas`` (the catalog's grouped-map entry; the Python loop is
    over ≤{_NF_SHARD} rows per group, not the corpus). Doc token counts cap
    at the bin size so every doc fits. The oracle replays the same next-fit
    as a per-shard recursive CTE — cross-engine proof of a genuinely
    sequential-carry operator."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.least(T.token_count_ws(F.col("text")), F.lit(_NF_LEN))
            .cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn("shard", F.expr(f"doc_id div {_NF_SHARD}").cast("long"))
    )

    def pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, offs = [], []
        b, used = 0, 0
        for n in pdf["n_tokens"]:
            if used + n > _NF_LEN:
                b += 1
                used = 0
            bins.append(b)
            offs.append(used)
            used += int(n)
        pdf["bin"] = bins
        pdf["bin_offset"] = offs
        return pdf[["doc_id", "shard", "bin", "bin_offset", "n_tokens"]]

    return docs.groupBy("shard").applyInPandas(
        pack, "doc_id long, shard long, bin long, bin_offset long, n_tokens long"
    )


ORACLE_GREEDY_PACK = f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               least(CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                     AS BIGINT), {_NF_LEN}) AS n
        FROM documents
        WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0),
    sh AS (
        SELECT doc_id, doc_id // {_NF_SHARD} AS shard, n,
               row_number() OVER (PARTITION BY doc_id // {_NF_SHARD}
                                  ORDER BY doc_id) AS rk
        FROM toks),
    pk AS (
        SELECT shard, rk, doc_id, n,
               CAST(0 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS bin_offset,
               n AS used
        FROM sh WHERE rk = 1
        UNION ALL
        SELECT s.shard, s.rk, s.doc_id, s.n,
               CASE WHEN p.used + s.n <= {_NF_LEN} THEN p.bin ELSE p.bin + 1 END,
               CASE WHEN p.used + s.n <= {_NF_LEN} THEN p.used ELSE 0 END,
               CASE WHEN p.used + s.n <= {_NF_LEN} THEN p.used + s.n ELSE s.n END
        FROM pk p JOIN sh s ON s.shard = p.shard AND s.rk = p.rk + 1)
    SELECT doc_id, CAST(shard AS BIGINT) AS shard, bin, bin_offset,
           n AS n_tokens
    FROM pk
"""


def q_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup provenance — the per-document audit trail a corpus release
    ships ("why is my doc gone?"): each doc's verdict through the dedup
    cascade, 'exact' (a byte-identical earlier doc exists) before 'neardup'
    (its MinHash-LSH component keeps a lower id) before 'kept'. Exact
    losers are also near-dup members, so the precedence makes the verdict
    deterministic.

    The corpus has no byte-identical pairs by construction, so two exact
    duplicates are planted SELF-referentially (docs 3 and 7 re-keyed to
    +1e6 — data-derived, valid at every SF); a planted copy shares its
    source's text, hence its source's near-dup component, so its cluster
    label maps through the raw clustering (rep ids stay the minima: source
    id < planted id always).

    The exact stage keys its window on (xxhash64, md5, length) — ~48 bytes
    per row in the exchange, never text (the oracle's PARTITION BY text is
    equivalent absent a joint 64+128-bit+length collision, the same caveat
    as `dedup_exact`); the near-dup labels come from the checkpointed
    min-label-propagation CC (`neardup_clusters`), joined back on doc_id."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id").isin(3, 7)).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    aug = docs.unionByName(planted)
    kwin = Window.partitionBy(
        F.xxhash64("text"), F.md5("text"), F.length("text")
    )
    ex = aug.select(
        "doc_id", F.min("doc_id").over(kwin).alias("exact_first")
    )
    cl_raw = q_neardup_clusters(spark, sf_dir)
    cl = cl_raw.unionByName(
        cl_raw.filter(F.col("doc_id").isin(3, 7)).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "cluster_rep"
        )
    )
    return ex.join(cl, "doc_id").select(
        "doc_id", "exact_first", "cluster_rep",
        F.when(F.col("doc_id") != F.col("exact_first"), F.lit("exact"))
        .when(F.col("doc_id") != F.col("cluster_rep"), F.lit("neardup"))
        .otherwise(F.lit("kept"))
        .alias("verdict"),
    )


ORACLE_DEDUP_AUDIT = f"""
    WITH RECURSIVE pairs AS ({ORACLE_MINHASH_LSH_PAIRS}),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    cl_raw AS (SELECT src AS doc_id, min(dst) AS cluster_rep
               FROM reach GROUP BY src),
    cl AS (SELECT doc_id, cluster_rep FROM cl_raw
           UNION ALL
           SELECT doc_id + 1000000, cluster_rep FROM cl_raw
           WHERE doc_id IN (3, 7)),
    aug AS (SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents WHERE doc_id IN (3, 7)),
    ex AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS exact_first
           FROM aug)
    SELECT doc_id, exact_first, cluster_rep,
           CASE WHEN doc_id <> exact_first THEN 'exact'
                WHEN doc_id <> cluster_rep THEN 'neardup'
                ELSE 'kept' END AS verdict
    FROM ex JOIN cl USING (doc_id)
"""


def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion — the standard two-signal
    merge (RRF, Cormack et al. 2009): BM25's lexical top-10 fused with a
    term-proximity top-10 (first-occurrence spread of the query terms —
    docs where the terms cluster beat docs where they scatter), score =
    Σ 1/(60+rank) in integer micro-units over the legs a doc appears in.
    RRF's point is exactly that rank reciprocals make incomparable scorers
    (BM25 micro-scores vs token distances) fusable without calibration.

    Both legs end in TakeOrderedAndProject (global top-k without a global
    sort); the fusion is a full outer join of two ≤10-row sides and a
    window over ≤20 rows — driver-free, broadcast-trivial. Absent ranks
    contribute 0 (emitted as rank 0 so the row stays hash-stable)."""
    bm = q_bm25_search(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("rank_bm25")
    )
    tok = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(T.words(F.col("text"))).alias("pos0", "w"))
        .filter(F.col("w").isin(*_BM25_TERMS))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    )
    firsts = tok.groupBy("doc_id", "w").agg(F.min("pos").alias("fp"))
    cover = (
        firsts.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            (F.max("fp") - F.min("fp")).cast("long").alias("spread"),
        )
        .filter(F.col("n_terms") == len(_BM25_TERMS))
    )
    prox = (
        cover.orderBy(F.col("spread").asc(), F.col("doc_id").asc())
        .limit(10)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("spread").asc(), F.col("doc_id").asc()))
            .cast("long").alias("rank_prox"),
        )
    )
    fused = bm.join(prox, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("rank_bm25", F.lit(0)).cast("long").alias("rank_bm25"),
        F.coalesce("rank_prox", F.lit(0)).cast("long").alias("rank_prox"),
    )
    rrf = (
        F.when(F.col("rank_bm25") > 0,
               F.expr("1000000 div (60 + rank_bm25)")).otherwise(0)
        + F.when(F.col("rank_prox") > 0,
                 F.expr("1000000 div (60 + rank_prox)")).otherwise(0)
    ).cast("long")
    fw = Window.orderBy(F.col("rrf_e6").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rrf_e6", rrf)
        .withColumn("fused_rank", F.row_number().over(fw).cast("long"))
    )


ORACLE_HYBRID_RRF_SEARCH = f"""
    WITH bm AS ({ORACLE_BM25_SEARCH}),
    ptok AS (
        SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
              FROM documents)),
    firsts AS (
        SELECT doc_id, w, min(pos) AS fp
        FROM ptok WHERE w IN {_BM25_TERMS!r}
        GROUP BY doc_id, w),
    cover AS (
        SELECT doc_id, CAST(max(fp) - min(fp) AS BIGINT) AS spread
        FROM firsts GROUP BY doc_id
        HAVING count(*) = {len(_BM25_TERMS)}),
    prox AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY spread ASC, doc_id ASC)
                    AS BIGINT) AS rank_prox
        FROM cover
        QUALIFY rank_prox <= 10),
    fused AS (
        SELECT coalesce(bm.doc_id, prox.doc_id) AS doc_id,
               CAST(coalesce(bm.rank, 0) AS BIGINT) AS rank_bm25,
               CAST(coalesce(prox.rank_prox, 0) AS BIGINT) AS rank_prox
        FROM bm FULL OUTER JOIN prox ON bm.doc_id = prox.doc_id),
    scored AS (
        SELECT doc_id, rank_bm25, rank_prox,
               CAST(CASE WHEN rank_bm25 > 0
                         THEN 1000000 // (60 + rank_bm25) ELSE 0 END
                    + CASE WHEN rank_prox > 0
                           THEN 1000000 // (60 + rank_prox) ELSE 0 END
                    AS BIGINT) AS rrf_e6
        FROM fused)
    SELECT doc_id, rank_bm25, rank_prox, rrf_e6,
           CAST(row_number() OVER (ORDER BY rrf_e6 DESC, doc_id ASC)
                AS BIGINT) AS fused_rank
    FROM scored
"""


def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/embargo/valid split — the split regime for anything
    with time structure (recrawl prediction, trend models), where a hash
    split would leak the future into training: train = events before the
    exact p70 timestamp, valid = at/after exact p80, the gap is the embargo
    that absorbs sessions straddling the boundary. Cut points are exact
    order statistics (the `length_deciles` two-pass distributed row_number —
    no approx_percentile, no global window); boundary events equal to a cut
    go right (strict <), identically in both engines. Also reports the
    train∩valid distinct-user overlap (n_leak_users) — the quantity an
    embargo is supposed to shrink and a reviewer checks first.

    Every scalar (cuts, total, leak count) is a 1-row broadcast; the tagging
    pass is narrow; the rollup is a 3-key partial agg."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ranked = S.distributed_row_number(ev.select("ts"), ["ts"], "rn")
    n1 = ranked.groupBy().agg(F.max("rn").alias("n"))
    bounds = (
        ranked.crossJoin(F.broadcast(n1))
        .filter(
            (F.col("rn") == F.expr("(7 * n + 9) div 10"))
            | (F.col("rn") == F.expr("(8 * n + 9) div 10"))
        )
        .groupBy()
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).withColumn(
        "split",
        F.when(F.col("ts") < F.col("t0"), F.lit("train"))
        .when(F.col("ts") < F.col("t1"), F.lit("embargo"))
        .otherwise(F.lit("valid")),
    )
    leak = (
        tagged.filter(F.col("split") == "train").select("user_id").distinct()
        .join(
            tagged.filter(F.col("split") == "valid").select("user_id").distinct(),
            "user_id",
        )
        .groupBy()
        .agg(F.count(F.lit(1)).cast("long").alias("n_leak_users"))
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .crossJoin(F.broadcast(leak))
    )


ORACLE_TEMPORAL_SPLIT = """
    WITH o AS (SELECT ts, row_number() OVER (ORDER BY ts) AS rn FROM events),
    c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
    bounds AS (
        SELECT min(ts) AS t0, max(ts) AS t1
        FROM o CROSS JOIN c
        WHERE rn = (7 * n + 9) // 10 OR rn = (8 * n + 9) // 10),
    tagged AS (
        SELECT e.*, CASE WHEN e.ts < b.t0 THEN 'train'
                         WHEN e.ts < b.t1 THEN 'embargo'
                         ELSE 'valid' END AS split
        FROM events e CROSS JOIN bounds b),
    leak AS (
        SELECT CAST(count(*) AS BIGINT) AS n_leak_users FROM (
            SELECT DISTINCT user_id FROM tagged WHERE split = 'train'
            INTERSECT
            SELECT DISTINCT user_id FROM tagged WHERE split = 'valid'))
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           n_leak_users
    FROM tagged CROSS JOIN leak
    GROUP BY split, n_leak_users
"""


_KCORE_K = 8
_KCORE_ITERS = 3


def q_host_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling on the host graph ({_KCORE_ITERS} fixed rounds,
    k={_KCORE_K}) — the degeneracy filter a seed-selection stage runs: hosts
    surviving the k-core sit in densely interlinked neighborhoods (stable
    hubs worth seeding); peeled hosts hang off the periphery. Each round
    recomputes degree over still-alive neighbors and peels anything below
    k; peeled hosts stay peeled.

    Output carries EVERY round's (degree, alive) — the graph densifies with
    SF until nothing peels, and the per-round degrees keep the oracle
    value-sensitive regardless (the host_communities lesson). Per round:
    one edge⋈alive-set join (alive side node-sized, broadcast) + one
    partial-agg count; edges checkpointed once."""
    edges = (
        _link_edges_df(spark, sf_dir)
        .select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    und = edges.select(F.col("lo").alias("a"), F.col("hi").alias("b")).union(
        edges.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
    )
    nodes = und.select(F.col("a").alias("node")).distinct()
    out = nodes
    alive = nodes.withColumn("alive", F.lit(1).cast("long"))
    for i in range(1, _KCORE_ITERS + 1):
        deg = (
            und.join(
                F.broadcast(alive.filter(F.col("alive") == 1)),
                und["b"] == F.col("node"),
            )
            .groupBy("a")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
            .withColumnRenamed("a", "node")
        )
        alive = (
            alive.join(deg, "node", "left")
            .select(
                "node",
                F.coalesce("deg", F.lit(0)).cast("long").alias(f"d{i}"),
                (
                    (F.col("alive") == 1)
                    & (F.coalesce("deg", F.lit(0)) >= _KCORE_K)
                ).cast("long").alias("alive"),
            )
        )
        out = out.join(
            F.broadcast(
                alive.select("node", f"d{i}", F.col("alive").alias(f"a{i}"))
            ),
            "node",
        )
    return out


def _kcore_cte() -> str:
    parts = [
        f"""edges AS (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
                      FROM ({_LINK_EDGES_SQL}))""",
        "und AS (SELECT lo AS a, hi AS b FROM edges UNION ALL SELECT hi, lo FROM edges)",
        "n0 AS (SELECT DISTINCT a AS node, CAST(1 AS BIGINT) AS alive FROM und)",
    ]
    prev = "n0"
    for i in range(1, _KCORE_ITERS + 1):
        parts.append(f"""
        g{i} AS (SELECT und.a AS node, CAST(count(*) AS BIGINT) AS deg
                 FROM und JOIN {prev} l ON und.b = l.node AND l.alive = 1
                 GROUP BY und.a),
        n{i} AS (SELECT p.node,
                        CAST(coalesce(g.deg, 0) AS BIGINT) AS d{i},
                        CAST(CASE WHEN p.alive = 1
                                   AND coalesce(g.deg, 0) >= {_KCORE_K}
                                  THEN 1 ELSE 0 END AS BIGINT) AS alive
                 FROM {prev} p LEFT JOIN g{i} g ON g.node = p.node)""")
        prev = f"n{i}"
    cols = ", ".join(
        f"n{i}.d{i}, CAST(n{i}.alive AS BIGINT) AS a{i}"
        for i in range(1, _KCORE_ITERS + 1)
    )
    joins = " ".join(
        f"JOIN n{i} ON n{i}.node = n1.node" for i in range(2, _KCORE_ITERS + 1)
    )
    return f"WITH {','.join(parts)} SELECT n1.node, {cols} FROM n1 {joins}"


ORACLE_HOST_KCORE = _kcore_cte()


_BF_M = 1 << 18  # bloom bit-space
_BF_K = 4        # hash functions
_BF_PROBES = 5000


def q_bloom_fpr_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-seen bloom filter, measured — the catalog surface for the
    engine's T5 dedup structure (operators/dedup.py keeps the stateful
    shards; this query rebuilds the same md5-position construction
    declaratively and MEASURES its false-positive rate on {_BF_PROBES}
    held-out probe URLs, the number a capacity planner actually checks
    against the (1−e^(−kn/m))^k design point). load_e6 = k·n·1e6 div m is
    the integer-exact occupancy readout.

    Plan: the bit set is distinct(md5(url‖i) mod m) — 4× narrow fan-out of
    the key stream, ids-only distinct; probes fan out the same way and
    LEFT SEMI join the bit set on the position int (8-byte keys); a probe
    is a false positive iff all {_BF_K} of its positions are set. At scale
    the bit set IS the bloom: the semi-join is the batch form of a
    membership test."""
    from facebook_page_scrapy_spark.operators.sketches import _md5_u32

    urls = _t(spark, sf_dir, "events").select(
        F.concat(
            F.lit("https://n"), (F.col("user_id") % 97).cast("string"),
            F.lit(".example/p?id="), F.col("event_id").cast("string"),
        ).alias("url")
    ).distinct()
    ks = spark.range(_BF_K).select(F.col("id").cast("long").alias("i"))
    bits = (
        urls.crossJoin(F.broadcast(ks))
        .select(
            (_md5_u32(F.concat(F.col("url"), F.lit("#"), F.col("i").cast("string")))
             % _BF_M).alias("pos")
        )
        .distinct()
    )
    probes = spark.range(_BF_PROBES).select(
        F.concat(F.lit("https://probe.example/q?id="), F.col("id").cast("string"))
        .alias("purl")
    )
    ppos = probes.crossJoin(F.broadcast(ks)).select(
        "purl",
        (_md5_u32(F.concat(F.col("purl"), F.lit("#"), F.col("i").cast("string")))
         % _BF_M).alias("pos"),
    )
    hits = (
        ppos.join(bits, "pos", "left_semi")
        .groupBy("purl")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == _BF_K)
        .agg(F.count(F.lit(1)).cast("long").alias("n_false_pos"))
    )
    n_seen = urls.agg(F.count(F.lit(1)).cast("long").alias("n_seen"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    return (
        n_seen.crossJoin(F.broadcast(n_bits))
        .crossJoin(F.broadcast(hits))
        .select(
            "n_seen", "n_bits_set",
            F.lit(_BF_PROBES).cast("long").alias("n_probes"),
            "n_false_pos",
            F.expr(f"(n_false_pos * 1000000) div {_BF_PROBES}").cast("long")
            .alias("fpr_e6"),
            F.expr(f"({_BF_K} * n_seen * 1000000) div {_BF_M}").cast("long")
            .alias("load_e6"),
        )
    )


def _bloom_fpr_oracle() -> str:
    from facebook_page_scrapy_spark.operators.sketches import _md5_u32_sql

    hp = _md5_u32_sql("url || '#' || i")
    hq = _md5_u32_sql("purl || '#' || i")
    return f"""
    WITH urls AS (
        SELECT DISTINCT 'https://n' || (user_id % 97)
               || '.example/p?id=' || event_id AS url
        FROM events),
    ks AS (SELECT unnest(generate_series(0, {_BF_K - 1})) AS i),
    bits AS (SELECT DISTINCT {hp} % {_BF_M} AS pos FROM urls CROSS JOIN ks),
    probes AS (SELECT 'https://probe.example/q?id=' || CAST(j AS VARCHAR) AS purl
               FROM generate_series(0, {_BF_PROBES - 1}) AS t(j)),
    ppos AS (SELECT purl, {hq} % {_BF_M} AS pos FROM probes CROSS JOIN ks),
    hits AS (
        SELECT CAST(count(*) AS BIGINT) AS n_false_pos FROM (
            SELECT purl FROM ppos WHERE pos IN (SELECT pos FROM bits)
            GROUP BY purl HAVING count(*) = {_BF_K})),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS n_seen FROM urls),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bits_set FROM bits)
    SELECT n_seen, n_bits_set,
           CAST({_BF_PROBES} AS BIGINT) AS n_probes,
           n_false_pos,
           CAST((n_false_pos * 1000000) // {_BF_PROBES} AS BIGINT) AS fpr_e6,
           CAST(({_BF_K} * n_seen * 1000000) // {_BF_M} AS BIGINT) AS load_e6
    FROM ns CROSS JOIN nb CROSS JOIN hits
"""


ORACLE_BLOOM_FPR_REPORT = _bloom_fpr_oracle()


def q_link_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host link reciprocity on the DIRECTED host graph — the
    mutual-linking share that separates organic communities (high
    reciprocity) from scraped/spam link targets (links in, never back).
    For each source host: distinct out-neighbors, how many link back, and
    the integer-micro-unit share.

    One distinct over the directed edge list, one self-join probing the
    reversed edge (same key space, co-partitioned after the distinct), one
    partial-agg rollup — ids only everywhere."""
    e = _link_edges_df(spark, sf_dir).distinct()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    marked = e.join(rev, ["src", "dst"], "left_semi").select(
        "src", F.lit(1).cast("long").alias("recip")
    )
    out = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("n_out"))
    back = marked.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("n_recip")
    )
    return (
        out.join(back, "src", "left")
        .select(
            F.col("src").alias("host"),
            "n_out",
            F.coalesce("n_recip", F.lit(0)).cast("long").alias("n_recip"),
        )
        .withColumn(
            "recip_e6", F.expr("(n_recip * 1000000) div n_out").cast("long")
        )
    )


ORACLE_LINK_RECIPROCITY = f"""
    WITH e AS (SELECT DISTINCT src, dst FROM ({_LINK_EDGES_SQL})),
    marked AS (
        SELECT e.src FROM e
        WHERE EXISTS (SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src)),
    o AS (SELECT src, CAST(count(*) AS BIGINT) AS n_out FROM e GROUP BY src),
    b AS (SELECT src, CAST(count(*) AS BIGINT) AS n_recip FROM marked GROUP BY src)
    SELECT o.src AS host, o.n_out,
           CAST(coalesce(b.n_recip, 0) AS BIGINT) AS n_recip,
           CAST((coalesce(b.n_recip, 0) * 1000000) // o.n_out AS BIGINT)
               AS recip_e6
    FROM o LEFT JOIN b ON b.src = o.src
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining — Markov transition counts between
    consecutive event types within each user's time-ordered stream (the
    crawl-side analogue: which fetch outcome follows which, per identity).
    Ordering is (ts, event_id) so timestamp ties are deterministic; streams
    never cross users (the lag window partitions on user_id — one exchange,
    shared with nothing else needed). share_e6 is each transition's integer
    share of all transitions leaving the same source type."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bg = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type", 1).over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    agg = bg.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    fwin = Window.partitionBy("from_type")
    return agg.select(
        "from_type", "to_type", "n",
        F.sum("n").over(fwin).cast("long").alias("_tot"),
    ).select(
        "from_type", "to_type", "n",
        F.expr("(n * 1000000) div _tot").cast("long").alias("share_e6"),
    )


ORACLE_EVENT_TRANSITIONS = """
    WITH bg AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events),
    agg AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        FROM bg WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type)
    SELECT from_type, to_type, n,
           CAST((n * 1000000) // sum(n) OVER (PARTITION BY from_type)
                AS BIGINT) AS share_e6
    FROM agg
"""


_REV_CENTS = (
    "CAST(CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT)) div 100 AS BIGINT)"
)
_REV_CENTS_SQL = (
    "CAST(CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT)) // 100 AS BIGINT)"
)


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: top-10 unshipped orders of one
    market segment by discounted revenue — the canonical 3-table
    join-order showcase (customer is the small filtered side; Catalyst
    broadcasts it, then orders, and lineitem never shuffles on anything
    but the final partial agg). Revenue is micro-cent quantized BEFORE
    aggregation (per-row integer round on both engines), so the sum is
    order-independent BIGINT — the float Σ price·(1−disc) form would be
    summation-order-hashed at scale. Top-10 via orderBy+limit =
    TakeOrderedAndProject."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-01-01")
    ).select("l_orderkey", F.expr(_REV_CENTS).alias("rev_cents"))
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
    )
    agg = joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum("rev_cents").cast("long").alias("revenue_cents")
    )
    top = agg.orderBy(
        F.col("revenue_cents").desc(), F.col("o_orderkey").asc()
    ).limit(10)
    w = Window.orderBy(F.col("revenue_cents").desc(), F.col("o_orderkey").asc())
    return top.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority", "revenue_cents",
    ).withColumn("rank", F.row_number().over(w).cast("long"))


ORACLE_SHIPPING_PRIORITY = f"""
    WITH j AS (
        SELECT l.l_orderkey AS o_orderkey, o.o_orderdate, o.o_orderpriority,
               {_REV_CENTS_SQL} AS rev_cents
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1999-01-01'
          AND l.l_shipdate > TIMESTAMP '1999-01-01'),
    agg AS (
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               CAST(sum(rev_cents) AS BIGINT) AS revenue_cents
        FROM j GROUP BY o_orderkey, o_orderdate, o_orderpriority)
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_orderpriority, revenue_cents,
           CAST(row_number() OVER (ORDER BY revenue_cents DESC, o_orderkey ASC)
                AS BIGINT) AS rank
    FROM agg
    QUALIFY rank <= 10
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: revenue per nation where the
    ordering customer and the supplying supplier share the nation, one
    region, one order-year — the 6-table snowflake join that exercises
    Catalyst's join reordering and broadcast selection (region→nation is a
    2-row filter; customer/supplier broadcast after the nation semi-join;
    only lineitem⋈orders shuffles). Revenue is the same micro-cent
    quantization as q_shipping_priority — BIGINT sums, order-free."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_nationkey").alias("c_nat"), "n_name")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.expr(_REV_CENTS).alias("rev_cents")
    )
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .filter(F.col("s_nationkey") == F.col("c_nat"))
    )
    return joined.groupBy("n_name").agg(
        F.sum("rev_cents").cast("long").alias("revenue_cents"),
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
    )


ORACLE_LOCAL_SUPPLIER_VOLUME = f"""
    SELECT n.n_name,
           CAST(sum({_REV_CENTS_SQL}) AS BIGINT) AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND s.s_nationkey = c.c_nationkey
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
"""


def q_late_shipment_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped priority check via EXISTS semi-join: per order
    priority, how many 1997 orders had at least one lineitem shipped more
    than 60 days after the order date — the SLA readout whose physical
    shape is the thing being shown: a LEFT SEMI join (first match
    short-circuits; no row multiplication, no distinct afterwards), with
    the date inequality evaluated inside the join condition so the probe
    side prunes early. Date arithmetic is whole-day intervals on TIMESTAMP
    in both engines — no timezone math (UTC-pinned sessions)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.expr("o_orderdate + INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_late_orders")
    )


ORACLE_LATE_SHIPMENT_CHECK = """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_late_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
"""


_Z_BITS = 8  # bits per dimension; z-key is 2*_Z_BITS wide


def _morton_expr(a: str, b: str, shift_op: str = ">>") -> str:
    """SUM of spread bits: a's bit i lands at 2i+1, b's at 2i — the same
    arithmetic expression string serves Spark (shiftright via >>) and
    DuckDB (>>): both engines have BIGINT >>, &, * semantics here."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({a} {shift_op} {i}) & 1) * {1 << (2 * i + 1)})")
        terms.append(f"((({b} {shift_op} {i}) & 1) * {1 << (2 * i)})")
    return " + ".join(terms)


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key — the multi-dimensional clustering
    primitive behind Delta/Iceberg Z-ORDER: interleaving the bits of two
    partition dimensions (here user-bucket × time-bucket) makes ranges of
    the single sort key cover rectangles of the 2-D space, so a scan
    filtered on EITHER dimension prunes most files. Emitted per event with
    an 8-file assignment (zkey div 2^(2·{_Z_BITS})·8 … i.e. top 3 bits) so
    the pruning claim is checkable: every file holds a contiguous z-range.

    The bit-interleave is one generated arithmetic expression (spread bits
    summed) — identical string on both engines, whole-stage codegen, no
    UDF; the narrow map is the entire plan."""
    a = f"(user_id % {1 << _Z_BITS})"
    b = f"(CAST(event_id AS BIGINT) % {1 << _Z_BITS})"
    z = _morton_expr(a, b)
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    return ev.select(
        "event_id",
        F.expr(a).cast("long").alias("dim_a"),
        F.expr(b).cast("long").alias("dim_b"),
        F.expr(z).cast("long").alias("zkey"),
    ).withColumn(
        "file_id", F.expr(f"zkey div {1 << (2 * _Z_BITS - 3)}").cast("long")
    )


ORACLE_ZORDER_KEY = f"""
    SELECT event_id,
           CAST((user_id % {1 << _Z_BITS}) AS BIGINT) AS dim_a,
           CAST((CAST(event_id AS BIGINT) % {1 << _Z_BITS}) AS BIGINT) AS dim_b,
           CAST({_morton_expr(f"(user_id % {1 << _Z_BITS})",
                              f"(CAST(event_id AS BIGINT) % {1 << _Z_BITS})")}
                AS BIGINT) AS zkey,
           CAST(({_morton_expr(f"(user_id % {1 << _Z_BITS})",
                               f"(CAST(event_id AS BIGINT) % {1 << _Z_BITS})")})
                // {1 << (2 * _Z_BITS - 3)} AS BIGINT) AS file_id
    FROM events
"""


_MANIFEST_SHARDS = 16


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus integrity manifest — the checksum sidecar a dataset release
    ships per shard so a consumer can verify their copy without re-reading
    ours: per doc_id-mod shard, the doc count, total chars, and an
    ORDER-FREE combined checksum (bit_xor of per-doc md5-derived hashes —
    xor commutes, so the manifest is identical however the shard's rows
    were scanned, which is exactly what a distributed writer needs; a
    concatenation hash would impose a global order). Per-doc hash keys on
    (doc_id, text) so both a content flip AND a row swap change the
    manifest.

    One partial-agg exchange on the 16-key shard column; bit_xor combines
    map-side like any algebraic aggregate."""
    from facebook_page_scrapy_spark.operators.sketches import _md5_u32

    docs = _t(spark, sf_dir, "documents").select(
        F.expr(f"doc_id % {_MANIFEST_SHARDS}").cast("long").alias("shard"),
        _md5_u32(F.concat(F.col("doc_id").cast("string"), F.lit("|"),
                          F.col("text"))).alias("h"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return docs.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.expr("bit_xor(h)").cast("long").alias("checksum"),
    )


def _shard_manifest_oracle() -> str:
    from facebook_page_scrapy_spark.operators.sketches import _md5_u32_sql

    h = _md5_u32_sql("CAST(doc_id AS VARCHAR) || '|' || text")
    return f"""
    SELECT CAST(doc_id % {_MANIFEST_SHARDS} AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(bit_xor({h}) AS BIGINT) AS checksum
    FROM documents
    GROUP BY doc_id % {_MANIFEST_SHARDS}
"""


ORACLE_SHARD_MANIFEST = _shard_manifest_oracle()


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card — the one-row release summary (HuggingFace dataset-card
    stats block): corpus size, source/language breadth, English share,
    near-dup rate from the MinHash-LSH clustering, and the exact median
    token length. Everything a consumer reads before deciding to download
    100 TB.

    Composition of verified parts: clusters from `neardup_clusters`
    (checkpointed CC), the median via the two-pass distributed row_number
    (exact order statistic), language via the shared stopword argmax; all
    scalars are 1-row aggregates crossJoin-broadcast into the final
    projection — no driver collect, integer micro-units throughout."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    langs = docs.select(T.langid(F.col("text")).alias("lg")).agg(
        F.countDistinct("lg").cast("long").alias("n_langs"),
        F.sum((F.col("lg") == "en").cast("long")).cast("long").alias("n_en"),
    )
    nclus = q_neardup_clusters(spark, sf_dir).agg(
        F.countDistinct("cluster_rep").cast("long").alias("n_clusters")
    )
    toks = docs.select(T.token_count_ws(F.col("text")).cast("long").alias("n_tok"))
    ranked = S.distributed_row_number(toks, ["n_tok"], "rn")
    ntot = ranked.groupBy().agg(F.max("rn").alias("n"))
    median = (
        ranked.crossJoin(F.broadcast(ntot))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("n_tok").alias("median_tokens"))
    )
    return (
        base.crossJoin(F.broadcast(langs))
        .crossJoin(F.broadcast(nclus))
        .crossJoin(F.broadcast(median))
        .select(
            "n_docs", "total_chars", "n_sources", "n_langs",
            F.expr("(n_en * 1000000) div n_docs").cast("long")
            .alias("en_share_e6"),
            "n_clusters",
            F.expr("((n_docs - n_clusters) * 1000000) div n_docs").cast("long")
            .alias("dup_rate_e6"),
            F.col("median_tokens").cast("long").alias("median_tokens"),
        )
    )


ORACLE_DATASET_CARD = f"""
    WITH RECURSIVE pairs AS ({ORACLE_MINHASH_LSH_PAIRS}),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    cl AS (SELECT CAST(count(DISTINCT mn) AS BIGINT) AS n_clusters
           FROM (SELECT src, min(dst) AS mn FROM reach GROUP BY src)),
    base AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM documents),
    lg AS (SELECT CAST(count(DISTINCT langid) AS BIGINT) AS n_langs,
                  CAST(sum(CASE WHEN langid = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_en
           FROM ({ORACLE_LANGID})),
    tk AS (SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tok
           FROM documents),
    o AS (SELECT n_tok, row_number() OVER (ORDER BY n_tok) AS rn FROM tk),
    md AS (SELECT CAST(n_tok AS BIGINT) AS median_tokens
           FROM o CROSS JOIN (SELECT count(*) AS n FROM tk)
           WHERE rn = (n + 1) // 2)
    SELECT n_docs, total_chars, n_sources, n_langs,
           CAST((n_en * 1000000) // n_docs AS BIGINT) AS en_share_e6,
           n_clusters,
           CAST(((n_docs - n_clusters) * 1000000) // n_docs AS BIGINT)
               AS dup_rate_e6,
           median_tokens
    FROM base CROSS JOIN lg CROSS JOIN cl CROSS JOIN md
"""


_SNIP_CTX = 5  # words of context on each side


def q_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC snippet generation — the last mile of the retrieval stack: for
    every BM25 top-10 hit, the ±{_SNIP_CTX}-word window around the FIRST
    occurrence of any query term (min first-position over terms — the
    deterministic anchor), joined back to ranks. Pure list algebra on both
    engines (slice + join on the words array) — snippets at 100 TB are a
    narrow map over the already-ranked id list re-joined to text by key,
    never a second corpus scan inside the ranker.

    Documents in the top-10 that contain no query term in text (possible:
    BM25 here scores the same text, so anchor always exists) would emit a
    NULL snippet; the anchor column proves non-vacuity instead."""
    top = q_bm25_search(spark, sf_dir).select("doc_id", "rank")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", T.words(F.col("text")).alias("ws")
    )
    tok = docs.select("doc_id", F.posexplode("ws").alias("pos0", "w")).filter(
        F.col("w").isin(*_BM25_TERMS)
    )
    anchor = tok.groupBy("doc_id").agg(
        (F.min("pos0") + 1).cast("long").alias("anchor")  # 1-based
    )
    joined = top.join(anchor, "doc_id").join(docs, "doc_id")
    start = F.greatest(F.lit(1), F.col("anchor") - _SNIP_CTX)
    length = (F.col("anchor") + _SNIP_CTX) - start + 1
    return joined.select(
        "doc_id", "rank", "anchor",
        F.array_join(F.slice("ws", start, length), " ").alias("snippet"),
    )


ORACLE_SEARCH_SNIPPETS = f"""
    WITH bm AS ({ORACLE_BM25_SEARCH}),
    wd AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
           FROM documents),
    tok AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
            FROM wd),
    anchor AS (
        SELECT doc_id, CAST(min(pos) AS BIGINT) AS anchor
        FROM tok WHERE w IN {_BM25_TERMS!r} GROUP BY doc_id)
    SELECT bm.doc_id, bm.rank, a.anchor,
           array_to_string(
               wd.ws[greatest(1, a.anchor - {_SNIP_CTX}):a.anchor + {_SNIP_CTX}],
               ' ') AS snippet
    FROM bm JOIN anchor a ON a.doc_id = bm.doc_id
    JOIN wd ON wd.doc_id = bm.doc_id
"""


_COVIS_CAP = 20  # max distinct hosts per user before exclusion


def q_host_covisitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection user→host ⇒ host–host co-visitation — the
    related-sites graph a crawler mines for seed expansion (hosts sharing
    audiences get crawled together). The projection's classic failure is
    hub users: one user on H hosts emits H² pairs, so each user contributes
    at most {_COVIS_CAP} hosts, picked by a deterministic md5 rank over
    (user, host) — the standard degree-cap-by-sampling, bounding per-user
    fan-out at {_COVIS_CAP}² and total work at users·cap² while every user
    still contributes signal (a drop-the-user cap silently empties dense
    corpora — measured here: the synthetic users visit ~50 hosts each).

    Plan: distinct (user, host) → per-user md5-rank window (one user_id
    exchange) → pair self-join co-partitioned on the same key →
    partial-agg count on the (lo, hi) pair key. Ids only throughout."""
    from facebook_page_scrapy_spark.operators.sketches import _md5_u32

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.concat(F.lit("n"), ((F.col("user_id") * 31 + F.col("event_id")) % 97)
                 .cast("string")).alias("host"),
    ).distinct()
    uwin = Window.partitionBy("user_id").orderBy(
        _md5_u32(F.concat(F.col("user_id").cast("string"), F.lit("@"),
                          F.col("host"))).asc(),
        F.col("host").asc(),
    )
    kept = ev.withColumn("rk", F.row_number().over(uwin)).filter(
        F.col("rk") <= _COVIS_CAP
    )
    a = kept.select("user_id", F.col("host").alias("ha"))
    b = kept.select("user_id", F.col("host").alias("hb"))
    pairs = a.join(b, "user_id").filter(F.col("ha") < F.col("hb"))
    return pairs.groupBy("ha", "hb").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_users")
    )


def _covis_oracle() -> str:
    from facebook_page_scrapy_spark.operators.sketches import _md5_u32_sql

    h = _md5_u32_sql("CAST(user_id AS VARCHAR) || '@' || host")
    return f"""
    WITH ev AS (
        SELECT DISTINCT user_id,
               'n' || ((user_id * 31 + event_id) % 97) AS host
        FROM events),
    kept AS (
        SELECT user_id, host FROM (
            SELECT user_id, host,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY {h} ASC, host ASC) AS rk
            FROM ev)
        WHERE rk <= {_COVIS_CAP})
    SELECT a.host AS ha, b.host AS hb,
           CAST(count(*) AS BIGINT) AS n_shared_users
    FROM kept a JOIN kept b ON a.user_id = b.user_id AND a.host < b.host
    GROUP BY a.host, b.host
"""


ORACLE_HOST_COVISITATION = _covis_oracle()


def q_host_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the per-host URL distribution — the one-number
    inequality readout a frontier planner tracks over time (rising Gini =
    the crawl is concentrating on few hosts; pair with
    `frontier_skew_report`'s per-host view). EXACT integer form of the
    sorted-rank formula G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx): ranks come
    from the two-pass distributed row_number (ties broken by host for
    determinism — Σ i·xᵢ is tie-order-invariant within equal x anyway),
    every term is a BIGINT product, and gini_e6 is one floor division.
    Σ i·xᵢ ≤ n²·max_count keeps products under 2^63 for any realistic
    host table (n ≤ 3e6 at 1e6 max URL count)."""
    counts = (
        _t(spark, sf_dir, "events")
        .select(F.concat(F.lit("n"), (F.col("user_id") % 97).cast("string"))
                .alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    ranked = S.distributed_row_number(counts, ["x", "host"], "i")
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.sum("x").cast("long").alias("total_urls"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("weighted_sum"),
    ).select(
        "n_hosts", "total_urls",
        F.expr(
            "((2 * weighted_sum - (n_hosts + 1) * total_urls) * 1000000)"
            " div (n_hosts * total_urls)"
        ).cast("long").alias("gini_e6"),
    )


ORACLE_HOST_GINI = """
    WITH counts AS (
        SELECT 'n' || (user_id % 97) AS host,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1),
    ranked AS (
        SELECT x, CAST(row_number() OVER (ORDER BY x, host) AS BIGINT) AS i
        FROM counts)
    SELECT CAST(count(*) AS BIGINT) AS n_hosts,
           CAST(sum(x) AS BIGINT) AS total_urls,
           CAST(((2 * sum(i * x) - (count(*) + 1) * sum(x)) * 1000000)
                // (count(*) * sum(x)) AS BIGINT) AS gini_e6
    FROM ranked
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# 6x. Corpus quality-filter family (r4 additions, queued below the r4 driver
#     window for the r5 rotation): Gopher-style doc rules, C4-style line
#     rules, character entropy, type-token ratio, readability — the
#     pre-training filter battery (Rae et al. 2021 "Gopher" app. A;
#     Raffel et al. 2020 "C4" §2.2) the reference's fixed XPath pipeline
#     (Parse_Data_FaceBook/parsing.py) has no analogue for.
# --------------------------------------------------------------------------

_GOPHER_STOP = ["the", "a", "value", "table", "row"]


def q_gopher_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, appendix A),
    re-scaled to the synthetic corpus: word-count bounds, mean-word-length
    bounds, and a minimum stop-word fraction, each emitted as its own
    integer column plus the conjunctive keep flag — the standard
    pre-training filter battery, with all ratios in exact integer
    micro-units (floor arithmetic) so the cross-engine hash has no float
    hazard.

    Scale shape: a single narrow projection over the corpus scan — no
    shuffle at all; every rule is per-row arithmetic in whole-stage
    codegen, so at 100 TB this runs at scan speed with full column
    pruning (only doc_id, text read)."""
    docs = _t(spark, sf_dir, "documents")
    w = T.words(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in _GOPHER_STOP])
    d = docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(w, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_len"),
        F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x)))
        .cast("long")
        .alias("stop_hits"),
    )
    d = d.select(
        "doc_id",
        "n_words",
        F.expr("(1000 * total_len) div n_words").cast("long").alias("mean_word_len_e3"),
        F.expr("(1000000 * stop_hits) div n_words").cast("long").alias("stop_frac_e6"),
    )
    keep = (
        (F.col("n_words") >= 20)
        & (F.col("n_words") <= 400)
        & (F.col("mean_word_len_e3") >= 2500)
        & (F.col("mean_word_len_e3") <= 8000)
        & (F.col("stop_frac_e6") >= 10000)
    )
    return d.withColumn("keep_gopher", keep.cast("long"))


ORACLE_GOPHER_QUALITY_FILTERS = f"""
    WITH base AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents),
    m AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               CAST(coalesce(list_aggregate(list_transform(w, x -> CAST(length(x) AS BIGINT)), 'sum'), 0) AS BIGINT) AS total_len,
               CAST(len(list_filter(w, x -> list_contains({_GOPHER_STOP!r}, x))) AS BIGINT) AS stop_hits
        FROM base),
    r AS (
        SELECT doc_id, n_words,
               CAST((1000 * total_len) // n_words AS BIGINT) AS mean_word_len_e3,
               CAST((1000000 * stop_hits) // n_words AS BIGINT) AS stop_frac_e6
        FROM m)
    SELECT doc_id, n_words, mean_word_len_e3, stop_frac_e6,
           CAST(CASE WHEN n_words BETWEEN 20 AND 400
                      AND mean_word_len_e3 BETWEEN 2500 AND 8000
                      AND stop_frac_e6 >= 10000
                     THEN 1 ELSE 0 END AS BIGINT) AS keep_gopher
    FROM r
"""


_LINE_W = 12  # words per synthesized "line"


def _built_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (doc_id, line_idx, line) table: 12-word chunks of
    the corpus text — the line-granular view the C4/CCNet filter families
    and line-level dedup operate on (the synthetic corpus is one
    unstructured word stream, so line boundaries are synthesized exactly
    like _built_spans synthesizes span boundaries). Mirrored verbatim by
    ``_LINE_BUILD_SQL``."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id",
        F.posexplode(T.words(F.col("text"))).alias("i", "word"),
    )
    return (
        words.withColumn("line_idx", F.expr(f"i div 12"))
        .groupBy("doc_id", "line_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("i", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("line"),
            F.count(F.lit(1)).cast("long").alias("n_line_words"),
        )
        .select("doc_id", F.col("line_idx").cast("long").alias("line_idx"), "line", "n_line_words")
    )


_LINE_BUILD_SQL = f"""
    wd AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents),
    rows_ AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) - 1 AS i
        FROM wd),
    lines AS (
        SELECT doc_id, CAST(i // {_LINE_W} AS BIGINT) AS line_idx,
               string_agg(word, ' ' ORDER BY i) AS line,
               CAST(count(*) AS BIGINT) AS n_line_words
        FROM rows_ GROUP BY doc_id, i // {_LINE_W})
"""


def q_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level filtering (Raffel et al. 2020 §2.2): drop lines
    that are too short (< 3 words — C4's "at least 3 words" rule) or that
    contain a blacklisted token (here the word 'slow', standing in for
    C4's bad-word/boilerplate lists over the synthetic vocabulary), then
    report per document how much survived and a fingerprint of the kept
    text (md5 over the kept lines joined in order) so the exact surviving
    byte stream is oracle-pinned, not just its size.

    Scale shape: the line build is one posexplode + groupBy(doc_id,
    line_idx) — the same doc-keyed exchange every downstream per-doc agg
    reuses; the filter itself is a codegen predicate. No global state."""
    lines = _built_lines(spark, sf_dir)
    keep = (F.col("n_line_words") >= 3) & (
        ~F.array_contains(F.split(F.col("line"), " "), "slow")
    )
    flagged = lines.withColumn("kept", keep.cast("long"))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.when(
                                    F.col("kept") == 1,
                                    F.struct("line_idx", "line"),
                                )
                            )
                        ),
                        lambda s: s["line"],
                    ),
                    "\n",
                )
            ).alias("kept_fp"),
        )
        .withColumn(
            "kept_ratio_e6",
            F.expr("(1000000 * n_kept) div n_lines").cast("long"),
        )
    )


ORACLE_C4_LINE_FILTERS = f"""
    WITH {_LINE_BUILD_SQL},
    flagged AS (
        SELECT doc_id, line_idx, line,
               CAST(CASE WHEN n_line_words >= 3
                          AND NOT list_contains(string_split(line, ' '), 'slow')
                         THEN 1 ELSE 0 END AS BIGINT) AS kept
        FROM lines)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(CASE WHEN kept = 1 THEN line END, chr(10) ORDER BY line_idx), '')) AS kept_fp,
           CAST((1000000 * sum(kept)) // count(*) AS BIGINT) AS kept_ratio_e6
    FROM flagged
    GROUP BY doc_id
"""


def q_doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy (bits) — the cheapest
    gibberish/compressibility signal in a pre-training filter stack
    (low-entropy docs are repeated boilerplate, high-entropy docs are
    random noise; both get culled). Computed exactly on both engines:
    explode to characters, count per (doc, char), H = -Σ p·log2 p with
    the float result quantized to micro-bits.

    Scale shape: one groupBy(doc_id, ch) with map-side combine (the char
    alphabet is tiny, so partial aggregation collapses each partition to
    |alphabet| rows per doc before the exchange) and one per-doc rollup
    that reuses the doc_id key. Entropy terms are summed over ≤ ~30
    alphabet rows, so cross-engine float ordering is ulp-level noise,
    far below the 1e-6 quantum."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    chars = docs.select(
        "doc_id",
        F.explode(F.filter(F.split(F.col("text"), ""), lambda x: x != "")).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = counts.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n_chars_tot"))
    return (
        counts.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n_chars_tot").cast("long").alias("n_chars_tot"),
            F.round(
                -F.sum(
                    (F.col("c") / F.col("n_chars_tot"))
                    * F.log(F.col("c") / F.col("n_chars_tot"))
                )
                / F.log(F.lit(2.0)) * F.lit(1e6)
            ).cast("long").alias("entropy_ubits"),
        )
    )


ORACLE_DOC_CHAR_ENTROPY = """
    WITH chars AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ''), x -> x <> '')) AS ch
        FROM documents),
    counts AS (
        SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
        FROM chars GROUP BY doc_id, ch),
    tot AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars_tot
        FROM counts GROUP BY doc_id)
    SELECT counts.doc_id,
           CAST(max(n_chars_tot) AS BIGINT) AS n_chars_tot,
           CAST(round(-sum((c * 1.0 / n_chars_tot) * ln(c * 1.0 / n_chars_tot)) / ln(2.0) * 1e6)
                AS BIGINT) AS entropy_ubits
    FROM counts JOIN tot ON counts.doc_id = tot.doc_id
    GROUP BY counts.doc_id
"""


def q_ttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio rolled up per source — the lexical-diversity
    screen a corpus-mixing stage reads before weighting sources (a source
    whose docs repeat the same few words is template spam). Per doc:
    distinct-word / word ratio in integer micro-units; per source: doc
    count, mean doc TTR (integer mean of the per-doc micro-units), total
    tokens, and the source-level distinct vocabulary.

    Scale shape: per-doc TTR is array arithmetic in the projection (no
    shuffle); the source rollup is a partial-agg groupBy on ~constant
    source cardinality; the source vocabulary needs one explode +
    distinct-agg, also map-side combinable on the tiny vocab."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    w = T.words(F.col("text"))
    # integer floor division, mirrored by DuckDB's `//`
    per_doc = docs.select(
        "doc_id",
        "source",
        F.size(w).cast("long").alias("n_words"),
        F.size(F.array_distinct(w)).cast("long").alias("n_types"),
    ).select(
        "doc_id",
        "source",
        "n_words",
        F.expr("(1000000 * n_types) div n_words").cast("long").alias("ttr_e6"),
    )
    vocab = (
        docs.select("source", F.explode(w).alias("word"))
        .groupBy("source")
        .agg(F.countDistinct("word").cast("long").alias("source_vocab"))
    )
    roll = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_tokens"),
        F.expr("sum(ttr_e6) div count(*)").cast("long").alias("mean_ttr_e6"),
    )
    return roll.join(vocab, "source")


ORACLE_TTR_BY_SOURCE = """
    WITH base AS (
        SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents),
    per_doc AS (
        SELECT doc_id, source,
               CAST(len(w) AS BIGINT) AS n_words,
               CAST((1000000 * CAST(len(list_distinct(w)) AS BIGINT)) // len(w) AS BIGINT) AS ttr_e6
        FROM base),
    vocab AS (
        SELECT source, CAST(count(DISTINCT word) AS BIGINT) AS source_vocab
        FROM (SELECT source, unnest(w) AS word FROM base)
        GROUP BY source),
    roll AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_words) AS BIGINT) AS total_tokens,
               CAST(sum(ttr_e6) // count(*) AS BIGINT) AS mean_ttr_e6
        FROM per_doc GROUP BY source)
    SELECT roll.source, n_docs, total_tokens, mean_ttr_e6, source_vocab
    FROM roll JOIN vocab ON roll.source = vocab.source
"""


def q_readability_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease proxy per document: syllables counted as vowel
    groups (`[aeiou]+` runs — the standard cheap approximation), sentences
    as fixed 12-word lines (the corpus has no punctuation, exactly
    like the line build), score = 206.835 − 1.015·(words/sentence) −
    84.6·(syllables/word) quantized to milli-points. A readability band
    is a common curriculum/quality axis (e.g. filtering to grade bands).

    Scale shape: pure per-row projection — regexp_extract_all + size on
    the whole text column counts every vowel run in one codegen pass (a
    space never contains a vowel, so whole-text runs == per-word runs);
    no shuffle, full column pruning."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = T.words(F.col("text"))
    d = docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_words"),
        F.size(F.expr("regexp_extract_all(text, '[aeiou]+', 0)"))
        .cast("long")
        .alias("n_syllables"),
    ).withColumn(
        "n_sents", F.expr(f"(n_words + {_LINE_W - 1}) div 12").cast("long")
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words") / F.col("n_sents"))
        - F.lit(84.6) * (F.col("n_syllables") / F.col("n_words"))
    )
    return d.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_syllables",
        F.round(score * 1000).cast("long").alias("flesch_e3"),
    )


ORACLE_READABILITY_PROXY = f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_words,
               CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS n_syllables
        FROM documents)
    SELECT doc_id, n_words,
           CAST((n_words + {_LINE_W - 1}) // {_LINE_W} AS BIGINT) AS n_sents,
           n_syllables,
           CAST(round((206.835
                       - 1.015 * (n_words * 1.0 / ((n_words + {_LINE_W - 1}) // {_LINE_W}))
                       - 84.6 * (n_syllables * 1.0 / n_words)) * 1000) AS BIGINT) AS flesch_e3
    FROM d
"""


# --------------------------------------------------------------------------
# 6y. Sub-document dedup family (r4 additions, r5-window queue): line-level
#     dedup, Onion-style paragraph dedup, and SoftDeDup weighting — the
#     granularities between exact-doc (dedup_exact) and substring
#     (sa_dup_spans / duplicate_ngrams) dedup that CC-scale pipelines run
#     (CCNet drops duplicated lines; Onion drops duplicated paragraphs;
#     SoftDeDup keeps duplicates but down-weights them).
# --------------------------------------------------------------------------


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line-level deduplication (the CCNet/RefinedWeb move:
    boilerplate lines — nav bars, cookie banners — repeat across pages, so
    any line seen in ≥2 documents is dropped everywhere): per document,
    how many lines survived and the md5 fingerprint of the surviving text
    in original order, so the exact deduplicated byte stream is pinned.

    Scale shape: one groupBy on the line HASH (xxhash64 — 8-byte keys in
    the exchange, never the line text) with map-side combine to get global
    line frequencies, one broadcast-unfriendly but ids-only join back on
    the hash, then the per-doc rollup on the doc-keyed exchange the line
    build already created. At 100 TB the frequency table is the only
    global state and it shrinks by the boilerplate ratio; skew (one line
    in millions of docs) is absorbed by the partial agg — the hot key
    arrives at the reducer as one row per map partition."""
    lines = _built_lines(spark, sf_dir)
    h = lines.withColumn("lh", F.xxhash64("line"))
    freq = h.groupBy("lh").agg(F.count(F.lit(1)).cast("long").alias("global_c"))
    flagged = h.join(freq, "lh").withColumn(
        "kept", (F.col("global_c") == 1).cast("long")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.lit(1) - F.col("kept")).cast("long").alias("n_dup_lines"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.when(F.col("kept") == 1, F.struct("line_idx", "line"))
                            )
                        ),
                        lambda s: s["line"],
                    ),
                    "\n",
                )
            ).alias("kept_fp"),
        )
    )


ORACLE_LINE_DEDUP = f"""
    WITH {_LINE_BUILD_SQL},
    freq AS (
        SELECT line, CAST(count(*) AS BIGINT) AS global_c
        FROM lines GROUP BY line),
    flagged AS (
        SELECT l.doc_id, l.line_idx, l.line,
               CAST(CASE WHEN f.global_c = 1 THEN 1 ELSE 0 END AS BIGINT) AS kept
        FROM lines l JOIN freq f ON l.line = f.line)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(1 - kept) AS BIGINT) AS n_dup_lines,
           md5(coalesce(string_agg(CASE WHEN kept = 1 THEN line END, chr(10) ORDER BY line_idx), '')) AS kept_fp
    FROM flagged
    GROUP BY doc_id
"""


def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication weighting (the "keep duplicates but down-weight
    them" recipe, cf. SlimPajama/SoftDeDup discussions): instead of
    dropping a duplicate group down to one survivor, every member keeps a
    sampling weight 1/c (c = group size) so the group's expected total
    contribution to training stays 1. The duplicate group here is the
    8-word head prefix — the cheap near-exact key for scraped corpora
    where mirrored pages share their boilerplate head (the synthetic
    corpus plants ~5% shared heads); training samplers consume the
    weight_e6 column directly.

    Scale shape: identical to dedup_exact's hash-first cascade — group on
    the 8-byte xxhash64 of the head prefix, map-side combine, join the
    group sizes back by hash; the weight is floor(1e6/c), exact integer
    arithmetic on both engines."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    head = F.array_join(F.slice(T.words(F.col("text")), 1, 8), " ")
    h = docs.select("doc_id", F.xxhash64(head).alias("hh"))
    sizes = h.groupBy("hh").agg(F.count(F.lit(1)).cast("long").alias("dup_count"))
    return (
        h.join(sizes, "hh")
        .select(
            "doc_id",
            "dup_count",
            F.expr("1000000 div dup_count").cast("long").alias("weight_e6"),
        )
    )


ORACLE_SOFT_DEDUP_WEIGHTS = """
    WITH heads AS (
        SELECT doc_id,
               array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[1:8], ' ') AS head
        FROM documents),
    sizes AS (
        SELECT head, CAST(count(*) AS BIGINT) AS dup_count
        FROM heads GROUP BY head)
    SELECT h.doc_id, s.dup_count,
           CAST(1000000 // s.dup_count AS BIGINT) AS weight_e6
    FROM heads h JOIN sizes s ON h.head = s.head
"""


_PARA_W = 24  # words per synthesized "paragraph"


def q_onion_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onion-style paragraph deduplication (Pomikálek 2011): a paragraph
    duplicated anywhere else in the corpus is boilerplate; a document is
    kept only if less than half its paragraphs are duplicated. Emits per
    doc the paragraph counts, the duplicated-paragraph ratio in
    micro-units, and the keep verdict. Paragraphs are 24-word
    chunks (same synthesized-boundary convention as the line and span
    builds).

    Scale shape: same as line_dedup one level up — paragraph-hash
    frequency table via partial-agg groupBy, hash-keyed join back,
    doc-keyed rollup; all exchanged keys are 8-byte hashes."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.posexplode(T.words(F.col("text"))).alias("i", "word")
    )
    paras = (
        words.withColumn("para_idx", F.expr(f"i div 24"))
        .groupBy("doc_id", "para_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("i", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("para")
        )
    )
    h = paras.withColumn("ph", F.xxhash64("para"))
    freq = h.groupBy("ph").agg(F.count(F.lit(1)).cast("long").alias("global_c"))
    flagged = h.join(freq, "ph").withColumn(
        "dup", (F.col("global_c") >= 2).cast("long")
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum("dup").cast("long").alias("n_dup_paras"),
    )
    return per_doc.select(
        "doc_id",
        "n_paras",
        "n_dup_paras",
        F.expr("(1000000 * n_dup_paras) div n_paras").cast("long").alias("dup_ratio_e6"),
        F.expr(
            "CAST(CASE WHEN (1000000 * n_dup_paras) div n_paras < 500000 THEN 1 ELSE 0 END AS LONG)"
        ).alias("keep_onion"),
    )


ORACLE_ONION_PARAGRAPH_DEDUP = f"""
    WITH wd AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents),
    rows_ AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) - 1 AS i
        FROM wd),
    paras AS (
        SELECT doc_id, i // {_PARA_W} AS para_idx,
               string_agg(word, ' ' ORDER BY i) AS para
        FROM rows_ GROUP BY doc_id, i // {_PARA_W}),
    freq AS (
        SELECT para, CAST(count(*) AS BIGINT) AS global_c
        FROM paras GROUP BY para),
    flagged AS (
        SELECT p.doc_id,
               CAST(CASE WHEN f.global_c >= 2 THEN 1 ELSE 0 END AS BIGINT) AS dup
        FROM paras p JOIN freq f ON p.para = f.para),
    per_doc AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_paras,
               CAST(sum(dup) AS BIGINT) AS n_dup_paras
        FROM flagged GROUP BY doc_id)
    SELECT doc_id, n_paras, n_dup_paras,
           CAST((1000000 * n_dup_paras) // n_paras AS BIGINT) AS dup_ratio_e6,
           CAST(CASE WHEN (1000000 * n_dup_paras) // n_paras < 500000
                     THEN 1 ELSE 0 END AS BIGINT) AS keep_onion
    FROM per_doc
"""


# --------------------------------------------------------------------------
# 6z. Embedding-matrix analytics (r4 additions, r5-window queue): power-
#     iteration PCA, per-dimension moments, and product-quantization codes
#     — the embedding-side preprocessing an ANN/semantic-dedup stack runs
#     before indexing (PQ is the FAISS IVF-PQ code path; the top principal
#     component is the standard whitening/ABTT step).
# --------------------------------------------------------------------------

_EMB_DIM = 64
_PQ_SUBS = 8          # subspaces
_PQ_SUBDIM = _EMB_DIM // _PQ_SUBS
_PQ_CODES = 8         # codebook entries per subspace (from vec_id 0..7)


def _emb_vals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, dim, val) long-form view of the embedding matrix."""
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    )


_EMB_VALS_SQL = """
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding) AS val
        FROM embeddings
"""


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension first/second moments of the embedding matrix — the
    whitening statistics (mean-center + scale) every embedding pipeline
    computes before PCA/PQ, plus a dead-dimension flag (variance below
    1e-4: a dimension the encoder never uses, prunable from the index).
    Population variance via the sum/sumsq identity, quantized to
    micro-units after the float math.

    Scale shape: one groupBy(dim) over the exploded matrix with map-side
    combine — 3 doubles per dim per partition cross the exchange,
    regardless of row count; at 100 TB this is the textbook
    partial-aggregate pattern (same shape as corpus_stats)."""
    vals = _emb_vals(spark, sf_dir)
    agg = vals.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("val").alias("s"),
        F.sum(F.col("val") * F.col("val")).alias("s2"),
    )
    mean = F.col("s") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    return agg.select(
        F.col("dim").cast("long").alias("dim"),
        "n",
        F.round(mean * 1e6).cast("long").alias("mean_e6"),
        F.round(var * 1e6).cast("long").alias("var_e6"),
        (F.round(var * 1e6) < F.lit(100)).cast("long").alias("dead_dim"),
    )


ORACLE_EMBEDDING_DIM_STATS = f"""
    WITH vals AS ({_EMB_VALS_SQL}),
    agg AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS n,
               sum(CAST(val AS DOUBLE)) AS s,
               sum(CAST(val AS DOUBLE) * CAST(val AS DOUBLE)) AS s2
        FROM vals GROUP BY dim)
    SELECT CAST(dim AS BIGINT) AS dim, n,
           CAST(round(s / n * 1e6) AS BIGINT) AS mean_e6,
           CAST(round((s2 / n - (s / n) * (s / n)) * 1e6) AS BIGINT) AS var_e6,
           CAST(CASE WHEN round((s2 / n - (s / n) * (s / n)) * 1e6) < 100
                     THEN 1 ELSE 0 END AS BIGINT) AS dead_dim
    FROM agg
"""


def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding Gram matrix by
    two unrolled power-iteration steps — the distributed core of PCA
    whitening and of "all-but-the-top" embedding post-processing (Mu &
    Viswanath 2018), expressed without any linear-algebra library: each
    step is v' ∝ Xᵀ(Xv) = one broadcast of the 64-float vector, one
    per-row dot product, one per-dim partial-sum groupBy.

    Determinism across engines: every intermediate (dots, unnormalized
    components, norms) is quantized — dots and unit vectors to 12 dp,
    500-term component sums to 9 dp (three orders above their ~1e-11
    summation-order noise) — so float addition order cannot flip the
    final micro-unit rounding; the start vector is the fixed uniform
    1/√64, making the sign convention deterministic too.

    Scale shape per iteration: the matrix is scanned once; the only
    exchange is the 64-row per-dim partial-sum (map-side combine sends 64
    doubles per partition); the rank-1 state (v) broadcasts. Exactly the
    iteration structure of host_pagerank with the rank table replaced by
    a dense 64-vector."""
    vals = _emb_vals(spark, sf_dir).localCheckpoint(eager=True)
    v0 = 1.0 / (_EMB_DIM ** 0.5)
    vdf = spark.createDataFrame(
        [(d, v0) for d in range(_EMB_DIM)], "dim INT, v DOUBLE"
    ).select("dim", "v", F.lit(0.0).alias("norm"))
    for _ in range(2):
        dots = (
            vals.join(F.broadcast(vdf.select("dim", "v")), "dim")
            .groupBy("vec_id")
            .agg(F.round(F.sum(F.col("val") * F.col("v")), 12).alias("dot"))
        )
        u = (
            vals.join(dots, "vec_id")
            .groupBy("dim")
            .agg(F.round(F.sum(F.col("val") * F.col("dot")), 9).alias("u"))
        )
        nrm = u.agg(
            F.round(F.sqrt(F.sum(F.col("u") * F.col("u"))), 9).alias("norm")
        )
        vdf = u.crossJoin(F.broadcast(nrm)).select(
            "dim", F.round(F.col("u") / F.col("norm"), 12).alias("v"), "norm"
        )
    return vdf.select(
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("v") * 1e6).cast("long").alias("pc1_e6"),
        F.round(F.col("norm") * 1e3).cast("long").alias("eignorm_e3"),
    )


def _pca_oracle() -> str:
    v0 = 1.0 / (_EMB_DIM ** 0.5)
    parts = [f"vals AS ({_EMB_VALS_SQL})",
             f"v0 AS (SELECT dim, CAST({v0!r} AS DOUBLE) AS v FROM (SELECT DISTINCT dim FROM vals))"]
    prev = "v0"
    for i in (1, 2):
        parts.append(f"""dots{i} AS (
        SELECT vec_id, round(sum(CAST(val AS DOUBLE) * v), 12) AS dot
        FROM vals JOIN {prev} USING (dim) GROUP BY vec_id)""")
        parts.append(f"""u{i} AS (
        SELECT dim, round(sum(CAST(val AS DOUBLE) * dot), 9) AS u
        FROM vals JOIN dots{i} USING (vec_id) GROUP BY dim)""")
        parts.append(f"""n{i} AS (SELECT round(sqrt(sum(u * u)), 9) AS norm FROM u{i})""")
        parts.append(f"""v{i} AS (SELECT dim, round(u / norm, 12) AS v FROM u{i}, n{i})""")
        prev = f"v{i}"
    return (
        "WITH " + ",\n    ".join(parts)
        + """
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(round(v * 1e6) AS BIGINT) AS pc1_e6,
           CAST(round(norm * 1e3) AS BIGINT) AS eignorm_e3
    FROM v2, n2"""
    )


ORACLE_PCA_POWER_ITERATION = _pca_oracle()


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011 — the FAISS IVF-PQ
    storage format): split each 64-dim vector into 8 contiguous
    8-dim subvectors, assign each to its nearest of 8
    per-subspace codebook entries (deterministic codebook: the subvectors
    of vec_id 0..8-1, the same fixed-seed convention as the IVF
    centroids), and emit the codes as one scalar column per subspace —
    64 floats compressed to 8 bytes per vector.

    Tie/float discipline: squared distances (8-term sums) are quantized
    to 9 dp, then argmin resolves ties to the smallest code id on both
    engines (min-dist filter + min(code)), so assignment is exact.

    Scale shape: the codebook (8×8 rows) broadcasts;
    the data side is scanned once, exploded by subspace, distance-joined
    against the broadcast codebook, and reduced by (vec, subspace) with
    map-side combine — no shuffle of raw vectors, only (vec_id, sub,
    code) triples. The final pivot to one row per vec_id rides the
    vec_id exchange."""
    vals = _emb_vals(spark, sf_dir).withColumn(
        "sub", F.expr(f"dim div 8")
    )
    cb = (
        vals.filter(F.col("vec_id") < _PQ_CODES)
        .select(
            F.col("vec_id").cast("int").alias("code"),
            "sub",
            "dim",
            F.col("val").alias("cval"),
        )
    )
    dist = (
        vals.join(F.broadcast(cb), ["sub", "dim"])
        .groupBy("vec_id", "sub", "code")
        .agg(
            F.round(
                F.sum(
                    (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
                ),
                9,
            ).alias("d2")
        )
    )
    best = dist.groupBy("vec_id", "sub").agg(F.min("d2").alias("min_d2"))
    assigned = (
        dist.join(best, ["vec_id", "sub"])
        .filter(F.col("d2") == F.col("min_d2"))
        .groupBy("vec_id", "sub")
        .agg(F.min("code").cast("long").alias("code"))
    )
    aggs = [
        F.max(F.when(F.col("sub") == s, F.col("code"))).cast("long").alias(f"code{s}")
        for s in range(_PQ_SUBS)
    ]
    return assigned.groupBy("vec_id").agg(*aggs)


def _pq_oracle() -> str:
    code_cols = ",\n           ".join(
        f"CAST(max(CASE WHEN sub = {s} THEN code END) AS BIGINT) AS code{s}"
        for s in range(_PQ_SUBS)
    )
    return f"""
    WITH vals AS (
        SELECT vec_id, dim // {_PQ_SUBDIM} AS sub, dim, val FROM ({_EMB_VALS_SQL})),
    cb AS (
        SELECT vec_id AS code, sub, dim, val AS cval
        FROM vals WHERE vec_id < 8),
    dist AS (
        SELECT v.vec_id, v.sub, c.code,
               round(sum((CAST(v.val AS DOUBLE) - CAST(c.cval AS DOUBLE))
                         * (CAST(v.val AS DOUBLE) - CAST(c.cval AS DOUBLE))), 9) AS d2
        FROM vals v JOIN cb c ON v.sub = c.sub AND v.dim = c.dim
        GROUP BY v.vec_id, v.sub, c.code),
    best AS (
        SELECT vec_id, sub, min(d2) AS min_d2 FROM dist GROUP BY vec_id, sub),
    assigned AS (
        SELECT d.vec_id, d.sub, CAST(min(d.code) AS BIGINT) AS code
        FROM dist d JOIN best b ON d.vec_id = b.vec_id AND d.sub = b.sub
        WHERE d.d2 = b.min_d2
        GROUP BY d.vec_id, d.sub)
    SELECT vec_id,
           {code_cols}
    FROM assigned GROUP BY vec_id"""


ORACLE_PQ_CODES = _pq_oracle()


# --------------------------------------------------------------------------
# 6w. Crawl-scheduling + interleaved-span analytics (r4 additions, r5-window
#     queue): OPIC importance, URL-depth profile, Mercator queue layout,
#     span-kind transition matrix, media-ref integrity — frontier-side
#     signals the reference's fixed 4-queue scheduler
#     (Facebook_group_post.py:19-22) never computes.
# --------------------------------------------------------------------------

_OPIC_ITERS = 3


def q_opic_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPIC — Adaptive On-line Page Importance Computation (Abiteboul,
    Preda & Cobena, WWW 2003), the crawl-ordering signal designed to be
    computed WHILE crawling (unlike PageRank it needs no convergence):
    every node starts with one unit of cash; each step a node distributes
    its cash equally along its out-edges, and its lifetime history
    accumulates what it held. Pages with high history + incoming cash get
    fetched first. 3 unrolled steps over the host graph, same
    rounding discipline as host_pagerank (12 dp per iteration, 6-dp/e6
    quantized output). Sink nodes (in-links only) retain cash they cannot
    forward — the classic OPIC leak, kept as-is and documented rather than
    patched, since the cross-engine contract is what is being verified.

    Scale shape per step: one join of the edge list (partitioned by src)
    against the cash table plus one partial-agg groupBy(dst) — identical
    exchange profile to a PageRank step; cash/history state is one row
    per host, broadcastable here, host-hash-partitioned at 10^10 scale."""
    edges = _link_edges_df(spark, sf_dir).distinct().localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    e = edges.join(outdeg, "src")
    state = nodes.select("node", F.lit(1.0).alias("cash"), F.lit(0.0).alias("hist"))
    for _ in range(_OPIC_ITERS):
        inflow = (
            e.join(F.broadcast(state.select("node", "cash")), e["src"] == F.col("node"))
            .groupBy("dst")
            .agg(F.round(F.sum(F.col("cash") / F.col("outdeg")), 12).alias("inflow"))
            .withColumnRenamed("dst", "node")
        )
        # a node forwards its cash iff it has out-edges; sinks keep theirs
        state = (
            state.join(inflow, "node", "left")
            .join(outdeg.withColumnRenamed("src", "node"), "node", "left")
            .select(
                "node",
                F.round(
                    F.when(F.col("outdeg").isNotNull(), F.lit(0.0)).otherwise(
                        F.col("cash")
                    )
                    + F.coalesce("inflow", F.lit(0.0)),
                    12,
                ).alias("cash"),
                F.round(F.col("hist") + F.col("cash"), 12).alias("hist"),
            )
        )
    return state.select(
        "node",
        F.round(F.col("cash") * 1e6).cast("long").alias("cash_e6"),
        F.round(F.col("hist") * 1e6).cast("long").alias("hist_e6"),
    )


def _opic_oracle() -> str:
    parts = [
        f"edges AS (SELECT DISTINCT src, dst FROM ({_LINK_EDGES_SQL}))",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src)",
        "s0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS cash, CAST(0.0 AS DOUBLE) AS hist FROM nodes)",
    ]
    prev = "s0"
    for i in range(1, _OPIC_ITERS + 1):
        parts.append(
            f"""s{i} AS (
            SELECT n.node,
                   round(CASE WHEN o.outdeg IS NOT NULL THEN 0.0 ELSE p.cash END
                         + coalesce(f.inflow, 0.0), 12) AS cash,
                   round(p.hist + p.cash, 12) AS hist
            FROM nodes n
            JOIN {prev} p ON p.node = n.node
            LEFT JOIN outdeg o ON o.src = n.node
            LEFT JOIN (
                SELECT e.dst AS node, round(sum(p2.cash / o2.outdeg), 12) AS inflow
                FROM edges e
                JOIN outdeg o2 ON o2.src = e.src
                JOIN {prev} p2 ON p2.node = e.src
                GROUP BY e.dst) f ON f.node = n.node)"""
        )
        prev = f"s{i}"
    return (
        "WITH " + ",\n    ".join(parts)
        + f"""
    SELECT node,
           CAST(round(cash * 1e6) AS BIGINT) AS cash_e6,
           CAST(round(hist * 1e6) AS BIGINT) AS hist_e6
    FROM {prev}"""
    )


ORACLE_OPIC_SCORES = _opic_oracle()


def q_url_depth_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier URL-depth profile: path-segment depth per URL (the crawl
    cost/politeness proxy — deep archive pages are cheap to skip, shallow
    hub pages are dispatch priorities), rolled up per depth with volume,
    kind diversity, and mean scheduler priority in micro-units. The
    reference hard-codes its depth structure per URL template
    (Facebook_group_post.py:283-315 builds each kind at a fixed depth);
    this measures it from the URL column itself.

    Scale shape: regexp path extraction + split is per-row codegen; the
    rollup is a partial-agg groupBy on ~5 depth keys."""
    ev = _t(spark, sf_dir, "events")
    urls = ev.select(
        _messy_url_col().alias("url"),
        _kind_col().alias("kind"),
        _prio_col().alias("priority"),
    )
    d = urls.select(
        "kind",
        "priority",
        F.size(
            F.filter(
                F.split(F.regexp_extract("url", "^https?://[^/]+([^?#]*)", 1), "/"),
                lambda x: x != "",
            )
        ).cast("long").alias("depth"),
    )
    return d.groupBy("depth").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.countDistinct("kind").cast("long").alias("n_kinds"),
        F.expr("(1000000 * sum(priority)) div count(*)").cast("long").alias("mean_prio_e6"),
    )


ORACLE_URL_DEPTH_STATS = f"""
    WITH u AS ({_MESSY_URL_SQL}),
    d AS (
        SELECT kind, priority,
               CAST(len(list_filter(string_split(regexp_extract(url, '^https?://[^/]+([^?#]*)', 1), '/'),
                                    x -> x <> '')) AS BIGINT) AS depth
        FROM u)
    SELECT depth,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT kind) AS BIGINT) AS n_kinds,
           CAST((1000000 * sum(priority)) // count(*) AS BIGINT) AS mean_prio_e6
    FROM d GROUP BY depth
"""


_MERC_BACKQ = 31  # back-queue count (prime, so host buckets spread unevenly)


def q_mercator_queues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mercator frontier layout (Heydon & Najork 1999; the architecture
    inside Nutch/Heritrix): URLs land in a FRONT queue by priority and a
    BACK queue by host hash — front queues implement importance, back
    queues implement per-host politeness (one in-flight fetch per back
    queue). Emits the occupancy matrix (front × back): URL count and
    distinct-host count per cell — the load-balance readout that decides
    when back queues must be split or salted (frontier_skew_report's
    sibling at queue granularity).

    Scale shape: one groupBy on the two small derived keys, partial-agg;
    the host id and queue ids are pure arithmetic on event columns."""
    ev = _t(spark, sf_dir, "events")
    g = ev.select(
        _prio_col().cast("long").alias("front_q"),
        (F.col("user_id") % 97).alias("host_id"),
    ).select(
        "front_q",
        "host_id",
        (F.col("host_id") % _MERC_BACKQ).cast("long").alias("back_q"),
    )
    return g.groupBy("front_q", "back_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.countDistinct("host_id").cast("long").alias("n_hosts"),
    )


ORACLE_MERCATOR_QUEUES = f"""
    SELECT CAST({_PRIO} AS BIGINT) AS front_q,
           CAST((user_id % 97) % {_MERC_BACKQ} AS BIGINT) AS back_q,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT user_id % 97) AS BIGINT) AS n_hosts
    FROM events
    GROUP BY 1, 2
"""


def q_span_kind_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kind-transition matrix of the interleaved span sequences (START →
    text/media included): the corpus-level Markov profile of how text and
    media interleave — the statistic a multimodal curriculum uses to match
    its packing distribution to the corpus (and a drift detector for the
    extractor: a parser regression that drops media spans shows up here
    before any visual diff does). Counts each directed (from→to) pair
    plus how many distinct documents exhibit it.

    Scale shape: the lag window rides the span build's doc_id exchange;
    the transition rollup is a partial-agg groupBy on ≤ 9 keys."""
    spans = _built_spans(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("span_idx")
    tr = spans.withColumn(
        "from_kind", F.coalesce(F.lag("kind").over(w), F.lit("START"))
    ).withColumnRenamed("kind", "to_kind")
    return tr.groupBy("from_kind", "to_kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


ORACLE_SPAN_KIND_TRANSITIONS = f"""
    WITH {_SPAN_BUILD_SQL},
    tr AS (
        SELECT doc_id,
               coalesce(lag(kind) OVER (PARTITION BY doc_id ORDER BY span_idx), 'START') AS from_kind,
               kind AS to_kind
        FROM spans)
    SELECT from_kind, to_kind,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM tr GROUP BY from_kind, to_kind
"""


def q_media_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit between the interleaved span table and
    the media store: every media span's media_ref must exist in the store
    inventory; refs that don't are orphans (a failed media download or a
    parser emitting refs the fetcher never saw — the reference hits this
    when an image URL 404s, Parse_Data_FaceBook/parsing.py stores the ref
    regardless). The store inventory is the deterministic subset of refs
    with (doc_id·7 + span_idx) % 5 ≠ 0, i.e. a planted 20% loss; the
    audit reports per-doc media counts, orphan counts, and the orphan
    ratio.

    Scale shape: a LEFT ANTI join on media_ref (ids-only exchange; at
    scale the store side is bucketed by ref hash so the probe coalesces
    into its layout) followed by the doc-keyed rollup. The anti-join is
    the operator under test — the same shape as seen_antijoin."""
    spans = _built_spans(spark, sf_dir).filter(F.col("kind") == "media")
    media = spans.select("doc_id", "span_idx", "media_ref")
    store = media.filter(
        (F.col("doc_id") * 7 + F.col("span_idx")) % 5 != 0
    ).select(F.col("media_ref").alias("stored_ref"))
    orphans = media.join(
        store, media["media_ref"] == store["stored_ref"], "left_anti"
    ).groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
    per_doc = media.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_media")
    )
    return (
        per_doc.join(orphans, "doc_id", "left")
        .select(
            "doc_id",
            "n_media",
            F.coalesce("n_orphans", F.lit(0)).cast("long").alias("n_orphans"),
        )
        .withColumn(
            "orphan_ratio_e6",
            F.expr("(1000000 * n_orphans) div n_media").cast("long"),
        )
    )


ORACLE_MEDIA_REF_INTEGRITY = f"""
    WITH {_SPAN_BUILD_SQL},
    media AS (
        SELECT doc_id, span_idx, media_ref FROM spans WHERE kind = 'media'),
    store AS (
        SELECT media_ref AS stored_ref FROM media
        WHERE (doc_id * 7 + span_idx) % 5 <> 0),
    orph AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_orphans
        FROM media m
        WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.stored_ref = m.media_ref)
        GROUP BY doc_id),
    per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_media FROM media GROUP BY doc_id)
    SELECT p.doc_id, p.n_media,
           CAST(coalesce(o.n_orphans, 0) AS BIGINT) AS n_orphans,
           CAST((1000000 * coalesce(o.n_orphans, 0)) // p.n_media AS BIGINT) AS orphan_ratio_e6
    FROM per_doc p LEFT JOIN orph o ON p.doc_id = o.doc_id
"""


# --------------------------------------------------------------------------
# 6v. Corpus language-model statistics (r4 additions, r5-window queue):
#     unigram-LM doc scoring, Kneser-Ney continuation counts, RAKE keyword
#     extraction — the n-gram-LM side of quality filtering (CCNet scores
#     docs with a KenLM model; these are the distributed count/score
#     primitives that family reduces to).
# --------------------------------------------------------------------------


def q_unigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average log-probability under the corpus's own unigram
    LM — the self-perplexity quality screen (CCNet's "perplexity bucket"
    with the KenLM 5-gram replaced by the exactly-computable unigram
    model): p(w) = corpus count / corpus total, doc score = (Σ ln p(wᵢ))/n
    in micro-nats. Outlier docs (score far below the mean) are
    templated/OOV-heavy; buckets of this score drive mixing decisions.

    Scale shape: the model is one partial-agg groupBy(word) (vocabulary-
    sized result — broadcastable), the scorer is a broadcast join of the
    exploded corpus against it plus a doc-keyed rollup; nothing quadratic,
    no driver state. Float discipline: per-word logs are 12-dp quantized
    before the ≤ ~110-term per-doc sum, then the mean is e6-quantized."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select("doc_id", F.explode(T.words(F.col("text"))).alias("word"))
    model = words.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("c"))
    total = model.agg(F.sum("c").cast("long").alias("n_total"))
    scored = (
        words.join(F.broadcast(model), "word")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(F.log(F.col("c") / F.col("n_total")), 12).alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.round(F.sum("logp") / F.count(F.lit(1)) * 1e6).cast("long").alias("avg_logp_e6"),
    )


ORACLE_UNIGRAM_LM_SCORES = """
    WITH words AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        FROM documents),
    model AS (
        SELECT word, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY word),
    total AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM model),
    scored AS (
        SELECT doc_id, round(ln(c * 1.0 / n_total), 12) AS logp
        FROM words JOIN model USING (word), total)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(round(sum(logp) / count(*) * 1e6) AS BIGINT) AS avg_logp_e6
    FROM scored GROUP BY doc_id
"""


def q_kn_continuation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney continuation statistics per word (Kneser & Ney 1995 —
    the smoothing inside every KenLM filter model): N1+(•w) = in how many
    distinct bigram contexts does w appear as the SECOND word (the KN
    unigram numerator — 'Francisco' is frequent but only ever follows
    'San', so its continuation probability is tiny), N1+(w•) = distinct
    continuations w opens (the backoff weight numerator), and the KN
    continuation probability N1+(•w)/|distinct bigrams| in micro-units.

    Scale shape: bigrams come from one lag window over the doc-keyed word
    sequence (rides the corpus exchange), then two distinct-aggs on
    (prev, word) — all partial-agg, vocabulary-sized outputs."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.posexplode(T.words(F.col("text"))).alias("i", "word")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    big = (
        words.withColumn("prev", F.lag("word").over(w))
        .filter(F.col("prev").isNotNull())
        .select("prev", "word")
        .distinct()
    )
    n_bigrams = big.agg(F.count(F.lit(1)).cast("long").alias("n_distinct_bigrams"))
    cont = big.groupBy("word").agg(
        F.countDistinct("prev").cast("long").alias("n_precede")
    )
    open_ = big.groupBy("prev").agg(
        F.countDistinct("word").cast("long").alias("n_follow")
    ).withColumnRenamed("prev", "word")
    return (
        cont.join(open_, "word", "full")
        .crossJoin(F.broadcast(n_bigrams))
        .select(
            "word",
            F.coalesce("n_precede", F.lit(0)).cast("long").alias("n_precede"),
            F.coalesce("n_follow", F.lit(0)).cast("long").alias("n_follow"),
            F.expr(
                "(1000000 * coalesce(n_precede, 0)) div n_distinct_bigrams"
            ).cast("long").alias("pkn_cont_e6"),
        )
    )


ORACLE_KN_CONTINUATION_COUNTS = """
    WITH words AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) - 1 AS i
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
              FROM documents)),
    big AS (
        SELECT DISTINCT prev, word FROM (
            SELECT lag(word) OVER (PARTITION BY doc_id ORDER BY i) AS prev, word
            FROM words)
        WHERE prev IS NOT NULL),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_distinct_bigrams FROM big),
    cont AS (
        SELECT word, CAST(count(DISTINCT prev) AS BIGINT) AS n_precede
        FROM big GROUP BY word),
    open_ AS (
        SELECT prev AS word, CAST(count(DISTINCT word) AS BIGINT) AS n_follow
        FROM big GROUP BY prev)
    SELECT coalesce(c.word, o.word) AS word,
           CAST(coalesce(c.n_precede, 0) AS BIGINT) AS n_precede,
           CAST(coalesce(o.n_follow, 0) AS BIGINT) AS n_follow,
           CAST((1000000 * coalesce(c.n_precede, 0)) // nb.n_distinct_bigrams AS BIGINT) AS pkn_cont_e6
    FROM cont c FULL JOIN open_ o ON c.word = o.word, nb
"""


_RAKE_STOP = ["the", "a"]


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword scores (Rose et al. 2010 "Rapid Automatic Keyword
    Extraction"): split each document's word stream into candidate
    phrases at stop-words, then score every non-stop word by
    degree/frequency — degree = Σ over its phrase occurrences of the
    phrase length (co-occurrence count, self included), frequency = its
    total occurrences. High-degree/low-frequency words live in long
    multi-word phrases (topical terms); high-frequency/low-degree words
    are filler. Corpus-level rollup in integer micro-units.

    Scale shape: phrase ids are a running stop-word count (one window
    over the doc-keyed sequence — rides the corpus exchange), phrase
    lengths one groupBy(doc, phrase), then the per-word rollup is a
    partial-agg groupBy(word) with vocabulary-sized output. No
    driver-side text handling anywhere."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    stop_arr = F.array(*[F.lit(s) for s in _RAKE_STOP])
    words = docs.select(
        "doc_id", F.posexplode(T.words(F.col("text"))).alias("i", "word")
    ).withColumn("is_stop", F.array_contains(stop_arr, F.col("word")).cast("int"))
    w = Window.partitionBy("doc_id").orderBy("i")
    ph = words.withColumn("phrase_id", F.sum("is_stop").over(w)).filter(
        F.col("is_stop") == 0
    )
    plen = ph.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).cast("long").alias("phrase_len")
    )
    scored = ph.join(plen, ["doc_id", "phrase_id"])
    return (
        scored.groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("phrase_len").cast("long").alias("degree"),
        )
        .select(
            "word",
            "freq",
            "degree",
            F.expr("(1000000 * degree) div freq").cast("long").alias("rake_e6"),
        )
    )


ORACLE_RAKE_KEYWORDS = f"""
    WITH words AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) - 1 AS i
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
              FROM documents)),
    flagged AS (
        SELECT doc_id, i, word,
               CASE WHEN list_contains({_RAKE_STOP!r}, word) THEN 1 ELSE 0 END AS is_stop
        FROM words),
    ph AS (
        SELECT doc_id, word,
               sum(is_stop) OVER (PARTITION BY doc_id ORDER BY i
                                  ROWS UNBOUNDED PRECEDING) AS phrase_id
        FROM flagged
        QUALIFY is_stop = 0),
    plen AS (
        SELECT doc_id, phrase_id, CAST(count(*) AS BIGINT) AS phrase_len
        FROM ph GROUP BY doc_id, phrase_id)
    SELECT word,
           CAST(count(*) AS BIGINT) AS freq,
           CAST(sum(phrase_len) AS BIGINT) AS degree,
           CAST((1000000 * sum(phrase_len)) // count(*) AS BIGINT) AS rake_e6
    FROM ph JOIN plen USING (doc_id, phrase_id)
    GROUP BY word
"""


# --------------------------------------------------------------------------
# 6u. Vocabulary / sampling / evaluation operators (r4 wave 2, r5-window
#     queue): language-ID confusion, Zipf fit, coverage curves, balanced
#     resampling, token-budget allocation, posting-list stats — the
#     corpus-composition instruments a data-mixing stage reads.
# --------------------------------------------------------------------------


def q_doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the heuristic classifier's prediction
    (langid — argmax stopword hits) cross-tabulated against the corpus's
    labeled lang column — the evaluation readout that turns the D11
    classifier into a measured component (per-cell counts expose exactly
    which language pairs the stopword heuristic confuses, e.g. zh's
    romanized 'de' colliding with es/de particles).

    Scale shape: the classifier is a per-row expression chain (no
    shuffle); the confusion rollup is a partial-agg groupBy on ≤ 36
    (label × prediction) keys."""
    docs = _t(spark, sf_dir, "documents").select("lang", "text")
    pred = docs.select("lang", T.langid(F.col("text")).alias("pred_lang"))
    return pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


ORACLE_DOC_LANG_CONFUSION = f"""
    WITH pred AS (
        SELECT doc_id, langid AS pred_lang FROM ({_langid_oracle()})),
    lab AS (SELECT doc_id, lang FROM documents)
    SELECT l.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM lab l JOIN pred p ON l.doc_id = p.doc_id
    GROUP BY l.lang, p.pred_lang
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: OLS slope/intercept of
    ln(freq) on ln(rank) plus R² — natural text sits near slope −1, and a
    corpus whose slope collapses toward 0 (uniform) or −∞ (template spam)
    fails the composition sanity check. Rank ties break by word so the
    regression input is deterministic; the three regression scalars come
    from closed-form sums, quantized to micro-units.

    Scale shape: one vocabulary-sized groupBy(word), one global rank
    window over the (tiny) vocabulary table, one scalar agg — the heavy
    input (the corpus) is touched once by the word count's partial agg."""
    docs = _t(spark, sf_dir, "documents").select("text")
    vocab = (
        docs.select(F.explode(T.words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("word"))
    pts = vocab.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.round(F.sum("x"), 9).alias("sx"),
        F.round(F.sum("y"), 9).alias("sy"),
        F.round(F.sum(F.col("x") * F.col("x")), 9).alias("sxx"),
        F.round(F.sum(F.col("x") * F.col("y")), 9).alias("sxy"),
        F.round(F.sum(F.col("y") * F.col("y")), 9).alias("syy"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n_vocab")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_vocab")
    )
    r_num = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n_vocab")
    r_den = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_vocab"))
        * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n_vocab"))
    )
    return agg.select(
        "n_vocab",
        F.round(slope * 1e6).cast("long").alias("slope_e6"),
        F.round(
            (F.col("sy") / F.col("n_vocab") - slope * F.col("sx") / F.col("n_vocab"))
            * 1e6
        ).cast("long").alias("intercept_e6"),
        F.round((r_num / r_den) * (r_num / r_den) * 1e6).cast("long").alias("r2_e6"),
    )


ORACLE_ZIPF_FIT = """
    WITH vocab AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
              FROM documents)
        GROUP BY word),
    pts AS (
        SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, word) AS DOUBLE)) AS x,
               ln(CAST(freq AS DOUBLE)) AS y
        FROM vocab),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_vocab,
               round(sum(x), 9) AS sx, round(sum(y), 9) AS sy,
               round(sum(x * x), 9) AS sxx, round(sum(x * y), 9) AS sxy,
               round(sum(y * y), 9) AS syy
        FROM pts)
    SELECT n_vocab,
           CAST(round((sxy - sx * sy / n_vocab) / (sxx - sx * sx / n_vocab) * 1e6) AS BIGINT) AS slope_e6,
           CAST(round((sy / n_vocab
                       - (sxy - sx * sy / n_vocab) / (sxx - sx * sx / n_vocab) * sx / n_vocab) * 1e6)
                AS BIGINT) AS intercept_e6,
           CAST(round(((sxy - sx * sy / n_vocab) * (sxy - sx * sy / n_vocab))
                      / ((sxx - sx * sx / n_vocab) * (syy - sy * sy / n_vocab)) * 1e6)
                AS BIGINT) AS r2_e6
    FROM agg
"""


_COVERAGE_KS = [5, 10, 20, 30]


def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k vocabulary coverage curve: what fraction of all corpus tokens
    the k most frequent words account for, at k ∈ {5, 10, 20, 30} — the
    tokenizer-budget instrument (how big a vocab buys how much coverage)
    and a burstiness screen. Rank ties break by word; coverage is integer
    micro-units of exact BIGINT token counts, so the curve is float-free.

    Scale shape: corpus → one vocabulary-sized partial-agg groupBy; the
    curve itself is a rank window + conditional sums over the tiny vocab
    table, one output row per k."""
    docs = _t(spark, sf_dir, "documents").select("text")
    vocab = (
        docs.select(F.explode(T.words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("word"))
    ranked = vocab.select("freq", F.row_number().over(w).alias("rank"))
    ks = F.explode(F.array(*[F.lit(k) for k in _COVERAGE_KS])).alias("k")
    grid = ranked.select("freq", "rank", ks)
    return (
        grid.groupBy("k")
        .agg(
            F.sum(F.when(F.col("rank") <= F.col("k"), F.col("freq")).otherwise(0))
            .cast("long")
            .alias("top_tokens"),
            F.sum("freq").cast("long").alias("total_tokens"),
        )
        .select(
            F.col("k").cast("long").alias("k"),
            "top_tokens",
            "total_tokens",
            F.expr("(1000000 * top_tokens) div total_tokens").cast("long").alias("coverage_e6"),
        )
    )


ORACLE_VOCAB_COVERAGE_CURVE = f"""
    WITH vocab AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
              FROM documents)
        GROUP BY word),
    ranked AS (
        SELECT freq, row_number() OVER (ORDER BY freq DESC, word) AS rank FROM vocab),
    ks AS (SELECT unnest({_COVERAGE_KS!r}) AS k)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(sum(CASE WHEN rank <= k THEN freq ELSE 0 END) AS BIGINT) AS top_tokens,
           CAST(sum(freq) AS BIGINT) AS total_tokens,
           CAST((1000000 * sum(CASE WHEN rank <= k THEN freq ELSE 0 END)) // sum(freq)
                AS BIGINT) AS coverage_e6
    FROM ranked, ks
    GROUP BY k
"""


def q_lang_balance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced downsampling: every language is cut to the size of
    the smallest one (the uniform-mixing extreme of temperature sampling,
    τ→∞), with the survivors chosen by a deterministic md5 lottery — rank
    docs within each language by md5(doc_id) and keep the first quota.
    Emits every doc with its lottery rank and verdict so the sampler is
    auditable, not just its output.

    Scale shape: one 6-row lang-count agg (broadcast back), one rank
    window per language partition — the same per-stratum top-k shape as
    topk_per_host; no global sort."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    quota = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_lang"))
    min_q = quota.agg(F.min("n_lang").cast("long").alias("quota"))
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    ranked = docs.withColumn("lottery_rank", F.row_number().over(w).cast("long"))
    return (
        ranked.crossJoin(F.broadcast(min_q))
        .select(
            "doc_id",
            "lang",
            "lottery_rank",
            (F.col("lottery_rank") <= F.col("quota")).cast("long").alias("keep_balanced"),
        )
    )


ORACLE_LANG_BALANCE_RESAMPLE = """
    WITH quota AS (
        SELECT CAST(min(n) AS BIGINT) AS q
        FROM (SELECT lang, count(*) AS n FROM documents GROUP BY lang)),
    ranked AS (
        SELECT doc_id, lang,
               CAST(row_number() OVER (PARTITION BY lang
                                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                    AS BIGINT) AS lottery_rank
        FROM documents)
    SELECT doc_id, lang, lottery_rank,
           CAST(CASE WHEN lottery_rank <= q THEN 1 ELSE 0 END AS BIGINT) AS keep_balanced
    FROM ranked, quota
"""


_MIX_BUDGET = 1_000_000


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-budget allocation across sources by largest-remainder
    apportionment (Hamilton's method): each source gets
    floor(budget·tokens/total), and the leftover seats go to the largest
    fractional remainders (ties by source name) — so the allocations sum
    to the budget EXACTLY, which proportional-floor alone never does.
    This is the integer arithmetic a mixing stage runs to turn source
    weights into concrete per-source token draws.

    Scale shape: the source table is constant-sized (one partial-agg
    groupBy over the corpus); apportionment is two windows over ~20 rows.
    All arithmetic is BIGINT (remainders compared as budget·tokens mod
    total), float-free."""
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    src = docs.groupBy("source").agg(
        F.sum(F.size(T.words(F.col("text")))).cast("long").alias("tokens_src")
    )
    tot = src.agg(F.sum("tokens_src").cast("long").alias("total_tokens"))
    base = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens_src",
        F.expr(f"({_MIX_BUDGET} * tokens_src) div total_tokens").cast("long").alias("floor_alloc"),
        F.expr(f"({_MIX_BUDGET} * tokens_src) % total_tokens").cast("long").alias("rem"),
    )
    short = base.agg(
        (F.lit(_MIX_BUDGET) - F.sum("floor_alloc")).cast("long").alias("n_extra")
    )
    w = Window.orderBy(F.desc("rem"), F.asc("source"))
    return (
        base.crossJoin(F.broadcast(short))
        .withColumn("rem_rank", F.row_number().over(w).cast("long"))
        .select(
            "source",
            "tokens_src",
            F.expr("floor_alloc + CAST(CASE WHEN rem_rank <= n_extra THEN 1 ELSE 0 END AS LONG)")
            .cast("long")
            .alias("alloc_tokens"),
        )
    )


ORACLE_TOKEN_BUDGET_MIX = f"""
    WITH src AS (
        SELECT source,
               CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS tokens_src
        FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(tokens_src) AS BIGINT) AS total_tokens FROM src),
    base AS (
        SELECT source, tokens_src,
               CAST(({_MIX_BUDGET} * tokens_src) // total_tokens AS BIGINT) AS floor_alloc,
               CAST(({_MIX_BUDGET} * tokens_src) % total_tokens AS BIGINT) AS rem
        FROM src, tot),
    short AS (SELECT CAST({_MIX_BUDGET} - sum(floor_alloc) AS BIGINT) AS n_extra FROM base),
    ranked AS (
        SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rem_rank
        FROM base)
    SELECT source, tokens_src,
           CAST(floor_alloc + CASE WHEN rem_rank <= n_extra THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
    FROM ranked, short
"""


def q_posting_list_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting-list profile: document frequency per term,
    bucketed by log2(df) — the index-sizing instrument (how many terms
    are rare vs stop-like decides dictionary layout, skip-list depth, and
    which terms deserve bitmap postings). Per bucket: term count, total
    postings, and the min/max df so the bucket edges are visible.

    Scale shape: corpus → (word, doc) distinct partial agg → vocabulary-
    sized df table → ~15-key bucket rollup; the only big exchange carries
    (word, doc_id) pairs already shrunk by per-partition distinct."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    df_ = (
        docs.select("doc_id", F.explode(T.words(F.col("text"))).alias("word"))
        .distinct()
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    b = df_.withColumn(
        "df_bucket", F.floor(F.log2(F.col("df").cast("double"))).cast("long")
    )
    return b.groupBy("df_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("df").cast("long").alias("total_postings"),
        F.min("df").cast("long").alias("min_df"),
        F.max("df").cast("long").alias("max_df"),
    )


ORACLE_POSTING_LIST_STATS = """
    WITH df_ AS (
        SELECT word, CAST(count(*) AS BIGINT) AS df
        FROM (SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
              FROM documents)
        GROUP BY word)
    SELECT CAST(floor(log2(CAST(df AS DOUBLE))) AS BIGINT) AS df_bucket,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(df) AS BIGINT) AS total_postings,
           CAST(min(df) AS BIGINT) AS min_df,
           CAST(max(df) AS BIGINT) AS max_df
    FROM df_
    GROUP BY 1
"""


# --------------------------------------------------------------------------
# 6t. Embedding evaluation operators (r4 wave 2, r5-window queue): labeled
#     intra-class similarity, Matryoshka truncation energy, centroid
#     cohesion, PQ reconstruction error — the measurements that qualify an
#     embedding column before the ANN/semantic-dedup stack trusts it.
# --------------------------------------------------------------------------


def q_class_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-class cosine-similarity histogram over the LABELED evaluation
    set: for every same-label pair (i<j), bucket cos(x,y) into 0.1-wide
    bins and count per (label, bin) — the separability readout that says
    whether the embedding space clusters its classes tightly enough for
    semantic dedup thresholds to transfer. Like ann_bruteforce_topk this
    is ground-truth machinery: the pair join is bounded by (class size)²
    on the small labeled set, NOT run corpus-wide (the corpus-scale path
    is the LSH-bucketed candidate family).

    Float discipline: dot/norm sums are 9-dp quantized before the ratio;
    the bin index floors the 9-dp cosine, so a bucket edge cannot flip on
    summation order."""
    emb = _t(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "val")
    )
    norms = vals.groupBy("vec_id", "label").agg(
        F.round(F.sqrt(F.sum(F.col("val") * F.col("val"))), 9).alias("nrm")
    )
    a = vals.select(
        F.col("vec_id").alias("ida"), F.col("label").alias("la"),
        F.col("dim").alias("da"), F.col("val").alias("va"),
    )
    b = vals.select(
        F.col("vec_id").alias("idb"), F.col("label").alias("lb"),
        F.col("dim").alias("db"), F.col("val").alias("vb"),
    )
    # label equality INSIDE the join condition: the pair fan-out is bounded
    # by (class size)^2, never corpus^2
    dots = (
        a.join(
            b,
            (F.col("da") == F.col("db"))
            & (F.col("la") == F.col("lb"))
            & (F.col("ida") < F.col("idb")),
        )
        .groupBy("ida", "idb", "la")
        .agg(F.round(F.sum(F.col("va") * F.col("vb")), 9).alias("dot"))
    )
    na = norms.select(F.col("vec_id").alias("ida"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("vec_id").alias("idb"), F.col("nrm").alias("nb"))
    cos = (
        dots.join(F.broadcast(na), "ida")
        .join(F.broadcast(nb), "idb")
        .select(
            F.col("la").alias("label"),
            F.floor(F.round(F.col("dot") / (F.col("na") * F.col("nb")), 9) * 10)
            .cast("long")
            .alias("cos_bin"),
        )
    )
    return cos.groupBy("label", "cos_bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


ORACLE_CLASS_COSINE_HISTOGRAM = f"""
    WITH vals AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding) AS val
        FROM embeddings),
    norms AS (
        SELECT vec_id, round(sqrt(sum(CAST(val AS DOUBLE) * CAST(val AS DOUBLE))), 9) AS nrm
        FROM vals GROUP BY vec_id),
    dots AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb, a.label AS la,
               round(sum(CAST(a.val AS DOUBLE) * CAST(b.val AS DOUBLE)), 9) AS dot
        FROM vals a JOIN vals b ON a.dim = b.dim
        WHERE a.label = b.label AND a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id, a.label),
    cos AS (
        SELECT d.la AS label,
               CAST(floor(round(d.dot / (x.nrm * y.nrm), 9) * 10) AS BIGINT) AS cos_bin
        FROM dots d
        JOIN norms x ON d.ida = x.vec_id
        JOIN norms y ON d.idb = y.vec_id)
    SELECT label, cos_bin, CAST(count(*) AS BIGINT) AS n_pairs
    FROM cos GROUP BY label, cos_bin
"""


_MATRYOSHKA_HEADS = [8, 16, 32]


def q_matryoshka_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation energy (Kusupati et al. 2022 MRL): what share
    of each vector's squared norm lives in its first 8/16/32 dimensions —
    the measurement that says whether the index can serve truncated
    prefixes (cheap first-pass scoring) without retraining. Rolled up per
    label: mean head-energy share in micro-units per (label, head_dims).

    Scale shape: one pass over the exploded matrix with conditional sums
    (no joins), then a ~30-key rollup; per-vec ratios are 9-dp quantized
    before the mean, the mean e6-quantized after."""
    vals = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "val")
    )
    heads = F.explode(F.array(*[F.lit(h) for h in _MATRYOSHKA_HEADS])).alias("head_dims")
    per_vec = (
        vals.select("vec_id", "label", "dim", "val", heads)
        .groupBy("vec_id", "label", "head_dims")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("dim") < F.col("head_dims"), F.col("val") * F.col("val")).otherwise(0.0)
                ),
                9,
            ).alias("head_sq"),
            F.round(F.sum(F.col("val") * F.col("val")), 9).alias("full_sq"),
        )
        .select(
            "label",
            "head_dims",
            F.round(F.col("head_sq") / F.col("full_sq"), 9).alias("share"),
        )
    )
    return per_vec.groupBy("label", "head_dims").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.sum("share") / F.count(F.lit(1)) * 1e6).cast("long").alias("mean_head_energy_e6"),
    ).select(
        "label", F.col("head_dims").cast("long").alias("head_dims"),
        "n_vecs", "mean_head_energy_e6",
    )


ORACLE_MATRYOSHKA_TRUNCATION = f"""
    WITH vals AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding) AS val
        FROM embeddings),
    heads AS (SELECT unnest({_MATRYOSHKA_HEADS!r}) AS head_dims),
    per_vec AS (
        SELECT label, head_dims,
               round(round(sum(CASE WHEN dim < head_dims
                                    THEN CAST(val AS DOUBLE) * CAST(val AS DOUBLE)
                                    ELSE 0.0 END), 9)
                     / round(sum(CAST(val AS DOUBLE) * CAST(val AS DOUBLE)), 9), 9) AS share
        FROM vals, heads
        GROUP BY vec_id, label, head_dims)
    SELECT label, CAST(head_dims AS BIGINT) AS head_dims,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(round(sum(share) / count(*) * 1e6) AS BIGINT) AS mean_head_energy_e6
    FROM per_vec GROUP BY label, head_dims
"""


def q_label_centroid_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster cohesion of the labeled classes: per label, the mean cosine
    between members and their class centroid — the one-number-per-class
    quality score for an embedding space (tight classes → reliable
    semantic dedup and IVF routing; a diffuse class warns that its
    centroid is meaningless). Two-pass: centroids by per-(label, dim)
    mean, then member-to-centroid cosines, both with the 9-dp/e6
    quantization ladder.

    Scale shape: centroid table is (labels × dims) rows — broadcast to
    the member pass; each pass is one partial-agg groupBy over the
    exploded matrix. Same shape as the IVF assignment step."""
    vals = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "val")
    )
    cent = vals.groupBy("label", "dim").agg(
        F.round(F.avg("val"), 9).alias("cval")
    )
    joined = vals.join(F.broadcast(cent), ["label", "dim"])
    per_vec = joined.groupBy("vec_id", "label").agg(
        F.round(F.sum(F.col("val") * F.col("cval")), 9).alias("dot"),
        F.round(F.sqrt(F.sum(F.col("val") * F.col("val"))), 9).alias("vn"),
        F.round(F.sqrt(F.sum(F.col("cval") * F.col("cval"))), 9).alias("cn"),
    )
    cos = per_vec.select(
        "label", F.round(F.col("dot") / (F.col("vn") * F.col("cn")), 9).alias("cos")
    )
    return cos.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.sum("cos") / F.count(F.lit(1)) * 1e6).cast("long").alias("mean_cohesion_e6"),
        F.round(F.min("cos") * 1e6).cast("long").alias("min_cohesion_e6"),
    )


ORACLE_LABEL_CENTROID_COHESION = """
    WITH vals AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding) AS val
        FROM embeddings),
    cent AS (
        SELECT label, dim, round(avg(CAST(val AS DOUBLE)), 9) AS cval
        FROM vals GROUP BY label, dim),
    per_vec AS (
        SELECT v.vec_id, v.label,
               round(sum(CAST(v.val AS DOUBLE) * c.cval), 9) AS dot,
               round(sqrt(sum(CAST(v.val AS DOUBLE) * CAST(v.val AS DOUBLE))), 9) AS vn,
               round(sqrt(sum(c.cval * c.cval)), 9) AS cn
        FROM vals v JOIN cent c ON v.label = c.label AND v.dim = c.dim
        GROUP BY v.vec_id, v.label),
    cos AS (
        SELECT label, round(dot / (vn * cn), 9) AS cos FROM per_vec)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(round(sum(cos) / count(*) * 1e6) AS BIGINT) AS mean_cohesion_e6,
           CAST(round(min(cos) * 1e6) AS BIGINT) AS min_cohesion_e6
    FROM cos GROUP BY label
"""


def q_pq_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction error of the product-quantization codebook (the
    quality score that decides whether 8 codes/subspace is enough or the
    codebook must grow): per vector, the total squared error of its
    nearest-code reconstruction, rolled up per label with mean and max.
    Labels whose vectors reconstruct poorly are the ones PQ search will
    mis-rank.

    Exactness: every float32 component is quantized to integer
    micro-units FIRST, and everything after — squared diffs, min over
    codes, sum over subspaces, label mean — is exact BIGINT arithmetic
    (error unit 1e-12 of the squared-distance scale, max magnitude
    ~2.6e14, far inside BIGINT). The first draft rounded doubles at 9 dp
    instead, which put sums on a decimal grid where a per-vec error
    landed EXACTLY on a .5 micro-unit boundary and the two engines'
    half-case handling diverged — integer-first is the only shape that
    cannot manufacture such knife edges.

    Scale shape: identical dataflow to pq_codes (broadcast codebook,
    (vec, sub) partial aggs) plus a label-sized rollup."""
    vals = _emb_vals(spark, sf_dir).select(
        "vec_id",
        F.expr(f"dim div {_PQ_SUBDIM}").alias("sub"),
        "dim",
        F.round(F.col("val").cast("double") * 1e6).cast("long").alias("v6"),
    )
    labels = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    cb = vals.filter(F.col("vec_id") < _PQ_CODES).select(
        F.col("vec_id").cast("int").alias("code"), "sub", "dim",
        F.col("v6").alias("c6"),
    )
    dist = (
        vals.join(F.broadcast(cb), ["sub", "dim"])
        .groupBy("vec_id", "sub", "code")
        .agg(
            F.sum((F.col("v6") - F.col("c6")) * (F.col("v6") - F.col("c6")))
            .cast("long")
            .alias("d2_e12")
        )
    )
    best = dist.groupBy("vec_id", "sub").agg(
        F.min("d2_e12").cast("long").alias("min_d2_e12")
    )
    per_vec = best.groupBy("vec_id").agg(
        F.sum("min_d2_e12").cast("long").alias("err_e12")
    )
    return (
        per_vec.join(F.broadcast(labels), "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.expr("sum(err_e12) div count(*)").cast("long").alias("mean_err_e12"),
            F.max("err_e12").cast("long").alias("max_err_e12"),
        )
    )


ORACLE_PQ_RECONSTRUCTION_ERROR = f"""
    WITH vals AS (
        SELECT vec_id, dim // {_PQ_SUBDIM} AS sub, dim,
               CAST(round(CAST(val AS DOUBLE) * 1e6) AS BIGINT) AS v6
        FROM ({_EMB_VALS_SQL})),
    cb AS (
        SELECT vec_id AS code, sub, dim, v6 AS c6
        FROM vals WHERE vec_id < {_PQ_CODES}),
    dist AS (
        SELECT v.vec_id, v.sub, c.code,
               CAST(sum((v.v6 - c.c6) * (v.v6 - c.c6)) AS BIGINT) AS d2_e12
        FROM vals v JOIN cb c ON v.sub = c.sub AND v.dim = c.dim
        GROUP BY v.vec_id, v.sub, c.code),
    best AS (
        SELECT vec_id, sub, CAST(min(d2_e12) AS BIGINT) AS min_d2_e12
        FROM dist GROUP BY vec_id, sub),
    per_vec AS (
        SELECT vec_id, CAST(sum(min_d2_e12) AS BIGINT) AS err_e12
        FROM best GROUP BY vec_id)
    SELECT e.label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(p.err_e12) // count(*) AS BIGINT) AS mean_err_e12,
           CAST(max(p.err_e12) AS BIGINT) AS max_err_e12
    FROM per_vec p JOIN embeddings e ON p.vec_id = e.vec_id
    GROUP BY e.label
"""


# --------------------------------------------------------------------------
# 6s. Frontier economics + event-stream analytics (r4 wave 2, r5-window
#     queue): canonicalization collision audit, degree assortativity,
#     frontier age, politeness backlog ETA, funnel, retention cohorts,
#     rate anomalies, span position profile, per-host template entropy.
# --------------------------------------------------------------------------


def q_duplicate_url_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization win audit: raw frontier URLs that collapse into the
    same canonical form (tracking params stripped, params sorted, host
    case-folded) — the measured benefit of J3's fingerprint dedup. Emits
    every canonical group with ≥2 raw variants: how many raws collapsed
    and the first-discovery seq the dedup kept. The reference relies on
    Scrapy's RFPDupeFilter doing this implicitly (settings.py:37); here
    the collapse factor is a first-class metric.

    Scale shape: the canonicalizer is per-row codegen; the group audit is
    one groupBy(url_canon) partial agg + a HAVING-style filter — the same
    exchange url_canonicalize already pays."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    messy = ev.withColumn("url", _messy_url_col())
    canon = messy.withColumn("url_canon", U.canonicalize(F.col("url")))
    return (
        canon.groupBy("url_canon")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_raw"),
            F.min("event_id").cast("long").alias("first_seq"),
        )
        .filter(F.col("n_raw") >= 2)
    )


ORACLE_DUPLICATE_URL_PARAMS = _canon_cte(_MESSY_URL_SQL) + """
    SELECT url_canon,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(min(event_id) AS BIGINT) AS first_seq
    FROM canon
    GROUP BY url_canon
    HAVING count(*) >= 2
"""


def q_host_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the host link graph (Newman 2002): the
    Pearson correlation, over directed edges, between the source's
    out-degree and the destination's in-degree — positive means hubs link
    to hubs (core/periphery web), negative means hubs spray links at leaf
    pages (directory/spam patterns). One scalar row with the edge count
    and r in micro-units, from closed-form sums.

    Scale shape: two degree tables (partial-agg groupBys), two
    broadcast joins onto the edge list, one scalar agg — the edge list is
    scanned once and never re-shuffled. Float sums are over per-edge
    degree products quantized at 9 dp before the final ratio."""
    edges = _link_edges_df(spark, sf_dir).distinct()
    outd = edges.groupBy("src").agg(F.count("*").cast("long").alias("kout"))
    ind = edges.groupBy("dst").agg(F.count("*").cast("long").alias("kin"))
    j = (
        edges.join(F.broadcast(outd), "src")
        .join(F.broadcast(ind), "dst")
        .select(F.col("kout").cast("double").alias("x"), F.col("kin").cast("double").alias("y"))
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.round(F.sum("x"), 9).alias("sx"),
        F.round(F.sum("y"), 9).alias("sy"),
        F.round(F.sum(F.col("x") * F.col("x")), 9).alias("sxx"),
        F.round(F.sum(F.col("y") * F.col("y")), 9).alias("syy"),
        F.round(F.sum(F.col("x") * F.col("y")), 9).alias("sxy"),
    )
    num = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n_edges")
    den = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_edges"))
        * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n_edges"))
    )
    # degenerate graph (zero degree variance — e.g. the 97-host graph
    # saturates to complete at sf0.1, every degree equal): r is undefined;
    # emit NULL + a flag instead of tripping ANSI division-by-zero. The
    # den==0 test is exact — the sums are integer-valued doubles.
    return agg.select(
        "n_edges",
        F.when(den != 0, F.round(num / den * 1e6).cast("long")).alias("assortativity_e6"),
        (den == 0).cast("long").alias("degenerate"),
    )


ORACLE_HOST_ASSORTATIVITY = f"""
    WITH edges AS (SELECT DISTINCT src, dst FROM ({_LINK_EDGES_SQL})),
    outd AS (SELECT src, CAST(count(*) AS BIGINT) AS kout FROM edges GROUP BY src),
    ind AS (SELECT dst, CAST(count(*) AS BIGINT) AS kin FROM edges GROUP BY dst),
    j AS (
        SELECT CAST(o.kout AS DOUBLE) AS x, CAST(i.kin AS DOUBLE) AS y
        FROM edges e JOIN outd o ON e.src = o.src JOIN ind i ON e.dst = i.dst),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_edges,
               round(sum(x), 9) AS sx, round(sum(y), 9) AS sy,
               round(sum(x * x), 9) AS sxx, round(sum(y * y), 9) AS syy,
               round(sum(x * y), 9) AS sxy
        FROM j)
    SELECT n_edges,
           CASE WHEN sqrt((sxx - sx * sx / n_edges) * (syy - sy * sy / n_edges)) = 0
                THEN NULL
                ELSE CAST(round((sxy - sx * sy / n_edges)
                           / sqrt((sxx - sx * sx / n_edges) * (syy - sy * sy / n_edges))
                           * 1e6) AS BIGINT) END AS assortativity_e6,
           CAST(CASE WHEN sqrt((sxx - sx * sx / n_edges) * (syy - sy * sy / n_edges)) = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS degenerate
    FROM agg
"""


def q_crawl_frontier_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier age profile: how stale the queued URLs are, bucketed
    (≤6 h / ≤24 h / ≤7 d / older) relative to the newest enqueue in the
    table — the aging readout a recrawl scheduler alarms on (a growing
    old-bucket share means the fetch rate lost to the discovery rate).
    Per (event_type-as-kind, age_bucket): count and share within kind in
    micro-units. The "now" anchor is max(ts) — data-derived, never
    wall-clock, so the result is reproducible.

    Scale shape: one 1-row max(ts) broadcast, one per-row epoch-diff
    bucket expression, one ~20-key partial-agg rollup + a kind-total
    join for the share."""
    ev = _t(spark, sf_dir, "events").select("event_type", "ts")
    now = ev.agg(F.max(F.unix_timestamp("ts")).cast("long").alias("now_epoch"))
    aged = ev.crossJoin(F.broadcast(now)).select(
        "event_type",
        (F.col("now_epoch") - F.unix_timestamp("ts").cast("long")).alias("age_sec"),
    )
    bucket = (
        F.when(F.col("age_sec") <= 6 * 3600, "a_6h")
        .when(F.col("age_sec") <= 24 * 3600, "b_24h")
        .when(F.col("age_sec") <= 7 * 86400, "c_7d")
        .otherwise("d_old")
    )
    per = aged.select("event_type", bucket.alias("age_bucket")).groupBy(
        "event_type", "age_bucket"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_urls"))
    tot = per.groupBy("event_type").agg(F.sum("n_urls").cast("long").alias("n_kind"))
    return per.join(tot, "event_type").select(
        "event_type",
        "age_bucket",
        "n_urls",
        F.expr("(1000000 * n_urls) div n_kind").cast("long").alias("share_e6"),
    )


ORACLE_CRAWL_FRONTIER_AGE = """
    WITH now_ AS (SELECT CAST(max(floor(epoch(ts))) AS BIGINT) AS now_epoch FROM events),
    aged AS (
        SELECT event_type,
               now_epoch - CAST(floor(epoch(ts)) AS BIGINT) AS age_sec
        FROM events, now_),
    per AS (
        SELECT event_type,
               CASE WHEN age_sec <= 6 * 3600 THEN 'a_6h'
                    WHEN age_sec <= 24 * 3600 THEN 'b_24h'
                    WHEN age_sec <= 7 * 86400 THEN 'c_7d'
                    ELSE 'd_old' END AS age_bucket,
               CAST(count(*) AS BIGINT) AS n_urls
        FROM aged GROUP BY 1, 2),
    tot AS (
        SELECT event_type, CAST(sum(n_urls) AS BIGINT) AS n_kind
        FROM per GROUP BY event_type)
    SELECT p.event_type, p.age_bucket, p.n_urls,
           CAST((1000000 * p.n_urls) // t.n_kind AS BIGINT) AS share_e6
    FROM per p JOIN tot t ON p.event_type = t.event_type
"""


def q_politeness_backlog_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness backlog ETA: with one fetch every crawl-delay
    seconds (the reference's DOWNLOAD_DELAY discipline, settings.py:28,
    here host-dependent: 1 + host_id mod 5 s), how long until each host's
    queue drains — backlog × delay — plus the drain-order rank. The
    frontier's capacity-planning readout: the top ETA hosts are exactly
    the ones whose back-queues need splitting or whose budgets need
    cutting (crawl_budget_allocation's operational twin).

    Scale shape: one partial-agg groupBy(host), per-row arithmetic, one
    rank window over the host-sized table."""
    ev = _t(spark, sf_dir, "events")
    backlog = (
        ev.select((F.col("user_id") % 97).cast("long").alias("host_id"))
        .groupBy("host_id")
        .agg(F.count(F.lit(1)).cast("long").alias("backlog"))
    )
    d = backlog.select(
        "host_id",
        "backlog",
        (F.lit(1) + F.col("host_id") % 5).cast("long").alias("delay_sec"),
    ).withColumn("eta_sec", (F.col("backlog") * F.col("delay_sec")).cast("long"))
    w = Window.orderBy(F.desc("eta_sec"), F.asc("host_id"))
    return d.withColumn("eta_rank", F.row_number().over(w).cast("long"))


ORACLE_POLITENESS_BACKLOG_ETA = """
    WITH backlog AS (
        SELECT CAST(user_id % 97 AS BIGINT) AS host_id,
               CAST(count(*) AS BIGINT) AS backlog
        FROM events GROUP BY 1),
    d AS (
        SELECT host_id, backlog,
               CAST(1 + host_id % 5 AS BIGINT) AS delay_sec,
               CAST(backlog * (1 + host_id % 5) AS BIGINT) AS eta_sec
        FROM backlog)
    SELECT host_id, backlog, delay_sec, eta_sec,
           CAST(row_number() OVER (ORDER BY eta_sec DESC, host_id) AS BIGINT) AS eta_rank
    FROM d
"""


def q_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → click → purchase: a user counts
    for a stage only if that event happened AFTER their earliest event of
    the previous stage (min-timestamp chaining — the standard strictly-
    ordered funnel, not mere event presence). One row per stage with
    reached-user counts and the conversion rate from the previous stage
    in micro-units — the engagement pipeline the reference's comment
    recrawl loop approximates by hand (T4's "keep fetching until counts
    stop moving").

    Scale shape: three conditional min-timestamp aggregations per user —
    each is a partial-agg groupBy(user_id) reusing ONE exchange (all
    three stage anchors computed in a single groupBy pass), then a 3-row
    rollup via conditional counts; no self-joins."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # single groupBy pass: earliest signup; earliest click after that
    # cannot be expressed in one agg, so stage anchors chain via two more
    # conditional joins on the SAME user key (co-partitioned, no extra
    # exchange after the first)
    s1 = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = s1.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
        F.lit(1).cast("long").alias("stage"), F.lit("signup").alias("event"), "n"
    )
    n2 = s2.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
        F.lit(2).cast("long").alias("stage"), F.lit("click").alias("event"), "n"
    )
    n3 = s3.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
        F.lit(3).cast("long").alias("stage"), F.lit("purchase").alias("event"), "n"
    )
    stages = n1.union(n2).union(n3)
    w = Window.orderBy("stage")
    return stages.select(
        "stage",
        "event",
        F.col("n").alias("n_users"),
        F.expr(
            "CAST((1000000 * n) div (CASE WHEN lag(n) OVER (ORDER BY stage) IS NULL "
            "THEN n ELSE lag(n) OVER (ORDER BY stage) END) AS LONG)"
        ).alias("conv_from_prev_e6"),
    )


ORACLE_FUNNEL_ANALYSIS = """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'signup'
        GROUP BY user_id),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id),
    stages AS (
        SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS event, CAST(count(*) AS BIGINT) AS n FROM s1
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'click', CAST(count(*) AS BIGINT) FROM s2
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT) FROM s3)
    SELECT stage, event, n AS n_users,
           CAST((1000000 * n) // (CASE WHEN lag(n) OVER (ORDER BY stage) IS NULL
                                       THEN n ELSE lag(n) OVER (ORDER BY stage) END)
                AS BIGINT) AS conv_from_prev_e6
    FROM stages
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the week of their first
    event; for each (cohort_week, weeks-since) cell, how many of the
    cohort were active — the classic triangle. Weeks are integer
    epoch-day arithmetic (day // 7 relative to the corpus's own first
    day), so no calendar/timezone functions are involved and both
    engines agree exactly.

    Scale shape: first-event table = one groupBy(user_id) partial agg;
    the cohort matrix is a distinct on (user, cohort, offset) then a
    ~120-key rollup — the first-touch join is user-keyed and reuses the
    groupBy's exchange."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    day0 = ev.agg(F.min(F.unix_timestamp("ts")).cast("long").alias("epoch0"))
    days = ev.crossJoin(F.broadcast(day0)).select(
        "user_id",
        ((F.unix_timestamp("ts").cast("long") - F.col("epoch0")) / F.lit(86400 * 7))
        .cast("long")
        .alias("week_idx"),
    )
    first = days.groupBy("user_id").agg(F.min("week_idx").cast("long").alias("cohort_week"))
    cells = (
        days.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("week_idx") - F.col("cohort_week")).cast("long").alias("weeks_since"),
        )
        .distinct()
    )
    return cells.groupBy("cohort_week", "weeks_since").agg(
        F.countDistinct("user_id").cast("long").alias("n_active")
    )


ORACLE_RETENTION_COHORTS = """
    WITH day0 AS (SELECT CAST(min(floor(epoch(ts))) AS BIGINT) AS epoch0 FROM events),
    days AS (
        SELECT user_id,
               CAST((CAST(floor(epoch(ts)) AS BIGINT) - epoch0) // (86400 * 7) AS BIGINT) AS week_idx
        FROM events, day0),
    first_ AS (
        SELECT user_id, CAST(min(week_idx) AS BIGINT) AS cohort_week
        FROM days GROUP BY user_id),
    cells AS (
        SELECT DISTINCT d.user_id, f.cohort_week,
               CAST(d.week_idx - f.cohort_week AS BIGINT) AS weeks_since
        FROM days d JOIN first_ f ON d.user_id = f.user_id)
    SELECT cohort_week, weeks_since,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
    FROM cells GROUP BY cohort_week, weeks_since
"""


def q_event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily-rate anomaly screen: for each (event_type, day)
    bucket, the z-score of that day's event count against the type's own
    30-day mean/σ (population), flagging |z| > 2 — the fetch-log monitor
    that catches crawler stalls (rate collapse) and crawler traps (rate
    spikes) per URL kind. Days are integer epoch arithmetic anchored at
    the corpus's first timestamp.

    Scale shape: one (type, day) partial-agg count (~150 rows), one
    type-level moment rollup broadcast back — z-scores are milli-unit
    quantized from 9-dp-rounded moments."""
    ev = _t(spark, sf_dir, "events").select("event_type", "ts")
    day0 = ev.agg(F.min(F.unix_timestamp("ts")).cast("long").alias("epoch0"))
    daily = (
        ev.crossJoin(F.broadcast(day0))
        .select(
            "event_type",
            ((F.unix_timestamp("ts").cast("long") - F.col("epoch0")) / F.lit(86400))
            .cast("long")
            .alias("day_idx"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    mom = daily.groupBy("event_type").agg(
        F.round(F.avg("n_events"), 9).alias("mu"),
        F.round(
            F.sqrt(
                F.avg(F.col("n_events") * F.col("n_events"))
                - F.avg("n_events") * F.avg("n_events")
            ),
            9,
        ).alias("sigma"),
    )
    z = daily.join(F.broadcast(mom), "event_type").select(
        "event_type",
        "day_idx",
        "n_events",
        F.round((F.col("n_events") - F.col("mu")) / F.col("sigma") * 1e3)
        .cast("long")
        .alias("z_e3"),
    )
    return z.withColumn(
        "anomalous", (F.abs(F.col("z_e3")) > 2000).cast("long")
    )


ORACLE_EVENT_RATE_ANOMALY = """
    WITH day0 AS (SELECT CAST(min(floor(epoch(ts))) AS BIGINT) AS epoch0 FROM events),
    daily AS (
        SELECT event_type,
               CAST((CAST(floor(epoch(ts)) AS BIGINT) - epoch0) // 86400 AS BIGINT) AS day_idx,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events, day0
        GROUP BY 1, 2),
    mom AS (
        SELECT event_type,
               round(avg(n_events), 9) AS mu,
               round(sqrt(avg(CAST(n_events AS DOUBLE) * n_events) - avg(n_events) * avg(n_events)), 9) AS sigma
        FROM daily GROUP BY event_type)
    SELECT d.event_type, d.day_idx, d.n_events,
           CAST(round((d.n_events - m.mu) / m.sigma * 1e3) AS BIGINT) AS z_e3,
           CAST(CASE WHEN abs(round((d.n_events - m.mu) / m.sigma * 1e3)) > 2000
                     THEN 1 ELSE 0 END AS BIGINT) AS anomalous
    FROM daily d JOIN mom m ON d.event_type = m.event_type
"""


def q_span_position_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where media sits inside interleaved documents: each span's relative
    position is decile-bucketed ((10·span_idx) div n_spans), and the
    profile counts text vs media per decile — the layout statistic that
    catches extractor bias (e.g. media systematically missing from
    document tails after a truncation bug) and informs span-budget
    truncation policy (D87 drops from the positions media least occupies).

    Scale shape: per-doc span counts ride the span build's doc exchange;
    the decile rollup is a 10×2-key partial agg."""
    spans = _built_spans(spark, sf_dir)
    n = spans.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_spans"))
    return (
        spans.join(n, "doc_id")
        .select(
            "kind",
            F.expr("(10 * span_idx) div n_spans").cast("long").alias("pos_decile"),
        )
        .groupBy("pos_decile", "kind")
        .agg(F.count(F.lit(1)).cast("long").alias("n_spans"))
    )


ORACLE_SPAN_POSITION_PROFILE = f"""
    WITH {_SPAN_BUILD_SQL},
    n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM spans GROUP BY doc_id)
    SELECT CAST((10 * s.span_idx) // n.n_spans AS BIGINT) AS pos_decile,
           s.kind,
           CAST(count(*) AS BIGINT) AS n_spans
    FROM spans s JOIN n ON s.doc_id = n.doc_id
    GROUP BY 1, 2
"""


def q_template_entropy_by_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host URL-template entropy: the Shannon entropy (milli-bits) of
    each host's URL-kind mix — a host emitting one template is an archive
    or a trap; a high-entropy host is a genuine multi-surface site worth
    budget (url_template_mining's one-number-per-host summary). Includes
    the dominant kind and its share for readability.

    Scale shape: one (host, kind) partial-agg count, one host-level
    rollup with the entropy sum over ≤4 terms — both exchanges tiny."""
    ev = _t(spark, sf_dir, "events")
    hk = (
        ev.select(
            (F.col("user_id") % 97).cast("long").alias("host_id"),
            _kind_col().alias("kind"),
        )
        .groupBy("host_id", "kind")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = hk.groupBy("host_id").agg(F.sum("c").cast("long").alias("n_host"))
    j = hk.join(tot, "host_id")
    ent = j.groupBy("host_id").agg(
        F.max("n_host").cast("long").alias("n_urls"),
        F.round(
            -F.sum(
                (F.col("c") / F.col("n_host"))
                * F.log(F.col("c") / F.col("n_host"))
            )
            / F.log(F.lit(2.0))
            * 1e3
        ).cast("long").alias("entropy_mbits"),
        F.max(F.struct(F.col("c"), F.col("kind"))).alias("_top"),
    )
    return ent.select(
        "host_id",
        "n_urls",
        "entropy_mbits",
        F.col("_top.kind").alias("top_kind"),
        F.expr("(1000000 * _top.c) div n_urls").cast("long").alias("top_share_e6"),
    )


ORACLE_TEMPLATE_ENTROPY_BY_HOST = f"""
    WITH hk AS (
        SELECT CAST(user_id % 97 AS BIGINT) AS host_id, {_KIND} AS kind,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
    tot AS (SELECT host_id, CAST(sum(c) AS BIGINT) AS n_host FROM hk GROUP BY host_id),
    j AS (SELECT hk.host_id, hk.kind, hk.c, tot.n_host
          FROM hk JOIN tot ON hk.host_id = tot.host_id),
    top AS (
        SELECT host_id, kind AS top_kind, c AS top_c
        FROM (SELECT *, row_number() OVER (PARTITION BY host_id
                                           ORDER BY c DESC, kind DESC) AS rn FROM j)
        WHERE rn = 1)
    SELECT j.host_id,
           CAST(max(j.n_host) AS BIGINT) AS n_urls,
           CAST(round(-sum((j.c * 1.0 / j.n_host) * ln(j.c * 1.0 / j.n_host)) / ln(2.0) * 1e3)
                AS BIGINT) AS entropy_mbits,
           max(t.top_kind) AS top_kind,
           CAST((1000000 * max(t.top_c)) // max(j.n_host) AS BIGINT) AS top_share_e6
    FROM j JOIN top t ON j.host_id = t.host_id
    GROUP BY j.host_id
"""


# --------------------------------------------------------------------------
# 6r. Wave-3 closers (r4, r5-window queue — sized so the r5 window is
#     exactly full): PRF query expansion, exact kNN-graph evaluation, KMV
#     sketch union, heavy hitters, quality deciles, Jain fairness, bigram
#     argmax — one more operator each for the retrieval, ANN-evaluation,
#     sketch, frontier-monitoring, and LM families.
# --------------------------------------------------------------------------

_PRF_FB_DOCS = 10   # feedback depth: round-1 top-k treated as relevant
_PRF_EXPAND = 5     # expansion terms added to the query


def q_prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio/RM1 shape): run the fixed BM25
    query, treat its top-10 as relevant, pick the 5 best expansion terms
    from those docs (by feedback weight cnt_in_top·1e6/df — frequent in
    the feedback set, rare in the corpus), then re-rank with the expanded
    term set and emit the final top-10. The canonical second-pass
    retrieval loop; on this corpus the expansion terms are the words that
    co-occur with 'vector/hash/spark' in the planted near-dup clusters.

    Determinism: both term selection (weight desc, word asc) and both
    rankings (score desc, doc asc) are total orders; scoring reuses
    bm25_search's integer-micro contrib formula exactly.

    Scale shape: round 1 IS bm25_search's plan (query-sized tf table,
    broadcast df/stats, TakeOrderedAndProject); the feedback-term harvest
    touches only the 10 winners' rows (semi-join on the top-10 ids); the
    rescore repeats the round-1 shape with ≤8 terms. Nothing
    vocabulary-wide crosses an exchange except the one df lookup for the
    candidate terms, which is feedback-bounded."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).alias("w"),
    ).localCheckpoint(eager=True)
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    stats = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs")).crossJoin(
        words.agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    )
    k1, b = _BM25_K1, _BM25_B
    contrib_expr = (
        f"CAST(FLOOR((((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
        f" / (CAST(df AS DOUBLE) + 0.5))"
        f" * ((CAST(tf AS DOUBLE) * ({k1} + 1.0))"
        f" / (CAST(tf AS DOUBLE) + {k1} * (1.0 - {b} + {b}"
        f" * (CAST(dl AS DOUBLE) / (CAST(n_tokens AS DOUBLE)"
        f" / CAST(n_docs AS DOUBLE))))))) * 1000000.0 + 0.5) AS BIGINT)"
    )

    def _score(term_df):
        tf = (
            words.join(F.broadcast(term_df), words["w"] == term_df["term"])
            .groupBy("doc_id", "w")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )
        df_ = tf.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
        return (
            tf.join(F.broadcast(df_), "w")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .withColumn("contrib_micro", F.expr(contrib_expr))
            .groupBy("doc_id")
            .agg(F.sum("contrib_micro").cast("long").alias("score_micro"))
        )

    orig = spark.createDataFrame([(t,) for t in _BM25_TERMS], "term STRING")
    round1 = _score(orig)
    top1 = round1.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc()).limit(
        _PRF_FB_DOCS
    ).select("doc_id")
    # feedback-term harvest: candidate terms from the winners only
    cand = (
        words.join(F.broadcast(top1), "doc_id")
        .filter(~F.col("w").isin(*_BM25_TERMS))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt_fb"))
    )
    # corpus df of the candidates (per-doc distinct, candidate-bounded)
    cand_df = (
        words.join(F.broadcast(cand.select("w")), "w")
        .select("doc_id", "w")
        .distinct()
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("df_corpus"))
    )
    wexp = Window.orderBy(F.desc("fb_weight"), F.asc("w"))
    expansion = (
        cand.join(cand_df, "w")
        .select("w", F.expr("(1000000 * cnt_fb) div df_corpus").cast("long").alias("fb_weight"))
        .withColumn("rn", F.row_number().over(wexp))
        .filter(F.col("rn") <= _PRF_EXPAND)
        .select(F.col("w").alias("term"))
    )
    expanded = orig.union(expansion)
    round2 = _score(expanded)
    w10 = Window.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
    return (
        round2.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
        .limit(10)
        .withColumn("rank", F.row_number().over(w10).cast("long"))
    )


def _prf_oracle() -> str:
    contrib = (
        "CAST(FLOOR((((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
        f" / (CAST(df AS DOUBLE) + 0.5))"
        f" * ((CAST(tf AS DOUBLE) * ({_BM25_K1} + 1.0))"
        f" / (CAST(tf AS DOUBLE) + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B}"
        f" * (CAST(dl AS DOUBLE) / (CAST(n_tokens AS DOUBLE)"
        f" / CAST(n_docs AS DOUBLE))))))) * 1000000.0 + 0.5) AS BIGINT)"
    )
    return f"""
    WITH words AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM words GROUP BY doc_id),
    stats AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
               (SELECT CAST(count(*) AS BIGINT) FROM words) AS n_tokens),
    tf1 AS (
        SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        FROM words WHERE w IN {_BM25_TERMS!r}
        GROUP BY doc_id, w),
    df1 AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf1 GROUP BY w),
    scored1 AS (
        SELECT doc_id, CAST(sum({contrib}) AS BIGINT) AS score_micro
        FROM tf1 JOIN df1 USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY doc_id),
    top1 AS (
        SELECT doc_id FROM scored1
        ORDER BY score_micro DESC, doc_id ASC LIMIT {_PRF_FB_DOCS}),
    cand AS (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt_fb
        FROM words JOIN top1 USING (doc_id)
        WHERE w NOT IN {_BM25_TERMS!r}
        GROUP BY w),
    cand_df AS (
        SELECT w, CAST(count(*) AS BIGINT) AS df_corpus
        FROM (SELECT DISTINCT doc_id, w FROM words JOIN (SELECT w FROM cand) USING (w))
        GROUP BY w),
    expansion AS (
        SELECT w FROM (
            SELECT c.w,
                   row_number() OVER (
                       ORDER BY (1000000 * c.cnt_fb) // d.df_corpus DESC, c.w ASC) AS rn
            FROM cand c JOIN cand_df d ON c.w = d.w)
        WHERE rn <= {_PRF_EXPAND}),
    terms AS (
        SELECT unnest({list(_BM25_TERMS)!r}) AS w
        UNION ALL SELECT w FROM expansion),
    tf2 AS (
        SELECT doc_id, words.w AS w, CAST(count(*) AS BIGINT) AS tf
        FROM words JOIN terms ON words.w = terms.w
        GROUP BY doc_id, words.w),
    df2 AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY w),
    scored2 AS (
        SELECT doc_id, CAST(sum({contrib}) AS BIGINT) AS score_micro
        FROM tf2 JOIN df2 USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY doc_id)
    SELECT doc_id, score_micro,
           CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
    FROM scored2
    QUALIFY rank <= 10
"""


ORACLE_PRF_QUERY_EXPANSION = _prf_oracle()


_KNN_K = 5


def q_knn_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN-graph evaluation on the labeled set: build each vector's
    5 nearest neighbors by squared L2 (brute force — this is ground-truth
    machinery like ann_bruteforce_topk; the corpus-scale path builds the
    same graph from LSH/IVF candidates), then report per label the
    neighborhood purity@5 (share of neighbors with the anchor's label —
    the k-NN classifier accuracy proxy) and the kNN-edge reciprocity
    (share of directed edges whose reverse is also a kNN edge — high
    reciprocity means well-separated clusters).

    Exactness: float32 components are e6-integer-quantized up front, so
    distances are exact BIGINTs and the neighbor ranking (d2 asc, id asc)
    is a total order no float ulp can perturb (the pq_reconstruction
    lesson applied preemptively)."""
    vals = _emb_vals(spark, sf_dir).select(
        "vec_id", "dim",
        F.round(F.col("val").cast("double") * 1e6).cast("long").alias("v6"),
    )
    labels = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    a = vals.select(F.col("vec_id").alias("ida"), F.col("dim").alias("da"), F.col("v6").alias("va"))
    b = vals.select(F.col("vec_id").alias("idb"), F.col("dim").alias("db"), F.col("v6").alias("vb"))
    d2 = (
        a.join(b, (F.col("da") == F.col("db")) & (F.col("ida") != F.col("idb")))
        .groupBy("ida", "idb")
        .agg(F.sum((F.col("va") - F.col("vb")) * (F.col("va") - F.col("vb"))).cast("long").alias("d2"))
    )
    wk = Window.partitionBy("ida").orderBy(F.asc("d2"), F.asc("idb"))
    knn = d2.withColumn("rn", F.row_number().over(wk)).filter(F.col("rn") <= _KNN_K)
    rev = knn.select(F.col("ida").alias("idb"), F.col("idb").alias("ida")).withColumn(
        "rev", F.lit(1)
    )
    flagged = knn.join(rev, ["ida", "idb"], "left").select(
        "ida", "idb", F.coalesce("rev", F.lit(0)).alias("reciprocal")
    )
    la = labels.select(F.col("vec_id").alias("ida"), F.col("label").alias("label"))
    lb = labels.select(F.col("vec_id").alias("idb"), F.col("label").alias("lbl_b"))
    j = flagged.join(F.broadcast(la), "ida").join(F.broadcast(lb), "idb")
    return (
        j.groupBy("label")
        .agg(
            F.countDistinct("ida").cast("long").alias("n_vecs"),
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.expr(
                "(1000000 * sum(CASE WHEN lbl_b = label THEN 1 ELSE 0 END)) div count(*)"
            ).cast("long").alias("purity_e6"),
            F.expr("(1000000 * sum(reciprocal)) div count(*)").cast("long").alias("reciprocity_e6"),
        )
    )


ORACLE_KNN_GRAPH_STATS = f"""
    WITH vals AS (
        SELECT vec_id, dim,
               CAST(round(CAST(val AS DOUBLE) * 1e6) AS BIGINT) AS v6
        FROM ({_EMB_VALS_SQL})),
    d2 AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb,
               CAST(sum((a.v6 - b.v6) * (a.v6 - b.v6)) AS BIGINT) AS d2
        FROM vals a JOIN vals b ON a.dim = b.dim AND a.vec_id <> b.vec_id
        GROUP BY a.vec_id, b.vec_id),
    knn AS (
        SELECT ida, idb FROM (
            SELECT ida, idb,
                   row_number() OVER (PARTITION BY ida ORDER BY d2 ASC, idb ASC) AS rn
            FROM d2)
        WHERE rn <= {_KNN_K}),
    flagged AS (
        SELECT k.ida, k.idb,
               CASE WHEN EXISTS (SELECT 1 FROM knn r
                                 WHERE r.ida = k.idb AND r.idb = k.ida)
                    THEN 1 ELSE 0 END AS reciprocal
        FROM knn k)
    SELECT la.label,
           CAST(count(DISTINCT f.ida) AS BIGINT) AS n_vecs,
           CAST(count(*) AS BIGINT) AS n_edges,
           CAST((1000000 * sum(CASE WHEN lb.label = la.label THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS purity_e6,
           CAST((1000000 * sum(f.reciprocal)) // count(*) AS BIGINT) AS reciprocity_e6
    FROM flagged f
    JOIN embeddings la ON f.ida = la.vec_id
    JOIN embeddings lb ON f.idb = lb.vec_id
    GROUP BY la.label
"""


_KMV_UNION_K = 64


def q_kmv_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch UNION — the property that makes KMV a distributed
    sketch: the bottom-k sketch of A ∪ B is the k smallest of the two
    sketches' union, so per-partition/per-source sketches merge without
    rescanning the data. For every pair of event types, the merged-sketch
    distinct-user estimate (integer form: (k−1)·2³² // h_k over the
    md5-u32 hash space — the house kmv idiom) is emitted next to the
    exact distinct count, so the estimator's per-pair error is
    oracle-pinned, not just asserted.

    Scale shape: one per-type sketch (rank window over type partitions —
    64 8-byte rows retained per type), pair merges over 5×64-row
    sketches (driver-free, all joins on the 10-row pair table), and one
    distinct-agg per pair for the exact side. At 10^10 URLs only the
    exact side grows; the sketch side stays 64 rows per source."""
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    hashed = ev.select(
        "event_type",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
            ).cast("long")
            + 1
        ).alias("h"),
    ).distinct()
    wt = Window.partitionBy("event_type").orderBy("h")
    sk = hashed.withColumn("rn", F.row_number().over(wt)).filter(
        F.col("rn") <= _KMV_UNION_K
    )
    types = sk.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("ta"))
        .join(types.select(F.col("event_type").alias("tb")), F.col("ta") < F.col("tb"))
    )
    a = sk.select(F.col("event_type").alias("ta"), F.col("h").alias("ha"))
    b = sk.select(F.col("event_type").alias("tb"), F.col("h").alias("hb"))
    merged = (
        pairs.join(a, "ta").select("ta", "tb", F.col("ha").alias("h"))
        .union(pairs.join(b, "tb").select("ta", "tb", F.col("hb").alias("h")))
        .distinct()
    )
    wm = Window.partitionBy("ta", "tb").orderBy("h")
    # bottom-k of the merged sketch; if a pair has fewer than k distinct
    # hashes the bottom-k IS the distinct set and the exact size is the
    # estimate (the kmv_estimate small-cardinality rule)
    kth = (
        merged.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= _KMV_UNION_K)
        .groupBy("ta", "tb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.max("h").cast("long").alias("hk"),
        )
    )
    ea = ev.select(F.col("event_type").alias("ta"), "user_id").join(pairs, "ta").select("ta", "tb", "user_id")
    eb = ev.select(F.col("event_type").alias("tb"), "user_id").join(pairs, "tb").select("ta", "tb", "user_id")
    exact = (
        ea.union(eb)
        .groupBy("ta", "tb")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_union"))
    )
    return kth.join(exact, ["ta", "tb"]).select(
        "ta",
        "tb",
        F.expr(
            f"CAST(CASE WHEN n_kept < {_KMV_UNION_K} THEN n_kept"
            f" ELSE (({_KMV_UNION_K} - 1) * 4294967296) div hk END AS BIGINT)"
        ).alias("kmv_est"),
        "exact_union",
    )


ORACLE_KMV_UNION_SOURCES = f"""
    WITH hashed AS (
        SELECT DISTINCT event_type,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1 AS h
        FROM events),
    sk AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM hashed)
        WHERE rn <= {_KMV_UNION_K}),
    pairs AS (
        SELECT a.event_type AS ta, b.event_type AS tb
        FROM (SELECT DISTINCT event_type FROM sk) a,
             (SELECT DISTINCT event_type FROM sk) b
        WHERE a.event_type < b.event_type),
    merged AS (
        SELECT DISTINCT p.ta, p.tb, s.h
        FROM pairs p JOIN sk s ON s.event_type IN (p.ta, p.tb)),
    kth AS (
        SELECT ta, tb, CAST(count(*) AS BIGINT) AS n_kept, CAST(max(h) AS BIGINT) AS hk
        FROM (
            SELECT ta, tb, h,
                   row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
            FROM merged)
        WHERE rn <= {_KMV_UNION_K}
        GROUP BY ta, tb),
    exact AS (
        SELECT p.ta, p.tb, CAST(count(DISTINCT e.user_id) AS BIGINT) AS exact_union
        FROM pairs p JOIN events e ON e.event_type IN (p.ta, p.tb)
        GROUP BY p.ta, p.tb)
    SELECT k.ta, k.tb,
           CAST(CASE WHEN k.n_kept < {_KMV_UNION_K} THEN k.n_kept
                     ELSE (({_KMV_UNION_K} - 1) * 4294967296) // k.hk END AS BIGINT) AS kmv_est,
           x.exact_union
    FROM kth k JOIN exact x ON k.ta = x.ta AND k.tb = x.tb
"""


def q_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters over the frontier's host distribution: hosts
    holding more than 1/90 of all queued URLs — just above the uniform
    1/97 share, so the planted skew surfaces at every SF (the
    Misra-Gries/Space-Saving phi target, computed exactly — at scale the sketch runs
    map-side to shortlist candidates and THIS exact confirm runs only on
    the shortlist, the same candidates→confirm split as the near-dup
    family). Emits each heavy host with its count and corpus share.

    Scale shape: one partial-agg groupBy(host) + a 1-row total broadcast;
    the threshold filter is post-agg, so the exchange carries one row per
    host regardless of skew."""
    ev = _t(spark, sf_dir, "events")
    per = (
        ev.select((F.col("user_id") % 97).cast("long").alias("host_id"))
        .groupBy("host_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_urls"))
    )
    tot = per.agg(F.sum("n_urls").cast("long").alias("n_total"))
    return (
        per.crossJoin(F.broadcast(tot))
        .filter(F.col("n_urls") * 90 > F.col("n_total"))
        .select(
            "host_id",
            "n_urls",
            F.expr("(1000000 * n_urls) div n_total").cast("long").alias("share_e6"),
        )
    )


ORACLE_HEAVY_HITTERS_EXACT = """
    WITH per AS (
        SELECT CAST(user_id % 97 AS BIGINT) AS host_id,
               CAST(count(*) AS BIGINT) AS n_urls
        FROM events GROUP BY 1),
    tot AS (SELECT CAST(sum(n_urls) AS BIGINT) AS n_total FROM per)
    SELECT host_id, n_urls,
           CAST((1000000 * n_urls) // n_total AS BIGINT) AS share_e6
    FROM per, tot
    WHERE n_urls * 90 > n_total
"""


def q_quality_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score decile profile: the corpus ntile(10)'d by the D12
    quality heuristic (ties by doc_id — total order), each decile
    summarized by its score range, mean length, and English share — the
    filter-threshold-picking readout (where to cut is read off this
    table, not guessed). ntile is the distributed-order-statistics
    operator both engines define identically over a total order.

    Scale shape: the rank is one global-order window — at corpus scale
    this becomes scheduler.distributed_row_number (length_deciles'
    machinery); here the direct form keeps the oracle 1:1."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars", "text")
    scored = docs.select(
        "doc_id", "lang", "n_chars",
        T.quality_score_e6(F.col("text")).alias("quality_e6"),
    )
    w = Window.orderBy(F.asc("quality_e6"), F.asc("doc_id"))
    d = scored.withColumn("decile", F.ntile(10).over(w).cast("long"))
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("quality_e6").cast("long").alias("min_quality_e6"),
        F.max("quality_e6").cast("long").alias("max_quality_e6"),
        F.expr("sum(n_chars) div count(*)").cast("long").alias("mean_chars"),
        F.expr(
            "(1000000 * sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)) div count(*)"
        ).cast("long").alias("en_share_e6"),
    )


ORACLE_QUALITY_DECILE_PROFILE = r"""
    WITH scored AS (
        SELECT doc_id, lang, n_chars,
            CAST(4000 * least(100, n)
                 + CASE WHEN n > 0 THEN least(300000, (300000 * total_len) // (8 * n)) ELSE 0 END
                 + CASE WHEN chars > 0 THEN 300000 - (300000 * punct) // chars ELSE 300000 END
                 AS BIGINT) AS quality_e6
        FROM (
            SELECT doc_id, lang, n_chars,
                CAST(len(w) AS BIGINT) AS n,
                CAST(coalesce(list_aggregate(list_transform(w, x -> CAST(length(x) AS BIGINT)), 'sum'), 0) AS BIGINT) AS total_len,
                CAST(length(text) AS BIGINT) AS chars,
                CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS punct
            FROM (SELECT doc_id, lang, n_chars, text,
                         list_filter(string_split(text, ' '), x -> x <> '') AS w
                  FROM documents))),
    d AS (
        SELECT *, CAST(ntile(10) OVER (ORDER BY quality_e6 ASC, doc_id ASC) AS BIGINT) AS decile
        FROM scored)
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(quality_e6) AS BIGINT) AS min_quality_e6,
           CAST(max(quality_e6) AS BIGINT) AS max_quality_e6,
           CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars,
           CAST((1000000 * sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS en_share_e6
    FROM d GROUP BY decile
"""


def q_jain_fairness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jain's fairness index over the per-host URL distribution:
    (Σx)² / (n·Σx²) — 1.0 when the frontier load is perfectly even, 1/n
    when one host holds everything; the single-number dispatcher-fairness
    SLO that host_gini and frontier_skew_report are the detailed views
    of. Exact BIGINT arithmetic end to end ((Σx)² ≤ ~1e8 here, ≤ 1e20 at
    10^10 URLs — still inside BIGINT with 97-host granularity; wider
    fleets shard the sum first).

    Scale shape: one partial-agg groupBy(host) + one scalar agg."""
    ev = _t(spark, sf_dir, "events")
    per = (
        ev.select((F.col("user_id") % 97).cast("long").alias("host_id"))
        .groupBy("host_id")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.expr("(sum(x) * sum(x) * 1000000) div (count(*) * sum(x * x))")
        .cast("long")
        .alias("jain_e6"),
    )


ORACLE_JAIN_FAIRNESS_INDEX = """
    WITH per AS (
        SELECT CAST(user_id % 97 AS BIGINT) AS host_id,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_hosts,
           CAST((sum(x) * sum(x) * 1000000) // (count(*) * sum(x * x)) AS BIGINT) AS jain_e6
    FROM per
"""


def q_markov_next_word(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM argmax table: for every word, its most likely successor
    (max bigram count, ties to the alphabetically first successor) with
    the conditional probability in micro-units — the greedy-decoding view
    of the lm_score_proxy bigram model, and the n-gram analogue of a
    tokenizer's merge table. Deterministic total order on (count desc,
    successor asc) makes the argmax oracle-exact.

    Scale shape: bigrams from one lag window on the doc-keyed word
    sequence; the argmax is one vocabulary-partitioned rank window over
    the (vocab×vocab)-bounded bigram count table."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.posexplode(T.words(F.col("text"))).alias("i", "word")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    big = (
        words.withColumn("nxt", F.lead("word").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy("word", "nxt")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = big.groupBy("word").agg(F.sum("c").cast("long").alias("n_word"))
    wr = Window.partitionBy("word").orderBy(F.desc("c"), F.asc("nxt"))
    best = big.withColumn("rn", F.row_number().over(wr)).filter(F.col("rn") == 1)
    return best.join(tot, "word").select(
        "word",
        F.col("nxt").alias("next_word"),
        F.col("c").alias("n_bigram"),
        F.expr("(1000000 * c) div n_word").cast("long").alias("p_e6"),
    )


ORACLE_MARKOV_NEXT_WORD = """
    WITH words AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) - 1 AS i
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
              FROM documents)),
    big AS (
        SELECT word, nxt, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT word, lead(word) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
            FROM words)
        WHERE nxt IS NOT NULL
        GROUP BY word, nxt),
    tot AS (SELECT word, CAST(sum(c) AS BIGINT) AS n_word FROM big GROUP BY word),
    best AS (
        SELECT word, nxt, c FROM (
            SELECT word, nxt, c,
                   row_number() OVER (PARTITION BY word ORDER BY c DESC, nxt ASC) AS rn
            FROM big)
        WHERE rn = 1)
    SELECT b.word, b.nxt AS next_word, b.c AS n_bigram,
           CAST((1000000 * b.c) // t.n_word AS BIGINT) AS p_e6
    FROM best b JOIN tot t ON b.word = t.word
"""


QUERIES: dict[str, tuple] = {
    # (spark_fn, oracle_sql | None)
    #
    # ORDER IS THE DRIVER CONTRACT: the per-round correctness gate checks the
    # FIRST 50 entries in insertion order. Round-5 window (rotated in at r5
    # start per VERDICT r4 next-step #1) = the 48 entries that had never had
    # a driver row (D116-D118 TPC-H shapes + the 45 r4 additions D125-D169)
    # + crawl_end_to_end / span_extraction (no_oracle in r1, re-oracled with
    # pinned-golden VALUES in r4, queued here for their first hard row).
    # Every slot is oracled, all 50 judge-verified locally in r4 (0 failures)
    # and re-swept at sf0.01 before this rotation was committed.
    #
    # After this window runs green, every one of the 194 catalog entries has
    # a driver-green CORRECTNESS row across r1-r5. The catalog is FROZEN at
    # 194 (VERDICT r4 next-step #2; tests/test_registry.py pins the size and
    # the window composition).
    # --- r5 driver window (50 entries, all oracled) ---
    # --- TPC-H shapes (deferred from r4 per VERDICT r3 next-step #2) ---
    "shipping_priority": (q_shipping_priority, ORACLE_SHIPPING_PRIORITY),
    "local_supplier_volume": (q_local_supplier_volume, ORACLE_LOCAL_SUPPLIER_VOLUME),
    "late_shipment_check": (q_late_shipment_check, ORACLE_LATE_SHIPMENT_CHECK),
    # --- r4 late additions (D125-D143), first driver rows this round ---
    "gopher_quality_filters": (q_gopher_quality_filters, ORACLE_GOPHER_QUALITY_FILTERS),
    "c4_line_filters": (q_c4_line_filters, ORACLE_C4_LINE_FILTERS),
    "doc_char_entropy": (q_doc_char_entropy, ORACLE_DOC_CHAR_ENTROPY),
    "ttr_by_source": (q_ttr_by_source, ORACLE_TTR_BY_SOURCE),
    "readability_proxy": (q_readability_proxy, ORACLE_READABILITY_PROXY),
    "line_dedup": (q_line_dedup, ORACLE_LINE_DEDUP),
    "soft_dedup_weights": (q_soft_dedup_weights, ORACLE_SOFT_DEDUP_WEIGHTS),
    "onion_paragraph_dedup": (q_onion_paragraph_dedup, ORACLE_ONION_PARAGRAPH_DEDUP),
    "embedding_dim_stats": (q_embedding_dim_stats, ORACLE_EMBEDDING_DIM_STATS),
    "pca_power_iteration": (q_pca_power_iteration, ORACLE_PCA_POWER_ITERATION),
    "pq_codes": (q_pq_codes, ORACLE_PQ_CODES),
    "opic_scores": (q_opic_scores, ORACLE_OPIC_SCORES),
    "url_depth_stats": (q_url_depth_stats, ORACLE_URL_DEPTH_STATS),
    "mercator_queues": (q_mercator_queues, ORACLE_MERCATOR_QUEUES),
    "span_kind_transitions": (q_span_kind_transitions, ORACLE_SPAN_KIND_TRANSITIONS),
    "media_ref_integrity": (q_media_ref_integrity, ORACLE_MEDIA_REF_INTEGRITY),
    "unigram_lm_scores": (q_unigram_lm_scores, ORACLE_UNIGRAM_LM_SCORES),
    "kn_continuation_counts": (q_kn_continuation_counts, ORACLE_KN_CONTINUATION_COUNTS),
    "rake_keywords": (q_rake_keywords, ORACLE_RAKE_KEYWORDS),
    # --- r4 wave-2 additions (D144-D162) ---
    "doc_lang_confusion": (q_doc_lang_confusion, ORACLE_DOC_LANG_CONFUSION),
    "zipf_fit": (q_zipf_fit, ORACLE_ZIPF_FIT),
    "vocab_coverage_curve": (q_vocab_coverage_curve, ORACLE_VOCAB_COVERAGE_CURVE),
    "lang_balance_resample": (q_lang_balance_resample, ORACLE_LANG_BALANCE_RESAMPLE),
    "token_budget_mix": (q_token_budget_mix, ORACLE_TOKEN_BUDGET_MIX),
    "posting_list_stats": (q_posting_list_stats, ORACLE_POSTING_LIST_STATS),
    "class_cosine_histogram": (q_class_cosine_histogram, ORACLE_CLASS_COSINE_HISTOGRAM),
    "matryoshka_truncation": (q_matryoshka_truncation, ORACLE_MATRYOSHKA_TRUNCATION),
    "label_centroid_cohesion": (q_label_centroid_cohesion, ORACLE_LABEL_CENTROID_COHESION),
    "pq_reconstruction_error": (q_pq_reconstruction_error, ORACLE_PQ_RECONSTRUCTION_ERROR),
    "duplicate_url_params": (q_duplicate_url_params, ORACLE_DUPLICATE_URL_PARAMS),
    "host_assortativity": (q_host_assortativity, ORACLE_HOST_ASSORTATIVITY),
    "crawl_frontier_age": (q_crawl_frontier_age, ORACLE_CRAWL_FRONTIER_AGE),
    "politeness_backlog_eta": (q_politeness_backlog_eta, ORACLE_POLITENESS_BACKLOG_ETA),
    "funnel_analysis": (q_funnel_analysis, ORACLE_FUNNEL_ANALYSIS),
    "retention_cohorts": (q_retention_cohorts, ORACLE_RETENTION_COHORTS),
    "event_rate_anomaly": (q_event_rate_anomaly, ORACLE_EVENT_RATE_ANOMALY),
    "span_position_profile": (q_span_position_profile, ORACLE_SPAN_POSITION_PROFILE),
    "template_entropy_by_host": (q_template_entropy_by_host, ORACLE_TEMPLATE_ENTROPY_BY_HOST),
    # --- r4 wave-3 closers (D163-D169) ---
    "prf_query_expansion": (q_prf_query_expansion, ORACLE_PRF_QUERY_EXPANSION),
    "knn_graph_stats": (q_knn_graph_stats, ORACLE_KNN_GRAPH_STATS),
    "kmv_union_sources": (q_kmv_union_sources, ORACLE_KMV_UNION_SOURCES),
    "heavy_hitters_exact": (q_heavy_hitters_exact, ORACLE_HEAVY_HITTERS_EXACT),
    "quality_decile_profile": (q_quality_decile_profile, ORACLE_QUALITY_DECILE_PROFILE),
    "jain_fairness_index": (q_jain_fairness_index, ORACLE_JAIN_FAIRNESS_INDEX),
    "markov_next_word": (q_markov_next_word, ORACLE_MARKOV_NEXT_WORD),
    # --- engine-native, pinned-golden VALUES oracles (re-oracled in r4;
    # first driver-checked rows this round): the engine must reproduce the
    # frozen seed-42 outputs bit-exactly; pytest parity vs the pure-Python
    # simulator stays the independent semantic check ---
    "crawl_end_to_end": (q_crawl_end_to_end, ORACLE_CRAWL_END_TO_END),
    "span_extraction": (q_span_extraction, ORACLE_SPAN_EXTRACTION),
    # --- driver-green in r4 (local oracle gate + pytest keep them honest) ---
    "hll_distinct_users": (q_hll_distinct_users, ORACLE_HLL_DISTINCT_USERS),
    "weighted_sample": (q_weighted_sample, ORACLE_WEIGHTED_SAMPLE),
    "doc_chunking": (q_doc_chunking, ORACLE_DOC_CHUNKING),
    "ann_ivf_recall": (q_ann_ivf_recall, ORACLE_ANN_IVF_RECALL),
    "crawl_delta": (q_crawl_delta, ORACLE_CRAWL_DELTA),
    "dsir_weights": (q_dsir_weights, ORACLE_DSIR_WEIGHTS),
    "span_budget_truncate": (q_span_budget_truncate, ORACLE_SPAN_BUDGET_TRUNCATE),
    "host_hits": (q_host_hits, ORACLE_HOST_HITS),
    "mixing_temperature": (q_mixing_temperature, ORACLE_MIXING_TEMPERATURE),
    "source_weighted_sample": (q_source_weighted_sample, ORACLE_SOURCE_WEIGHTED_SAMPLE),
    "phrase_search": (q_phrase_search, ORACLE_PHRASE_SEARCH),
    "pmi_collocations": (q_pmi_collocations, ORACLE_PMI_COLLOCATIONS),
    "winnowing_fingerprints": (q_winnowing_fingerprints, ORACLE_WINNOWING_FINGERPRINTS),
    "gram_novelty": (q_gram_novelty, ORACLE_GRAM_NOVELTY),
    "host_triangles": (q_host_triangles, ORACLE_HOST_TRIANGLES),
    "host_communities": (q_host_communities, ORACLE_HOST_COMMUNITIES),
    "range_bin_join": (q_range_bin_join, ORACLE_RANGE_BIN_JOIN),
    "curriculum_order": (q_curriculum_order, ORACLE_CURRICULUM_ORDER),
    "cdx_index": (q_cdx_index, ORACLE_CDX_INDEX),
    "lsh_recall_report": (q_lsh_recall_report, ORACLE_LSH_RECALL_REPORT),
    "hard_negatives": (q_hard_negatives, ORACLE_HARD_NEGATIVES),
    "latency_budget": (q_latency_budget, ORACLE_LATENCY_BUDGET),
    "tokenizer_fertility": (q_tokenizer_fertility, ORACLE_TOKENIZER_FERTILITY),
    "lang_mix_by_source": (q_lang_mix_by_source, ORACLE_LANG_MIX_BY_SOURCE),
    "edit_distance_pairs": (q_edit_distance_pairs, ORACLE_EDIT_DISTANCE_PAIRS),
    "rendezvous_assignment": (q_rendezvous_assignment, ORACLE_RENDEZVOUS_ASSIGNMENT),
    "embedding_pool": (q_embedding_pool, ORACLE_EMBEDDING_POOL),
    "greedy_pack": (q_greedy_pack, ORACLE_GREEDY_PACK),
    "dedup_audit": (q_dedup_audit, ORACLE_DEDUP_AUDIT),
    "hybrid_rrf_search": (q_hybrid_rrf_search, ORACLE_HYBRID_RRF_SEARCH),
    "temporal_split": (q_temporal_split, ORACLE_TEMPORAL_SPLIT),
    "host_kcore": (q_host_kcore, ORACLE_HOST_KCORE),
    "bloom_fpr_report": (q_bloom_fpr_report, ORACLE_BLOOM_FPR_REPORT),
    "link_reciprocity": (q_link_reciprocity, ORACLE_LINK_RECIPROCITY),
    "event_transitions": (q_event_transitions, ORACLE_EVENT_TRANSITIONS),
    "zorder_key": (q_zorder_key, ORACLE_ZORDER_KEY),
    "shard_manifest": (q_shard_manifest, ORACLE_SHARD_MANIFEST),
    "dataset_card": (q_dataset_card, ORACLE_DATASET_CARD),
    "search_snippets": (q_search_snippets, ORACLE_SEARCH_SNIPPETS),
    "host_covisitation": (q_host_covisitation, ORACLE_HOST_COVISITATION),
    "host_gini": (q_host_gini, ORACLE_HOST_GINI),
    "suffix_ranks": (q_suffix_ranks, ORACLE_SUFFIX_RANKS),
    "suffix_ranks_full": (q_suffix_ranks_full, ORACLE_SUFFIX_RANKS_FULL),
    "kmeans_step": (q_kmeans_step, ORACLE_KMEANS_STEP),
    "kmeans_train": (q_kmeans_train, ORACLE_KMEANS_TRAIN),
    "media_resize_stub": (q_media_resize_stub, ORACLE_MEDIA_RESIZE_STUB),
    "media_frame_sample": (q_media_frame_sample, ORACLE_MEDIA_FRAME_SAMPLE),
    "bpe_learn": (q_bpe_learn, ORACLE_BPE_LEARN),
    "bpe_encode": (q_bpe_encode, ORACLE_BPE_ENCODE),
    "media_decode_stub": (q_media_decode_stub, ORACLE_MEDIA_DECODE_STUB),
    # --- driver-green in r1-r3 (local oracle gate + pytest keep them honest) ---
    "ngram_jaccard_lsh_stats": (q_ngram_jaccard_lsh_stats, ORACLE_NGRAM_JACCARD_LSH_STATS),
    "embedding_quantize": (q_embedding_quantize, ORACLE_EMBEDDING_QUANTIZE),
    "ann_lsh_topk": (q_ann_lsh_topk, ORACLE_ANN_LSH_TOPK),
    "ann_ivf_topk": (q_ann_ivf_topk, ORACLE_ANN_IVF_TOPK),
    "link_graph_stats": (q_link_graph_stats, ORACLE_LINK_GRAPH_STATS),
    "host_pagerank": (q_host_pagerank, ORACLE_HOST_PAGERANK),
    "crawl_budget_allocation": (q_crawl_budget_allocation, ORACLE_CRAWL_BUDGET_ALLOCATION),
    "shuffle_export": (q_shuffle_export, ORACLE_SHUFFLE_EXPORT),
    "anchor_text_agg": (q_anchor_text_agg, ORACLE_ANCHOR_TEXT_AGG),
    "warc_parse": (q_warc_parse, ORACLE_WARC_PARSE),
    "cms_host_counts": (q_cms_host_counts, ORACLE_CMS_HOST_COUNTS),
    "kmv_distinct_urls": (q_kmv_distinct_urls, ORACLE_KMV_DISTINCT_URLS),
    "pack_sequences": (q_pack_sequences, ORACLE_PACK_SEQUENCES),
    "boilerplate_strip": (q_boilerplate_strip, ORACLE_BOILERPLATE_STRIP),
    "recrawl_schedule": (q_recrawl_schedule, ORACLE_RECRAWL_SCHEDULE),
    "sessionize": (q_sessionize, ORACLE_SESSIONIZE),
    "benchmark_contamination": (q_benchmark_contamination, ORACLE_BENCHMARK_CONTAMINATION),
    "corpus_pipeline": (q_corpus_pipeline, ORACLE_CORPUS_PIPELINE),
    "content_sniff": (q_content_sniff, ORACLE_CONTENT_SNIFF),
    "duplicate_ngrams": (q_duplicate_ngrams, ORACLE_DUPLICATE_NGRAMS),
    "dup_span_coverage": (q_dup_span_coverage, ORACLE_DUP_SPAN_COVERAGE),
    "quality_classifier": (q_quality_classifier, ORACLE_QUALITY_CLASSIFIER),
    "source_mixing": (q_source_mixing, ORACLE_SOURCE_MIXING),
    "domain_quality_rollup": (q_domain_quality_rollup, ORACLE_DOMAIN_QUALITY_ROLLUP),
    "doc_containment": (q_doc_containment, ORACLE_DOC_CONTAINMENT),
    "lm_score_proxy": (q_lm_score_proxy, ORACLE_LM_SCORE_PROXY),
    "ann_recall_report": (q_ann_recall_report, ORACLE_ANN_RECALL_REPORT),
    "url_template_mining": (q_url_template_mining, ORACLE_URL_TEMPLATE_MINING),
    "frontier_skew_report": (q_frontier_skew_report, ORACLE_FRONTIER_SKEW_REPORT),
    "vocab_coverage": (q_vocab_coverage, ORACLE_VOCAB_COVERAGE),
    "span_interleave_stats": (q_span_interleave_stats, ORACLE_SPAN_INTERLEAVE_STATS),
    "semdedup_prune": (q_semdedup_prune, ORACLE_SEMDEDUP_PRUNE),
    "bm25_search": (q_bm25_search, ORACLE_BM25_SEARCH),
    "sa_dup_spans": (q_sa_dup_spans, ORACLE_SA_DUP_SPANS),
    "neardup_clusters_star": (q_neardup_clusters_star, ORACLE_NEARDUP_CLUSTERS),
    "bpe_pair_counts": (q_bpe_pair_counts, ORACLE_BPE_PAIR_COUNTS),
    "asof_budget_join": (q_asof_budget_join, ORACLE_ASOF_BUDGET_JOIN),
    "length_deciles": (q_length_deciles, ORACLE_LENGTH_DECILES),
    "seed_distance": (q_seed_distance, ORACLE_SEED_DISTANCE),
    "warc_export": (q_warc_export, ORACLE_WARC_EXPORT),
    "streaming_dedup": (q_streaming_dedup, ORACLE_STREAMING_DEDUP),
    "streaming_window_counts": (q_streaming_window_counts, ORACLE_STREAMING_WINDOW_COUNTS),
    "url_canonicalize": (q_url_canonicalize, ORACLE_URL_CANONICALIZE),
    "seen_antijoin": (q_seen_antijoin, ORACLE_SEEN_ANTIJOIN),
    "entity_antijoin": (q_entity_antijoin, ORACLE_ENTITY_ANTIJOIN),
    "topk_per_host": (q_topk_per_host, ORACLE_TOPK_PER_HOST),
    "host_budget_gate": (q_host_budget_gate, ORACLE_HOST_BUDGET_GATE),
    "salted_dispatch": (q_salted_dispatch, ORACLE_SALTED_DISPATCH),
    "robots_gate": (q_robots_gate, ORACLE_ROBOTS_GATE),
    "identity_roundrobin": (q_identity_roundrobin, ORACLE_IDENTITY_ROUNDROBIN),
    "retry_lane": (q_retry_lane, ORACLE_RETRY_LANE),
    "pagination_next": (q_pagination_next, ORACLE_PAGINATION_NEXT),
    "frontier_metrics": (q_frontier_metrics, ORACLE_FRONTIER_METRICS),
    "offset_slice": (q_offset_slice, ORACLE_OFFSET_SLICE),
    "filename_index": (q_filename_index, ORACLE_FILENAME_INDEX),
    "post_enrichment": (q_post_enrichment, ORACLE_POST_ENRICHMENT),
    "multisource_join": (q_multisource_join, ORACLE_MULTISOURCE_JOIN),
    "reaction_rollup": (q_reaction_rollup, ORACLE_REACTION_ROLLUP),
    "pricing_summary": (q_pricing_summary, ORACLE_PRICING_SUMMARY),
    "top_entities": (q_top_entities, ORACLE_TOP_ENTITIES),
    "json_field_extract": (q_json_field_extract, ORACLE_JSON_FIELD_EXTRACT),
    "emote_translate": (q_emote_translate, ORACLE_EMOTE_TRANSLATE),
    "time_functions": (q_time_functions, ORACLE_TIME_FUNCTIONS),
    "token_counts": (q_token_counts, ORACLE_TOKEN_COUNTS),
    "langid": (q_langid, ORACLE_LANGID),
    "quality_score": (q_quality_score, ORACLE_QUALITY_SCORE),
    "fingerprint": (q_fingerprint, ORACLE_FINGERPRINT),
    "dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, ORACLE_NGRAM_JACCARD_PAIRS),
    "ngram_jaccard_lsh": (q_ngram_jaccard_lsh, ORACLE_NGRAM_JACCARD_LSH),
    "minhash_signatures": (q_minhash_signatures, ORACLE_MINHASH_SIGNATURES),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, ORACLE_MINHASH_LSH_PAIRS),
    "neardup_clusters": (q_neardup_clusters, ORACLE_NEARDUP_CLUSTERS),
    "dedup_resolve": (q_dedup_resolve, ORACLE_DEDUP_RESOLVE),
    "text_normalize": (q_text_normalize, ORACLE_TEXT_NORMALIZE),
    "repetition_ratio": (q_repetition_ratio, ORACLE_REPETITION_RATIO),
    "incremental_neardup": (q_incremental_neardup, ORACLE_INCREMENTAL_NEARDUP),
    "stratified_sample": (q_stratified_sample, ORACLE_STRATIFIED_SAMPLE),
    "span_media_captions": (q_span_media_captions, ORACLE_SPAN_MEDIA_CAPTIONS),
    "robots_parse": (q_robots_parse, ORACLE_ROBOTS_PARSE),
    "sitemap_parse": (q_sitemap_parse, ORACLE_SITEMAP_PARSE),
    "robots_crawl_delay": (q_robots_crawl_delay, ORACLE_ROBOTS_CRAWL_DELAY),
    "redirect_resolve": (q_redirect_resolve, ORACLE_REDIRECT_RESOLVE),
    "corpus_stats": (q_corpus_stats, ORACLE_CORPUS_STATS),
    "pii_scrub": (q_pii_scrub, ORACLE_PII_SCRUB),
    "tfidf_top_terms": (q_tfidf_top_terms, ORACLE_TFIDF_TOP_TERMS),
    "dataset_split": (q_dataset_split, ORACLE_DATASET_SPLIT),
    "split_leakage": (q_split_leakage, ORACLE_SPLIT_LEAKAGE),
    "simhash": (q_simhash, ORACLE_SIMHASH),
    "simhash_neardup_pairs": (q_simhash_neardup_pairs, ORACLE_SIMHASH_NEARDUP),
    "ann_bruteforce_topk": (q_ann_bruteforce_topk, ORACLE_ANN_BRUTEFORCE_TOPK),
    "embedding_neardup_pairs": (q_embedding_neardup_pairs, ORACLE_EMBEDDING_NEARDUP_PAIRS),
    "ann_lsh_bucketed": (q_ann_lsh_bucketed, ORACLE_ANN_LSH_BUCKETED),
    "media_metadata": (q_media_metadata, ORACLE_MEDIA_METADATA),
}



def queries():
    return {name: fn for name, (fn, _) in QUERIES.items()}


def oracle_sql():
    return {name: sql for name, (_, sql) in QUERIES.items() if sql is not None}
