"""URL canonicalization + classification as pure Column expressions.

Canonical form (north rule): lowercase scheme/host, sorted query params,
``fbclid`` stripped, fragment dropped, default ports removed, empty path → '/'.
Also folds the reference's ``m.`` → ``mbasic.`` rewrite
(``Crawl_Data_FaceBook/spiders/debug_empty_text.py:115``) and replaces its
per-URL regex handling (``Facebook_group_post.py:152-154``) and query splitting
(``Facebook_group_cmt.py:176``, ``Facebook_group_reaction.py:230``).

Everything here is built-in ``pyspark.sql.functions`` — no Python UDFs — so the
whole canonicalization stage stays inside whole-stage codegen and scales as a
narrow map over the frontier at any data size.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def host_of(url: Column) -> Column:
    """Lowercased host without the port (``parse_url`` drops the port)."""
    return F.lower(F.parse_url(url, F.lit("HOST")))


def canonicalize(url: Column) -> Column:
    """Return the canonical form of ``url`` (see module docstring).

    Built on Spark's ``parse_url`` (one compiled URI parse per part) instead
    of hand-rolled substring/regexp chains: the expression tree is ~10×
    smaller, which matters both for Catalyst analysis time (the canonicalizer
    appears in every frontier round) and for codegen size.

    The ``https://m.`` → ``https://mbasic.`` rewrite of debug_empty_text.py:115
    always applies. Fragments are dropped by ``parse_url`` itself; default
    ports (:80 http, :443 https) are stripped; empty path → '/'; query params
    are sorted and ``fbclid`` removed.
    """
    u = F.regexp_replace(F.trim(url), r"(?i)^https://m\.", "https://mbasic.")

    part = lambda p: F.parse_url(u, F.lit(p))  # noqa: E731
    scheme = F.lower(part("PROTOCOL"))
    hostport = F.lower(part("AUTHORITY"))
    hostport = (
        F.when((scheme == "http") & hostport.endswith(":80"),
               F.regexp_replace(hostport, ":80$", ""))
        .when((scheme == "https") & hostport.endswith(":443"),
              F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    path = part("PATH")
    path = F.when((path == "") | path.isNull(), F.lit("/")).otherwise(path)

    params = F.split(F.coalesce(part("QUERY"), F.lit("")), "&")
    params = F.filter(
        params,
        lambda p: (p != "") & ~p.startswith("fbclid=") & (p != "fbclid"),
    )
    qcanon = F.array_join(F.array_sort(params), "&")

    return F.concat(
        scheme,
        F.lit("://"),
        hostport,
        path,
        F.when(qcanon != "", F.concat(F.lit("?"), qcanon)).otherwise(F.lit("")),
    )


def classify_kind(url_canon: Column) -> Column:
    """Map a canonical URL to its frontier kind (page|post|comment|reaction).

    URL shapes per the reference fixtures (``html/*/pages.txt``) and spiders:
    post permalinks ``/permalink/<id>`` (``Facebook_group_post.py:152-155``),
    comment pagination ``/posts/<id>/?p=N`` (``Facebook_group_cmt.py:130-134``),
    reaction pages ``/ufi/reaction`` (``Facebook_group_reaction.py``).
    """
    return (
        F.when(url_canon.rlike(r"/ufi/reaction|reaction_profile"), F.lit("reaction"))
        .when(url_canon.rlike(r"/posts/[^/?]+/?\?(.*&)?p=\d+"), F.lit("comment"))
        .when(url_canon.rlike(r"/permalink/|/posts/"), F.lit("post"))
        .otherwise(F.lit("page"))
    )


def priority_of(kind: Column) -> Column:
    """CR_PAGE=1 .. CR_REACTION=4 (Facebook_group_post.py:19-22); higher first,
    matching the strict dequeue priority of Facebook_group_reaction.py:111-133."""
    return (
        F.when(kind == "reaction", F.lit(4))
        .when(kind == "comment", F.lit(3))
        .when(kind == "post", F.lit(2))
        .otherwise(F.lit(1))
    )


def group_id_of(url_canon: Column) -> Column:
    return F.regexp_extract(url_canon, r"/groups/([^/?]+)", 1)


def post_id_of(url_canon: Column) -> Column:
    """The post entity id for any frontier URL shape: permalink pages,
    comment-pagination pages (/posts/<id>/?p=N) and reaction pages
    (?ft_ent_identifier=<id>, Facebook_group_reaction.py:236-246)."""
    permalink = F.regexp_extract(url_canon, r"/permalink/([^/?]+)", 1)
    posts = F.regexp_extract(url_canon, r"/posts/([^/?]+)", 1)
    rxn = F.regexp_extract(url_canon, r"[?&]ft_ent_identifier=([^&#]+)", 1)
    return (
        F.when(permalink != "", permalink)
        .when(posts != "", posts)
        .when(rxn != "", rxn)
        .otherwise(F.lit(None).cast("string"))
    )


def comment_url(group_id: Column, post_id: Column, offset: Column) -> Column:
    """A post's comment-pagination page at ``?p=<offset>``
    (Facebook_group_cmt.py:130-134)."""
    return F.concat(
        F.lit("https://mbasic.facebook.com/groups/"), group_id,
        F.lit("/posts/"), post_id, F.lit("/?p="), offset.cast("string"),
    )


def comment_offset_of(url_canon: Column) -> Column:
    """The ``?p=N`` incremental comment offset (Facebook_group_cmt.py:176)."""
    return F.regexp_extract(url_canon, r"[?&]p=(\d+)", 1).try_cast("int")
