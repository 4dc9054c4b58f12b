"""Arrow-batched HTML extraction (the reference's entire parsing layer).

The reference parses with lxml XPaths one row at a time
(``Parse_Data_FaceBook/Parser.py``; link discovery
``Crawl_Data_FaceBook/spiders/Facebook_group_post.py:121-161``). Here the same
extraction semantics run inside ``mapInPandas`` batches: one Python worker
processes thousands of HTML docs per Arrow batch, and the surrounding plan
stays DataFrame-shaped (the UDF is a narrow map — no shuffle).

No lxml in the sandbox → a tolerant stdlib ``html.parser`` DOM with just
enough XPath-ish navigation for the reference's fixed paths. Each extraction
helper cites the reference line it reproduces; golden tests run them over the
14 captured ``html/*/post.html`` fixtures.

Per BASELINE.json ``input_hint``, ``extract_post`` additionally emits the
interleaved span sequence: text spans (``Parser.py:65-69``) and media refs
(``Parser.py:52-63``) ordered by DOM position — the per-row correctness
invariant (kind, text, media_ref, order).
"""

from __future__ import annotations

import json
import re
from html.parser import HTMLParser
from typing import Iterable, Iterator

import pandas as pd

VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}


class Node:
    __slots__ = ("tag", "attrs", "items", "parent", "pos")

    def __init__(self, tag: str, attrs: dict[str, str], parent: "Node | None", pos: int):
        self.tag = tag
        self.attrs = attrs
        self.items: list[object] = []  # Node | str, in document order
        self.parent = parent
        self.pos = pos

    # element-only children
    @property
    def children(self) -> list["Node"]:
        return [c for c in self.items if isinstance(c, Node)]

    def child_tags(self, tag: str) -> list["Node"]:
        return [c for c in self.children if c.tag == tag]

    def own_text(self) -> str | None:
        """First direct text child (lxml ``.text`` analog)."""
        for c in self.items:
            if isinstance(c, Node):
                return None
            if isinstance(c, str):
                return c
        return None

    def iter(self) -> Iterator["Node"]:
        yield self
        for c in self.items:
            if isinstance(c, Node):
                yield from c.iter()

    def texts(self, include_own: bool = True) -> list[str]:
        """All descendant text nodes in document order (``//text()``).
        ``include_own=False`` → lxml's ``*//text()`` (children's subtrees only)."""
        out: list[str] = []

        def walk(n: Node, skip_direct_text: bool) -> None:
            for c in n.items:
                if isinstance(c, Node):
                    walk(c, False)
                elif not skip_direct_text:
                    out.append(c)

        walk(self, not include_own)
        return out


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.counter = 0
        self.root = Node("#document", {}, None, self.counter)
        self.stack = [self.root]

    def _push(self, tag: str, attrs) -> Node:
        self.counter += 1
        node = Node(tag, {k: (v or "") for k, v in attrs}, self.stack[-1], self.counter)
        self.stack[-1].items.append(node)
        return node

    def handle_starttag(self, tag: str, attrs) -> None:
        node = self._push(tag, attrs)
        if tag not in VOID_TAGS:
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self._push(tag, attrs)

    def handle_endtag(self, tag: str) -> None:
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # unmatched close tag: ignore (tolerant mode)

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].items.append(data)


def parse_html(src: str) -> Node:
    tb = _TreeBuilder()
    tb.feed(src)
    return tb.root


def find_by_id(root: Node, el_id: str) -> Node | None:
    for n in root.iter():
        if n.attrs.get("id") == el_id:
            return n
    return None


def xp(node: Node, path: str) -> Node | None:
    """Follow an lxml-style positional path like ``div[1]/div[2]`` (1-based)."""
    cur = node
    for step in path.split("/"):
        m = re.fullmatch(r"(\w+)(?:\[(\d+)\])?", step)
        if not m or cur is None:
            return None
        tag, idx = m.group(1), int(m.group(2) or 1)
        matches = cur.child_tags(tag)
        if len(matches) < idx:
            return None
        cur = matches[idx - 1]
    return cur


def descendants_by_tag(node: Node, tag: str) -> list[Node]:
    return [n for n in node.iter() if n.tag == tag and n is not node]


# ---------------------------------------------------------------------------
# data-ft handling (reference evals attacker-controlled JSON — Parser.py:22;
# we json.loads, never eval)
# ---------------------------------------------------------------------------
def parse_data_ft(attr_value: str) -> dict:
    try:
        v = json.loads(attr_value)
        return v if isinstance(v, dict) else {}
    except (json.JSONDecodeError, TypeError):
        return {}


def unrol_dict(d: dict) -> dict:
    """Recursive key hoist, later keys overwrite (Parser.py:23-29)."""
    items: list[tuple] = []
    for k, v in d.items():
        if isinstance(v, dict):
            items += list(unrol_dict(v).items())
        else:
            items.append((k, v))
    return dict(items)


# ---------------------------------------------------------------------------
# post-page extraction (Parser.parse_post, Parser.py:121-154 + span emission)
# ---------------------------------------------------------------------------
def _parse_user_id_from_href(href: str) -> str | None:
    """?id= query param, else first path segment (Parser.py:41-48)."""
    m = re.search(r"[?&]id=([^&#]+)", href)
    if m:
        return m.group(1)
    return href.split("?")[0][1:] or None


def extract_post(html: str) -> dict | None:
    root = parse_html(html)
    post = find_by_id(root, "m_story_permalink_view")
    if post is None:
        return None

    out: dict = {
        "post_id": None, "page_id": None, "publish_time": None, "username": None,
        "user_id": None, "text": "", "images": [], "spans": [],
    }

    # data-ft on div[1]/div[1] (Parser.py:22,72,76)
    article = xp(post, "div[1]/div[1]")
    data_ft = parse_data_ft(article.attrs.get("data-ft", "")) if article is not None else {}
    flat = unrol_dict(data_ft)
    if "top_level_post_id" in flat:
        out["post_id"] = str(flat["top_level_post_id"])
    if "page_id" in data_ft:
        out["page_id"] = str(data_ft["page_id"])
    if "publish_time" in flat:
        out["publish_time"] = int(flat["publish_time"])

    # username: first text of div[1]/div[1]/div[1]/div[1], fallback
    # div[2]/div[1]/div[1]/div[1] (Parser.py:35-39)
    header = xp(post, "div[1]/div[1]/div[1]/div[1]")
    texts = header.texts() if header is not None else []
    if not texts:
        header = xp(post, "div[2]/div[1]/div[1]/div[1]")
        texts = header.texts() if header is not None else []
    out["username"] = texts[0] if texts else None

    # user_id from first <a> under the first h3 in the header (Parser.py:41-48)
    if header is not None:
        h3s = descendants_by_tag(header, "h3")
        if h3s:
            anchors = descendants_by_tag(h3s[0], "a")
            if anchors and "href" in anchors[0].attrs:
                out["user_id"] = _parse_user_id_from_href(anchors[0].attrs["href"])

    # images: div[1]//img srcs (Parser.py:52-63)
    d1 = xp(post, "div[1]")
    imgs = descendants_by_tag(d1, "img") if d1 is not None else []
    media = [(n.pos, n.attrs.get("src", "")) for n in imgs if n.attrs.get("src")]
    out["images"] = [src for _, src in media]

    # text: children of div[1]/div[1]/div[1] beyond the first, each joined by
    # '\n' over descendant texts of its children (Parser.py:65-69)
    content = xp(post, "div[1]/div[1]/div[1]")
    text_blocks: list[tuple[int, str]] = []
    if content is not None:
        for div in content.child_tags("div")[1:]:
            ts = div.texts(include_own=False)  # lxml '*//text()'
            if ts:
                text_blocks.append((div.pos, "\n".join(ts)))
    out["text"] = "\n".join(t for _, t in text_blocks)

    # interleaved spans in DOM order (input_hint invariant)
    events = [(p, "text", t, "") for p, t in text_blocks] + [
        (p, "media", "", src) for p, src in media
    ]
    events.sort(key=lambda e: e[0])
    out["spans"] = [
        {"kind": k, "text": t, "media_ref": m, "offset": i}
        for i, (_, k, t, m) in enumerate(events)
    ]
    return out


# ---------------------------------------------------------------------------
# comment extraction (Parser.parse_cmt, Parser.py:156-185)
# ---------------------------------------------------------------------------
_CMT_CONTAINER_SKIP = re.compile(r"prev|next|actions|placeholder|sentence|composer")
_CMT_DIV_SKIP = re.compile(r"more|next|compose|prev")


def extract_comments(html: str) -> list[dict]:
    root = parse_html(html)
    view = find_by_id(root, "m_story_permalink_view")
    if view is None:
        return []
    container = xp(view, "div[2]/div[1]/div[5]")
    cmt_divs = container.child_tags("div") if container is not None else []
    if not cmt_divs or _CMT_CONTAINER_SKIP.search(cmt_divs[0].attrs.get("id", "")):
        container = xp(view, "div[2]/div[1]/div[4]")
        cmt_divs = container.child_tags("div") if container is not None else []

    out = []
    for div in cmt_divs:
        if _CMT_DIV_SKIP.search(div.attrs.get("id", "")):
            continue
        # text: div[1]/div[1].text + '\n'.join(*//text()) (Parser.py:101-107)
        text_div = xp(div, "div[1]/div[1]")
        if text_div is not None:
            text = text_div.own_text() or ""
            text += "\n".join(text_div.texts(include_own=False))
        else:
            text = ""
        # username / user_id from div[1]/h3[1]/a[1] (Parser.py:86-99)
        a = xp(div, "div[1]/h3[1]/a[1]")
        username = (a.own_text() or "") if a is not None else ""
        user_id = (
            _parse_user_id_from_href(a.attrs["href"])
            if a is not None and "href" in a.attrs
            else None
        )
        # reply URL: first /replies href in div[1]/div[3]/a (Parser.py:112-119)
        rep = xp(div, "div[1]/div[3]")
        comment_url = None
        if rep is not None:
            for anchor in rep.child_tags("a"):
                href = anchor.attrs.get("href", "")
                if re.search(r"/replies", href):
                    comment_url = f"https://mbasic.facebook.com/{href}"
                    break
        out.append(
            {
                "comment_id": div.attrs.get("id", ""),
                "text": text,
                "username": username,
                "user_id": user_id,
                "comment_url": comment_url,
            }
        )
    return out


# ---------------------------------------------------------------------------
# reaction extraction (Parser.parse_reaction, Parser.py:187-194)
# ---------------------------------------------------------------------------
def extract_reactions(html: str) -> dict[str, int]:
    root = parse_html(html)
    anchor = find_by_id(root, "root")
    if anchor is None:
        return {}
    bar = xp(anchor, "table[1]/tbody[1]/tr[1]/td[1]/div[1]/div[1]")
    if bar is None:
        return {}
    keys, vals = [], []
    for a in bar.child_tags("a"):
        imgs = a.child_tags("img")
        spans = a.child_tags("span")
        if imgs:
            keys.append(imgs[0].attrs.get("alt", ""))
        if spans:
            try:
                vals.append(int((spans[0].own_text() or "0").strip()))
            except ValueError:
                vals.append(0)
    return dict(zip(keys, vals))


# ---------------------------------------------------------------------------
# page-scan link discovery (Facebook_group_post.py:127-161)
# ---------------------------------------------------------------------------
_MBASIC_RE = re.compile(r"^https://mbasic.facebook")


def extract_page_links(html: str) -> dict:
    """→ {post_links: [(post_id, href)], next_page: str|None}."""
    root = parse_html(html)
    container = find_by_id(root, "m_group_stories_container")
    out = {"post_links": [], "next_page": None}
    if container is None:
        return out
    wrap = xp(container, "div[1]")
    posts = wrap.child_tags("div") if wrap is not None else []
    for post in posts:
        data_ft = parse_data_ft(post.attrs.get("data-ft", ""))
        if "top_level_post_id" not in data_ft:
            continue
        try:
            post_id = str(int(data_ft["top_level_post_id"]))
        except (TypeError, ValueError):
            continue
        more = post.child_tags("div")
        if not more:
            continue
        footer = xp(more[-1], "div[2]")
        anchors = footer.child_tags("a") if footer is not None else []
        hrefs = [
            a.attrs["href"]
            for a in anchors
            if "href" in a.attrs and _MBASIC_RE.search(a.attrs["href"])
        ]
        if hrefs:  # reference takes hrefs[0] and would crash on empty (:155)
            out["post_links"].append((post_id, hrefs[0]))
    next_div = xp(container, "div[2]")
    if next_div is not None:
        anchors = next_div.child_tags("a")
        if anchors and "href" in anchors[0].attrs:
            out["next_page"] = "https://mbasic.facebook.com" + anchors[0].attrs["href"]
    return out


# ---------------------------------------------------------------------------
# Spark-facing batched UDF wrappers (mapInPandas — one python worker per
# partition, Arrow transport, no per-row overhead)
# ---------------------------------------------------------------------------
POST_OUT_SCHEMA = (
    "doc_id string, url string, post_id string, page_id string, publish_time long, "
    "username string, user_id string, text string, images array<string>, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def posts_from_html(iterator: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas fn: (doc_id, url, html) → extracted post rows."""
    for pdf in iterator:
        rows = []
        for doc_id, url, html in zip(pdf["doc_id"], pdf["url"], pdf["html"]):
            p = extract_post(html)
            if p is None:
                continue
            rows.append(
                {
                    "doc_id": doc_id,
                    "url": url,
                    "post_id": p["post_id"],
                    "page_id": p["page_id"],
                    "publish_time": p["publish_time"],
                    "username": p["username"],
                    "user_id": p["user_id"],
                    "text": p["text"],
                    "images": p["images"],
                    "spans": [
                        (s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in p["spans"]
                    ],
                }
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "url", "post_id", "page_id", "publish_time",
                "username", "user_id", "text", "images", "spans",
            ],
        )


# ---------------------------------------------------------------------------
# Fused single-pass extraction: one Python worker pass over the round's HTML
# emits a tagged union of link / post / comment / reaction / comment-page-meta
# rows. One mapInPandas job for every row kind — the parse stage is the round's
# only Python hop, so collapsing it dominates per-round latency at small
# batches and per-doc cost at scale (each HTML string is parsed exactly once).
# ---------------------------------------------------------------------------


def extract_fanpage_posts(html: str) -> list[dict]:
    """Fan-page homepage timeline extraction — the page (non-group) spider's
    documented parse (Facebook_page.py:46-85):

    - post containers by class ``_55wo …`` (:46);
    - ``mf_story_key`` / ``page_id`` from ``data-ft`` (:51-53 — json.loads,
      never the reference's eval);
    - ``source_url`` permalink template (:57-59);
    - footer react/comment/share count texts (:61-68), header abbr date (:73);
    - text = join of exposed span texts + background ``div/span[2]`` texts
      with the "Xem thêm" placeholder dropped (:84-85, P7) — including the
      reference's no-separator concat between the two joins.
    """
    root = parse_html(html)
    out = []
    for post in root.iter():
        cls = post.attrs.get("class", "")
        if "_55wo" not in cls.split():
            continue
        flat = unrol_dict(parse_data_ft(post.attrs.get("data-ft", "")))
        story = flat.get("mf_story_key")
        page_id = flat.get("page_id")
        if story is None:
            continue
        story, page_id = str(story), str(page_id) if page_id is not None else None
        body = xp(post, "div[1]")
        footer = xp(post, "footer[1]")

        date = None
        if body is not None:
            abbr = xp(body, "header[1]/div[2]/div[1]/div[1]/div[1]/div[1]/a[1]/abbr[1]")
            if abbr is not None:
                date = "".join(abbr.texts()) or None

        exposed: list[str] = []
        background: list[str] = []
        if body is not None:
            # content = body.xpath("div/div") (:80); exposed = content span//text()
            # (:82), background = content div/span[2]//text() (:83)
            for d1 in body.child_tags("div"):
                for content in d1.child_tags("div"):
                    for sp in content.child_tags("span"):
                        exposed += [t for t in sp.texts() if t]
                    for dd in content.child_tags("div"):
                        spans = dd.child_tags("span")
                        if len(spans) >= 2:
                            background += [t for t in spans[1].texts() if t]

        n_reacts = n_comments = n_shares = None
        if footer is not None:
            stat = xp(footer, "div[1]/div[1]/a[1]/div[1]")
            if stat is not None:
                d1 = xp(stat, "div[1]")
                if d1 is not None:
                    n_reacts = "".join(d1.texts()) or None
                d2 = xp(stat, "div[2]")
                if d2 is not None:
                    sp = d2.child_tags("span")
                    if len(sp) >= 1:
                        n_comments = "".join(sp[0].texts()) or None
                    if len(sp) >= 2:
                        n_shares = "".join(sp[1].texts()) or None

        text = " ".join(t for t in exposed if t != "Xem thêm") + " ".join(
            t for t in background if t != "Xem thêm"
        )
        out.append({
            "post_id": story,
            "page_id": page_id,
            "source_url": (
                f"https://www.facebook.com/permalink.php?story_fbid={story}&id={page_id}"
            ),
            "date": date,
            "n_reacts": n_reacts,
            "n_comments": n_comments,
            "n_shares": n_shares,
            "text": text,
        })
    return out
PARSE_ALL_SCHEMA = (
    "row_type string, doc_id string, url string, group_id string, src_rank int, "
    "link_idx int, href string, post_id string, page_id string, publish_time long, "
    "username string, user_id string, text string, images array<string>, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "comment_id string, comment_url string, parent_post_id string, "
    "reactions map<string,int>, n_comments int, "
    "source_url string, fp_date string, fp_reacts string, fp_comments string, "
    "fp_shares string"
)

_PARSE_ALL_COLS = [
    "row_type", "doc_id", "url", "group_id", "src_rank", "link_idx", "href",
    "post_id", "page_id", "publish_time", "username", "user_id", "text",
    "images", "spans", "comment_id", "comment_url", "parent_post_id",
    "reactions", "n_comments",
    "source_url", "fp_date", "fp_reacts", "fp_comments", "fp_shares",
]


def _row(**kw) -> dict:
    base = dict.fromkeys(_PARSE_ALL_COLS)
    base.update(kw)
    return base


def parse_all(iterator: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas fn over (doc_id, url, group_id, post_id, kind, __rank,
    html) — dispatches per kind like the spiders' parse callbacks
    (Facebook_group_post.py:188-199) but batched, and each HTML is parsed once.
    """
    for pdf in iterator:
        rows: list[dict] = []
        it = zip(pdf["doc_id"], pdf["url"], pdf["group_id"], pdf["post_id"],
                 pdf["kind"], pdf["__rank"], pdf["html"])
        for doc_id, url, gid, pid, kind, rank, html in it:
            rank = int(rank)
            if kind == "page":
                found = extract_page_links(html)
                idx = 0
                for _post_id, href in found["post_links"]:
                    rows.append(_row(row_type="link", doc_id=doc_id, url=url,
                                     group_id=gid, src_rank=rank, link_idx=idx, href=href))
                    idx += 1
                if found["next_page"]:
                    rows.append(_row(row_type="link", doc_id=doc_id, url=url,
                                     group_id=gid, src_rank=rank, link_idx=idx,
                                     href=found["next_page"]))
                if idx == 0 and not found["next_page"]:
                    # not a group listing — try the fan-page timeline shape
                    # (Facebook_page.py: terminal homepage, posts inline)
                    for p in extract_fanpage_posts(html):
                        rows.append(_row(
                            row_type="fppost", doc_id=doc_id, url=url,
                            group_id=gid, src_rank=rank,
                            post_id=p["post_id"], page_id=p["page_id"],
                            text=p["text"], source_url=p["source_url"],
                            fp_date=p["date"], fp_reacts=p["n_reacts"],
                            fp_comments=p["n_comments"], fp_shares=p["n_shares"],
                        ))
            elif kind == "post":
                p = extract_post(html)
                n_inline = 0
                for c in extract_comments(html):
                    n_inline += 1
                    rows.append(_row(row_type="comment", doc_id=doc_id, url=url,
                                     group_id=gid, src_rank=rank,
                                     comment_id=c["comment_id"], text=c["text"],
                                     username=c["username"], user_id=c["user_id"],
                                     comment_url=c["comment_url"], page_id=gid,
                                     parent_post_id=pid))
                if p is not None:
                    rows.append(_row(row_type="post", doc_id=doc_id, url=url,
                                     group_id=gid, src_rank=rank,
                                     post_id=p["post_id"], page_id=p["page_id"],
                                     publish_time=p["publish_time"],
                                     username=p["username"], user_id=p["user_id"],
                                     text=p["text"], images=p["images"],
                                     spans=[(s["kind"], s["text"], s["media_ref"], s["offset"])
                                            for s in p["spans"]],
                                     n_comments=n_inline))
            elif kind == "comment":
                n = 0
                for c in extract_comments(html):
                    n += 1
                    rows.append(_row(row_type="comment", doc_id=doc_id, url=url,
                                     group_id=gid, src_rank=rank,
                                     comment_id=c["comment_id"], text=c["text"],
                                     username=c["username"], user_id=c["user_id"],
                                     comment_url=c["comment_url"], page_id=gid,
                                     parent_post_id=pid))
                rows.append(_row(row_type="cmeta", doc_id=doc_id, url=url,
                                 group_id=gid, src_rank=rank, post_id=pid,
                                 n_comments=n))
            elif kind == "reaction":
                rx = extract_reactions(html)
                rows.append(_row(row_type="reaction", doc_id=doc_id, url=url,
                                 group_id=gid, src_rank=rank, post_id=pid,
                                 reactions=rx))
        yield pd.DataFrame(rows, columns=_PARSE_ALL_COLS)

