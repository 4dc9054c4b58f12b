from __future__ import annotations

import glob
import json
import os

from facebook_page_scrapy_spark.sources.export import export_json_by_group


def test_export_json_by_group_one_dir_per_group_drops_nulls(spark, tmp_path):
    """S10 (parsing.py:132): one JSON directory per group; P9 drop_none
    (Parser.py:11-19): a null field is left out of the written JSON, never
    written as ``null``."""
    df = spark.createDataFrame(
        [("g1", "p1", "hello"), ("g1", "p2", None), ("g2", "p3", "world")],
        "page_id string, post_id string, text string",
    )
    out = str(tmp_path / "export")
    export_json_by_group(df, out)

    dirs = sorted(d for d in os.listdir(out) if d.startswith("page_id="))
    assert dirs == ["page_id=g1", "page_id=g2"]

    texts = {
        d: "".join(open(f).read() for f in glob.glob(os.path.join(out, d, "*.json")))
        for d in dirs
    }
    assert all("null" not in t for t in texts.values())
    rows = {
        d: sorted((json.loads(line) for line in t.splitlines()), key=lambda r: r["post_id"])
        for d, t in texts.items()
    }
    assert rows == {
        "page_id=g1": [{"post_id": "p1", "text": "hello"}, {"post_id": "p2"}],
        "page_id=g2": [{"post_id": "p3", "text": "world"}],
    }
