"""Export sinks (SURVEY §2.1 S10/S4-adjacent).

The reference's offline parser dumps one JSON file per group
(``Parse_Data_FaceBook/parsing.py:132`` → ``data/<group_id>.json``). The
Spark-native form is a partitioned JSON write: one directory per group key,
written in parallel, with nulls dropped at export time (the closest analog of
the reference's ``drop_none`` — ``Parser.py:11-19`` — which we deliberately
do NOT apply to the typed tables, only at the untyped JSON boundary)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def export_json_by_group(df: DataFrame, path: str, group_col: str = "page_id") -> None:
    """Write one JSON directory per group key (parsing.py:132 analog)."""
    (
        df.write.mode("overwrite")
        .option("ignoreNullFields", "true")  # drop_none at the JSON boundary
        .partitionBy(group_col)
        .json(path)
    )

