"""Conversion between dynamic Python/YAML metadata and the typed
metadata triple of RECORDS_SCHEMA (model.py).

The reference stores whatever ``yaml.safe_load`` yields per record
(/root/reference/memo_cli.py:95-96) and interprets it weakly at query
time. Spark needs stable types, so at ingest we stringify values with
Python ``str()`` (exactly what the reference's comparisons do at query
time, memo_cli.py:195-198) and keep the original type in a parallel
type-tag map so the numeric/lexicographic dual-path compare
(memo_cli.py:179-192) still has the information it needs.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any


def type_tag(v: Any) -> str:
    if isinstance(v, bool):  # before int: bool is a subclass of int
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, str):
        return "str"
    if isinstance(v, _dt.datetime):
        return "datetime"
    if isinstance(v, _dt.date):
        return "date"
    if isinstance(v, list):
        return "list"
    if isinstance(v, dict):
        return "map"
    if v is None:
        return "null"
    return "str"


def split_metadata(
    md: dict | None,
) -> tuple[dict[str, str] | None, dict[str, str] | None, dict[str, list[str]] | None]:
    """Split a dynamic metadata dict into (scalars, type-tags, lists).

    Scalar values are stringified with Python ``str()`` — the exact
    stringification the reference's bare_equals/compare_values apply.
    List values keep per-element stringification for $contains / F1.
    """
    if md is None:
        return None, None, None
    scalars: dict[str, str] = {}
    tags: dict[str, str] = {}
    lists: dict[str, list[str]] = {}
    for k, v in md.items():
        key = str(k)
        tags[key] = type_tag(v)
        if isinstance(v, list):
            lists[key] = [str(e) for e in v]
            # the reference's compare_values ($gte/$lte) stringifies
            # list values with python str() — keep that exact rendering
            # available to the lexicographic path (element-stringified
            # lists can't reconstruct it: str(['3']) != str([3]))
            scalars[key] = str(v)
        else:
            scalars[key] = str(v)
            # a later key that prints the same (7, then '7') replaces
            # an earlier one's list, as str_keys replaces its value
            lists.pop(key, None)
    return scalars, tags, lists


def record_row(
    id_: int, body: str | None, metadata: dict | None
) -> tuple[int, str | None, dict | None, dict | None, dict | None]:
    """One RECORDS_SCHEMA row from dynamic inputs."""
    scalars, tags, lists = split_metadata(metadata)
    return (id_, body, scalars, tags, lists)
