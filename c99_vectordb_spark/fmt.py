"""R1-R4 — exact output formatting (golden-transcript surface).

Formats observed from the reference's stdout contract
(/root/reference/memo_cli.py:301-305 recall block, :511-524 YAML mode,
:566-578 fixed-width table, :581-633 stats; SKILL.md:144-151 output
contract, corrected by observed behavior per SURVEY.md §3.1: the
recall header never echoes the query).

All formatters are driver-side pure functions over small collected
results — decoupled from the engine so golden tests don't touch Spark.
"""

from __future__ import annotations

from typing import Any

import yaml


class LiteralStr(str):
    """String rendered as a YAML literal block scalar (body fields)."""


def _literal_representer(dumper: yaml.Dumper, data: LiteralStr):
    return dumper.represent_scalar("tag:yaml.org,2002:str", str(data), style="|")


yaml.SafeDumper.add_representer(LiteralStr, _literal_representer)
if hasattr(yaml, "CSafeDumper"):
    # the adapter's bulk dump path (sources/yaml_io.fast_safe_dump_all)
    # emits through libyaml; bodies must block-scalar there too
    yaml.CSafeDumper.add_representer(LiteralStr, _literal_representer)


# -- R1: recall text block ---------------------------------------------------

def recall_header(k: int) -> str:
    """``Top {k} results:`` — requested k, not hit count; no query echo
    (memo_cli.py:471-472 [observed])."""
    return f"Top {k} results:"


def recall_hit(doc_id: int, score: float, body: str) -> list[str]:
    """``  [<id>] Score: <%.4f> |`` + body lines indented 6 spaces;
    empty body still renders one indented blank line
    (memo_cli.py:301-305)."""
    lines = [f"  [{doc_id}] Score: {score:.4f} |"]
    body_lines = body.splitlines() or [""]
    lines.extend(f"      {ln}" for ln in body_lines)
    return lines


# -- R2: recall YAML mode ----------------------------------------------------

def recall_yaml(hits: list[tuple[int, float, str]]) -> str:
    """``results:`` list with full-precision scores and literal-block
    bodies; empty -> ``results: []`` (memo_cli.py:511-524, 473-476)."""
    payload = {
        "results": [
            {"id": int(doc_id), "score": float(score), "body": LiteralStr(body)}
            for doc_id, score, body in hits
        ]
    }
    return yaml.safe_dump(payload, sort_keys=False).strip()


# -- R3: fixed-width table ---------------------------------------------------

def format_cell(value: Any) -> str:
    """None -> ''; dict/list -> YAML flow string; else str()
    (memo_cli.py:552-557)."""
    if value is None:
        return ""
    if isinstance(value, (dict, list)):
        return yaml.safe_dump(value, default_flow_style=True, sort_keys=False).strip()
    return str(value)


def table(headers: list[str], rows: list[list[str]]) -> str:
    """Two-space-separated, left-justified fixed-width table; column
    width = max(header, cells) (memo_cli.py:566-578). Trailing pad on
    the last column is preserved for byte-exact parity."""
    if not headers:
        return ""
    widths = [len(h) for h in headers]
    for row in rows:
        for i, cell in enumerate(row):
            widths[i] = max(widths[i], len(cell))
    out = ["  ".join(h.ljust(widths[i]) for i, h in enumerate(headers))]
    for row in rows:
        out.append("  ".join(cell.ljust(widths[i]) for i, cell in enumerate(row)))
    return "\n".join(out)


# -- stats block (memo_cli.py:581-633) ---------------------------------------

def stats_block(
    key: str,
    cardinality: int,
    top_values: list[tuple[str, int]],
    other: tuple[int, int] | None,
    numeric: tuple[float, float, float] | None,
    date_range: tuple[str, str] | None,
) -> str:
    """Stats output; ``other`` = (residual_distinct, residual_count).

    Numeric range prints %g min/max and %.2f avg; date range prints
    ``start:``/``end:`` with ISO dates (alignment spaces preserved).
    """
    out = [f"Key: {key}", f"Cardinality (distinct values): {cardinality}"]
    out.append("Cardinality by value:")
    for name, count in top_values:
        out.append(f"  {name}: {count}")
    if other is not None:
        n_extra, residual = other
        out.append(f"  other (aggregate of {n_extra} additional values): {residual}")
    if numeric is not None:
        vmin, vmax, vavg = numeric
        out.append("Range (numeric):")
        out.append(f"  min: {vmin:g}")
        out.append(f"  max: {vmax:g}")
        out.append(f"  avg: {vavg:.2f}")
    elif date_range is not None:
        start, end = date_range
        out.append("Range (date-like):")
        out.append(f"  start: {start}")
        out.append(f"  end:   {end}")
    return "\n".join(out)


# -- save/clean/reindex messages ---------------------------------------------

def memorized(body: str, rec_id: int) -> str:
    return f"Memorized: '{body}' (ID: {rec_id})"


def matched(n: int) -> str:
    return f"Matched: {n}"


def compacted(dropped: int) -> str:
    return f"Compacted: dropped {dropped} blank/deleted entries"
