"""Argv-compatible CLI of the reference's ``memo`` verbs (SURVEY §2.9).

Verbs and flags mirror /root/reference/memo_cli.py:696-949 (help text,
parse_args, parse_recall_args, parse_analyze_args, main): ``save``,
``recall``, ``analyze``, ``reindex``, ``clean`` with global ``-f``
(db base) and ``-v`` (stderr diagnostics; stdout is result-only).

Storage layout: ``<base>.yaml`` is the compatibility source of truth
(S1/S2 adapter) and ``<base>.emb/`` holds the derived embeddings
parquet (the FAISS ``.memo`` counterpart), which ``save`` and
``reindex`` write with the fingerprint of the YAML it derives from
(``_SOURCE_SHA256``). No verb reads it: a recall parses the whole YAML
anyway and scores the parsed records against its query on the driver,
so an index that disagrees with the YAML cannot change an answer and the
reference's save-only-index desync quirk (M6) cannot occur.

No verb starts a JVM or touches a Spark session, not even an in-process
caller's active one: each one runs the reference's loop over the rows
``yaml_io.read_records_yaml`` parsed, in this process. ``save`` and
``reindex`` apply their change to the rows, embed them and write
``<base>.emb`` with pyarrow; ``recall`` filters them with
``filters.matches_filter`` and ranks them with
``operators.recall.recall_rows``; ``analyze`` filters, pages and counts
them. No verb imports pandas either.

Usage: ``python -m c99_vectordb_spark.cli [-f base] [-v] <verb> ...``
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import time
from collections import Counter
from datetime import datetime, timezone

from . import fmt, hashing
from .functions.embed import embed_rows
from .model import DEFAULT_K, DEFAULT_LIMIT, DEFAULT_OFFSET, STATS_TOP_N
from .operators import filters as Flt, recall as R
from .sources import yaml_io
from .sources.store import swap_write


def _log(verbose: bool, msg: str) -> None:
    if verbose:
        print(msg, file=sys.stderr)


def _hint_native_migration(verbose: bool, yaml_path: str) -> None:
    """-v hint once the YAML reaches DISTRIBUTED_PARSE_BYTES: every verb
    parses the whole store, and the ``parse:`` line of the same run
    gives what that cost; the native parquet store is not parsed per
    verb."""
    if not verbose:
        return
    try:
        size = os.path.getsize(yaml_path)
    except OSError:
        return
    if size >= yaml_io.DISTRIBUTED_PARSE_BYTES:
        _log(
            verbose,
            f"hint: {yaml_path} is {size >> 20} MiB and every verb parses "
            "all of it (the parse: line gives its seconds) — consider "
            "migrating to the native parquet store: save once, then "
            "point the tooling at the parquet store directory",
        )


def _db_paths(base: str) -> tuple[str, str]:
    """Path derivation parity (memo_cli.py:47-58 build_db_paths): the
    reference REPLACES the base's last suffix via Path.with_suffix, so
    ``-f data.v1`` addresses data.yaml — appending would silently point
    a dotted base at a different database."""
    from pathlib import Path

    p = Path(base)
    return str(p.with_suffix(".yaml")), str(p.with_suffix(".emb"))


def _read_rows_or_error(yaml_path: str, verbose: bool):
    """The parsed rows of the database YAML with the reference's error
    contract (memo_cli.py:338-341 etc): any load failure prints one line
    to stderr and the verb returns 1 — never a traceback. ``-v`` reports
    the record count, the read's seconds and the reader that parsed the
    YAML (``yaml_io.read_store``)."""
    t = time.perf_counter()
    try:
        rows, reader = yaml_io.read_store(yaml_path)
    except Exception as e:  # noqa: BLE001 — the reference catches Exception
        print(
            f"Error: failed to load database YAML '{yaml_path}': {e}",
            file=sys.stderr,
        )
        return None, 1
    _log(
        verbose,
        f"parse: read {len(rows)} records from {yaml_path} in "
        f"{time.perf_counter() - t:.2f} s ({reader})",
    )
    return rows, 0


def _yaml_sha256(yaml_path: str) -> str | None:
    import hashlib

    try:
        with open(yaml_path, "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()
    except OSError:
        return None


def _parse_filter_or_error(filter_expr: str):
    """The parsed ``--filter`` (None for an empty one); a parse error
    prints one line to stderr and the verb returns 1."""
    try:
        return Flt.parse_filter_expr(filter_expr), 0
    except ValueError as e:
        print(f"Error: invalid --filter expression: {e}", file=sys.stderr)
        return None, 1


def cmd_recall(base, query, k, filter_expr, as_yaml, verbose) -> int:
    yaml_path, _ = _db_paths(base)
    k = R.clamp_k(k)
    rows, rc = _read_rows_or_error(yaml_path, verbose)
    if rc:
        return rc
    # R4: diagnostics to stderr only — stdout is the result contract
    # (memo_cli.py:38-40)
    _log(verbose, f"recall k={k} filter={'no' if filter_expr is None else 'yes'}")
    _hint_native_migration(verbose, yaml_path)
    if not as_yaml:
        print(fmt.recall_header(k))
    keep = None
    # `is not None`, not truthiness: --filter "" parses to no condition,
    # which still applies the nonempty-metadata gate (memo_cli.py:483-506)
    if filter_expr is not None:
        parsed, rc = _parse_filter_or_error(filter_expr)
        if rc:
            return rc
        keep = functools.partial(Flt.matches_filter, parsed)
    t = time.perf_counter()
    hits = R.recall_rows(rows, query, k, keep)
    _log(
        verbose,
        f"recall: searched {len(rows)} records on the driver in "
        f"{time.perf_counter() - t:.2f} s",
    )
    if as_yaml:
        print(fmt.recall_yaml(hits))
    else:
        for doc_id, score, body in hits:
            print("\n".join(fmt.recall_hit(doc_id, score, body)))
    return 0


def cmd_analyze(base, filter_expr, fields, stats_key, limit, offset, verbose) -> int:
    yaml_path, _ = _db_paths(base)
    if not filter_expr or not filter_expr.strip():
        print("Error: analyze requires --filter <expr>", file=sys.stderr)
        return 1
    if limit < 1:
        print("Error: --limit must be >= 1", file=sys.stderr)
        return 1
    if offset < 0:
        print("Error: --offset must be >= 0", file=sys.stderr)
        return 1
    rows, rc = _read_rows_or_error(yaml_path, verbose)
    if rc:
        return rc
    parsed, rc = _parse_filter_or_error(filter_expr)
    if rc:
        return rc
    # the records in id order (memo_cli.py:668-674)
    matches = [(rid, md) for rid, _, md in rows if Flt.matches_filter(parsed, md)]
    print(fmt.matched(len(matches)))
    if stats_key is not None:
        return _print_stats(matches, stats_key)
    # default projection: id + first 3 sorted metadata keys
    # (memo_cli.py:560-565)
    selected = fields or [
        "id", *sorted({key for _, md in matches for key in yaml_io.str_keys(md)})[:3]
    ]
    table = [
        [_cell(rid, md, field) for field in selected]
        for rid, md in matches[offset : offset + limit]
    ]
    headers = ["ID" if f == "id" else f for f in selected]
    out = fmt.table(headers, table)
    if out:
        print(out)
    return 0


def _cell(rid: int, md: dict, field: str) -> str:
    """One analyze cell: format_cell (memo_cli.py:552-557) of the
    loaded value; the whole dict as loaded, a key as the filter sees
    it (``yaml_io.str_keys``)."""
    if field == "id":
        return str(rid)
    if field == "metadata":
        return fmt.format_cell(md)
    key = field[len("metadata.") :] if field.startswith("metadata.") else field
    return fmt.format_cell(yaml_io.str_keys(md).get(key))


def _print_stats(matches, key: str) -> int:
    """Stats block (memo_cli.py:581-633) over the matched records' values
    of ``key``, nulls dropped (memo_cli.py:583-586): the values counted
    by their format_cell rendering (memo_cli.py:588) in a Counter, whose
    most_common breaks a tie by first occurrence, in id order. The
    ``metadata`` key counts each record's whole dict (memo_cli.py:543-547)."""
    if key == "id":
        values = [rid for rid, _ in matches]
    elif key == "metadata":
        values = [md for _, md in matches]
    else:
        k = key[len("metadata.") :] if key.startswith("metadata.") else key
        values = [yaml_io.str_keys(md).get(k) for _, md in matches]
        values = [v for v in values if v is not None]
    ranked = Counter(fmt.format_cell(v) for v in values).most_common()
    other = None
    if len(ranked) > STATS_TOP_N:
        rest = ranked[STATS_TOP_N:]
        other = (len(rest), sum(n for _, n in rest))
    numeric = _numeric_range(values)
    date_range = None if numeric else _date_range(values)
    print(
        fmt.stats_block(key, len(ranked), ranked[:STATS_TOP_N], other, numeric, date_range)
    )
    return 0


def _numeric_range(values: list) -> tuple[float, float, float] | None:
    """(min, max, mean) when every value is a number (a bool counts as
    one) or ``float(str(v))`` parses it (memo_cli.py:600-609); else
    None."""
    try:
        nums = [float(v) if isinstance(v, (int, float)) else float(str(v)) for v in values]
    except (ValueError, OverflowError):
        return None
    return (min(nums), max(nums), sum(nums) / len(nums)) if nums else None


def _date_range(values: list) -> tuple[str, str] | None:
    """The first and the last date when every value is an ISO-8601
    string, a trailing ``Z`` read as ``+00:00`` (memo_cli.py:529-539,
    620-633); else None. A value with an offset counts at its UTC
    instant and a naive one as UTC, so both compare."""
    stamps = []
    for v in values:
        if not isinstance(v, str):
            return None
        try:
            t = datetime.fromisoformat(v[:-1] + "+00:00" if v.endswith("Z") else v)
            if t.tzinfo is not None:
                t = t.astimezone(timezone.utc).replace(tzinfo=None)
        except (ValueError, OverflowError):  # OverflowError: UTC before year 1
            return None
        stamps.append(t)
    if not stamps:
        return None
    return min(stamps).date().isoformat(), max(stamps).date().isoformat()


def cmd_save(base, save_path, verbose) -> int:
    yaml_path, emb_path = _db_paths(base)
    try:
        with open(save_path, encoding="utf-8") as f:
            batch = yaml_io.parse_save_batch_yaml(f.read())
    except (OSError, yaml_io.YamlValidationError) as e:
        print(f"Error: {e}", file=sys.stderr)
        return 1
    rows, rc = _read_rows_or_error(yaml_path, verbose)
    if rc:
        return rc
    # an overwrite must name a non-blank record of the store AS LOADED
    # (memo_cli.py:426-433); the parse densifies ids, so row i has id i
    # and the next append gets id len(rows)
    writable = {rid for rid, body, *_ in rows if not hashing.is_blank(body)}
    max_id = len(rows) - 1
    # apply in batch order, echoing as it goes (memo_cli.py:420-440):
    # a repeated id is last-write-wins, and the FIRST bad overwrite is
    # an error after the earlier echoes, with nothing written (the
    # files are saved after the loop)
    for rid, *entry in batch:
        if rid is None:
            rid = len(rows)
            rows.append((rid, *entry))
        elif rid in writable:
            rows[rid] = (rid, *entry)
        else:
            print(f"Error: override id {rid} does not exist", file=sys.stderr)
            return 1
        print(fmt.memorized(entry[0], rid))
    _log(verbose, f"save: {len(batch)} entries applied onto max_id={max_id}")
    yaml_io.save_records_yaml(rows, yaml_path)
    _write_index(verbose, rows, emb_path, yaml_path)
    return 0


def _write_index(verbose: bool, rows, emb_path: str, yaml_path: str) -> None:
    t = time.perf_counter()
    n = _write_embeddings(rows, emb_path, yaml_path)
    _log(
        verbose,
        f"index: wrote {n} vectors to {emb_path} in {time.perf_counter() - t:.2f} s",
    )


def _write_embeddings(rows, emb_path: str, yaml_path: str) -> int:
    """Write the index of ``rows`` as ``emb_path``; the number of
    vectors. The index is the reference's .memo counterpart: written
    and fingerprinted, but read by no verb. Blank records are not
    indexed (memo_cli.py:278-280). One part file, as the reference's
    index is one, written by pyarrow: no JVM starts. The index records
    which YAML it derives from (an underscore-prefixed sidecar,
    invisible to parquet readers, committed by the same rename as the
    table)."""
    import pyarrow.parquet as pq

    pairs = [(rid, body) for rid, body, *_ in rows if not hashing.is_blank(body)]
    table = embed_rows(pairs)

    def write(tmp: str) -> None:
        os.mkdir(tmp)
        pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))

    swap_write(emb_path, write, marker=("_SOURCE_SHA256", _yaml_sha256(yaml_path)))
    return table.num_rows


def cmd_reindex(base, verbose) -> int:
    yaml_path, emb_path = _db_paths(base)
    _hint_native_migration(verbose, yaml_path)
    rows, rc = _read_rows_or_error(yaml_path, verbose)
    if rc:
        return rc
    kept = yaml_io.compact_records(rows)
    yaml_io.save_records_yaml(kept, yaml_path)
    _write_index(verbose, kept, emb_path, yaml_path)
    print(f"Rebuilt index from {os.path.basename(yaml_path)}")
    print(f"Wrote index: {os.path.basename(emb_path)}")
    if len(rows) > len(kept):
        print(fmt.compacted(len(rows) - len(kept)))
    return 0


def cmd_clean(base) -> int:
    yaml_path, emb_path = _db_paths(base)
    removed = False
    if os.path.exists(yaml_path):
        os.remove(yaml_path)
        removed = True
    if os.path.exists(emb_path):
        shutil.rmtree(emb_path)
        removed = True
    if removed:
        print(f"Cleared memory database ({emb_path}, {yaml_path})")
    else:
        print(f"Database already empty ({emb_path}, {yaml_path})")
    return 0


def print_help() -> None:
    """Help text parity (memo_cli.py:695-724) modulo the engine name."""
    print("Usage:")
    print("  memo --help")
    print("  memo -f <base> [-v] save <yaml_file>")
    print("  memo -f <base> [-v] recall [-k <N>] [--filter <expr>] [--yaml] <query>")
    print("  memo -f <base> [-v] analyze --filter <expr> [--fields <list>] [--stats <key>] [--limit <N>] [--offset <N>]")
    print("  memo -f <base> [-v] clean")
    print("  memo -f <base> [-v] reindex")
    print()
    print("Commands:")
    print("  save                Insert/update memory records from YAML input file")
    print("  recall              Semantic recall from <base>.memo + <base>.yaml")
    print("  analyze             Metadata-only reporting from <base>.yaml")
    print("  clean               Remove <base>.memo and <base>.yaml")
    print("  reindex             Rebuild <base>.memo from <base>.yaml (full regenerate)")
    print()
    print("Options:")
    print("  -f <base>           REQUIRED DB basename")
    print("  -v                 Verbose logs to stderr")
    print("  <yaml_file>        YAML file for save input (single or multi-doc using ---)")
    print("                     Each doc requires: metadata: <map>, body: <string>")
    print("                     Optional per-doc id: <int> to overwrite existing record")
    print("  --filter <expr>    Filter recall results by metadata")
    print("  --yaml             recall only: emit YAML results with id, score, body")
    print("  --fields <list>    analyze only: comma-separated columns (e.g. id,source,metadata)")
    print("  --stats <key>      analyze only: cardinality + numeric/date-like range for key")
    print("  --limit <N>        analyze only: max rows to print (default: 100)")
    print("  --offset <N>       analyze only: rows to skip before printing (default: 0)")
    print("  --help             Show this help")


def _parse_recall_args(rest: list[str]):
    """Recall flag parsing parity (memo_cli.py:759-803): clean one-line
    errors for missing/non-integer values, unknown args join the query,
    empty query is an error."""
    k, filter_expr, as_yaml, query_words = DEFAULT_K, None, False, []
    j = 0
    while j < len(rest):
        a = rest[j]
        if a == "-k":
            if j + 1 >= len(rest):
                print("Error: -k requires an integer", file=sys.stderr)
                return None, 1
            try:
                k = int(rest[j + 1])
            except ValueError:
                print("Error: -k requires an integer", file=sys.stderr)
                return None, 1
            j += 2
            continue
        if a == "--filter":
            if j + 1 >= len(rest):
                print("Error: --filter requires a filter expression", file=sys.stderr)
                return None, 1
            filter_expr = rest[j + 1]
            j += 2
            continue
        if a == "--yaml":
            as_yaml = True
            j += 1
            continue
        query_words.append(a)  # unknown args join the query
        j += 1
    query = " ".join(query_words).strip()
    if not query:
        print("Error: recall requires <query>", file=sys.stderr)
        return None, 1
    return {"k": k, "filter_expr": filter_expr, "as_yaml": as_yaml, "query": query}, 0


def _parse_analyze_args(rest: list[str]):
    """Analyze flag parsing parity (memo_cli.py:806-880)."""
    filter_expr, fields, stats_key = None, None, None
    limit, offset = DEFAULT_LIMIT, DEFAULT_OFFSET
    j = 0
    while j < len(rest):
        a = rest[j]
        if a == "--filter":
            if j + 1 >= len(rest):
                print("Error: --filter requires a filter expression", file=sys.stderr)
                return None, 1
            filter_expr = rest[j + 1]
            j += 2
            continue
        if a == "--fields":
            if j + 1 >= len(rest):
                print("Error: --fields requires a comma-separated field list", file=sys.stderr)
                return None, 1
            parsed = [f.strip() for f in rest[j + 1].split(",") if f.strip()]
            if not parsed:
                print("Error: --fields requires at least one field", file=sys.stderr)
                return None, 1
            fields = parsed
            j += 2
            continue
        if a == "--stats":
            if j + 1 >= len(rest):
                print("Error: --stats requires a key", file=sys.stderr)
                return None, 1
            stats_key = rest[j + 1].strip()
            if not stats_key:
                print("Error: --stats requires a non-empty key", file=sys.stderr)
                return None, 1
            j += 2
            continue
        if a in ("--limit", "--offset"):
            if j + 1 >= len(rest):
                print(f"Error: {a} requires an integer", file=sys.stderr)
                return None, 1
            try:
                val = int(rest[j + 1])
            except ValueError:
                print(f"Error: {a} requires an integer", file=sys.stderr)
                return None, 1
            if a == "--limit":
                limit = val
            else:
                offset = val
            j += 2
            continue
        print(f"Error: unknown analyze option '{a}'", file=sys.stderr)
        return None, 1
    if filter_expr is None:
        print("Error: analyze requires --filter <expr>", file=sys.stderr)
        return None, 1
    return {
        "filter_expr": filter_expr,
        "fields": fields,
        "stats_key": stats_key,
        "limit": limit,
        "offset": offset,
    }, 0


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    base: str | None = None
    verbose = False
    # global flags (memo_cli.py:727-756)
    args: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "-f":
            if i + 1 >= len(argv):
                print("Error: -f requires a value", file=sys.stderr)
                return 1
            base = argv[i + 1]
            if base.strip() == "":
                print("Error: -f requires a non-empty value", file=sys.stderr)
                return 1
            i += 2
            continue
        if a == "-v":
            verbose = True
            i += 1
            continue
        args.append(a)
        i += 1
    if not args or args[0] in ("--help", "help"):
        print_help()
        return 0
    verb, rest = args[0], args[1:]
    if base is None:
        print("Error: -f <base> is required", file=sys.stderr)
        print_help()
        return 1

    if verb == "clean":
        if rest:
            print("Error: clean does not accept extra arguments", file=sys.stderr)
            return 1
        return cmd_clean(base)
    if verb == "save":
        if len(rest) != 1:
            print("Error: save requires exactly one <yaml_file>", file=sys.stderr)
            return 1
        return cmd_save(base, rest[0], verbose)
    if verb == "reindex":
        if rest:
            print("Error: reindex does not accept extra arguments", file=sys.stderr)
            return 1
        return cmd_reindex(base, verbose)
    if verb == "recall":
        parsed, rc = _parse_recall_args(rest)
        if rc != 0:
            return rc
        return cmd_recall(
            base, parsed["query"], parsed["k"], parsed["filter_expr"],
            parsed["as_yaml"], verbose,
        )
    if verb == "analyze":
        parsed, rc = _parse_analyze_args(rest)
        if rc != 0:
            return rc
        return cmd_analyze(
            base, parsed["filter_expr"], parsed["fields"], parsed["stats_key"],
            parsed["limit"], parsed["offset"], verbose,
        )
    print(f"Error: unknown command '{verb}'", file=sys.stderr)
    print_help()
    return 1

if __name__ == "__main__":
    raise SystemExit(main())
