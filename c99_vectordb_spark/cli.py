"""Argv-compatible CLI shell over the Spark engine (SURVEY §2.9).

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

Only ``recall`` and ``analyze`` use Spark. ``save``, ``reindex`` and
``clean`` run in this process alone: the two writers apply their change
to the parsed rows, embed them and write ``<base>.emb`` with pyarrow, and
touch no session, not even a caller's active one. A verb that launches
its own driver JVM starts it with a short-lived process's profile
(``CLI_JAVA_OPTIONS``, ``CLI_CONF``) and maps Spark's classes from a
per-user class-data archive (``class_archive``), which the first such
verb writes; ``-v`` reports the archive as used, created or off on
stderr. A verb run in a process with an active session uses that session
as it is.

Usage: ``python -m c99_vectordb_spark.cli [-f base] [-v] <verb> ...``
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from pyspark.sql import SparkSession, functions as F

from . import fmt, hashing
from .class_archive import ClassArchive
from .functions.embed import embed_rows, recall_terms
from .model import (
    DEFAULT_K,
    DEFAULT_LIMIT,
    DEFAULT_OFFSET,
    DIM,
    RECORDS_SCHEMA,
    STATS_TOP_N,
)
from .operators import analyze as A, filters as Flt, recall as R
from .session import driver_memory
from .sources import yaml_io
from .sources.store import swap_write


def _log(verbose: bool, msg: str) -> None:
    if verbose:
        print(msg, file=sys.stderr)


def _hint_native_migration(verbose: bool, yaml_path: str) -> None:
    """-v hint once the YAML reaches DISTRIBUTED_PARSE_BYTES:
    the adapter path tracks the reference within ~1.6x (HEADTOHEAD.md)
    because it pays the YAML parse + JVM round-trips; the native
    parquet store measured 2.5-8x FASTER than the reference. Surfaced
    here so the measured caveat reaches users before their store grows
    further."""
    if not verbose:
        return
    try:
        size = os.path.getsize(yaml_path)
    except OSError:
        return
    if size >= yaml_io.DISTRIBUTED_PARSE_BYTES:
        _log(
            verbose,
            f"hint: {yaml_path} is {size >> 20} MiB; the YAML adapter "
            "path costs ~1.6x the native parquet store on reads "
            "(HEADTOHEAD.md) — consider migrating: save once, then "
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


def _read_rows_or_error(yaml_path: str):
    """The parsed rows of the database YAML with the reference's error
    contract (memo_cli.py:338-341 etc): any load failure prints one line
    to stderr and the verb returns 1 — never a traceback."""
    try:
        return yaml_io.read_records_yaml(yaml_path), 0
    except Exception as e:  # noqa: BLE001 — the reference catches Exception
        print(
            f"Error: failed to load database YAML '{yaml_path}': {e}",
            file=sys.stderr,
        )
        return None, 1


def _yaml_sha256(yaml_path: str) -> str | None:
    import hashlib

    try:
        with open(yaml_path, "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()
    except OSError:
        return None


#: Driver-JVM profile for a verb's short-lived process: it runs a few
#: small jobs and exits, so C2 compilation (about 11 CPU-s of a 5k-record
#: cold recall on 4 cores) never pays back, and the parallel GC's worker
#: threads and heap sizing cost more than they save. The JVM's own log
#: lines go to stderr, never into the result on stdout (by default its
#: warnings go to stdout), and the class-data archive's are off.
#: ``class_archive`` adds the archive's flag.
CLI_JAVA_OPTIONS = (
    "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
    " -Xlog:disable -Xlog:all=warning,cds*=off:stderr"
)
#: Session confs of the CLI's profile. PySpark's call-site capture, read
#: once per process, costs each ``pyspark.sql.functions`` call about four
#: py4j round trips, and the first one imports IPython when it is
#: installed; a verb's error output does not use the call site.
CLI_CONF = {"spark.python.sql.dataFrameDebugging.enabled": "false"}


def _get_spark(java_options: str = CLI_JAVA_OPTIONS) -> SparkSession:
    from .session import get_spark

    return get_spark("memo-spark-cli", java_options=java_options, conf=CLI_CONF)


def _jvm_flags(spark) -> str:
    """The driver JVM's -X/-XX flags, as it was started."""
    mgmt = spark.sparkContext._jvm.java.lang.management
    args = mgmt.ManagementFactory.getRuntimeMXBean().getInputArguments()
    return " ".join(a for a in args if a.startswith("-X"))


def cmd_recall(spark, base, query, k, filter_expr, as_yaml, verbose) -> int:
    yaml_path, _ = _db_paths(base)
    k = R.clamp_k(k)
    rows, rc = _read_rows_or_error(yaml_path)
    if rc:
        return rc
    records = yaml_io.rows_to_df(spark, rows, RECORDS_SCHEMA)
    # score the parsed bodies against the query here, on the driver:
    # the recall boots no Python worker and hands Spark two integers per
    # record
    t = time.perf_counter()
    embeddings = recall_terms(spark, [row[:2] for row in rows], query)
    # R4: diagnostics to stderr only — stdout is the result contract
    # (memo_cli.py:38-40)
    _log(
        verbose,
        f"recall: scored {len(rows)} records on the driver in "
        f"{time.perf_counter() - t:.2f} s",
    )
    _log(verbose, f"loaded {len(rows)} records from {yaml_path}")
    _log(verbose, f"recall k={k} filter={'no' if filter_expr is None else 'yes'}")
    _hint_native_migration(verbose, yaml_path)
    # the frames now hold what the recall reads; the parsed rows, as
    # large as the store, need not live through its Spark job
    del rows
    if not as_yaml:
        print(fmt.recall_header(k))
    fcol = None
    # `is not None`, not truthiness: --filter "" parses to the EMPTY
    # map, which still applies the nonempty-metadata gate
    # (memo_cli.py:483-506) — a falsy check would skip filtering
    if filter_expr is not None:
        try:
            fcol = Flt.compile_filter(
                filter_expr,
                Flt.map_resolver(),
                nonempty=Flt.records_nonempty_metadata(),
            )
        except ValueError as e:
            print(f"Error: invalid --filter expression: {e}", file=sys.stderr)
            return 1
    hits = [
        (r.id, r.score, r.body)
        for r in R.recall(
            records, query, k=k, filter_col=fcol, dim=DIM, embeddings=embeddings
        ).collect()
    ]
    if as_yaml:
        print(fmt.recall_yaml(hits))
    else:
        for doc_id, score, body in hits:
            print("\n".join(fmt.recall_hit(doc_id, score, body)))
    return 0


def cmd_analyze(spark, base, filter_expr, fields, stats_key, limit, offset) -> int:
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
    rows, rc = _read_rows_or_error(yaml_path)
    if rc:
        return rc
    try:
        fcol = Flt.compile_filter(
            filter_expr, Flt.map_resolver(), nonempty=Flt.records_nonempty_metadata()
        )
    except ValueError as e:
        print(f"Error: invalid --filter expression: {e}", file=sys.stderr)
        return 1
    # Spark filters, counts, pages and aggregates; the cells render from
    # the parsed rows (row i has id i) at the ids it returns
    matches = yaml_io.rows_to_df(spark, rows, RECORDS_SCHEMA).filter(fcol).cache()
    try:
        print(fmt.matched(matches.count()))
        if stats_key is not None:
            return _print_stats(matches, stats_key, rows)
        # default projection: id + first 3 sorted metadata keys
        # (memo_cli.py:560-565)
        selected = fields if fields else ["id", *A.default_fields(matches)]
        page = matches.orderBy("id").offset(offset).limit(limit).select("id").collect()
    finally:
        matches.unpersist()
    table = []
    for r in page:
        md = rows[r.id][2] or {}
        table.append([_cell(r.id, md, field) for field in selected])
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


def _print_stats(matches, key: str, rows) -> int:
    """Stats block (memo_cli.py:581-633): the matched values counted by
    their format_cell rendering (memo_cli.py:588). Top-4 tie-break: the
    reference's Counter insertion order equals first-occurrence order
    of an id-ascending scan, so (count desc, min(id) asc) reproduces
    it exactly."""
    numeric = date_range = None
    if key == "metadata":
        # each matched record counts its WHOLE metadata dict
        # (memo_cli.py:543-547); a dict is never numeric or date-like
        # (float(str(dict)) and parse_iso both fail)
        groups = [
            (fmt.format_cell(rows[r.id][2] or {}), 1, r.id)
            for r in matches.select("id").collect()
        ]
    else:
        groups, numeric, date_range = _value_stats(matches, key, rows)
    # (count, first id) per rendering
    counts: dict[str, list[int]] = {}
    for shown, n, first_id in groups:
        c = counts.setdefault(shown, [0, first_id])
        c[0] += n
        c[1] = min(c[1], first_id)
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1][0], kv[1][1]))
    top = [(shown, n) for shown, (n, _) in ranked[:STATS_TOP_N]]
    other = None
    if len(ranked) > STATS_TOP_N:
        residual = sum(n for _, (n, _) in ranked[STATS_TOP_N:])
        other = (len(ranked) - STATS_TOP_N, residual)
    print(fmt.stats_block(key, len(ranked), top, other, numeric, date_range))
    return 0


def _value_stats(matches, key: str, rows):
    """One key's (rendering, count, first id) groups and its numeric or
    date-like range, aggregated by Spark. A group holds one str() (the
    filter's, convert.split_metadata) of one type, so its values render
    alike: as format_cell of the value at its first id. Groups of
    different types can render alike too (1 and '1', [a] and '[a]');
    the caller merges them. Nulls are dropped first
    (memo_cli.py:583-586)."""
    k = key[len("metadata.") :] if key.startswith("metadata.") else key
    if key == "id":
        value = F.col("id").cast("string")
        numeric_src = F.col("id").cast("double")
        tag = F.lit("int")
    else:
        tag = F.coalesce(F.col("metadata_types").getItem(k), F.lit("str"))
        value = F.when(tag != "null", F.col("metadata").getItem(k))
        # reference numeric path: isinstance(v,(int,float)) OR float(str(v));
        # booleans are ints in python -> True=1.0 (memo_cli.py:601-604)
        numeric_src = F.when(tag == "bool", (F.col("metadata").getItem(k) == "True").cast("double")).otherwise(
            F.col("metadata").getItem(k).try_cast("double")
        )
    vals = matches.select(
        F.col("id").alias("rid"), value.alias("v"), numeric_src.alias("num"), tag.alias("tag")
    ).filter(F.col("v").isNotNull()).cache()
    try:
        groups = (
            vals.groupBy("v", "tag")
            .agg(F.count(F.lit(1)).alias("count"), F.min("rid").alias("first_id"))
            .collect()
        )
        numeric = None
        date_range = None
        agg = vals.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bool_and(F.col("num").isNotNull()), F.lit(False)).alias("ok"),
            F.min("num").alias("mn"),
            F.max("num").alias("mx"),
            F.avg("num").alias("av"),
        ).collect()[0]
        if agg.n > 0 and agg.ok:
            numeric = (agg.mn, agg.mx, agg.av)
        else:
            d = A.date_stats(vals.filter(F.col("tag") == "str"), F.col("v")).collect()[0]
            if d.n == agg.n and agg.n > 0 and d.date_ok:
                date_range = (d.dmin, d.dmax)
    finally:
        vals.unpersist()
    rendered = [
        (
            r.v if key == "id"
            else fmt.format_cell(yaml_io.str_keys(rows[r.first_id][2])[k]),
            r["count"],
            r.first_id,
        )
        for r in groups
    ]
    return rendered, numeric, date_range


def cmd_save(base, save_path, verbose) -> int:
    yaml_path, emb_path = _db_paths(base)
    try:
        with open(save_path, encoding="utf-8") as f:
            batch = yaml_io.parse_save_batch_yaml(f.read())
    except (OSError, yaml_io.YamlValidationError) as e:
        print(f"Error: {e}", file=sys.stderr)
        return 1
    rows, rc = _read_rows_or_error(yaml_path)
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
    rows, rc = _read_rows_or_error(yaml_path)
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

    # the verbs that need no Spark run before any session is looked up
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

    # validate the whole argv BEFORE booting Spark — a pure parse error
    # (recall -k abc) shouldn't pay a JVM start to print one line
    if verb == "recall":
        parsed, rc = _parse_recall_args(rest)
    elif verb == "analyze":
        parsed, rc = _parse_analyze_args(rest)
    else:
        print(f"Error: unknown command '{verb}'", file=sys.stderr)
        print_help()
        return 1
    if rc != 0:
        return rc

    # an in-process caller's session is used as it is: re-running the
    # builder on it would overwrite the caller's runtime confs
    t = time.perf_counter()
    spark = SparkSession.getActiveSession()
    owns_session = spark is None
    if owns_session:
        archive = ClassArchive(CLI_JAVA_OPTIONS, driver_memory())
        with archive.launch_env():
            spark = _get_spark(archive.java_options)
    try:
        if verbose:
            _log(
                verbose,
                f"startup: get_spark {time.perf_counter() - t:.2f} s"
                f"{'' if owns_session else ' (active session reused)'}; "
                f"JVM options: {_jvm_flags(spark)}",
            )
        if verb == "recall":
            return cmd_recall(
                spark, base, parsed["query"], parsed["k"],
                parsed["filter_expr"], parsed["as_yaml"], verbose,
            )
        return cmd_analyze(
            spark, base, parsed["filter_expr"], parsed["fields"],
            parsed["stats_key"], parsed["limit"], parsed["offset"],
        )
    finally:
        if owns_session:
            spark.stop()
            _log(verbose, f"class archive: {archive.finish()}")


if __name__ == "__main__":
    raise SystemExit(main())
