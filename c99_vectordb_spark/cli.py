"""Argv-compatible CLI shell over the Spark engine (SURVEY §2.9).

Verbs and flags mirror /root/reference/memo_cli.py:696-949 (help text,
parse_args, parse_recall_args, parse_analyze_args, main): ``save``,
``recall``, ``analyze``, ``reindex``, ``clean`` with global ``-f``
(db base) and ``-v`` (stderr diagnostics; stdout is result-only).

Storage layout: ``<base>.yaml`` is the compatibility source of truth
(S1/S2 adapter) and ``<base>.emb/`` holds the derived embeddings
parquet (the FAISS ``.memo`` replacement). Recall reuses the derived
index only when its recorded source fingerprint (``_SOURCE_SHA256``,
the hash of the YAML it was built from) still matches — any external
edit to the YAML makes recall fall back to in-flight embedding, so the
reference's save-only-index desync quirk (M6) STILL cannot occur;
``reindex`` rewrites both canonically.

Usage: ``python -m c99_vectordb_spark.cli [-f base] [-v] <verb> ...``
"""

from __future__ import annotations

import os
import shutil
import sys

import yaml as _yaml
from pyspark.sql import SparkSession, functions as F

from . import fmt
from .functions.embed import build_embeddings
from .model import DEFAULT_K, DEFAULT_LIMIT, DEFAULT_OFFSET, DIM, STATS_TOP_N
from .operators import analyze as A, filters as Flt, mutate as M, recall as R
from .sources import yaml_io
from .sources.store import _swap_write


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


def _load_records_or_error(spark, yaml_path: str):
    """Load the database YAML with the reference's error contract
    (memo_cli.py:338-341 etc): any load failure prints one line to
    stderr and the verb returns 1 — never a traceback."""
    try:
        return yaml_io.load_records_yaml(spark, yaml_path), 0
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


def _get_spark() -> SparkSession:
    from .session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    return get_spark("memo-spark-cli")


def _display_cell(scalar, tag, list_val, yrepr=None):
    """format_cell parity (memo_cli.py:552-557) on the ORIGINAL value.

    With the adapter's metadata_yaml column the original object comes
    back exactly (safe_load of the canonical per-key dump), so
    format_cell renders byte-identically to the reference — including
    int list elements ([1, 2], not ['1', '2']) and strings needing
    YAML quotes. The stringly fallback covers rows without the column."""
    if yrepr is not None:
        return fmt.format_cell(_yaml.safe_load(yrepr))
    if list_val is not None:
        return fmt.format_cell(list(list_val))
    if scalar is None:
        return ""
    if tag in ("map", "list"):
        try:
            return fmt.format_cell(_yaml.safe_load(scalar))
        except _yaml.YAMLError:
            return scalar
    return scalar


def cmd_recall(spark, base, query, k, filter_expr, as_yaml, verbose) -> int:
    yaml_path, emb_path = _db_paths(base)
    k = R.clamp_k(k)
    records, rc = _load_records_or_error(spark, yaml_path)
    if rc:
        return rc
    # Use the prebuilt index when present AND still derived from this
    # exact YAML (fingerprint check) — the reference's recall reads its
    # .memo index rather than re-embedding the corpus per query
    # (memo_cli.py:470-479). A missing/corrupt/stale dir self-heals to
    # in-flight embedding (S3 semantics, memo_cli.py:251-262), which is
    # how the M6 desync quirk stays impossible here. recall() joins
    # embeddings back to the filtered record set, so results are
    # identical either way.
    embeddings = None
    if os.path.isdir(emb_path):
        try:
            with open(os.path.join(emb_path, "_SOURCE_SHA256")) as f:
                recorded = f.read().strip()
            if recorded and recorded == _yaml_sha256(yaml_path):
                embeddings = spark.read.parquet(emb_path)
        except Exception:
            embeddings = None
    # R4: diagnostics to stderr only — stdout is the result contract
    # (memo_cli.py:38-40). The count is a full Spark job, so it only
    # runs when -v is actually on.
    if verbose:
        _log(verbose, f"loaded {records.count()} records from {yaml_path}")
        _log(verbose, f"recall k={k} filter={'yes' if filter_expr else 'no'}")
        _hint_native_migration(verbose, yaml_path)
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
    records, rc = _load_records_or_error(spark, yaml_path)
    if rc:
        return rc
    try:
        fcol = Flt.compile_filter(
            filter_expr, Flt.map_resolver(), nonempty=Flt.records_nonempty_metadata()
        )
    except ValueError as e:
        print(f"Error: invalid --filter expression: {e}", file=sys.stderr)
        return 1
    matches = records.filter(fcol).cache()
    n = matches.count()
    print(fmt.matched(n))
    if stats_key is not None:
        return _print_stats(matches, stats_key)
    # default projection: id + first 3 sorted metadata keys
    # (memo_cli.py:560-565)
    selected = fields if fields else ["id", *A.default_fields(matches)]
    extra = [
        c
        for c in ("metadata_yaml", "metadata_keys")
        if c in matches.columns
    ]
    page = (
        matches.orderBy("id")
        .offset(offset)
        .limit(limit)
        .select("id", "metadata", "metadata_types", "metadata_lists", *extra)
        .collect()
    )
    rows = []
    for r in page:
        row = []
        for field in selected:
            if field == "id":
                row.append(str(r.id))
                continue
            if field == "metadata":
                row.append(fmt.format_cell(yaml_io.revive_metadata(r)))
                continue
            key = field[len("metadata.") :] if field.startswith("metadata.") else field
            try:
                yrepr = (r.metadata_yaml or {}).get(key)
            except AttributeError:
                yrepr = None
            row.append(
                _display_cell(
                    (r.metadata or {}).get(key),
                    (r.metadata_types or {}).get(key),
                    (r.metadata_lists or {}).get(key),
                    yrepr,
                )
            )
        rows.append(row)
    headers = ["ID" if f == "id" else f for f in selected]
    out = fmt.table(headers, rows)
    if out:
        print(out)
    return 0


def _print_stats_metadata(matches, key: str) -> int:
    """--stats metadata special case (memo_cli.py:543-547 resolve +
    581-597): each matched record contributes its WHOLE metadata dict,
    counted by format_cell rendering. Driver-side over the collected
    matches — the reference is driver-side too, and the YAML adapter is
    human-scale by contract. Dicts are never numeric or date-like
    (float(str(dict)) and parse_iso both fail), so no range prints."""
    from collections import Counter

    extras = [
        c
        for c in ("metadata_yaml", "metadata_keys")
        if c in matches.columns
    ]
    rows = (
        matches.orderBy("id")
        .select("id", "metadata", "metadata_types", "metadata_lists", *extras)
        .collect()
    )
    counter: Counter = Counter(
        fmt.format_cell(yaml_io.revive_metadata(r)) for r in rows
    )
    top = counter.most_common(STATS_TOP_N)
    other = None
    if len(counter) > STATS_TOP_N:
        residual = sum(counter.values()) - sum(c for _, c in top)
        other = (len(counter) - STATS_TOP_N, residual)
    print(fmt.stats_block(key, len(counter), top, other, None, None))
    return 0


def _print_stats(matches, key: str) -> int:
    """Stats block (memo_cli.py:581-633). Top-4 tie-break: the
    reference's Counter insertion order equals first-occurrence order
    of an id-ascending scan, so (count desc, min(id) asc) reproduces
    it exactly AND is deterministic distributed."""
    if key == "metadata":
        return _print_stats_metadata(matches, key)
    k = key[len("metadata.") :] if key.startswith("metadata.") else key
    if key == "id":
        value = F.col("id").cast("string")
        numeric_src = F.col("id").cast("double")
        tag = F.lit("int")
    else:
        tag = F.coalesce(F.col("metadata_types").getItem(k), F.lit("str"))
        # list/map values count by their format_cell rendering
        # (memo_cli.py:588): the canonical flow dump in metadata_yaml
        # IS that rendering (quoted elements included); the legacy
        # join/repr forms are the fallback for rows without the column
        lv = F.col("metadata_lists").getItem(k)
        legacy = F.when(
            lv.isNotNull(),
            F.concat(F.lit("["), F.array_join(lv, ", "), F.lit("]")),
        ).otherwise(F.col("metadata").getItem(k))
        if "metadata_yaml" in matches.columns:
            value = F.when(
                tag.isin("list", "map"),
                F.coalesce(F.col("metadata_yaml").getItem(k), legacy),
            ).otherwise(F.col("metadata").getItem(k))
        else:
            value = legacy
        # reference numeric path: isinstance(v,(int,float)) OR float(str(v));
        # booleans are ints in python -> True=1.0 (memo_cli.py:601-604)
        numeric_src = F.when(tag == "bool", (F.col("metadata").getItem(k) == "True").cast("double")).otherwise(
            F.col("metadata").getItem(k).try_cast("double")
        )
    vals = matches.select(
        F.col("id").alias("rid"), value.alias("v"), numeric_src.alias("num"), tag.alias("tag")
    ).filter(F.col("v").isNotNull()).cache()

    counts = (
        vals.groupBy("v")
        .agg(F.count(F.lit(1)).alias("count"), F.min("rid").alias("first_id"))
        .orderBy(F.desc("count"), F.asc("first_id"))
        .collect()
    )
    cardinality = len(counts)
    top = [(r.v, r["count"]) for r in counts[:STATS_TOP_N]]
    other = None
    if cardinality > STATS_TOP_N:
        residual = sum(r["count"] for r in counts[STATS_TOP_N:])
        other = (cardinality - STATS_TOP_N, residual)

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
        total = vals.count()
        if d.n == total and total > 0 and d.date_ok:
            date_range = (d.dmin, d.dmax)
    print(
        fmt.stats_block(key, cardinality, top, other, numeric, date_range)
    )
    return 0


def cmd_save(spark, base, save_path, verbose) -> int:
    yaml_path, emb_path = _db_paths(base)
    try:
        with open(save_path, encoding="utf-8") as f:
            rows = yaml_io.parse_save_batch_yaml(f.read())
    except (OSError, yaml_io.YamlValidationError) as e:
        print(f"Error: {e}", file=sys.stderr)
        return 1
    batch = spark.createDataFrame(rows, yaml_io.YAML_BATCH_SCHEMA)
    records, rc = _load_records_or_error(spark, yaml_path)
    if rc:
        return rc
    # parse the YAML once across the verb's four actions (validate,
    # max-id, dump, embed) instead of once per action
    records = records.cache()
    # the try starts BEFORE the first action on the cached frame, so a
    # failure in validate_overwrites / the max-id collect cannot leak
    # the cached blocks (r12 advice #1)
    try:
        bad_ids = set(M.validate_overwrites(records, batch))
        max_id = (
            records.agg(F.coalesce(F.max("id"), F.lit(-1))).collect()[0][0]
        )
        # echo in apply order (memo_cli.py:420-440): the reference
        # prints a Memorized line per entry AS IT GOES and errors on
        # the FIRST bad overwrite in batch order — earlier echoes
        # already emitted, but nothing is written to disk (files are
        # saved after the loop)
        next_id = max_id + 1
        for rid, body, *_ in rows:
            if rid is None:
                print(fmt.memorized(body, next_id))
                next_id += 1
            elif rid in bad_ids:
                print(
                    f"Error: override id {rid} does not exist",
                    file=sys.stderr,
                )
                return 1
            else:
                print(fmt.memorized(body, rid))
        merged = M.upsert(records, batch).cache()
        try:
            _log(
                verbose,
                f"save: {len(rows)} entries applied onto max_id={max_id}",
            )
            yaml_io.save_records_yaml(merged.orderBy("id"), yaml_path)
            _write_embeddings(merged, emb_path, yaml_path)
        finally:
            merged.unpersist()
        return 0
    finally:
        records.unpersist()


def _write_embeddings(records, emb_path: str, yaml_path: str) -> None:
    # the index records which YAML it derives from (an underscore-
    # prefixed sidecar, invisible to Spark's parquet reader, committed
    # by the same rename as the table); recall only trusts the index
    # while the fingerprint still matches
    _swap_write(
        build_embeddings(records, dim=DIM),
        emb_path,
        marker=("_SOURCE_SHA256", _yaml_sha256(yaml_path)),
    )


def cmd_reindex(spark, base, verbose) -> int:
    yaml_path, emb_path = _db_paths(base)
    _hint_native_migration(verbose, yaml_path)
    records, rc = _load_records_or_error(spark, yaml_path)
    if rc:
        return rc
    # scan the parsed rows once: without the cache every downstream
    # action (count, compact, dump, embed) rebuilds them
    records = records.cache()
    try:
        n_before = records.count()
        compacted = M.compact(records).cache()
        # the try starts right after .cache(), so a failed count or
        # write cannot leak the cached blocks
        try:
            n_after = compacted.count()
            yaml_io.save_records_yaml(compacted.orderBy("id"), yaml_path)
            _write_embeddings(compacted, emb_path, yaml_path)
        finally:
            compacted.unpersist()
    finally:
        records.unpersist()
    print(f"Rebuilt index from {os.path.basename(yaml_path)}")
    print(f"Wrote index: {os.path.basename(emb_path)}")
    if n_before - n_after > 0:
        print(fmt.compacted(n_before - n_after))
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
    if verb not in ("save", "recall", "analyze", "reindex"):
        print(f"Error: unknown command '{verb}'", file=sys.stderr)
        print_help()
        return 1

    # validate the whole argv BEFORE booting Spark — a pure parse error
    # (recall -k abc) shouldn't pay a JVM start to print one line
    parsed = None
    if verb == "save":
        if len(rest) != 1:
            print("Error: save requires exactly one <yaml_file>", file=sys.stderr)
            return 1
    elif verb == "recall":
        parsed, rc = _parse_recall_args(rest)
        if rc != 0:
            return rc
    elif verb == "analyze":
        parsed, rc = _parse_analyze_args(rest)
        if rc != 0:
            return rc
    elif rest:
        print("Error: reindex does not accept extra arguments", file=sys.stderr)
        return 1

    owns_session = SparkSession.getActiveSession() is None
    spark = _get_spark()
    try:
        if verb == "save":
            return cmd_save(spark, base, rest[0], verbose)
        if verb == "recall":
            return cmd_recall(
                spark, base, parsed["query"], parsed["k"],
                parsed["filter_expr"], parsed["as_yaml"], verbose,
            )
        if verb == "analyze":
            return cmd_analyze(
                spark, base, parsed["filter_expr"], parsed["fields"],
                parsed["stats_key"], parsed["limit"], parsed["offset"],
            )
        return cmd_reindex(spark, base, verbose)
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
