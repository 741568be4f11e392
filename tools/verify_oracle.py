#!/usr/bin/env python
"""Local mimic of the driver's t2 correctness gate.

Runs every __spark_entry__.queries()[name] at sf0.01 (or $SF_DIR) and
compares row-count, column names, and exact values (order-insensitive,
columns sorted by name) against the DuckDB oracle_sql()[name].

Usage: python tools/verify_oracle.py [name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> tuple[pd.DataFrame, dict[str, str]]:
    """Canonicalize for order-insensitive compare; return (frame, dtype kinds).

    The driver's hash gate is TYPE-sensitive: DuckDB HUGEINT surfacing as
    float64 against Spark's int64 is a red row even when every value matches
    (round-4 postmortem). So we record each column's dtype *kind* before any
    width normalization and the caller fails on kind divergence.
    Kinds: i=integer (any width, incl. unsigned), f=float, b=bool,
    M=datetime, O=object/string.

    DRIVER-STRICT on complex cells: the driver's canonicalizer dies on
    list/array cells (unhashable in its pandas sort — round 5's one red
    row). This gate used to tuple-ize them, masking exactly that class;
    it now records the offending columns so the caller FAILS the query
    instead (the same local-must-be-stricter lesson as the round-4
    dtype-kind fix, one layer up).
    """
    import numpy as np

    df = df.reindex(sorted(df.columns), axis=1)
    kinds: dict[str, str] = {}
    complex_cols: list[str] = []
    for c in df.columns:
        k = df[c].dtype.kind
        kinds[c] = "i" if k in "iu" else k
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_object_dtype(df[c]):
            if df[c].map(
                lambda v: isinstance(v, (list, tuple, dict, np.ndarray))
            ).any():
                complex_cols.append(c)
                # make every complex cell ORDERABLE so the sort below
                # still works for diagnostics — dicts have no < and
                # would otherwise blow up the whole verify run, not
                # just this query's row
                df[c] = df[c].map(
                    lambda v: tuple(v)
                    if isinstance(v, (list, tuple, np.ndarray))
                    else (repr(sorted(v.items())) if isinstance(v, dict) else v)
                )
    return (
        df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True),
        kinds,
        complex_cols,
    )


_WIDE_INT_TYPES = ("HUGEINT", "UHUGEINT")


def typesweep(con, oracles: dict[str, str], only: set[str] | None = None) -> list[str]:
    """DESCRIBE every oracle and flag 128-bit integer output columns.

    DuckDB SUM(BIGINT) returns HUGEINT; pandas renders it float64, the
    driver's type-sensitive hash then diverges from Spark's BIGINT even when
    the values are identical. Every windowed/aggregated SUM over an integer
    column must be cast back with ::BIGINT in the oracle SQL.
    """
    bad = []
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"TYPESWEEP-ERR {name}: {e}")
            bad.append(name)
            continue
        wide = [(cn, ct) for cn, ct, *_ in desc if any(w in ct.upper() for w in _WIDE_INT_TYPES)]
        if wide:
            print(f"TYPESWEEP-FAIL {name}: {wide}")
            bad.append(name)
    return bad


def main() -> int:
    import __spark_entry__ as entrymod
    from c99_vectordb_spark.session import get_spark

    argv = [a for a in sys.argv[1:] if a != "--typesweep"]
    sweep_only = "--typesweep" in sys.argv[1:]
    only = set(argv)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    wide = typesweep(con, oracles, only or None)
    if wide:
        print(f"typesweep: {len(wide)} oracles emit 128-bit int columns: {wide}")
        if sweep_only:
            return 1
    elif sweep_only:
        print("typesweep: clean")
        return 0

    spark = get_spark("verify_oracle", shuffle_partitions=8)

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"SKIP-ORACLE {name}: rows={len(sdf)} ({time.time()-t0:.1f}s)")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        try:
            (a, ak, acx), (b, bk, bcx) = canon(sdf), canon(ddf)
        except Exception as e:  # noqa: BLE001 — one query's canon crash
            # must not abort the other 150 queries' verification
            print(f"FAIL {name}: canonicalize error: {e}")
            failures.append(name)
            continue
        status = []
        if acx or bcx:
            status.append(
                f"complex (driver-unhashable) columns: spark={acx} duck={bcx}"
            )
        if len(a) != len(b):
            status.append(f"rowcount {len(a)} != {len(b)}")
        if list(a.columns) != list(b.columns):
            status.append(f"columns {list(a.columns)} != {list(b.columns)}")
        elif ak != bk:
            mism = {c: (ak[c], bk[c]) for c in ak if ak[c] != bk[c]}
            status.append(f"dtype-kind mismatch (spark, duck): {mism}")
        if not status:
            if len(a) and not a.equals(b):
                # find first differing cell for diagnostics
                diffs = (a != b) & ~(a.isna() & b.isna())
                ndiff = int(diffs.to_numpy().sum())
                if ndiff:
                    r, c = next(
                        (i, c) for c in diffs.columns for i in diffs.index[diffs[c]]
                    )
                    status.append(
                        f"{ndiff} differing cells; first at row {r} col {c}: "
                        f"spark={a.at[r, c]!r} duck={b.at[r, c]!r}"
                    )
        if status:
            print(f"FAIL {name}: {'; '.join(status)}")
            failures.append(name)
        else:
            print(f"OK   {name}: rows={len(a)} ({time.time()-t0:.1f}s)")

    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
