"""Column-level text building blocks shared across operators.

These are pure Spark SQL expressions (JVM-side, whole-stage-codegen
eligible — no Python in the hot path) mirroring the reference's text
handling (/root/reference/memo_cli.py:138-143,160).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..model import HASH_BASE, HASH_MOD

TOKEN_PATTERN = "[a-z0-9_]+"


def normalize_ws(c: Column) -> Column:
    """Collapse whitespace runs to single spaces, strip.

    Java \\s here is ASCII-only — this variant is the one DuckDB
    oracles mirror (RE2 \\s is also ASCII), used by the hash/dedup and
    token-count operators. The REFERENCE's Python \\s is Unicode; the
    reference-parity surface uses :func:`normalize_ws_unicode`."""
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def normalize_ws_unicode(c: Column) -> Column:
    """Whitespace collapse with UNICODE \\s ((?U) = Java
    UNICODE_CHARACTER_CLASS) — matches the reference's Python re
    semantics, where e.g. U+00A0 NBSP is whitespace
    (memo_cli.py:138-139). Python's \\s also matches the separators
    U+001C-U+001F, which Java's White_Space property leaves out, so the
    class names them; with them the two agree on every code point of the
    Basic Multilingual Plane."""
    return F.trim(F.regexp_replace(c, r"(?U)[\s\x1c-\x1f]+", " "))


def is_blank(c: Column) -> Column:
    """Whitespace-only / empty body test (memo_cli.py:142-143) —
    UNICODE whitespace, like the reference: a body of only NBSP is
    blank (skipped from recall, dropped by compaction). Oracle-tied
    operators that need the ASCII twin use :func:`is_blank_ascii`."""
    return normalize_ws_unicode(F.coalesce(c, F.lit(""))) == F.lit("")


def is_blank_ascii(c: Column) -> Column:
    """ASCII-\\s blank test — byte-exact DuckDB-oracle twin."""
    return normalize_ws(F.coalesce(c, F.lit(""))) == F.lit("")


def tokens(c: Column) -> Column:
    """Lowercased ``[a-z0-9_]+`` token array (memo_cli.py:160)."""
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_PATTERN), 0)


def token_hash(tok: Column) -> Column:
    """Stable polynomial rolling hash of one token (hashing.py spec).

    Pure fold over characters; exact-integer parity with the Python and
    DuckDB implementations.
    """
    chars = F.filter(F.split(tok, ""), lambda ch: ch != F.lit(""))
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda h, ch: (h * F.lit(HASH_BASE) + F.ascii(ch)) % F.lit(HASH_MOD),
    )


def string_hash(c: Column) -> Column:
    """token_hash applied to an arbitrary string column (fingerprints)."""
    return token_hash(c)


def string_hash2(c: Column) -> Column:
    """The SECOND independent polynomial fold (HASH_BASE2/HASH_MOD2 —
    hashing.token_hash2 spec). Pairs with :func:`string_hash` wherever
    an operator needs two independent hash functions of one key
    (wide fingerprints, Kirsch-Mitzenmacher Bloom probes)."""
    from ..model import HASH_BASE2, HASH_MOD2

    chars = F.filter(F.split(c, ""), lambda ch: ch != F.lit(""))
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda h, ch: (h * F.lit(HASH_BASE2) + F.ascii(ch)) % F.lit(HASH_MOD2),
    )


def string_hash_wide(c: Column) -> Column:
    """~60-bit wide fingerprint fold (hashing.fingerprint_wide spec):
    fp1 * HASH_MOD2 + fp2 with two independent polynomial folds —
    collision-safe dedup keys at corpus scale."""
    from ..model import HASH_MOD2

    return token_hash(c) * F.lit(HASH_MOD2) + string_hash2(c)


def floor_div_sql(expr: str, divisor: int) -> str:
    """Spark SQL for FLOORED integer division of a BIGINT expression by
    a positive integer literal — the semantics of Python ``//``.

    Spark's ``div`` truncates toward zero, so a negative dividend (a
    pre-1970 epoch bucketing into hours) lands one bucket HIGH (round-5
    advisor note). NOTE: DuckDB's integer ``//`` ALSO truncates toward
    zero (verified: ``(-7) // 2 = -3``) — an oracle twin must use
    :func:`c99_vectordb_spark.hashing.duckdb_floor_div_sql`, not bare
    ``//``, or the pair diverges on exactly the negative inputs this
    helper exists for (current testdata is all post-1970, so the
    oracles alone can't catch it). Pure integer arithmetic: exact at
    any int64 magnitude, unlike a float detour.
    """
    if divisor <= 0:
        raise ValueError(f"divisor must be positive, got {divisor}")
    return (
        f"(({expr}) div {divisor} - (CASE WHEN ({expr}) % {divisor} < 0 "
        f"THEN 1 ELSE 0 END))"
    )


def normalize_event_time(df: "DataFrame") -> "DataFrame":
    """Normalize the events table's ``ts`` column across driver testdata
    vintages to two canonical columns every downstream consumer uses:

      ``ts``     TIMESTAMP_NTZ  (microsecond precision, for windowing)
      ``ts_us``  BIGINT         (exact epoch microseconds, for integer math)

    Vintages observed: parquet TIMESTAMP(NANOS), which Spark reads only
    as BIGINT nanos under ``spark.sql.legacy.parquet.nanosAsLong``; and
    native micros TIMESTAMP, which Spark resolves as TIMESTAMP_NTZ.
    Both integer paths are exact: nanos use integer floor-division (a
    double roundtrip of epoch nanos carries ~0.25 us error, enough to
    flip a min-timestamp comparison), and the NTZ<->epoch casts are
    exact only because the session timezone is pinned UTC (session.py),
    which also makes ``ts_us`` equal DuckDB's ``epoch_us(ts)``.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":  # TIMESTAMP(NANOS)-as-long vintage
        return df.withColumn("ts_us", F.expr(floor_div_sql("ts", 1000))).withColumn(
            "ts", F.timestamp_micros(F.col("ts_us")).cast("timestamp_ntz")
        )
    ntz = F.col("ts").cast("timestamp_ntz")
    return df.withColumn("ts_us", F.unix_micros(ntz.cast("timestamp"))).withColumn(
        "ts", ntz
    )
