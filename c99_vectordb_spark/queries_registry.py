"""Registry of driver-checked queries and their DuckDB oracle twins.

Every entry demonstrates one operator (or a tight operator cluster)
from SURVEY.md §2 / §2.11. Conventions:

- each Spark callable takes (spark, sf_dir) and returns a DataFrame;
- every computed column is aliased identically in Spark and SQL (the
  driver sorts columns by name before value-hashing);
- hash-derived operators use the stable cross-engine hash spec
  (hashing.py) so results are *exact-integer* comparable;
- floating-point outputs are rounded to a fixed scale on BOTH sides;
- every ordering has a deterministic total tie-break.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import hashing
from .model import DIM

# ---------------------------------------------------------------------------
# shared fixtures (deterministic literals used by both engines)
# ---------------------------------------------------------------------------

RECALL_QUERY_TEXT = "spark join merge fast table scan"

#: deterministic 64-d query vector for the embeddings-table KNN
KNN_QUERY_64 = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read + schema-normalize the events table. Testdata vintages have
    carried ``ts`` both as parquet TIMESTAMP(NANOS) — readable only as
    BIGINT nanos under ``nanosAsLong``, set here so even a driver-built
    session without our factory defaults can read it — and as native
    micros TIMESTAMP. Downstream code touches only the canonical
    ``(ts TIMESTAMP_NTZ, ts_us BIGINT)`` pair, never raw ``ts``
    arithmetic, so either vintage works (functions.text
    ``normalize_event_time``)."""
    from .functions.text import normalize_event_time

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # normalize_event_time's NTZ->epoch conversion is exact only under
    # a UTC session — pin it here too (runtime-settable), because the
    # driver's own session may not use our factory defaults
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_event_time(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _duck_doc_vec_cte(dim: int) -> str:
    """DuckDB CTEs computing the signed-BoW integer vector (sparse form)
    of every document: (doc_id, bucket, w)."""
    return f"""
tok AS (
  SELECT doc_id, unnest({hashing.duckdb_tokens_sql('text')}) AS tok
  FROM documents
),
th AS (
  SELECT doc_id, {hashing.duckdb_token_hash_sql('tok')} AS h
  FROM tok
),
vec AS (
  SELECT doc_id, (h % {dim})::BIGINT AS bucket,
         SUM(CASE WHEN h % 2 = 1 THEN 1 ELSE -1 END)::BIGINT AS w
  FROM th
  GROUP BY 1, 2
)"""


# ---------------------------------------------------------------------------
# V2/V3 — recall over documents, exact integer squared-L2 (SURVEY §2.4)
# ---------------------------------------------------------------------------

def q_recall_topk_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive KNN over documents for a fixed query string; exact
    integer squared L2 between unnormalized signed-BoW vectors.

    Spark plan: parquet scan -> map-only pandas-UDF embed -> HOF score
    -> TakeOrderedAndProject (top-k heaps per partition; no shuffle of
    the full table — the 100 TB-safe shape).
    """
    from .functions.embed import embed_pandas_udf
    from .operators.recall import score_sq_l2_int_sparse

    q = hashing.embed_text_int(RECALL_QUERY_TEXT, DIM)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(F.col("doc_id").alias("id"), "text")
        .withColumn("vec", embed_pandas_udf(DIM)(F.col("text")))
        .select("id", score_sq_l2_int_sparse(F.col("vec"), q).alias("score"))
        .orderBy(F.asc("score"), F.asc("id"))
        .limit(10)
    )


def _oracle_recall_topk_int() -> str:
    qvec = hashing.embed_text_int(RECALL_QUERY_TEXT, DIM)
    q2 = sum(w * w for w in qvec)
    nonzero = [(b, w) for b, w in enumerate(qvec) if w]
    qrows = ", ".join(f"({b}, {w})" for b, w in nonzero)
    # |d - q|^2 = |d|^2 + |q|^2 - 2 d.q   (all integer-exact)
    return f"""
WITH {_duck_doc_vec_cte(DIM)},
norms AS (
  SELECT doc_id, SUM(w * w)::BIGINT AS d2 FROM vec GROUP BY 1
),
qv(bucket, w) AS (VALUES {qrows}),
dots AS (
  SELECT v.doc_id, SUM(v.w * qv.w)::BIGINT AS dot
  FROM vec v JOIN qv ON v.bucket = qv.bucket
  GROUP BY 1
)
SELECT d.doc_id AS id,
       (COALESCE(n.d2, 0) + {q2} - 2 * COALESCE(t.dot, 0))::BIGINT AS score
FROM documents d
LEFT JOIN norms n ON d.doc_id = n.doc_id
LEFT JOIN dots t ON d.doc_id = t.doc_id
ORDER BY score ASC, id ASC
LIMIT 10
"""


DIVERSE_N_CANDS = 20
DIVERSE_K = 5


def q_sim_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity re-ranking: top-20 candidates by exact integer
    relevance (same spec as recall_topk_int), reduced to 5 by greedy
    max-min selection on integer BoW dot-similarities
    (operators/similarity.greedy_max_min).

    Shape: candidate generation is the distributed TakeOrdered top-N;
    the rerank sees ONLY those N rows — their vectors are a bounded
    collect (same class as the BPE merge-rule collects), and the
    pairwise dot matrix is N^2/2 integer dots computed driver-side.
    At 100 TB nothing changes: N stays 20 regardless of corpus size.
    """
    from .functions.embed import embed_pandas_udf
    from .operators.recall import score_sq_l2_int_sparse
    from .operators.similarity import greedy_max_min

    q = hashing.embed_text_int(RECALL_QUERY_TEXT, DIM)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cands = (
        docs.select(F.col("doc_id").alias("id"), "text")
        .withColumn("vec", embed_pandas_udf(DIM)(F.col("text")))
        .select("id", "vec", score_sq_l2_int_sparse(F.col("vec"), q).alias("score"))
        .orderBy(F.asc("score"), F.asc("id"))
        .limit(DIVERSE_N_CANDS)
    )
    rows = cands.collect()
    vecs = {r.id: list(r.vec) for r in rows}
    ids = sorted(vecs)
    dots = {
        (a, b): sum(x * y for x, y in zip(vecs[a], vecs[b]))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
    }
    sel = greedy_max_min([(r.id, r.score) for r in rows], dots, DIVERSE_K)
    return spark.createDataFrame(sel, "rank LONG, id LONG, score LONG").orderBy("rank")


def _oracle_sim_diverse_topk(k: int = DIVERSE_K, n: int = DIVERSE_N_CANDS) -> str:
    qvec = hashing.embed_text_int(RECALL_QUERY_TEXT, DIM)
    q2 = sum(w * w for w in qvec)
    qrows = ", ".join(f"({b}, {w})" for b, w in enumerate(qvec) if w)
    stages = []
    sel_union = "SELECT doc_id, score FROM s1"
    final = "SELECT 1 AS rank, doc_id, score FROM s1"
    for t in range(2, k + 1):
        stages.append(f"""
sel{t - 1} AS ({sel_union}),
m{t} AS (
  SELECT c.doc_id, c.score, MAX(COALESCE(pd.dot, 0)) AS mx
  FROM cands c
  CROSS JOIN sel{t - 1} s
  LEFT JOIN pdots pd ON pd.a = least(c.doc_id, s.doc_id)
                    AND pd.b = greatest(c.doc_id, s.doc_id)
  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel{t - 1})
  GROUP BY c.doc_id, c.score
),
s{t} AS (SELECT doc_id, score FROM m{t} ORDER BY mx, score, doc_id LIMIT 1)""")
        sel_union += f" UNION ALL SELECT doc_id, score FROM s{t}"
        final += f" UNION ALL SELECT {t}, doc_id, score FROM s{t}"
    stage_sql = ",".join(stages)
    return f"""
WITH {_duck_doc_vec_cte(DIM)},
norms AS (
  SELECT doc_id, SUM(w * w)::BIGINT AS d2 FROM vec GROUP BY 1
),
qv(bucket, w) AS (VALUES {qrows}),
qdots AS (
  SELECT v.doc_id, SUM(v.w * qv.w)::BIGINT AS dot
  FROM vec v JOIN qv ON v.bucket = qv.bucket
  GROUP BY 1
),
cands AS (
  SELECT d.doc_id,
         (COALESCE(n.d2, 0) + {q2} - 2 * COALESCE(t.dot, 0))::BIGINT AS score
  FROM documents d
  LEFT JOIN norms n ON d.doc_id = n.doc_id
  LEFT JOIN qdots t ON d.doc_id = t.doc_id
  ORDER BY score ASC, d.doc_id ASC
  LIMIT {n}
),
pdots AS (
  SELECT x.doc_id AS a, y.doc_id AS b, SUM(x.w * y.w)::BIGINT AS dot
  FROM vec x JOIN vec y ON x.bucket = y.bucket AND x.doc_id < y.doc_id
  WHERE x.doc_id IN (SELECT doc_id FROM cands)
    AND y.doc_id IN (SELECT doc_id FROM cands)
  GROUP BY 1, 2
),
s1 AS (SELECT doc_id, score FROM cands ORDER BY score, doc_id LIMIT 1),{stage_sql}
SELECT rank::BIGINT AS rank, doc_id AS id, score FROM ({final})
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# V5 — embedding/index build over every document (SURVEY §2.4)
# ---------------------------------------------------------------------------

def q_embed_build_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch embedding build; per-doc integer invariants of the vector
    (nnz + squared norm) checked exactly against the oracle."""
    from .functions.embed import embed_pandas_udf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(F.col("doc_id").alias("id"), "text")
        .withColumn("vec", embed_pandas_udf(DIM)(F.col("text")))
        .select(
            "id",
            F.size(F.filter("vec", lambda x: x != 0)).cast("long").alias("nnz"),
            F.aggregate("vec", F.lit(0).cast("long"), lambda a, x: a + x * x).alias(
                "norm2"
            ),
        )
    )


def _oracle_embed_build_norms() -> str:
    return f"""
WITH {_duck_doc_vec_cte(DIM)},
norms AS (
  SELECT doc_id,
         COUNT(*) FILTER (WHERE w != 0)::BIGINT AS nnz,
         SUM(w * w)::BIGINT AS norm2
  FROM vec GROUP BY 1
)
SELECT d.doc_id AS id,
       COALESCE(n.nnz, 0)::BIGINT AS nnz,
       COALESCE(n.norm2, 0)::BIGINT AS norm2
FROM documents d LEFT JOIN norms n ON d.doc_id = n.doc_id
"""


# ---------------------------------------------------------------------------
# V2 — brute-force KNN over the driver's float embeddings table
# ---------------------------------------------------------------------------

def q_knn_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 nearest neighbors (squared L2) to a fixed literal query
    vector over embeddings.parquet; score rounded to 4 decimals."""
    from .operators.recall import score_sq_l2

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return (
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        .select("id", F.round(score_sq_l2(F.col("vec"), KNN_QUERY_64), 4).alias("score"))
        .orderBy(F.asc("score"), F.asc("id"))
        .limit(10)
    )


def _oracle_knn_embeddings() -> str:
    qlit = "[" + ", ".join(f"{x!r}::DOUBLE" for x in KNN_QUERY_64) + "]"
    return f"""
SELECT vec_id AS id,
       ROUND(list_sum(list_transform(
           list_zip(embedding, {qlit}),
           p -> (p[1]::DOUBLE - p[2]) * (p[1]::DOUBLE - p[2]))), 4) AS score
FROM embeddings
ORDER BY score ASC, id ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# F1-F10 — filter compiler over typed tables (SURVEY §2.3)
# ---------------------------------------------------------------------------

def q_filter_orders_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare equality + numeric $gte + $prefix, then an id-ordered page
    (P1 + O3/O4). The compiled predicate is a plain boolean expression,
    so Catalyst pushes it into the parquet scan."""
    from .operators import filters as Flt

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    res = Flt.columns_resolver(orders)
    pred = Flt.compile_filter(
        {
            "o_orderstatus": "O",
            "o_totalprice": {"$gte": 100000},
            "o_orderpriority": {"$prefix": "1"},
        },
        res,
    )
    return (
        orders.filter(pred)
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
            F.round("o_totalprice", 2).alias("total"),
        )
        .orderBy("id")
        .offset(100)
        .limit(50)
    )


_ORACLE_FILTER_ORDERS_PAGE = """
SELECT o_orderkey AS id,
       o_orderstatus AS status,
       ROUND(o_totalprice, 2) AS total
FROM orders
WHERE o_orderstatus = 'O'
  AND o_totalprice >= 100000
  AND o_orderpriority LIKE '1%'
ORDER BY id
LIMIT 50 OFFSET 100
"""


def q_filter_lexicographic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's weak-typing quirk: a STRING operand against a
    numeric value compares lexicographically on str(v)
    (memo_cli.py:179-192; SURVEY §1.2 [observed])."""
    from .operators import filters as Flt

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    res = Flt.columns_resolver(cust)
    pred = Flt.compile_filter({"c_acctbal": {"$gte": "500"}}, res)
    return (
        cust.filter(pred)
        .select(F.col("c_custkey").alias("id"))
        .orderBy("id")
        .limit(200)
    )


_ORACLE_FILTER_LEXICOGRAPHIC = """
SELECT c_custkey AS id
FROM customer
WHERE CAST(c_acctbal AS VARCHAR) >= '500'
ORDER BY id
LIMIT 200
"""


def q_filter_and_or_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$or / $and composition + $contains on a list-valued field
    (p_type words as a tags array)."""
    from .operators import filters as Flt

    part = spark.read.parquet(f"{sf_dir}/part.parquet").withColumn(
        "tags", F.split(F.col("p_type"), " ")
    )
    res = Flt.columns_resolver(part)
    pred = Flt.compile_filter(
        {
            "$or": [
                {"tags": {"$contains": "ECONOMY"}},
                {"$and": [{"p_size": {"$lte": 5}}, {"p_brand": {"$prefix": "Brand#1"}}]},
            ]
        },
        res,
    )
    return (
        part.filter(pred)
        .select(F.col("p_partkey").alias("id"), F.col("p_brand").alias("brand"))
        .orderBy("id")
        .limit(300)
    )


_ORACLE_FILTER_AND_OR_CONTAINS = """
SELECT p_partkey AS id, p_brand AS brand
FROM part
WHERE list_contains(string_split(p_type, ' '), 'ECONOMY')
   OR (p_size <= 5 AND p_brand LIKE 'Brand#1%')
ORDER BY id
LIMIT 300
"""


def q_filter_json_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic JSON metadata (events.props) through the map resolver:
    parse -> metadata triple -> numeric $gte -> grouped counts."""
    from .operators import filters as Flt

    events = _read_events(spark, sf_dir)
    recs = events.select(
        "event_type",
        F.map_from_arrays(
            F.array(F.lit("k")),
            F.array(F.get_json_object("props", "$.k")),
        ).alias("metadata"),
        F.map_from_arrays(F.array(F.lit("k")), F.array(F.lit("int"))).alias(
            "metadata_types"
        ),
        F.lit(None).cast("map<string,array<string>>").alias("metadata_lists"),
    )
    pred = Flt.compile_filter(
        {"k": {"$gte": 50}},
        Flt.map_resolver(),
        nonempty=Flt.records_nonempty_metadata(),
    )
    return (
        recs.filter(pred)
        .groupBy(F.col("event_type").alias("event_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("event_type")
    )


_ORACLE_FILTER_JSON_METADATA = """
SELECT event_type, COUNT(*)::BIGINT AS cnt
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) >= 50
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# P3 / A2-A6 — analyze projections and stats (SURVEY §2.2/§2.5)
# ---------------------------------------------------------------------------

def q_analyze_default_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — schema inference: union of matched records' metadata keys,
    sorted, first 3 (memo_cli.py:560-565)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    recs = cust.select(
        F.create_map(
            F.lit("mktsegment"), F.col("c_mktsegment").cast("string"),
            F.lit("nation"), F.col("c_nationkey").cast("string"),
            F.lit("acctbal"), F.col("c_acctbal").cast("string"),
        ).alias("metadata")
    )
    return (
        recs.select(F.explode(F.map_keys("metadata")).alias("field"))
        .distinct()
        .orderBy("field")
        .limit(3)
    )


_ORACLE_ANALYZE_DEFAULT_FIELDS = """
SELECT DISTINCT f AS field
FROM (SELECT unnest(['mktsegment', 'nation', 'acctbal']) AS f FROM customer)
ORDER BY field
LIMIT 3
"""


def q_stats_topk_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3/A4 — top-4 value counts + '__other__' rollup over
    o_orderpriority (5 distinct values => rollup row appears)."""
    from .operators.analyze import value_counts_with_other

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return value_counts_with_other(orders, F.col("o_orderpriority"))


_ORACLE_STATS_TOPK_OTHER = """
WITH counts AS (
  SELECT o_orderpriority AS value, COUNT(*)::BIGINT AS cnt
  FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1
),
ranked AS (
  SELECT value, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, value ASC) AS rn
  FROM counts
)
SELECT value, cnt, 1::BIGINT AS distinct_cnt FROM ranked WHERE rn <= 4
UNION ALL
SELECT '__other__' AS value, SUM(cnt)::BIGINT AS cnt, COUNT(*)::BIGINT AS distinct_cnt
FROM ranked WHERE rn > 4 HAVING COUNT(*) > 0
"""


def q_stats_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — all-or-nothing float coercion over stringified l_quantity
    (numeric_ok true path)."""
    from .operators.analyze import numeric_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = numeric_stats(li, F.col("l_quantity"))
    return out.select(
        "n", "numeric_ok", F.round("vmin", 4).alias("vmin"),
        F.round("vmax", 4).alias("vmax"), F.round("vavg", 4).alias("vavg"),
    )


_ORACLE_STATS_NUMERIC = """
SELECT COUNT(*)::BIGINT AS n,
       COALESCE(bool_and(TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) IS NOT NULL), FALSE) AS numeric_ok,
       ROUND(MIN(l_quantity), 4) AS vmin,
       ROUND(MAX(l_quantity), 4) AS vmax,
       ROUND(AVG(l_quantity), 4) AS vavg
FROM lineitem
WHERE l_quantity IS NOT NULL
"""


def q_stats_numeric_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 gate — one non-numeric value poisons the whole column
    (all-or-nothing, memo_cli.py:600-609): stats are NULL."""
    from .operators.analyze import numeric_stats

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = numeric_stats(orders, F.col("o_orderpriority"))
    # sentinel instead of NULL doubles: None-vs-NaN normalization is
    # hasher-specific; the gate semantics (stats suppressed) is what's
    # being checked
    s = F.lit(-1.0)
    return out.select(
        "n",
        "numeric_ok",
        F.coalesce("vmin", s).alias("vmin"),
        F.coalesce("vmax", s).alias("vmax"),
        F.coalesce("vavg", s).alias("vavg"),
    )


_ORACLE_STATS_NUMERIC_GATE = """
SELECT COUNT(*)::BIGINT AS n,
       FALSE AS numeric_ok,
       -1.0 AS vmin,
       -1.0 AS vmax,
       -1.0 AS vavg
FROM orders
WHERE o_orderpriority IS NOT NULL
"""


def q_stats_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — all-or-nothing ISO-string date range over stringified
    o_orderdate (date_ok true path)."""
    from .operators.analyze import date_stats

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    iso = orders.select(F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"))
    return date_stats(iso, F.col("d"))


_ORACLE_STATS_DATE = """
SELECT COUNT(*)::BIGINT AS n,
       TRUE AS date_ok,
       strftime(MIN(o_orderdate), '%Y-%m-%d') AS dmin,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS dmax
FROM orders
WHERE o_orderdate IS NOT NULL
"""


# ---------------------------------------------------------------------------
# M1/M2/M4/M5 — mutations (SURVEY §2.7), demonstrated on documents
# ---------------------------------------------------------------------------

def q_compaction_reseq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4+M5 — blank-out short docs, tombstone docs from source 'src3',
    compact: survivors re-sequenced to dense ids in old-id order."""
    from .operators.mutate import compact

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    records = docs.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("n_chars") < 60, F.lit(" ")).otherwise(F.col("text")).alias(
            "body"
        ),
        F.when(
            F.col("source") == "src3",
            F.create_map(F.lit("deleted"), F.lit("True")),
        ).alias("metadata"),
        F.lit(None).cast("map<string,string>").alias("metadata_types"),
        F.lit(None).cast("map<string,array<string>>").alias("metadata_lists"),
    )
    out = compact(records, scalable=True)
    return out.select("id", F.length("body").alias("body_len"))


_ORACLE_COMPACTION_RESEQ = """
SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS id,
       LENGTH(text)::INT AS body_len
FROM documents
WHERE n_chars >= 60 AND source != 'src3'
"""


def q_upsert_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+M2 — overwrite every source='src1' doc in place, append 5 new
    docs with dense ids after max(doc_id)."""
    from .model import SAVE_BATCH_SCHEMA
    from .operators.mutate import upsert

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    records = docs.select(
        F.col("doc_id").alias("id"),
        F.col("text").alias("body"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
        F.lit(None).cast("map<string,string>").alias("metadata_types"),
        F.lit(None).cast("map<string,array<string>>").alias("metadata_lists"),
    )
    overwrites = docs.filter(F.col("source") == "src1").select(
        F.col("doc_id").alias("id"),
        F.concat(F.lit("OVERWRITTEN "), F.col("doc_id")).alias("body"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
        F.lit(None).cast("map<string,string>").alias("metadata_types"),
        F.lit(None).cast("map<string,array<string>>").alias("metadata_lists"),
    )
    appends = spark.createDataFrame(
        [(None, f"APPENDED {i}", None, None, None) for i in range(5)],
        SAVE_BATCH_SCHEMA,
    )
    out = upsert(records, overwrites.unionByName(appends), scalable=True)
    return out.select("id", "body")


_ORACLE_UPSERT_DOCS = """
SELECT doc_id AS id,
       CASE WHEN source = 'src1' THEN 'OVERWRITTEN ' || doc_id ELSE text END AS body
FROM documents
UNION ALL
SELECT (SELECT MAX(doc_id) FROM documents) + k + 1 AS id,
       'APPENDED ' || k AS body
FROM range(0, 5) t(k)
"""


# ---------------------------------------------------------------------------
# Extension surface: relational/analytical queries (SURVEY §2.10) — the
# reference has no joins/windows/grouped aggs; these demonstrate the Spark
# engine's coverage of those categories and serve as bench headliners.
# All money arithmetic is DECIMAL so sums are exact and order-insensitive
# (double sums would drift between engines at the rounding boundary).
# ---------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary over lineitem: scan -> pushed filter ->
    partial+final hash aggregate on 4 tiny groups. Map-side combine
    means the shuffle carries ~groups x partitions rows only."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # All money sums: exact decimal arithmetic, ROUND to scale 2
            # while still decimal, THEN cast double. A >16-significant-
            # digit decimal converts to double with engine-dependent
            # last-ulp rounding (Java BigDecimal vs DuckDB int128 path;
            # seen at sf0.001/sf0.1); a 12-digit scale-2 decimal
            # converts identically everywhere. sum_charge additionally
            # narrows its factor casts — with (18,4) factors the triple
            # product overflows precision 38 and Spark rounds
            # mid-expression: (12,4)*(6,4)*(6,4) stays exact.
            F.round(F.sum(dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(
                    dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
                ),
                2,
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,4)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(6,4)")
                    * (F.lit(1) + F.col("l_tax")).cast("decimal(6,4)")
                ),
                2,
            )
            .cast("double")
            .alias("sum_charge"),
            F.round(F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1)), 4).alias("avg_qty"),
            F.round(F.sum(dec("l_extendedprice")).cast("double") / F.count(F.lit(1)), 4).alias("avg_price"),
            F.round(F.sum(dec("l_discount")).cast("double") / F.count(F.lit(1)), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_ORACLE_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(6,4)) * CAST(1 + l_tax AS DECIMAL(6,4))), 2) AS DOUBLE) AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
       COUNT(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecast revenue: pure pushed-filter scan + one global
    aggregate — the minimal-shuffle shape (one row per partition)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.coalesce(
                F.round(F.sum(dec("l_extendedprice") * dec("l_discount")), 2)
                .cast("double"),
                F.lit(0.0),
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_ORACLE_TPCH_Q6 = """
SELECT COALESCE(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE), 0.0) AS revenue,
       COUNT(*)::BIGINT AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.05
  AND l_quantity < 24
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority: selective dim filter -> join ->
    grouped agg -> top-10. Customer side broadcasts; top-10 via
    TakeOrderedAndProject."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    cutoff = F.lit("1998-03-15").cast("timestamp")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(orders.filter(F.col("o_orderdate") < cutoff), li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


_ORACLE_TPCH_Q3 = """
SELECT l_orderkey AS orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority AS priority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, orderkey ASC
LIMIT 10
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: lineitem |>< orders |>< customer |>< nation |>< region.
    Dims are broadcast (no shuffle of the fact side for them); the
    orders<->lineitem join shuffles on the shared key. At cluster scale
    both fact tables would be bucketed on the join key to eliminate it."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(
                    dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("region", "nation")
    )


_ORACLE_REVENUE_BY_NATION = """
SELECT r_name AS region, n_name AS nation,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
       COUNT(*)::BIGINT AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY region, nation
"""


def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions (absent from the reference, SURVEY §2.10):
    per-customer running order total + order rank."""
    from pyspark.sql import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        orders.filter(F.col("o_custkey") < 200)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.row_number()
            .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
            .alias("order_seq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .over(w)
            .cast("double")
            .alias("running_total"),
        )
        .orderBy("custkey", "orderkey")
    )


_ORACLE_WINDOW_RUNNING_TOTAL = """
SELECT o_custkey AS custkey,
       o_orderkey AS orderkey,
       ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
WHERE o_custkey < 200
ORDER BY custkey, orderkey
"""


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregate over the events stream table
    (batch view; streaming/ingest.py runs the same plan incrementally).
    Decimal sum keeps cross-engine value equality exact."""
    events = _read_events(spark, sf_dir)
    ts = F.col("ts")
    return (
        events.select(
            F.date_format(F.date_trunc("hour", ts), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("v"), 2).cast("double").alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )


_ORACLE_EVENTS_TUMBLING = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*)::BIGINT AS cnt,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def q_setops_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (absent from the reference, SURVEY §2.10):
    (1995 buyers INTERSECT building-segment customers) EXCEPT urgent
    buyers — three distinct-set operands, two set operations."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    buyers_95 = (
        orders.filter(F.year("o_orderdate") == 1995)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    return buyers_95.intersect(building).exceptAll(urgent).orderBy("custkey")


_ORACLE_SETOPS_CUSTKEYS = """
SELECT custkey FROM (
  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
  INTERSECT
  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  EXCEPT
  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
ORDER BY custkey
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region -> nation -> grand total) with
    grouping_id — one pass, partial aggregation at every level."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.grouping_id().alias("gid"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        # '(all)' sentinel: NULL-vs-NaN/None normalization is
        # hasher-specific; '(' sorts before letters so ordering matches
        .select(
            F.coalesce("region", F.lit("(all)")).alias("region"),
            F.coalesce("nation", F.lit("(all)")).alias("nation"),
            "gid", "revenue", "n_items",
        )
        .orderBy("region", "nation")
    )


_ORACLE_ROLLUP_REVENUE = """
SELECT COALESCE(r_name, '(all)') AS region, COALESCE(n_name, '(all)') AS nation,
       GROUPING(r_name) * 2 + GROUPING(n_name) AS gid,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
       COUNT(*)::BIGINT AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY region, nation
"""


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 2^2 grouping sets."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().alias("gid"), F.count(F.lit(1)).alias("cnt"))
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("l_linestatus"),
            "gid", "cnt",
        )
        .orderBy("l_returnflag", "l_linestatus", "gid")
    )


_ORACLE_CUBE_COUNTS = """
SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
       COALESCE(l_linestatus, '(all)') AS l_linestatus,
       GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
       COUNT(*)::BIGINT AS cnt
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus, gid
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL surface (the engine
    registers testdata as temp views and runs pure Spark SQL)."""
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "orders_gs"
    )
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, '(all)') AS status,
               COALESCE(o_orderpriority, '(all)') AS priority,
               COUNT(*) AS cnt
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY status, priority
        """
    )


_ORACLE_GROUPING_SETS = """
SELECT COALESCE(o_orderstatus, '(all)') AS status,
       COALESCE(o_orderpriority, '(all)') AS priority,
       COUNT(*)::BIGINT AS cnt
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
ORDER BY status, priority
"""


def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each event matched to the most
    recent order of the same customer at or before the event time.
    Union-window merge technique — no inequality-join explosion."""
    from .operators.asof import asof_join

    events = _read_events(spark, sf_dir).select(
        "event_id", F.col("user_id").alias("cust"), "ts"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("cust"), "o_orderdate", "o_orderkey"
    )
    out = asof_join(
        events.filter(F.col("event_id") < 2000),
        orders,
        key="cust",
        left_time="ts",
        right_time="o_orderdate",
        right_value="o_orderkey",
    )
    return out.select("event_id", F.col("o_orderkey").alias("matched_order")).orderBy(
        "event_id"
    )


_ORACLE_ASOF_JOIN_EVENTS = """
WITH r AS (
  SELECT o_custkey AS cust, o_orderdate AS t, MAX(o_orderkey) AS oid
  FROM orders GROUP BY 1, 2
),
l AS (SELECT event_id, user_id AS cust, ts FROM events WHERE event_id < 2000)
SELECT l.event_id, r.oid AS matched_order
FROM l ASOF LEFT JOIN r ON l.cust = r.cust AND l.ts >= r.t
ORDER BY event_id
"""


def q_semi_anti_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti joins (SURVEY §2.10): customers with >=1 urgent
    order (left_semi, label 'has_urgent') and customers with no orders
    at all (left_anti, label 'no_orders'), unioned."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    semi = cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select(F.col("c_custkey").alias("custkey"), F.lit("has_urgent").alias("label"))
    anti = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select(F.col("c_custkey").alias("custkey"), F.lit("no_orders").alias("label"))
    return semi.unionByName(anti).orderBy("label", "custkey")


_ORACLE_SEMI_ANTI_JOINS = """
SELECT c_custkey AS custkey, 'has_urgent' AS label
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
UNION ALL
SELECT c_custkey AS custkey, 'no_orders' AS label
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY label, custkey
"""


def q_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: parts banded by size against a tiny interval
    dim — broadcast nested-loop on BETWEEN, the classic banding shape."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    bands = spark.createDataFrame(
        [(1, 10, "S"), (11, 25, "M"), (26, 50, "L")], ["lo", "hi", "band"]
    )
    return (
        part.join(
            F.broadcast(bands),
            (F.col("p_size") >= F.col("lo")) & (F.col("p_size") <= F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg(F.col("p_retailprice").cast("decimal(18,4)")).cast("double"), 4).alias(
                "avg_price"
            ),
        )
        .orderBy("band")
    )


_ORACLE_RANGE_JOIN_BANDS = """
SELECT band, COUNT(*)::BIGINT AS n_parts,
       ROUND(CAST(AVG(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS avg_price
FROM part
JOIN (VALUES (1, 10, 'S'), (11, 25, 'M'), (26, 50, 'L')) b(lo, hi, band)
  ON p_size BETWEEN lo AND hi
GROUP BY band
ORDER BY band
"""


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function library tour (SURVEY §2.10): string, date, math,
    array, and conditional functions in one projected page — the
    operator classes the reference only has ad-hoc Python for."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    words = F.split(F.col("p_name"), " ")
    return (
        part.select(
            F.col("p_partkey").alias("id"),
            F.upper(F.substring("p_name", 1, 8)).alias("name_prefix"),
            F.length("p_name").cast("long").alias("name_len"),
            F.size(words).cast("long").alias("n_words"),
            F.array_join(F.slice(F.sort_array(words), 1, 2), "|").alias("first_words"),
            F.round(F.sqrt(F.abs(F.col("p_retailprice"))), 4).alias("sqrt_price"),
            (F.col("p_size") % 7).cast("long").alias("size_mod7"),
            F.when(F.col("p_size") >= 25, F.lit("L"))
            .when(F.col("p_size") >= 10, F.lit("M"))
            .otherwise(F.lit("S"))
            .alias("size_class"),
            F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        )
        .orderBy("id")
        .limit(500)
    )


_ORACLE_SCALAR_FUNCTIONS = """
SELECT p_partkey AS id,
       UPPER(SUBSTRING(p_name, 1, 8)) AS name_prefix,
       LENGTH(p_name)::BIGINT AS name_len,
       len(string_split(p_name, ' '))::BIGINT AS n_words,
       array_to_string(list_sort(string_split(p_name, ' '))[1:2], '|') AS first_words,
       ROUND(SQRT(ABS(p_retailprice)), 4) AS sqrt_price,
       (p_size % 7)::BIGINT AS size_mod7,
       CASE WHEN p_size >= 25 THEN 'L' WHEN p_size >= 10 THEN 'M' ELSE 'S' END AS size_class,
       p_brand || '#' || p_type AS brand_type
FROM part
ORDER BY id
LIMIT 500
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregate (flagged 100 TB substitution, SURVEY
    §2.10): HLL++ distinct users per event type. No oracle — HLL
    sketches are engine-specific; the driver records rows-only."""
    events = _read_events(spark, sf_dir)
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("event_type")
    )


def q_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function tour (SURVEY §2.10 scalar library): add,
    diff, truncation, boundary and field extraction over order dates."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    d = F.col("o_orderdate")
    return (
        orders.select(
            F.col("o_orderkey").alias("id"),
            F.date_format(d, "yyyy-MM-dd").alias("d"),
            F.year(d).cast("long").alias("yr"),
            F.quarter(d).cast("long").alias("qtr"),
            F.month(d).cast("long").alias("mo"),
            F.dayofweek(d).cast("long").alias("dow"),
            F.date_format(F.date_add(d, 90), "yyyy-MM-dd").alias("due_90"),
            F.date_format(F.last_day(d), "yyyy-MM-dd").alias("eom"),
            F.date_format(F.trunc(d, "quarter"), "yyyy-MM-dd").alias("qstart"),
            F.datediff(F.lit("1998-12-31").cast("date"), d).cast("long").alias(
                "days_to_end"
            ),
        )
        .orderBy("id")
        .limit(500)
    )


_ORACLE_DATETIME_FUNCTIONS = """
SELECT o_orderkey AS id,
       strftime(o_orderdate, '%Y-%m-%d') AS d,
       EXTRACT(year FROM o_orderdate)::BIGINT AS yr,
       EXTRACT(quarter FROM o_orderdate)::BIGINT AS qtr,
       EXTRACT(month FROM o_orderdate)::BIGINT AS mo,
       (EXTRACT(dow FROM o_orderdate) + 1)::BIGINT AS dow,
       strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due_90,
       strftime(last_day(o_orderdate), '%Y-%m-%d') AS eom,
       strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS qstart,
       date_diff('day', o_orderdate, DATE '1998-12-31')::BIGINT AS days_to_end
FROM orders
ORDER BY id
LIMIT 500
"""


def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (SURVEY §2.10): transform, filter,
    aggregate, zip_with, sort — UDF-free array processing over the
    embeddings table (DuckDB twin: list_transform/list_filter/
    list_reduce/list_zip). Integer arithmetic keeps hashes exact."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = F.transform(F.col("embedding"), lambda x: (x * 1000).cast("long"))
    return (
        emb.select(
            F.col("vec_id").alias("id"),
            F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_pos"),
            F.aggregate(v, F.lit(0).cast("long"), lambda a, x: a + F.abs(x)).alias(
                "l1_milli"
            ),
            F.element_at(F.array_sort(v), -1).alias("max_milli"),
            F.element_at(F.array_sort(v), 1).alias("min_milli"),
            F.aggregate(
                F.zip_with(
                    F.slice(v, 1, 8), F.slice(F.reverse(v), 1, 8), lambda a, b: a * b
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).alias("head_tail_dot"),
        )
        .orderBy("id")
    )


_ORACLE_ARRAY_FUNCTIONS = """
WITH v AS (
  SELECT vec_id AS id,
         -- trunc(): Spark's double->long cast truncates toward zero,
         -- DuckDB's CAST rounds to nearest
         list_transform(embedding, x -> CAST(trunc(x * 1000) AS BIGINT)) AS v
  FROM embeddings
)
SELECT id,
       len(list_filter(v, x -> x > 0))::BIGINT AS n_pos,
       list_reduce([0::BIGINT] || list_transform(v, x -> abs(x)), (a, x) -> a + x) AS l1_milli,
       list_sort(v)[-1] AS max_milli,
       list_sort(v)[1] AS min_milli,
       list_reduce([0::BIGINT] || list_transform(list_zip(v[1:8], list_reverse(v)[1:8]),
                                                 p -> p[1] * p[2]),
                   (a, x) -> a + x) AS head_tail_dot
FROM v
ORDER BY id
"""


def q_pivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (SURVEY §2.10 aggregates): order-count and revenue matrix
    of order year x priority class, via DataFrame ``pivot`` — the
    oracle is conditional aggregation (FILTER clauses), which is also
    exactly what Catalyst lowers pivot to."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pri = F.split(F.col("o_orderpriority"), "-").getItem(0)
    return (
        orders.select(
            F.year("o_orderdate").cast("long").alias("yr"),
            pri.alias("pri"),
            F.col("o_totalprice").cast("decimal(18,4)").alias("price"),
        )
        .groupBy("yr")
        .pivot("pri", ["1", "2", "3", "4", "5"])
        .agg(F.round(F.sum("price"), 2).cast("double"))
        .orderBy("yr")
    )


_ORACLE_PIVOT_REVENUE = """
SELECT EXTRACT(year FROM o_orderdate)::BIGINT AS yr,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
            FILTER (WHERE o_orderpriority LIKE '1-%'), 2) AS DOUBLE) AS "1",
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
            FILTER (WHERE o_orderpriority LIKE '2-%'), 2) AS DOUBLE) AS "2",
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
            FILTER (WHERE o_orderpriority LIKE '3-%'), 2) AS DOUBLE) AS "3",
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
            FILTER (WHERE o_orderpriority LIKE '4-%'), 2) AS DOUBLE) AS "4",
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
            FILTER (WHERE o_orderpriority LIKE '5-%'), 2) AS DOUBLE) AS "5",
FROM orders
GROUP BY 1
ORDER BY yr
"""


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (SURVEY §2.10 streaming/windowing): per-user
    activity sessions with a 30-minute inactivity gap, via Spark's
    native ``session_window`` (the same expression runs incrementally
    under Structured Streaming with a watermark —
    tests/test_stateful_streaming.py proves stream==batch). The DuckDB
    twin is the classic gaps-and-islands rewrite, pinning the exact
    boundary rule (a gap of EXACTLY 30:00 starts a new session)."""
    events = _read_events(spark, sf_dir)
    ts = F.col("ts")
    return (
        events.filter(F.col("user_id") < 100)
        .select("user_id", ts.alias("t"), F.col("value").cast("decimal(18,6)").alias("v"))
        .groupBy("user_id", F.session_window("t", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("v"), 2).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "cnt",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


_ORACLE_EVENTS_SESSIONS = """
WITH e AS (
  SELECT user_id, ts, value FROM events WHERE user_id < 100
),
marked AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
ids AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM marked
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*)::BIGINT AS cnt,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
FROM ids
GROUP BY user_id, sess
ORDER BY user_id, session_start
"""


def q_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join (SCALE.md): the big side carries a salt derived
    from its own row (pmod(crc32(comment), 8)), the small side is
    exploded x8, and the equi-join runs on (key, salt) — the standard
    rewrite when one hot key floods a shuffle partition and AQE's skew
    split isn't available (e.g. a stream-static join). The oracle is
    the PLAIN join: salting must never change results."""
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_salt = 8
    big = lineitem.select(
        "l_orderkey",
        F.col("l_extendedprice").cast("decimal(18,4)").alias("price"),
        F.pmod(F.col("l_orderkey") * 31 + F.col("l_linenumber"), F.lit(n_salt)).alias(
            "salt"
        ),
    )
    small = orders.select("o_orderkey", "o_orderpriority").withColumn(
        "salt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(n_salt)]))
    )
    return (
        big.join(
            small,
            (big["l_orderkey"] == small["o_orderkey"]) & (big["salt"] == small["salt"]),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("price"), 2).cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


_ORACLE_SALTED_JOIN = """
SELECT o_orderpriority,
       COUNT(*)::BIGINT AS cnt,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (SURVEY §2.10 aggregates): linear-interpolated
    quartiles of order totals per priority — Spark ``percentile`` and
    DuckDB ``quantile_cont`` share the interpolation rule; DECIMAL
    inputs + ROUND(4) keep the hashes equal."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pct = F.percentile(F.col("o_totalprice"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.element_at(pct, 1), 4).alias("p25"),
            F.round(F.element_at(pct, 2), 4).alias("p50"),
            F.round(F.element_at(pct, 3), 4).alias("p75"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("o_orderpriority")
    )


_ORACLE_PERCENTILE_PRICES = """
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
       COUNT(*)::BIGINT AS cnt
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL three-valued logic tour over a derived nullable column:
    count(*) vs count(col) vs count(distinct col), null-safe equality
    (Spark <=> == DuckDB IS NOT DISTINCT FROM), TRUE-OR-UNKNOWN /
    FALSE-AND-UNKNOWN, the NOT IN + NULL trap, and FILTER-style
    conditional counting. One scan, one one-row aggregate — the point
    is semantic parity, not plan shape."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    x = F.nullif(F.col("o_orderstatus"), F.lit("O"))  # NULL for ~half the rows
    big = F.col("o_totalprice") > 100000
    d = orders.select(
        x.alias("x"),
        big.alias("big"),
        F.col("o_orderstatus").alias("st"),
    )
    big = F.col("big")
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("x").alias("n_x_nonnull"),
        F.count_distinct("x").alias("n_x_distinct"),
        F.sum(F.col("x").eqNullSafe(F.lit(None).cast("string")).cast("long")).alias(
            "n_nullsafe_eq_null"
        ),
        # TRUE OR UNKNOWN = TRUE; (x='F') is UNKNOWN on NULL rows
        F.sum((big | (F.col("x") == "F")).cast("long")).alias("n_true_or_unknown"),
        # FALSE AND UNKNOWN = FALSE -> never counts on NULL rows
        F.sum((~big & (F.col("x") == "F")).cast("long")).alias("n_false_and_unknown"),
        # NOT IN over a list containing NULL is never TRUE (UNKNOWN):
        # st NOT IN ('F', x) — on x-NULL rows the comparison is UNKNOWN
        F.sum((~F.col("st").isin(F.lit("F"), F.col("x"))).cast("long")).alias(
            "n_not_in_with_null"
        ),
        F.count(F.when(F.col("x").isNull() & big, 1)).alias("n_filtered"),
    )


_ORACLE_NULL_SEMANTICS = """
SELECT COUNT(*)::BIGINT AS n_rows,
       COUNT(x)::BIGINT AS n_x_nonnull,
       COUNT(DISTINCT x)::BIGINT AS n_x_distinct,
       SUM((x IS NOT DISTINCT FROM NULL)::BIGINT)::BIGINT AS n_nullsafe_eq_null,
       SUM((big OR x = 'F')::BIGINT)::BIGINT AS n_true_or_unknown,
       SUM((NOT big AND x = 'F')::BIGINT)::BIGINT AS n_false_and_unknown,
       SUM((st NOT IN ('F', x))::BIGINT)::BIGINT AS n_not_in_with_null,
       COUNT(*) FILTER (WHERE x IS NULL AND big)::BIGINT AS n_filtered
FROM (
  SELECT NULLIF(o_orderstatus, 'O') AS x,
         o_totalprice > 100000 AS big,
         o_orderstatus AS st
  FROM orders
) d
"""


# ---------------------------------------------------------------------------
# event analytics: retention cohorts + conversion funnel (SURVEY §2.10
# streaming-table analytics; the shapes every event warehouse runs)
# ---------------------------------------------------------------------------
#
# Both queries run on exact INTEGER microseconds: _read_events
# normalizes every testdata vintage to a canonical ts_us BIGINT that
# equals DuckDB's `epoch_us(ts)` exactly (UTC session tz, integer
# division only — see functions.text.normalize_event_time).


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily retention cohorts: users grouped by first-seen day,
    counted distinct at each later day offset. Two user-keyed
    aggregates (first-seen, then activity) joined on user_id — the
    join and both aggregates share one shuffle key."""
    from .functions.text import floor_div_sql

    events = _read_events(spark, sf_dir)
    day = F.expr(floor_div_sql("ts_us", 86_400_000_000))  # floored epoch-day from micros
    ue = events.select("user_id", day.alias("day_idx"))
    first = ue.groupBy("user_id").agg(F.min("day_idx").alias("cohort_day"))
    return (
        ue.join(first, "user_id")
        .select(
            F.col("cohort_day").alias("cohort"),
            (F.col("day_idx") - F.col("cohort_day")).alias("days_since"),
            "user_id",
        )
        .groupBy("cohort", "days_since")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort", "days_since")
    )


_ORACLE_EVENTS_RETENTION = """
WITH ue AS (
  SELECT user_id,
         ((epoch_us(ts) // 86400000000)
          - (CASE WHEN epoch_us(ts) % 86400000000 < 0 THEN 1 ELSE 0 END))
           AS day_idx
  FROM events
), first AS (
  SELECT user_id, MIN(day_idx) AS cohort_day FROM ue GROUP BY user_id
)
SELECT cohort_day AS cohort,
       day_idx - cohort_day AS days_since,
       COUNT(DISTINCT ue.user_id)::BIGINT AS n_users
FROM ue JOIN first USING (user_id)
GROUP BY 1, 2
ORDER BY cohort, days_since
"""


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: per user,
    the earliest timestamp of each stage; a user converts a stage only
    if its min is strictly after the previous stage's min (loose-
    funnel semantics, one aggregate pass — no self-joins). Exact
    integer microseconds end to end."""
    events = _read_events(spark, sf_dir)
    typed = events.select("user_id", "event_type", F.col("ts_us").alias("us"))
    per_user = typed.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("us"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("us"))).alias("t_buy"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & F.col("t_click").isNotNull() & (F.col("t_click") > F.col("t_view"))
    bought = clicked & F.col("t_buy").isNotNull() & (F.col("t_buy") > F.col("t_click"))
    return per_user.agg(
        F.sum(viewed.cast("long")).alias("n_view"),
        F.sum(clicked.cast("long")).alias("n_view_click"),
        F.sum(bought.cast("long")).alias("n_view_click_buy"),
        F.count(F.lit(1)).alias("n_users"),
    )


_ORACLE_EVENTS_FUNNEL = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_buy
  FROM events
  GROUP BY user_id
)
SELECT SUM((t_view IS NOT NULL)::BIGINT)::BIGINT AS n_view,
       SUM((t_view IS NOT NULL AND t_click IS NOT NULL AND t_click > t_view)::BIGINT)::BIGINT AS n_view_click,
       SUM((t_view IS NOT NULL AND t_click IS NOT NULL AND t_click > t_view
            AND t_buy IS NOT NULL AND t_buy > t_click)::BIGINT)::BIGINT AS n_view_click_buy,
       COUNT(*)::BIGINT AS n_users
FROM per_user
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "recall_topk_int": q_recall_topk_int,
    "sim_diverse_topk": q_sim_diverse_topk,
    "embed_build_norms": q_embed_build_norms,
    "knn_embeddings": q_knn_embeddings,
    "filter_orders_page": q_filter_orders_page,
    "filter_lexicographic": q_filter_lexicographic,
    "filter_and_or_contains": q_filter_and_or_contains,
    "filter_json_metadata": q_filter_json_metadata,
    "analyze_default_fields": q_analyze_default_fields,
    "stats_topk_other": q_stats_topk_other,
    "stats_numeric": q_stats_numeric,
    "stats_numeric_gate": q_stats_numeric_gate,
    "stats_date": q_stats_date,
    "compaction_reseq": q_compaction_reseq,
    "upsert_docs": q_upsert_docs,
    "tpch_q1": q_tpch_q1,
    "tpch_q3": q_tpch_q3,
    "tpch_q6": q_tpch_q6,
    "revenue_by_nation": q_revenue_by_nation,
    "window_running_total": q_window_running_total,
    "events_tumbling": q_events_tumbling,
    "null_semantics": q_null_semantics,
    "events_retention": q_events_retention,
    "events_funnel": q_events_funnel,
    "events_sessions": q_events_sessions,
    "salted_join_revenue": q_salted_join_revenue,
    "percentile_prices": q_percentile_prices,
    "datetime_functions": q_datetime_functions,
    "array_functions": q_array_functions,
    "pivot_revenue": q_pivot_revenue,
    "setops_custkeys": q_setops_custkeys,
    "rollup_revenue": q_rollup_revenue,
    "cube_counts": q_cube_counts,
    "grouping_sets": q_grouping_sets,
    "asof_join_events": q_asof_join_events,
    "semi_anti_joins": q_semi_anti_joins,
    "range_join_bands": q_range_join_bands,
    "scalar_functions": q_scalar_functions,
    "approx_distinct": q_approx_distinct,
}

_ORACLES: dict[str, str] = {
    "recall_topk_int": _oracle_recall_topk_int(),
    "sim_diverse_topk": _oracle_sim_diverse_topk(),
    "embed_build_norms": _oracle_embed_build_norms(),
    "knn_embeddings": _oracle_knn_embeddings(),
    "filter_orders_page": _ORACLE_FILTER_ORDERS_PAGE,
    "filter_lexicographic": _ORACLE_FILTER_LEXICOGRAPHIC,
    "filter_and_or_contains": _ORACLE_FILTER_AND_OR_CONTAINS,
    "filter_json_metadata": _ORACLE_FILTER_JSON_METADATA,
    "analyze_default_fields": _ORACLE_ANALYZE_DEFAULT_FIELDS,
    "stats_topk_other": _ORACLE_STATS_TOPK_OTHER,
    "stats_numeric": _ORACLE_STATS_NUMERIC,
    "stats_numeric_gate": _ORACLE_STATS_NUMERIC_GATE,
    "stats_date": _ORACLE_STATS_DATE,
    "compaction_reseq": _ORACLE_COMPACTION_RESEQ,
    "upsert_docs": _ORACLE_UPSERT_DOCS,
    "tpch_q1": _ORACLE_TPCH_Q1,
    "tpch_q3": _ORACLE_TPCH_Q3,
    "tpch_q6": _ORACLE_TPCH_Q6,
    "revenue_by_nation": _ORACLE_REVENUE_BY_NATION,
    "window_running_total": _ORACLE_WINDOW_RUNNING_TOTAL,
    "events_tumbling": _ORACLE_EVENTS_TUMBLING,
    "null_semantics": _ORACLE_NULL_SEMANTICS,
    "events_retention": _ORACLE_EVENTS_RETENTION,
    "events_funnel": _ORACLE_EVENTS_FUNNEL,
    "events_sessions": _ORACLE_EVENTS_SESSIONS,
    "salted_join_revenue": _ORACLE_SALTED_JOIN,
    "percentile_prices": _ORACLE_PERCENTILE_PRICES,
    "datetime_functions": _ORACLE_DATETIME_FUNCTIONS,
    "array_functions": _ORACLE_ARRAY_FUNCTIONS,
    "pivot_revenue": _ORACLE_PIVOT_REVENUE,
    "setops_custkeys": _ORACLE_SETOPS_CUSTKEYS,
    "rollup_revenue": _ORACLE_ROLLUP_REVENUE,
    "cube_counts": _ORACLE_CUBE_COUNTS,
    "grouping_sets": _ORACLE_GROUPING_SETS,
    "asof_join_events": _ORACLE_ASOF_JOIN_EVENTS,
    "semi_anti_joins": _ORACLE_SEMI_ANTI_JOINS,
    "range_join_bands": _ORACLE_RANGE_JOIN_BANDS,
    "scalar_functions": _ORACLE_SCALAR_FUNCTIONS,
    # approx_distinct intentionally has no oracle (engine-specific HLL)
}


# The driver's correctness gate checks the FIRST 50 queries() entries.
# This list pins that window so every operator family — core reference
# ops, TPC-H joins, windows, streaming twins, dedup, similarity
# (LSH/IVF/PQ), multimodal, text, corpus, sketches, UDTF — has at
# least one independently-verified representative per round. Queries
# past the window keep full local-oracle coverage (tools/verify_oracle).
#
# Window-composition metadata (single source of truth — consumed by
# tools/rotation_pool.py --compose and tests/test_driver_window.py).
# ANCHORS ride every window; WINDOW_FAMILIES maps each operator family
# to its acceptable representatives; STEADY_MINIMUMS is the per-family
# floor the steady-state (post-closure) window must carry.
ANCHORS: tuple[str, ...] = (
    "recall_topk_int", "filter_orders_page", "stats_topk_other",
    "compaction_reseq", "upsert_docs", "asof_join_events", "grouped_rank",
)

STEADY_MINIMUMS: dict[str, int] = {
    "core": 5, "tpch": 4, "joins": 4, "windows": 4, "streaming_twin": 2,
    "approx": 2, "udtf": 1, "dedup": 2, "similarity": 3, "multimodal": 2,
    "text": 3, "corpus": 4,
}

# family -> (pool of acceptable representatives, closure-era endgame
# minimum — see tests/test_driver_window.py for the era semantics)
WINDOW_FAMILIES: dict[str, tuple[set[str], int]] = {
    "core": ({"recall_topk_int", "knn_embeddings", "filter_orders_page",
              "filter_variant_metadata", "stats_topk_other",
              "analyze_default_fields", "compaction_reseq", "upsert_docs",
              "embed_build_norms"}, 5),
    "tpch": ({"tpch_q1", "tpch_q2", "tpch_q4", "tpch_q5", "tpch_q7",
              "tpch_q8", "tpch_q9", "tpch_q10", "tpch_q11", "tpch_q12",
              "tpch_q13", "tpch_q14", "tpch_q15", "tpch_q16", "tpch_q17",
              "tpch_q18", "tpch_q19", "tpch_q20", "tpch_q21", "tpch_q22"}, 1),
    "joins": ({"revenue_by_nation", "salted_join_revenue", "range_join_bands",
               "asof_join_events", "semi_anti_joins", "graph_triangles",
               "graph_pagerank", "join_skew_report", "fuzzy_join_parts",
               "graph_communities", "graph_bfs_layers", "graph_kcore_peel",
               "graph_assortativity", "bloom_semi_join"}, 2),
    "windows": ({"orders_scd2", "events_trailing_24h", "skyline_orders",
                 "price_histogram", "grouped_sample_topn", "cdc_apply_orders",
                 "window_running_total", "grouped_rank",
                 "quantiles_exact_global", "lineitem_weighted_quantiles",
                 "orders_backlog_timeline", "events_ohlc_bars"}, 2),
    "streaming_twin": ({"events_sessions", "events_keep_first",
                        "events_attribution_pairs", "events_resample",
                        "events_rollup_incremental", "events_cusum_shift",
                        "events_ohlc_bars", "events_hll_users",
                        "dedup_incremental", "events_policy_ips"}, 1),
    "approx": ({"approx_distinct_kmv", "sketch_heavy_hitters",
                "approx_distinct_hll", "approx_quantiles_bottomk",
                "events_hll_users", "sketch_f2_moment", "sketch_set_ops",
                "bloom_semi_join"}, 1),
    "udtf": ({"udtf_shingles", "grouped_rank"}, 1),
    "dedup": ({"dedup_exact", "dedup_minhash_pairs", "dedup_jaccard_pairs",
               "dedup_simhash", "dedup_survivors", "dedup_substring_spans",
               "dedup_incremental", "dedup_cluster_sizes",
               "dedup_cross_source", "dedup_containment",
               "dedup_recall_report", "dedup_span_removal",
               "dedup_cdc_chunks", "dedup_winnowing", "dedup_edit_pairs",
               "dedup_semantic"}, 2),
    "similarity": ({"sim_lsh_bucketed", "sim_lsh_multiprobe", "sim_ivf_batch",
                    "sim_pq_fixed", "sim_ivfpq_fixed", "sim_sq_int8",
                    "sim_recall_report", "sim_eval_ndcg", "sim_knn_join",
                    "sim_matryoshka_recall", "sim_filtered_recall",
                    "sim_mutual_nn", "sim_binary_quant", "sim_range_search",
                    "sim_diverse_topk", "sim_eval_map", "sim_hybrid_rrf",
                    "sim_lof_outliers"}, 3),
    "multimodal": ({"multimodal_meta_roundtrip", "multimodal_png_roundtrip",
                    "multimodal_jpeg_meta", "multimodal_jpeg_pixel",
                    "multimodal_resize", "multimodal_audio_stats",
                    "multimodal_gif_roundtrip", "multimodal_phash_dedup",
                    "multimodal_otsu", "multimodal_scene_cuts",
                    "multimodal_video_frames",
                    "multimodal_adpcm_roundtrip"}, 2),
    "text": ({"text_quality", "text_langid", "text_fingerprint",
              "text_scrub_pii", "text_repetition", "text_gopher_rules",
              "text_char_entropy", "text_html_extract", "text_novelty",
              "text_lm_coverage", "text_lm_score"}, 2),
    "corpus": ({"corpus_pipeline", "corpus_tfidf_terms", "corpus_split_assign",
                "corpus_pack", "corpus_pack_global", "chunk_documents",
                "decontaminate_eval", "decontaminate_survivors", "corpus_vocab",
                "corpus_sample", "corpus_bigrams", "corpus_bpe_merges",
                "corpus_bpe_encode", "corpus_mixture", "corpus_bm25_topk",
                "corpus_postings", "corpus_fertility", "corpus_lm_generate",
                "corpus_zipf_fit", "corpus_phrase_search",
                "corpus_drift_kl"}, 4),
}

# Rotation policy (round 5-9): each round, swap long-green veterans out
# for never-driver-checked siblings so the unchecked pool shrank
# monotonically while every family kept >=1 representative. The pool
# closes THIS round (r10): after r9, exactly seven oracled names remain
# never-driver-checked (the residue committed in the r9 schedule), and
# they all ride this window.
#
# Round-10+ policy (AGE-BASED, the steady state — judge r9 ask #6):
# with the pool at zero, the window is COMPOSED, not hand-picked:
#   1. the seven long-green anchors (core reference surface + one join
#      + one window/UDTF representative), always;
#   2. every never-driver-checked oracled name (the residue; newcomers
#      built mid-round join the NEXT round's residue — standing policy);
#   3. per-family steady-minimum fills, oldest-driver-green-first
#      (ties alphabetical), so no family ever goes unverified;
#   4. remaining slots: globally oldest-driver-green-first.
# The composition is computed, never hand-maintained:
#   python tools/rotation_pool.py --compose   # THIS list, recomputed
#   python tools/rotation_pool.py --ages      # per-query last-green round
#   python tools/rotation_pool.py             # pool after this window
# tests/test_driver_window.py asserts DRIVER_WINDOW matches the
# composition byte-for-byte (excluding the current round's own
# artifact, so the assertion holds both pre- and post-gate). At
# 43 re-green slots/round over ~260 oracled queries, every query's
# driver-green age stays bounded by ~6 rounds.
#
# r11 window = the first STEADY-STATE composition (pool closed to zero
# in r10): 7 anchors + residue (sim_pq, upgraded rows-only->oracled
# this round) + per-family steady-minimum fills oldest-green-first
# (mostly r1-r7 greens; sim_ivf's upgrade re-enters here through its
# r1-era rows-only driver row) + global oldest-green fill.
DRIVER_WINDOW = [
    # 1. anchors
    "recall_topk_int",
    "filter_orders_page",
    "stats_topk_other",
    "compaction_reseq",
    "upsert_docs",
    "asof_join_events",
    "grouped_rank",
    # 2. residue: queries born/upgraded this round (dedup_semdedup_pairs,
    # sim_ivfpq new; sim_pq upgraded rows-only->oracled); sim_ivf's
    # upgrade re-enters via its r1-era rows-only driver row below
    "dedup_semdedup_pairs",
    "sim_ivfpq",
    "sim_pq",
    # 3. family steady-minimum fills, oldest-green-first
    "bloom_semi_join",
    "sketch_heavy_hitters",
    "corpus_bpe_encode",
    "corpus_mixture",
    "corpus_pack_global",
    "corpus_pipeline",
    "dedup_survivors",
    "dedup_substring_spans",
    "fuzzy_join_parts",
    "range_join_bands",
    "multimodal_jpeg_pixel",
    "multimodal_png_roundtrip",
    "sim_sq_int8",
    "sim_hybrid_rrf",
    "sim_ivfpq_fixed",
    "dedup_incremental",
    "events_policy_ips",
    "text_gopher_rules",
    "text_repetition",
    "text_scrub_pii",
    "tpch_q18",
    "tpch_q21",
    "tpch_q22",
    "tpch_q7",
    "cdc_apply_orders",
    "events_trailing_24h",
    "orders_scd2",
    "sim_ivf",
    # 4. global oldest-green fill
    "dedup_simhash_pairs",
    "events_funnel",
    "events_retention",
    "events_tumbling",
    "filter_and_or_contains",
    "filter_json_metadata",
    "filter_lexicographic",
    "grouping_sets",
    "null_semantics",
    "percentile_prices",
    "pivot_revenue",
    "sim_topk_cosine",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from .queries_ext import EXT_QUERIES
    from .queries_pipeline import PIPELINE_QUERIES
    from .queries_tpch import TPCH_QUERIES
    from .queries_wave7 import WAVE7_QUERIES
    from .queries_wave8 import WAVE8_QUERIES
    from .queries_wave9 import WAVE9_QUERIES
    from .queries_wave10 import WAVE10_QUERIES
    from .queries_wave11 import WAVE11_QUERIES
    from .queries_wave12 import WAVE12_QUERIES

    merged = {
        **_QUERIES,
        **EXT_QUERIES,
        **TPCH_QUERIES,
        **PIPELINE_QUERIES,
        **WAVE7_QUERIES,
        **WAVE8_QUERIES,
        **WAVE9_QUERIES,
        **WAVE10_QUERIES,
        **WAVE11_QUERIES,
        **WAVE12_QUERIES,
    }
    out = {name: merged[name] for name in DRIVER_WINDOW}
    out.update({n: f for n, f in merged.items() if n not in out})
    return out


def oracle_sql() -> dict[str, str]:
    from .queries_ext import EXT_ORACLES
    from .queries_pipeline import PIPELINE_ORACLES
    from .queries_tpch import TPCH_ORACLES
    from .queries_wave7 import WAVE7_ORACLES
    from .queries_wave8 import WAVE8_ORACLES
    from .queries_wave9 import WAVE9_ORACLES
    from .queries_wave10 import WAVE10_ORACLES
    from .queries_wave11 import WAVE11_ORACLES
    from .queries_wave12 import WAVE12_ORACLES

    return {
        **_ORACLES,
        **EXT_ORACLES,
        **TPCH_ORACLES,
        **PIPELINE_ORACLES,
        **WAVE7_ORACLES,
        **WAVE8_ORACLES,
        **WAVE9_ORACLES,
        **WAVE10_ORACLES,
        **WAVE11_ORACLES,
        **WAVE12_ORACLES,
    }
