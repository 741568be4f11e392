"""Similarity search over embedding columns (SURVEY §2.11).

Two paths, per the north star ("MLlib/DataFrame for batch vector index
build, not online ANN"):

- :func:`topk_neighbors` — exact brute-force batch KNN: a small query
  set broadcast against the full embedding table, per-query top-k via
  one ranked window. The baseline every approximate method is judged
  against.
- :func:`lsh_bucketed_neighbors` — random-hyperplane LSH: each vector
  gets a sign-bit bucket from ``n_planes`` deterministic hyperplanes;
  candidates come from an equi-join on the bucket id (optionally
  multi-probe over all buckets at hamming distance 1), then exact
  re-scoring within buckets. At 100 TB the bucket id becomes the
  partition key: the all-pairs problem becomes per-bucket local work.

The hyperplanes are generated by a fixed integer formula (not a PRNG)
so the DuckDB oracle reproduces them exactly.

MLlib's BucketedRandomProjectionLSH / MinHashLSH offer the same
shapes model-object style; these expression versions keep the whole
plan visible to Catalyst and the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..session import spread


def hyperplane(p: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane p (shared with oracles —
    the oracle SQL embeds these exact values as literals).

    The plane index multiplies the coordinate index, so no choice of
    ``dim`` can make two planes proportional. The earlier formula
    ``((p*dim + j) * 37 % 19 - 9)`` collapsed whenever dim % 19 == 0
    (37 ≡ -1 mod 19 made every plane identical — all vectors landed in
    2 of 2^n_planes buckets and the bucket join degenerated toward a
    cross-join; round-5 review finding). Coefficients mod a prime with
    distinct nonzero multipliers (p+2) keep planes pairwise distinct
    for p < 17."""
    return [((37 * (p + 2) * (j + 1) + 11) % 19 - 9) / 10.0 for j in range(dim)]


def _dot(vec: Column, other: Column) -> Column:
    return F.aggregate(
        F.zip_with(vec, other, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda a, v: a + v,
    )


def _norm(vec: Column) -> Column:
    return F.sqrt(_dot(vec, vec))


def sq_l2(vec: Column, qvec: Column) -> Column:
    """Squared L2 between a float-array column and a double-array
    column, folded left to right in double arithmetic."""
    return F.aggregate(
        F.zip_with(
            vec, qvec, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )


def topk_neighbors(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    metric: str = "cosine",
) -> DataFrame:
    """Exact batch KNN: per query, the k nearest embeddings.

    Plan: broadcast(queries) crossJoin emb -> score -> per-qid ranked
    window -> rank <= k. The fact table streams once; only the tiny
    query side is replicated. Output (qid, id, score) — cosine DESC or
    sq_l2 ASC, ties by id.
    """
    # norms are hoisted to per-ROW columns before the join: computing
    # ||v|| inside the pair expression would fold the self-dot once per
    # (row, query) PAIR — a 3x aggregate-work blowup at |Q| queries.
    # Same expression, same doubles, so scores (and oracle hashes) are
    # bit-identical; this is pure common-subexpression hoisting.
    q = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec"))
    e = spread(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")), "id"
    )
    if metric == "cosine":
        q = q.withColumn("qnorm", _norm(F.col("qvec")))
        e = e.withColumn("vnorm", _norm(F.col("vec")))
    joined = e.crossJoin(F.broadcast(q)).filter(F.col("id") != F.col("qid"))
    if metric == "cosine":
        score = F.round(
            _dot(F.col("vec"), F.col("qvec")) / (F.col("vnorm") * F.col("qnorm")),
            4,
        )
        order = [F.desc("score"), F.asc("id")]
    elif metric == "sq_l2":
        score = F.round(sq_l2(F.col("vec"), F.col("qvec")), 4)
        order = [F.asc("score"), F.asc("id")]
    else:
        raise ValueError(f"unknown metric {metric!r}")
    w = Window.partitionBy("qid").orderBy(*order)
    return (
        joined.withColumn("score", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "id", "score")
    )


def bucket_id(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Random-hyperplane sign bucket: bit p = (vec . plane_p) >= 0."""
    out = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(x) for x in hyperplane(p, dim)])
        bit = F.when(_dot(vec, plane) >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        out = out + F.shiftleft(bit, p)
    return out


def lsh_bucketed_neighbors(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    multiprobe: bool = False,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate KNN: candidates share the query's LSH bucket, then
    exact cosine re-scoring inside the bucket.

    The emb->bucket map is a map-only projection; the join is an
    equi-join on bucket — this is the shape that scales (bucket id as
    partition key), traded against recall (vectors in neighboring
    buckets are missed).

    ``multiprobe=True`` recovers most of that recall at fixed
    n_planes: each QUERY additionally probes every bucket at hamming
    distance 1 (flip one sign bit — near-boundary vectors land there),
    i.e. the broadcast query side explodes 1 -> 1+n_planes probe rows.
    The big embedding side is untouched (still one bucket per vector,
    still the same equi-join), so the cost is a (1+n_planes)x fan-out
    of the TINY side only — never of the corpus. Probe buckets of one
    query are distinct, so no candidate dedup step is needed.
    Output (qid, id, score).
    """
    # Query-side norm is always hoisted (tiny side, every row probes).
    # The CORPUS-side norm hoist depends on expected bucket fan-out:
    # with a small broadcast query set, most corpus rows match NO probe
    # (nq / 2^planes << 1) and a pre-join norm is computed for rows the
    # join immediately drops — measured +21% on sim_lsh_bucketed at
    # sf0.1. With broadcast_queries=False (two-BIG-sets kNN join) every
    # bucket is dense on both sides and each corpus row is scored many
    # times, so the hoist wins. Same doubles either way — placement
    # only changes WHERE the fold runs, not its value.
    e = spread(emb, id_col).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        bucket_id(F.col(vec_col), dim, n_planes).alias("bucket"),
        *([] if broadcast_queries else [_norm(F.col(vec_col)).alias("vnorm")]),
    )
    q = queries.select(
        F.col(qid_col).alias("qid"),
        F.col(qvec_col).alias("qvec"),
        bucket_id(F.col(qvec_col), dim, n_planes).alias("bucket"),
        _norm(F.col(qvec_col)).alias("qnorm"),
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)],
        )
        q = q.withColumn("bucket", F.explode(probes))
    # broadcast only when the query side is known-small; with
    # broadcast_queries=False this becomes the two-BIG-sets kNN JOIN —
    # a plain co-partitioned equi-join on the bucket key, the shape
    # that scales when the "query" side is itself a corpus
    if broadcast_queries:
        q = F.broadcast(q)
    joined = e.join(q, "bucket").filter(F.col("id") != F.col("qid"))
    vnorm = F.col("vnorm") if not broadcast_queries else _norm(F.col("vec"))
    score = F.round(
        _dot(F.col("vec"), F.col("qvec")) / (vnorm * F.col("qnorm")),
        4,
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("id"))
    return (
        joined.withColumn("score", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "id", "score")
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (SQ) — the memory-bound ANN workhorse
# ---------------------------------------------------------------------------
#
# PQ (operators/kmeans_exact.py) compresses 64 floats to m codebook bytes via
# trained centroids; scalar quantization is the simpler, train-free
# tier every vector store ships first: one global affine map per
# element into uint8. 256 B/vector instead of 256 B of float32 x 4 —
# a 4x scan-bandwidth win with NO training step and NO codebook
# broadcast, and distances stay pure INTEGER arithmetic, so the
# cross-engine oracle is exact by construction (no float fold order
# to match). Quantization uses floor(x + 0.5) explicitly instead of
# an engine round() — Spark HALF_UP vs DuckDB half-away agree only
# for non-negatives, and this way neither is involved.

SQ_LO, SQ_HI = -1.0, 1.0  # synthetic embeddings live in [-0.58, 0.52]


def greedy_max_min(
    scores: list[tuple[int, int]],
    dots: dict[tuple[int, int], int],
    k: int,
) -> list[tuple[int, int, int]]:
    """Greedy max-min diversity selection over a BOUNDED candidate set
    (the final-stage rerank of a retrieval pipeline; candidates come
    from a distributed top-N, this step sees only N rows).

    Rule, fully deterministic: pick 1 = lowest (score, id); each later
    pick minimizes (max dot-similarity to the already-selected set,
    then score, then id). Lower score = more relevant (squared-L2
    convention); lower dot = less similar = more diverse.

    Returns [(rank, id, score)] of length min(k, len(scores)).
    """
    remaining = sorted(scores, key=lambda s: (s[1], s[0]))
    if k <= 0 or not remaining:
        return []

    def dot(a: int, b: int) -> int:
        return dots.get((a, b), dots.get((b, a), 0))

    sel = [remaining.pop(0)]
    while remaining and len(sel) < k:
        best_i = min(
            range(len(remaining)),
            key=lambda i: (
                max(dot(remaining[i][0], s[0]) for s in sel),
                remaining[i][1],
                remaining[i][0],
            ),
        )
        sel.append(remaining.pop(best_i))
    return [(r + 1, i, s) for r, (i, s) in enumerate(sel)]


def rp_sign(i: Column | int, j: int) -> Column:
    """Deterministic ±1 entry (row i, column j) of the random-projection
    matrix: parity of (mix(i) * (2j+3) + 7j+1) mod HASH_MOD with
    mix(i) = i * 2654435761 mod HASH_MOD (Knuth multiplicative hash).
    The mix step matters: raw i is small, so without it the product
    never wraps the modulus and every column's parity would just
    alternate with i (the same degeneracy hashing.simhash_signature
    documents for additive bit derivations)."""
    from ..model import HASH_MOD

    mixed = (F.lit(i) if isinstance(i, int) else i) * F.lit(2654435761) % F.lit(
        HASH_MOD
    )
    par = (mixed * F.lit(2 * j + 3) + F.lit(7 * j + 1)) % F.lit(HASH_MOD) % F.lit(2)
    return F.when(par == 1, F.lit(1.0)).otherwise(F.lit(-1.0))


def random_projection(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
) -> DataFrame:
    """Johnson-Lindenstrauss compression: project each vector onto
    ``out_dim`` deterministic ±1 hyperplanes (the sign-matrix variant
    of random projection — Achlioptas 2001), shrinking a 100 TB
    embedding table ~dim/out_dim while approximately preserving
    pairwise distances. Map-only, whole-stage-codegen expressions; no
    shuffle, no UDF.

    Exactness contract: component j is a LEFT FOLD over the vector in
    index order (F.aggregate ≡ DuckDB list_reduce), so the double
    arithmetic is bit-identical cross-engine — the projection is
    hash-checkable without rounding rules. Output (id, proj) with
    proj array<double> of length out_dim.
    """
    vec = F.col(vec_col)

    def comp(j: int) -> Column:
        signed = F.transform(
            vec, lambda x, i: x.cast("double") * rp_sign(i.cast("long"), j)
        )
        return F.aggregate(signed, F.lit(0.0), lambda a, x: a + x)

    return emb.select(
        F.col(id_col).alias("id"),
        F.array(*[comp(j) for j in range(out_dim)]).alias("proj"),
    )


def sq_code_expr(vec_col: str) -> str:
    """SQL expression: float vector -> array<bigint> of uint8 codes.

    code = floor((x - lo) * 255/(hi - lo) + 0.5); with [lo, hi] =
    [-1, 1] the scale is exactly 127.5 (dyadic), and the float32 ->
    double widening is exact, so both engines compute bit-identical
    doubles and an identical floor."""
    return (
        f"transform({vec_col}, x -> "
        "CAST(floor((CAST(x AS DOUBLE) + 1.0D) * 127.5D + 0.5D) AS BIGINT))"
    )


def sq_quantize(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Map-only int8 quantization: (id, codes array<bigint>, code_sum)."""
    out = df.selectExpr(
        f"{id_col} AS id",
        f"{sq_code_expr(vec_col)} AS codes",
    )
    return out.withColumn(
        "code_sum",
        F.aggregate(
            F.col("codes"), F.lit(0).cast("long"), lambda a, x: a + x
        ),
    )


def sq_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by integer L2 distance in code space: quantize the corpus
    map-only, quantize the query driver-side with the same formula,
    fold the squared-difference sum as pure BIGINT arithmetic, then
    TakeOrderedAndProject — the same scan-shape as exact KNN but over
    4x fewer scan bytes at scale. Ties break by id ascending.
    Output (id, code_sum, qdist)."""
    import math

    qc = [int(math.floor((v + 1.0) * 127.5 + 0.5)) for v in query]
    qlit = "array(" + ", ".join(f"{c}L" for c in qc) + ")"
    coded = sq_quantize(df, id_col, vec_col)
    dist = F.expr(
        f"aggregate(zip_with(codes, {qlit}, (a, b) -> (a - b) * (a - b)), "
        "CAST(0 AS BIGINT), (acc, d) -> acc + d)"
    )
    return (
        coded.withColumn("qdist", dist)
        .select("id", "code_sum", "qdist")
        .orderBy(F.asc("qdist"), F.asc("id"))
        .limit(k)
    )


def sq_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """BATCH-SERVING twin of sq_topk: a query TABLE instead of one
    driver-side vector — per query, top-k by integer squared-L2 in
    int8 code space.

    Both sides quantize with the same exact dyadic affine
    (sq_code_expr); the tiny query side broadcasts and the coded
    corpus streams ONCE for all queries (same plan shape as
    topk_neighbors, over 4x fewer scan bytes at scale). Pure-BIGINT
    arithmetic end to end, so results are hash-exact cross-engine.
    Self-matches (id == qid) are excluded like the exact-KNN tiers.
    Output (qid, id, qdist), qdist ASC, ties by id ASC.
    """
    coded = sq_quantize(spread(df, id_col), id_col, vec_col)
    qcoded = queries.selectExpr(
        f"{qid_col} AS qid", f"{sq_code_expr(qvec_col)} AS qcodes"
    )
    joined = coded.crossJoin(F.broadcast(qcoded)).filter(F.col("id") != F.col("qid"))
    dist = F.aggregate(
        F.zip_with(F.col("codes"), F.col("qcodes"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    w = Window.partitionBy("qid").orderBy(F.asc("qdist"), F.asc("id"))
    return (
        joined.withColumn("qdist", dist)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "id", "qdist")
    )


def range_search_report(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    tau4: float,
    n_planes: int = 8,
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """RANGE search report — the vector-DB API complementary to top-k:
    all corpus vectors with cosine >= tau of each query, exact tier vs
    LSH-bucketed tier (plain and multiprobe), with measured recall.

    The threshold compares ROUND(cos, 4) >= tau4 in BOTH tiers and
    both engines (the repo's float-boundary discipline), and an LSH
    candidate passes the identical predicate an exact pair does, so
    LSH hits are a SUBSET of exact hits by construction — recall_ppm
    is a pure count ratio, no overlap join needed.

    Scale shape: the exact tier is the honest broadcast-query corpus
    scan (the brute baseline every ANN tier is priced against); the
    LSH tiers are bucket equi-joins where only the TINY query side
    fans out (1 -> 1+n_planes probe rows for multiprobe). Output one
    row per query: n_exact, n_lsh, n_multiprobe, recall ppms.
    """
    q = queries.select(
        F.col(qid_col).alias("qid"),
        F.col(qvec_col).alias("qvec"),
    ).withColumn("qnorm", _norm(F.col("qvec"))).withColumn(
        "qbucket", bucket_id(F.col("qvec"), dim, n_planes)
    )
    e = spread(emb, id_col).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        bucket_id(F.col(vec_col), dim, n_planes).alias("bucket"),
    ).withColumn("vnorm", _norm(F.col("vec")))

    def scored(joined):
        return joined.withColumn(
            "cos4",
            F.round(
                _dot(F.col("vec"), F.col("qvec"))
                / (F.col("vnorm") * F.col("qnorm")),
                4,
            ),
        ).filter((F.col("id") != F.col("qid")) & (F.col("cos4") >= tau4))

    # count FROM the query set so a query with zero in-radius
    # neighbors still reports n_exact=0 instead of vanishing (session
    # review finding — the groupBy-then-join form dropped it)
    exact = q.select("qid").join(
        scored(e.crossJoin(F.broadcast(q)))
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact")),
        "qid",
        "left",
    ).select("qid", F.coalesce("n_exact", F.lit(0)).cast("long").alias("n_exact"))
    # probe rows: own bucket + every hamming-1 flip (distinct per query)
    probes = q.select(
        "qid",
        "qvec",
        "qnorm",
        "qbucket",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(1 << p))
                    for p in range(n_planes)
                ],
            )
        ).alias("bucket"),
    )
    lsh = (
        scored(e.join(F.broadcast(probes), "bucket"))
        .groupBy("qid")
        .agg(
            F.sum(
                F.when(F.col("bucket") == F.col("qbucket"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_lsh"),
            F.count(F.lit(1)).cast("long").alias("n_multiprobe"),
        )
    )
    return (
        exact.join(lsh, "qid", "left")
        .selectExpr(
            "qid",
            "n_exact",
            "coalesce(n_lsh, 0L) AS n_lsh",
            "coalesce(n_multiprobe, 0L) AS n_multiprobe",
            "CASE WHEN n_exact > 0 THEN (1000000 * coalesce(n_lsh, 0L))"
            " div n_exact ELSE 1000000L END AS recall_lsh_ppm",
            "CASE WHEN n_exact > 0 THEN"
            " (1000000 * coalesce(n_multiprobe, 0L)) div n_exact"
            " ELSE 1000000L END AS recall_mp_ppm",
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# exact-duplicate vector collapse + tier-pruned expansion
# ---------------------------------------------------------------------------
#
# The two-big-sets kNN joins (sim_mutual_nn, sim_lof_outliers) go
# quadratic-in-cluster on duplicate-heavy corpora: every member of a
# duplicate cluster generates candidate pairs against every member of
# every bucket-sharing cluster, so in-bucket pair work grows with the
# PRODUCT of cluster sizes (the round-7 sf1 soak measured ~200 s each
# on the 90%-exact-dup shape while the suite median was 1-3 s). But
# identical vectors have identical buckets, codes, norms, and pairwise
# distances — so the candidate stage only needs to run once per UNIQUE
# vector pair, and each point's true top-k can be reconstructed from a
# provably-sufficient pruned edge set:
#
#   1. collapse exact-duplicate vectors (group by the raw vector VALUE,
#      collision-free by construction) into clusters (rep_id, k);
#   2. run the bucket candidate join over unique vectors only,
#      producing per cluster pair ONE measure m (distance-like, ASC
#      order) — including the self pair (A, A) whenever k_A >= 2,
#      because every member then sees k_A - 1 identical-vector
#      candidates;
#   3. per query cluster A, keep only the first k TIERS (distinct m
#      values, dense_rank ascending). Every kept-or-better tier
#      supplies at least one candidate to every member of A (the self
#      pair is pre-filtered to clusters with k_A >= 2; a cross pair
#      supplies k_B >= 1), so a candidate in tier k+1 or later has
#      >= k strictly closer candidates for every member and can never
#      be selected. One window, no weight bookkeeping — a superset of
#      the exact weighted-prefix rule, still O(k) tiers per cluster;
#   4. within a kept pair (A, B), only the k+1 smallest member ids of
#      B can ever be selected by any member of A (selection fills by
#      (m ASC, id ASC); at most k slots are taken from any tier, plus
#      one slot freed by self-exclusion), so expansion joins the
#      membership table capped at k+1 ids per cluster.
#
# The result is a point-level edge superset of every point's naive
# top-k and a subset of the naive candidate set, so a per-point
# (m ASC, id ASC) row_number over it selects EXACTLY the naive top-k
# rows — the downstream pipeline (k-distance, reachability, LOF, or
# the reciprocal top-1 join) is unchanged and the oracles stay
# byte-identical. Edge count is O(corpus * k * tiers), never
# O(cluster^2). Proven two ways per the staged-dedup precedent
# (operators/dedup.py staged_jaccard_pairs): the registry oracles are
# reused VERBATIM (hash match = relation identity), and dup-heavy
# fixture tests assert row equality against the naive plans.


def vec_exact_collapse(
    emb: DataFrame, id_col: str = "id", vec_col: str = "vec"
) -> tuple[DataFrame, DataFrame]:
    """Collapse exact-duplicate vectors: returns (uniq, mem).

    uniq = (id = min member id, vec, kdup); mem = (pid, rep_id).
    The grouping key is the raw vector value (array equality), so the
    collapse is collision-free with no fingerprint hash to justify.
    Both frames are persisted — each feeds >= 2 plan branches (the
    candidate join, the tier weights, both expansion joins), and plans
    are trees: without the cache the corpus scan + array-keyed shuffle
    would re-execute per branch.
    """
    base = emb.select(F.col(id_col).alias("pid"), F.col(vec_col).alias("vec"))
    # ONE shuffle on the vector value: the unpartitioned-window ban
    # doesn't apply (partitioned by vec, cardinality = #unique), and
    # deriving mem/uniq from the same tagged frame avoids a second
    # array-keyed join
    w = Window.partitionBy("vec")
    tagged = (
        base.withColumn("rep_id", F.min("pid").over(w))
        .withColumn("kdup", F.count(F.lit(1)).over(w).cast("long"))
        .persist()
    )
    uniq = tagged.filter(F.col("pid") == F.col("rep_id")).select(
        F.col("pid").alias("id"), "vec", "kdup"
    )
    mem = tagged.select("pid", "rep_id")
    return uniq, mem


def tier_pruned_expand(
    rep_cand: DataFrame,
    uniq: DataFrame,
    mem: DataFrame,
    k: int,
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Expand rep-level candidates to a point-level edge set that
    provably contains every point's naive top-k by (m ASC, id ASC).

    ``rep_cand``: (ra, rb, m, *payload) — one row per candidate
    cluster pair, INCLUDING the self pair ra == rb (it is weighted
    k_A - 1 here and dropped when the cluster is a singleton).
    ``uniq``/``mem`` from :func:`vec_exact_collapse`. Returns
    (qid, id, m, *payload) with qid != id. See the module comment for
    the exactness argument.
    """
    # drop singleton self pairs (a singleton member sees no
    # identical-vector candidate), then keep the first k tiers per
    # query cluster — one dense_rank window, see the module comment
    ka = uniq.select(F.col("id").alias("ra"), F.col("kdup").alias("ka"))
    cand = rep_cand.join(ka, "ra").filter(
        (F.col("ra") != F.col("rb")) | (F.col("ka") >= 2)
    )
    wspec = Window.partitionBy("ra").orderBy(F.asc("m"))
    kept = (
        cand.withColumn("tier", F.dense_rank().over(wspec))
        .filter(F.col("tier") <= k)
        .select("ra", "rb", "m", *payload_cols)
    )
    # only the k+1 smallest member ids of a candidate cluster can be
    # selected by any query point (k slots per tier + one freed by
    # self-exclusion)
    wm = Window.partitionBy("rep_id").orderBy(F.asc("pid"))
    topm = (
        mem.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") <= k + 1)
        .select(F.col("rep_id").alias("rb"), F.col("pid").alias("id"))
    )
    return (
        mem.select(F.col("pid").alias("qid"), F.col("rep_id").alias("ra"))
        .join(kept, "ra")
        .join(topm, "rb")
        .filter(F.col("qid") != F.col("id"))
        .select("qid", "id", "m", *payload_cols)
    )
