"""Deduplication operators for large-scale text corpora (SURVEY §2.11).

Extension surface beyond the reference (BASELINE.json north star):
exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — each expressed as DataFrame plans whose shuffles move
hashes/signatures, never full documents:

- exact:     groupBy 64-bit-ish fingerprint of normalized text; the
             shuffle carries (hash, id) pairs only.
- Jaccard:   shingle -> self-join on shingle hash -> count shared ->
             filter by threshold. Candidate generation is the join;
             at 100 TB you bound it by dropping ultra-common shingles
             (stopword shingles explode the join) — ``max_shingle_freq``.
- MinHash:   k independent permutations approximated by affine hashes
             (a_i*s + b_i) % P; LSH banding turns near-dup search into
             an equi-join on (band, band-signature) — no all-pairs.
- SimHash:   per-token signed bit votes -> 48-bit signature; banding
             for candidates, popcount(xor) for verify.
- cosine:    exact top-k most-similar pairs at test scale; LSH
             (similarity.py) is the scale path.

All hash math uses the stable cross-engine spec (hashing.py) so every
operator has an exact DuckDB oracle.
"""

from __future__ import annotations

# pandas must be importable at MODULE level: with postponed annotations
# the pandas_udf type hints ("pd.Series") are strings that pyspark
# resolves against this module's globals, not the factory's locals —
# a factory-local import makes every UDF in this file fail to compile.
import pandas as pd  # noqa: F401
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions import text as Ft
from ..model import HASH_MOD
from ..session import spread

#: affine MinHash parameters (deterministic, shared with the oracle SQL)
MINHASH_K = 16
MINHASH_A = [2 * i + 3 for i in range(MINHASH_K)]  # odd multipliers
MINHASH_B = [7 * i + 1 for i in range(MINHASH_K)]
MINHASH_BANDS = 4  # 4 bands x 4 rows

#: 60 bits = 4 pigeonhole chunks x 15 bits at max_hamming=3. 15-bit
#: chunk values (32,768 distinct) collide 8x less than the earlier
#: 12-bit chunks — the candidate join output shrinks ~8x on templated
#: corpora. 60 (not 64) keeps every signature positive in a signed
#: BIGINT so the Spark<->DuckDB bit arithmetic stays sign-free.
SIMHASH_BITS = 60


def normalized_body(c: Column) -> Column:
    """lower + whitespace-collapse canonical form for dedup keys.
    NULL coalesces to '' so every engine path (expr, Arrow UDF, DuckDB
    list_reduce — whose fold yields 0 for empty) agrees: NULL body ->
    fp 0, one consistent spec."""
    return F.lower(Ft.normalize_ws(F.coalesce(c, F.lit(""))))


def fingerprint(c: Column) -> Column:
    """Stable content fingerprint: single polynomial fold of the
    normalized text (~2^30 space — fine as a VALUE, e.g. the KMV
    distinct-count domain, but NOT as a dedup key at corpus scale;
    use :func:`fingerprint_wide` for keys).
    Pure-expression form — fine for predicates/short strings."""
    return Ft.string_hash(normalized_body(c))


def fingerprint_wide(c: Column) -> Column:
    """~60-bit content fingerprint (two independent folds packed into
    one BIGINT) — the exact-dedup / streaming-dedup KEY spec
    (hashing.fingerprint_wide). Pure-expression form; the Arrow twin
    is :func:`fingerprint_wide_udf`."""
    return Ft.string_hash_wide(normalized_body(c))


def fingerprint_wide_udf():
    """Arrow-batched ~60-bit fingerprint (hashing.fingerprint_wide):
    two independent folds packed into one BIGINT. This is the DEDUP
    key — the single ~2^30 fold mass-collides at corpus scale
    (round-5 review; birthday bound ~37k docs), which would silently
    merge unrelated documents. SQL twin:
    hashing.duckdb_fingerprint_wide_sql."""
    from ..hashing import fingerprint_wide, normalize_ws_ascii

    @F.pandas_udf("long")
    def _fp(bodies: pd.Series) -> pd.Series:
        return bodies.map(
            lambda b: fingerprint_wide(normalize_ws_ascii(b or "").lower())
        )

    return _fp


def exact_dedup(
    df: DataFrame, id_col: str = "id", body_col: str = "body"
) -> DataFrame:
    """Exact dedup: keep the minimum id per content fingerprint.

    Returns (id, fp, dup_cnt) for surviving records. One hash-partition
    shuffle of (fp, id); map-side combine reduces it to one row per
    distinct fp per partition. The key is the WIDE (~60-bit)
    fingerprint — collision-safe to ~2^30 documents, unlike the single
    ~2^30 fold (round-5 review finding).
    """
    return (
        df.select(
            F.col(id_col).alias("id"),
            fingerprint_wide_udf()(F.col(body_col)).alias("fp"),
        )
        .groupBy("fp")
        .agg(F.min("id").alias("id"), F.count(F.lit(1)).alias("dup_cnt"))
        .select("id", "fp", "dup_cnt")
    )


def _shingles_udf(n: int):
    """Arrow-batched UDF: body -> sorted distinct shingle hashes.
    Same integers as the pure-expression fold (hashing.shingle_hashes);
    vectorized with a per-batch token-hash cache — the expression form
    re-folds every character of every token, ~20x slower at sf0.1."""
    import pandas as pd

    from ..hashing import shingle_hashes

    @F.pandas_udf("array<long>")
    def _sh(bodies: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}
        return bodies.map(lambda b: shingle_hashes(b or "", n, cache))

    return _sh


def shingles(
    df: DataFrame, id_col: str = "id", body_col: str = "body", n: int = 3
) -> DataFrame:
    """Distinct hashed token n-gram shingles per document: (id, sh).

    Shingle hash folds the n token hashes with multiplier 131 mod
    HASH_MOD, so the DuckDB oracle reproduces it exactly. Map-only
    (UDF + explode); the per-doc distinct happens inside the UDF, so
    no distinct() shuffle is needed.
    """
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(_shingles_udf(n)(F.col(body_col))).alias("sh"),
    )


def auto_shingle_cap(n_docs: int) -> int:
    """Default document-frequency cap for shingles: ceil(n/200), floor
    16 — a shingle in >0.5% of a 100 TB corpus is boilerplate whose
    join fan-out is O(freq^2) while its Jaccard contribution is noise.
    Integer arithmetic so the DuckDB oracle reproduces it exactly."""
    return max(16, (n_docs + 199) // 200)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "id",
    body_col: str = "body",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | str | None = "auto",
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard similarity >= threshold.

    Plan: shingles -> drop shingles appearing in more than
    ``max_shingle_freq`` docs (the 100 TB knob: ultra-common shingles
    dominate the self-join cost while contributing almost nothing to
    Jaccard) -> self-equi-join on shingle -> shared counts -> join two
    per-doc size aggregates -> threshold filter. Jaccard is computed
    over the SURVIVING shingle sets (sizes counted after the cap), so
    the guarded semantics are self-consistent and oracle-able.

    ``max_shingle_freq``: ``"auto"`` (default) derives
    :func:`auto_shingle_cap` from the corpus size — the guarded path
    IS the default path; an int pins the cap; ``None`` disables the
    guard (measurement baseline only — unbounded join fan-out).
    Output (id_a, id_b, jaccard) with id_a < id_b.
    """
    # cache: sh feeds the freq filter, the size aggregate, and both
    # sides of the self-join. DataFrame cache() is MEMORY_AND_DISK with
    # LRU eviction, so repeated calls degrade gracefully rather than
    # leak unboundedly; an explicit unpersist would have to outlive the
    # returned (lazy) plan, which the operator cannot see.
    sh = shingles(df, id_col, body_col, n).cache()
    if max_shingle_freq == "auto":
        # df.count() (not sh-derived): the cap spec counts ALL documents
        # incl. shingle-less ones, exactly like the oracle's COUNT(*);
        # over parquet this is a column-pruned row-group-count scan.
        max_shingle_freq = auto_shingle_cap(df.count())
    if max_shingle_freq is not None:
        rare = sh.groupBy("sh").count().filter(F.col("count") <= max_shingle_freq)
        sh = sh.join(rare.select("sh"), "sh")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # threshold compare is integer cross-multiplied (inter * 1e6 >=
    # ppm * union) so the boundary is EXACT and engine-identical — a
    # filter on the rounded float diverged from the oracle's raw-ratio
    # filter for near-boundary pairs (round-5 review finding)
    thresh_ppm = round(threshold * 1_000_000)
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        shared.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .filter(F.col("inter") * 1_000_000 >= F.lit(thresh_ppm) * union)
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / union.cast("double"), 6),
        )
        .select("id_a", "id_b", "jaccard")
    )


def _exact_collapse(recs: DataFrame):
    """Shared exact-duplicate collapse for the staged dedup operators:
    (clusters, mem, reps) where clusters = (fp, rep_id, k), mem =
    (id, rep_id) membership, reps = representative rows carrying the
    body and the cluster weight k. The fingerprint projection and the
    membership table are PERSISTED — each is consumed by 3+ plan
    branches (clusters/mem/reps; both expansion joins + the live set),
    and without the cache the wide-fingerprint UDF re-scans the whole
    corpus per branch (round-7 review finding)."""
    fp = recs.select(
        "id", "body", fingerprint_wide_udf()(F.col("body")).alias("fp")
    ).persist()
    clusters = fp.groupBy("fp").agg(
        F.min("id").alias("rep_id"), F.count(F.lit(1)).cast("long").alias("k")
    )
    mem = (
        fp.select("id", "fp")
        .join(clusters.select("fp", "rep_id"), "fp")
        .select("id", "rep_id")
        .persist()
    )
    reps = (
        fp.join(clusters, "fp")
        .filter(F.col("id") == F.col("rep_id"))
        .select("id", "body", "k")
        .persist()
    )
    return clusters, mem, reps


def _expand_rep_pairs(rep_pairs, mem, live, thresh_ppm: int):
    """Shared representative-pair -> document-pair expansion for the
    staged jaccard tiers (one source of truth — the r8 review's
    no-local-copies rule, same as _simhash_chunks): cross-cluster
    pairs expand through the membership table carrying the rep pair's
    jaccard; within-cluster pairs are jaccard = 1.0 and exist in the
    naive output iff the text is in ``live`` (the caller's has-a-
    shingle rule — cap-surviving for the capped tier, >= n tokens for
    the uncapped prefix tier). A threshold above 1e6 ppm rejects even
    exact duplicates (inter <= union), so the within tier vanishes —
    mirroring the naive filter. ``rep_pairs`` must carry (ra, rb,
    jaccard); ``live`` (id, rep_id)."""
    cross = (
        rep_pairs.join(
            mem.select(F.col("id").alias("da"), F.col("rep_id").alias("ra")),
            "ra",
        )
        .join(
            mem.select(F.col("id").alias("db"), F.col("rep_id").alias("rb")),
            "rb",
        )
        .selectExpr(
            "least(da, db) AS id_a", "greatest(da, db) AS id_b", "jaccard"
        )
    )
    la = live.alias("la")
    lb = live.alias("lb")
    within = la.join(
        lb,
        (F.col("la.rep_id") == F.col("lb.rep_id"))
        & (F.col("la.id") < F.col("lb.id")),
    ).selectExpr(
        "la.id AS id_a", "lb.id AS id_b", "CAST(1.0 AS DOUBLE) AS jaccard"
    )
    if thresh_ppm > 1_000_000:
        return cross.select("id_a", "id_b", "jaccard")
    return cross.unionByName(within).select("id_a", "id_b", "jaccard")


def staged_jaccard_pairs(
    df: DataFrame,
    id_col: str = "id",
    body_col: str = "body",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """:func:`ngram_jaccard_pairs` computed the way a production
    pipeline runs it on a duplicate-heavy corpus: collapse exact
    duplicates FIRST (wide fingerprint), run the shingle self-join on
    UNIQUE texts only, then expand representative-level pairs back to
    document pairs — plus the within-cluster pairs, which are
    jaccard = 1.0 by construction. Semantics are IDENTICAL to the
    naive operator, proven two ways: the registry twin
    (``dedup_jaccard_staged``) reuses the naive oracle SQL verbatim,
    and a test asserts row equality against the naive plan.

    The equivalence holds because identical texts have identical
    distinct shingle sets, so (a) the document frequency that feeds
    the shingle cap equals the SUM of cluster sizes over unique
    texts (weighted here), and (b) every raw pair's Jaccard equals
    its representatives' Jaccard. Why it matters at 100 TB: web-crawl
    corpora run 50-90% exact-duplicate, and the shingle self-join's
    fan-out is quadratic in per-shingle document frequency — the sf1
    soak (10 identical copies per document) measured the naive plan
    at 222s vs this staged plan's join on 10x fewer rows; only the
    EXPANSION (output-sized by definition) touches duplicate ids.
    """
    recs = df.select(F.col(id_col).alias("id"), F.col(body_col).alias("body"))
    clusters, mem, reps = _exact_collapse(recs)
    sh = shingles(reps, "id", "body", n).persist()
    # weighted doc frequency over unique texts == raw doc frequency
    cap = auto_shingle_cap(df.count())
    wfreq = (
        sh.join(reps.select("id", "k"), "id")
        .groupBy("sh")
        .agg(F.sum("k").alias("df"))
    )
    shc = sh.join(wfreq.filter(F.col("df") <= cap).select("sh"), "sh").persist()
    sizes = shc.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = shc.alias("a")
    b = shc.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("ra"), F.col("b.id").alias("rb"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    thresh_ppm = round(threshold * 1_000_000)
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    rep_pairs = (
        shared.join(
            sizes.withColumnRenamed("id", "ra").withColumnRenamed("sz", "sz_a"),
            "ra",
        )
        .join(
            sizes.withColumnRenamed("id", "rb").withColumnRenamed("sz", "sz_b"),
            "rb",
        )
        .filter(F.col("inter") * 1_000_000 >= F.lit(thresh_ppm) * union)
        .withColumn("jaccard", F.round(F.col("inter") / union.cast("double"), 6))
        .select("ra", "rb", "jaccard")
    )
    # within-cluster pairs exist in the naive output iff the text kept
    # at least one shingle after the cap (else it never joins)
    live = mem.join(
        sizes.withColumnRenamed("id", "rep_id").select("rep_id"), "rep_id"
    ).select("id", "rep_id")
    return _expand_rep_pairs(rep_pairs, mem, live, thresh_ppm)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "id",
    body_col: str = "body",
    n: int = 3,
    threshold_ppm: int = 500_000,
    max_shingle_freq: int | str | None = "auto",
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by n-gram containment — the
    quote/subset detector Jaccard misses: a short document fully
    quoted inside a long one has tiny Jaccard (union is large) but
    containment(src->dst) = |src ∩ dst| / |src| ≈ 1 (Broder 1997's
    second resemblance measure; the substring-dedup complement at
    set granularity).

    Plan shape is ngram_jaccard_pairs' banded-cost twin: capped
    shingles -> one undirected self-equi-join (id_a < id_b) computes
    the symmetric intersection ONCE -> both directed containments
    derive arithmetically (no second join). Exact integers end-to-end:
    containment_ppm = 1e6 * inter div sz_src, so the threshold
    boundary is engine-identical with no float contract. Output
    (src, dst, containment_ppm): src's surviving shingle set is
    >= threshold_ppm covered by dst's.
    """
    sh = shingles(df, id_col, body_col, n).cache()
    if max_shingle_freq == "auto":
        max_shingle_freq = auto_shingle_cap(df.count())
    if max_shingle_freq is not None:
        rare = sh.groupBy("sh").count().filter(F.col("count") <= max_shingle_freq)
        sh = sh.join(rare.select("sh"), "sh")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    both = (
        shared.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"),
            "id_b",
        )
    )
    fwd = both.selectExpr(
        "id_a AS src",
        "id_b AS dst",
        "(1000000 * inter) div sz_a AS containment_ppm",
    )
    rev = both.selectExpr(
        "id_b AS src",
        "id_a AS dst",
        "(1000000 * inter) div sz_b AS containment_ppm",
    )
    return fwd.unionByName(rev).filter(
        F.col("containment_ppm") >= threshold_ppm
    )


def staged_containment_pairs(
    df: DataFrame,
    id_col: str = "id",
    body_col: str = "body",
    n: int = 3,
    threshold_ppm: int = 500_000,
) -> DataFrame:
    """:func:`ngram_containment_pairs` with the exact-duplicate
    collapse of :func:`staged_jaccard_pairs` (same equivalence
    argument: identical texts have identical shingle sets, the
    df-cap counts raw docs via cluster weights, and every directed
    containment equals its representatives'). Within-cluster expansion
    emits k*(k-1) ordered pairs at 1e6 ppm — identical texts contain
    each other fully — for clusters whose text kept >= 1 shingle.
    sf1 soak (10 copies/doc): naive 229s; the self-join here runs on
    unique texts only."""
    recs = df.select(F.col(id_col).alias("id"), F.col(body_col).alias("body"))
    clusters, mem, reps = _exact_collapse(recs)
    sh = shingles(reps, "id", "body", n).persist()
    cap = auto_shingle_cap(df.count())
    wfreq = (
        sh.join(reps.select("id", "k"), "id")
        .groupBy("sh")
        .agg(F.sum("k").alias("df"))
    )
    shc = sh.join(wfreq.filter(F.col("df") <= cap).select("sh"), "sh").persist()
    sizes = shc.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = shc.alias("a")
    b = shc.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("ra"), F.col("b.id").alias("rb"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    both = (
        shared.join(
            sizes.withColumnRenamed("id", "ra").withColumnRenamed("sz", "sz_a"),
            "ra",
        )
        .join(
            sizes.withColumnRenamed("id", "rb").withColumnRenamed("sz", "sz_b"),
            "rb",
        )
    )
    fwd = both.selectExpr(
        "ra AS rs", "rb AS rd", "(1000000 * inter) div sz_a AS containment_ppm"
    )
    rev = both.selectExpr(
        "rb AS rs", "ra AS rd", "(1000000 * inter) div sz_b AS containment_ppm"
    )
    rep_dir = fwd.unionByName(rev).filter(
        F.col("containment_ppm") >= threshold_ppm
    )
    cross = (
        rep_dir.join(
            mem.select(F.col("id").alias("src"), F.col("rep_id").alias("rs")),
            "rs",
        )
        .join(
            mem.select(F.col("id").alias("dst"), F.col("rep_id").alias("rd")),
            "rd",
        )
        .select("src", "dst", "containment_ppm")
    )
    live = mem.join(
        sizes.withColumnRenamed("id", "rep_id").select("rep_id"), "rep_id"
    ).select("id", "rep_id")
    la, lb = live.alias("la"), live.alias("lb")
    within = (
        la.join(
            lb,
            (F.col("la.rep_id") == F.col("lb.rep_id"))
            & (F.col("la.id") != F.col("lb.id")),
        )
        .selectExpr(
            "la.id AS src",
            "lb.id AS dst",
            "1000000L AS containment_ppm",
        )
    )
    if threshold_ppm > 1_000_000:
        # containment cannot exceed 1e6 (inter <= sz), so the naive
        # plan emits nothing within clusters at such thresholds
        return cross.select("src", "dst", "containment_ppm")
    return cross.unionByName(within).select("src", "dst", "containment_ppm")


def minhash_signatures(
    df: DataFrame, id_col: str = "id", body_col: str = "body", n: int = 3
) -> DataFrame:
    """MinHash signatures: (id, sig ARRAY<BIGINT>[MINHASH_K]).

    Map-only: one Arrow UDF computes the shingle set and the k affine
    mins per document — no explode, no groupBy shuffle (the earlier
    explode+groupBy form shuffled every shingle; at 100 TB that's the
    difference between a narrow stage and the largest shuffle in the
    pipeline). Empty shingle sets get no signature (dropped), matching
    the grouped form.
    """
    import numpy as np
    import pandas as pd

    from ..hashing import shingle_hashes

    a = np.array(MINHASH_A, dtype=np.int64)
    b = np.array(MINHASH_B, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def _sig(bodies: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}

        def sig(body):
            sh = shingle_hashes(body or "", n, cache)
            if not sh:
                return None
            s = np.asarray(sh, dtype=np.int64)
            return ((s[:, None] * a[None, :] + b[None, :]) % HASH_MOD).min(axis=0)

        return bodies.map(sig)

    return (
        df.select(F.col(id_col).alias("id"), _sig(F.col(body_col)).alias("sig"))
        .filter(F.col("sig").isNotNull())
    )


def minhash_bands(
    df: DataFrame, id_col: str = "id", body_col: str = "body", n: int = 3
) -> DataFrame:
    """Banded MinHash signatures: (id, band, bsig) — one row per band
    per document, bsig = polynomial fold of the band's signature rows.
    Map-only (signature UDF + explode); shared by the batch pair join
    and the streaming bucket operator."""
    rows = MINHASH_K // MINHASH_BANDS
    sigs = minhash_signatures(df, id_col, body_col, n)
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.aggregate(
                            F.slice("sig", bi * rows + 1, rows),
                            F.lit(0).cast("long"),
                            lambda acc, v: (acc * 131 + v) % F.lit(HASH_MOD),
                        ).alias("bsig"),
                    )
                    for bi in range(MINHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("id", "b.band", "b.bsig")


def minhash_lsh_pairs(
    df: DataFrame, id_col: str = "id", body_col: str = "body", n: int = 3
) -> DataFrame:
    """LSH candidate pairs: documents sharing at least one band of
    their MinHash signature. Output (id_a, id_b) with id_a < id_b.

    The banding equi-join is the whole point at scale: candidates come
    from hash-partitioned joins on (band_idx, band_sig), never from an
    all-pairs comparison.
    """
    # hash-spread the doc scan first: the signature UDF is map-only, so
    # over a single-file parquet table BOTH sides of the band self-join
    # otherwise compute their signatures in one task (explicit count —
    # AQE's byte-sized coalescing cannot see the per-doc UDF cost;
    # measured at sf0.1: dedup_minhash_pairs 3.1 -> 2.0 s,
    # corpus_pipeline 6.5 -> 4.2 s warm)
    df = spread(df, id_col)
    bands = minhash_bands(df, id_col, body_col, n)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def simhash(df: DataFrame, id_col: str = "id", body_col: str = "body") -> DataFrame:
    """SimHash signatures: (id, sim BIGINT of SIMHASH_BITS bits).

    Bit j of a token = parity of (h*(2j+3) + 7j+1) % HASH_MOD (per-bit
    affine multipliers — see hashing.simhash_signature for why an additive-only
    j term degenerates); per-document bit j is the sign of the token
    votes. Map-only Arrow UDF with numpy-vectorized vote matrices
    (hashing.simhash_signature) — identical integers to the expression fold,
    ~25x faster (O(tokens x bits) expression trees don't codegen well).
    """
    import pandas as pd

    from ..hashing import simhash_signature

    @F.pandas_udf("long")
    def _sim(bodies: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}
        return bodies.map(lambda b: simhash_signature(b or "", SIMHASH_BITS, cache))

    return df.select(F.col(id_col).alias("id"), _sim(F.col(body_col)).alias("sim"))


def _simhash_chunks(
    sigs: DataFrame,
    n_chunks: int,
    chunk_bits: int,
    max_chunk_freq: int | None,
    weight_col: str | None = None,
) -> DataFrame:
    """Pigeonhole chunk explosion + rare-chunk cap, SHARED by the
    naive and staged pair joins — their equivalence proof depends on
    the two chunkings (and cap semantics) being byte-identical, so no
    local copies that could drift (r8 second review finding; the same
    rule as cosine_top_pairs_staged's shared fold expressions). The
    cap counts ``weight_col`` when given (the staged path's cluster
    sizes — weighted frequency over unique signatures == raw document
    frequency) and rows otherwise."""
    out = sigs.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("sim", chunk_bits * c)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("cval"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select(*sigs.columns, "c.chunk", "c.cval")
    if max_chunk_freq is not None:
        w = F.col(weight_col) if weight_col else F.lit(1)
        rare = (
            out.groupBy("chunk", "cval")
            .agg(F.sum(w).alias("df"))
            .filter(F.col("df") <= max_chunk_freq)
            .select("chunk", "cval")
        )
        out = out.join(rare, ["chunk", "cval"])
    return out


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "id",
    body_col: str = "body",
    max_hamming: int = 3,
    max_chunk_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs with popcount(xor(sim_a, sim_b)) <= max_hamming.

    Candidates via band equi-join on 15-bit chunks: by pigeonhole, a
    pair within hamming distance 3 of a 60-bit signature MUST agree
    exactly on at least one of the 4 chunks — same no-all-pairs
    property as MinHash LSH.

    The hamming verify lives in the JOIN condition itself, so false
    candidates die inside the join operator — they are never
    materialized into a distinct() shuffle (the earlier form
    deduplicated the raw candidate set first, shuffling every false
    candidate once). The distinct() that remains only carries verified
    near-dup pairs.

    ``max_chunk_freq`` is the 100 TB skew knob (same role as
    ``max_shingle_freq`` for Jaccard): chunk values shared by more than
    this many docs — boilerplate/templated text — are dropped from
    candidate generation, at a bounded recall cost you can measure
    against the unbounded run at test scale. Output (id_a, id_b,
    hamming).
    """
    n_chunks = max_hamming + 1
    chunk_bits = SIMHASH_BITS // n_chunks
    sigs = simhash(df, id_col, body_col)
    chunks = _simhash_chunks(sigs, n_chunks, chunk_bits, max_chunk_freq)
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cval") == F.col("b.cval"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
                <= max_hamming
            ),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim"))).alias("hamming"),
        )
        .distinct()
    )


#: below this many UNDIRECTED edges the component graph is resolved
#: driver-side: the distributed loop's per-round cost is fixed job
#: overhead, not data, at this size. 2M undirected edges arrive as 4M
#: directed rows ≈ 64 MB of int64s over Arrow.
SMALL_GRAPH_EDGES = 2_000_000


def _resolve_small_graph(edges: DataFrame) -> DataFrame:
    """Driver-side union-find for small edge sets (same min-label
    semantics as the distributed loop; path-compressed + union by
    min so canonical = component minimum).

    The edge list lands via Arrow (``toPandas`` — two int64 numpy
    arrays, ~16 bytes/edge), not ``collect()``'s Row objects (~10-20x
    that), so the 2M-undirected-edge default really is ~64 MB of
    driver memory."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    pdf = edges.toPandas()
    for a, b in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
        a, b = int(a), int(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # union by min keeps the canonical = min invariant
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    rows = [(x, find(x)) for x in parent]
    return edges.sparkSession.createDataFrame(
        rows, "id: bigint, canonical_id: bigint"
    )


def resolve_duplicates(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Connected components over near-dup pairs: (id, canonical_id)
    for every id appearing in ``pairs``, canonical = min id in the
    component (keep-min-id survivor rule).

    Scale-adaptive in the AQE spirit: the edge count is known for free
    (the eager checkpoint materialized it), so small graphs — the
    common case even at 100 TB, since the EDGE set after LSH banding
    is orders of magnitude smaller than the corpus — resolve with
    driver-side union-find in one collect instead of paying ~6 rounds
    of fixed distributed-job overhead. Large graphs take the
    distributed path below.

    Distributed min-label propagation with pointer jumping: each round
    (a) every node takes the min label among itself and its neighbors,
    then (b) shortcuts to its label's label. Pointer jumping makes long
    chains collapse in O(log diameter) rounds instead of O(diameter) —
    the difference between 4 and 40 shuffles on a 100 TB corpus whose
    dup clusters chain through shared boilerplate. Each round is two
    hash-join shuffles carrying only (id, label) longs;
    ``localCheckpoint`` truncates the growing lineage so round N's plan
    doesn't replay rounds 1..N-1.

    Terminates early when no label changes (one cheap existence probe
    per round). Labels converge to the component minimum because min
    propagation is monotone non-increasing and bounded below.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # edges holds BOTH orientations, so the materialized count is
    # directed = 2x undirected; halve it before comparing against the
    # UNDIRECTED threshold the parameter documents
    if edges.count() // 2 <= small_graph_edges:
        return _resolve_small_graph(edges)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
            .withColumnRenamed("src", "id")
        )
        stepped = (
            labels.withColumnRenamed("label", "old_label")
            .join(nbr, "id", "left")
            .select(
                "id",
                "old_label",
                F.least(
                    F.col("old_label"), F.coalesce("nbr_min", F.col("old_label"))
                ).alias("label"),
            )
            # checkpoint BEFORE deriving ptr: the jump join consumes
            # stepped on both sides, and without materialization the
            # round's expensive edge-join + min-aggregate subtree would
            # execute twice per round (round-5 review finding)
            .localCheckpoint(eager=True)
        )
        # pointer jumping: label <- label(label); the old label rides
        # along so the convergence probe below is a scan of the
        # checkpointed partitions, not another shuffle join per round
        ptr = stepped.select(F.col("id").alias("_pid"), F.col("label").alias("_plabel"))
        jumped = (
            stepped.join(ptr, stepped["label"] == ptr["_pid"], "left")
            .select("id", "old_label", F.coalesce("_plabel", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = jumped.filter(F.col("label") != F.col("old_label")).limit(1).count()
        labels = jumped.select("id", "label")
        if changed == 0:
            break
    return labels.select("id", F.col("label").alias("canonical_id"))


def dedup_survivors(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "id",
) -> DataFrame:
    """The deduped corpus: drop every record whose component label is
    not itself (keep-min-id). Records not in any pair survive
    untouched. One anti-join on the id — the loser set carries only
    ids, so AQE broadcasts it when it's small and falls back to a
    hash-partitioned anti-join when dedup removed a large fraction of
    a 100 TB corpus (forcing broadcast there would OOM the driver).
    """
    losers = components.filter(F.col("id") != F.col("canonical_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def incremental_dedup(
    batch: DataFrame,
    seen_fps: DataFrame,
    seen_bands: DataFrame,
    id_col: str = "id",
    body_col: str = "body",
    n: int = 3,
    cache_tracker: list | None = None,
) -> DataFrame:
    """Ingest-time dedup of a NEW batch against a standing corpus,
    WITHOUT rescanning the corpus. The corpus is represented only by
    its two index tables — ``seen_fps`` (fp) for exact matches and
    ``seen_bands`` (band, bsig) for MinHash-LSH near matches — which a
    100 TB pipeline maintains incrementally (append the survivors'
    rows after each batch).

    Each batch document gets a disposition, checked in precedence
    order:
    - ``exact_dup_corpus``: its wide fingerprint is already indexed;
    - ``exact_dup_batch``: a smaller id in the SAME batch shares the
      fingerprint (keep-min-id, the exact_dedup rule);
    - ``near_dup_corpus``: any of its MinHash bands hits an indexed
      band bucket (LSH candidate — the same banding as
      minhash_lsh_pairs, so thresholds match the batch operator);
    - ``kept``: new content; its fp/band rows are what the caller
      appends to the index tables.

    Every probe is an equi-join on the index key (fp or (band, bsig)):
    the index tables stay hash-partitioned on those keys and the
    small batch side broadcasts under AQE — the corpus is never
    shuffled, which is the entire point at scale.

    Output: (id, fp, disposition).
    """
    # two consumers (corpus probe + within-batch min) would re-run the
    # fingerprint UDF; the (id, fp) frame is 16 B/row of BATCH-sized
    # data, so caching it is strictly cheaper than recomputing — the
    # materialize-small / recompute-big rule (plan audit: no
    # ReusedExchange is possible here, the two subtrees shuffle
    # differently). persist(), NOT localCheckpoint: checkpointed
    # blocks are unrecoverable after executor loss (fatal on spot/
    # decommissioning clusters, and in the streaming foreachBatch
    # caller) while a cached frame recomputes from lineage; the
    # ContextCleaner drops the cache when the frame goes out of scope.
    # A long-lived caller that invokes this repeatedly (the streaming
    # foreachBatch loop) must not wait on GC for that — pass
    # cache_tracker and unpersist its entries once the output action
    # completes (round-5 advisor note: one cached batch frame per
    # micro-batch otherwise accumulates in executor storage memory).
    fps = batch.select(
        F.col(id_col).alias("id"),
        fingerprint_wide_udf()(F.col(body_col)).alias("fp"),
    ).persist()
    if cache_tracker is not None:
        cache_tracker.append(fps)
    corpus_fp = (
        seen_fps.select("fp").distinct().withColumn("_corpus_fp", F.lit(True))
    )
    wmin = fps.groupBy("fp").agg(F.min("id").alias("_min_id"))
    near_ids = (
        minhash_bands(batch, id_col, body_col, n)
        .join(seen_bands.select("band", "bsig").distinct(), ["band", "bsig"], "left_semi")
        .select("id")
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    return (
        fps.join(corpus_fp, "fp", "left")
        .join(wmin, "fp")
        .join(near_ids, "id", "left")
        .select(
            "id",
            "fp",
            F.when(F.col("_corpus_fp"), F.lit("exact_dup_corpus"))
            .when(F.col("id") != F.col("_min_id"), F.lit("exact_dup_batch"))
            .when(F.col("_near"), F.lit("near_dup_corpus"))
            .otherwise(F.lit("kept"))
            .alias("disposition"),
        )
    )


def _window_hashes_udf(w: int):
    """Arrow-batched UDF: body -> POSITIONAL rolling window hashes
    (hashing.window_hashes spec — index in the returned list is the
    window's token offset). Shares the per-batch token-hash cache
    trick with _shingles_udf."""
    import pandas as pd

    from ..hashing import window_hashes

    @F.pandas_udf("array<long>")
    def _wh(bodies: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}
        return bodies.map(lambda b: window_hashes(b or "", w, cache))

    return _wh


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "id",
    body_col: str = "body",
    window: int = 16,
) -> DataFrame:
    """The TRANSFORMATION half of substring dedup: cut cross-document
    repeated spans from every document except the canonical occurrence
    (Lee et al. 2021 drop-all-but-one, made deterministic at window
    granularity): token t of doc d is REMOVED iff some ``window``-token
    rolling window covering t also occurs in a document with a SMALLER
    id — so the min-id document keeps its text and every later copy
    loses exactly the repeated region.

    Pipeline: positional window hashes (map-only Arrow UDF) ->
    per-hash min doc id (partial-aggregated (wh, id) shuffle) -> the
    covered token positions of non-canonical occurrences (bounded
    explode: window tokens per duplicated window) -> anti-join against
    the doc's token positions -> per-document ordered reassembly
    (sort_array over a doc-bounded collected list — the only per-doc
    state, bounded by doc length like the chunker).

    Output: (id, clean_text, n_tokens, n_removed) where clean_text is
    the surviving tokens joined by single spaces (token-normalized
    output — the same normalization the dedup keys already use).
    """
    wins = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_window_hashes_udf(window)(F.col(body_col))).alias("pos", "wh"),
    )
    canon = wins.groupBy("wh").agg(F.min("id").alias("_min_id"))
    removed = (
        wins.join(canon, "wh")
        .filter(F.col("id") > F.col("_min_id"))
        .select(
            "id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(window - 1))).alias(
                "tokpos"
            ),
        )
        .distinct()
    )
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(Ft.tokens(F.col(body_col))).alias("tokpos", "tok"),
    )
    kept = toks.join(removed, ["id", "tokpos"], "left_anti")
    n_removed = removed.groupBy("id").agg(F.count(F.lit(1)).alias("_nrm"))
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tokpos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("_ct"),
        F.count(F.lit(1)).cast("long").alias("_nt"),
    )
    # right-join back onto the full id set: fully-removed or token-less
    # documents still get a row (empty clean_text), mirroring how a
    # real pipeline rewrites every record
    return (
        rebuilt.join(n_removed, "id", "full")
        .join(df.select(F.col(id_col).alias("id")), "id", "right")
        .select(
            "id",
            F.coalesce(F.col("_ct"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("_nt"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("_nrm"), F.lit(0)).cast("long").alias("n_removed"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "id",
    body_col: str = "body",
    window: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level exact dedup: maximal token spans repeated across
    documents — the training-data operator of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better"),
    re-expressed as joins instead of a suffix array.

    Plan (all relational, no all-pairs):
    1. map-only Arrow UDF emits every ``window``-token rolling hash
       with its position; posexplode -> (id, pos, wh).
    2. window hashes seen in >= ``min_docs`` DISTINCT docs form the
       duplicated-hash set — a (wh, id) shuffle with partial
       aggregation, never the text itself. The groupBy+semi-join pair
       does recompute the window UDF once (no exchange shape to
       reuse); the alternative — min/max-over-a-wh-partitioned-window
       in one pass — was rejected because AQE splits skewed JOIN
       partitions but cannot split a skewed WINDOW partition, and
       boilerplate hashes are exactly the skewed keys.
    3. left-semi join the positional windows against that set
       (co-partitioned on wh; AQE broadcasts when the dup set is
       small).
    4. duplicated positions merge into maximal NON-overlapping spans:
       a new span starts only when the gap to the previous duplicated
       position is >= ``window`` (smaller gaps mean the two windows
       share tokens, so they are one region). Cumulative-sum-of-flags
       grouping over a window PARTITIONED per document (bounded
       partitions).

    At 100 TB the suffix-array approach needs a global sort of every
    token; this formulation shuffles only (hash, id, pos) triples and
    each stage is an equi-join — the standard scale trade (it finds
    repeats of >= window tokens rather than all maximal repeats, which
    is the knob real pipelines use, typically 50 tokens).

    Output: (id, span_start, span_end, n_windows) — token offsets,
    end-exclusive; a span covers tokens [span_start, span_end).
    """
    wins = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_window_hashes_udf(window)(F.col(body_col))).alias("pos", "wh"),
    )
    dup = (
        wins.groupBy("wh")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("wh")
    )
    hits = wins.join(dup, "wh", "left_semi")
    win_spec = Window.partitionBy("id").orderBy("pos")
    new_run = F.when(
        F.lag("pos").over(win_spec).isNull()
        | (F.col("pos") - F.lag("pos").over(win_spec) >= F.lit(window)),
        F.lit(1),
    ).otherwise(F.lit(0))
    run_spec = win_spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        hits.withColumn("_new", new_run)
        .withColumn("_grp", F.sum("_new").over(run_spec))
        .groupBy("id", "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(window)).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .select("id", "span_start", "span_end", "n_windows")
    )


def cosine_top_pairs(
    emb: DataFrame,
    k: int = 20,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Exact top-k most-similar pairs by cosine over an embedding table.

    Test-scale exact baseline (O(n^2) pairs); the scale path is the
    LSH-bucketed variant in similarity.py. Output (id_a, id_b, cos).
    """
    def norm(c):
        return F.sqrt(
            F.aggregate(c, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
        )

    # repartition the STREAMED side: the broadcast-NL join inherits the
    # scan's partitioning, and a single-file parquet table otherwise
    # runs the whole O(n^2) scan in 1-2 tasks (sf1 soak: the stage sat
    # on one straggler task for an hour; hash-spreading it uses every
    # core — the baseline stays quadratic by contract, but honestly so)
    a = spread(
        emb.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), norm(F.col(vec_col)).alias("na")
        ),
        "id_a",
    )
    b = emb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), norm(F.col(vec_col)).alias("nb")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(dot / (F.col("na") * F.col("nb")), 4))
        .select("id_a", "id_b", "cos")
        .orderBy(F.desc("cos"), F.asc("id_a"), F.asc("id_b"))
        .limit(k)
    )


def band_key(band: Column, bsig: Column) -> Column:
    """Combined (band, band-signature) bucket key: band * HASH_MOD +
    bsig — injective because bsig < HASH_MOD; one BIGINT groupBy key
    for the streaming bucket operator."""
    return (band.cast("long") * F.lit(HASH_MOD) + bsig).cast("long")


def cosine_top_pairs_staged(
    emb: DataFrame,
    k: int = 20,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """:func:`cosine_top_pairs` staged through the unique-vector
    collapse — the same relation (global top-k pairs by cosine, ties
    by ids) computed with ONE cosine fold per unique-vector pair
    instead of one per point pair.

    Why exact: identical vectors have identical norms and dots, so
    every point pair's cosine equals its cluster pair's cosine
    (computed here with the same float expressions). The global top-k
    point pairs therefore live inside the top-k DISTINCT cosine tiers
    (each tier contributes at least one point pair), and within one
    cluster pair only the k+1 smallest member ids per side can appear
    in the top-k by (cos DESC, id_a ASC, id_b ASC): a member with k+1
    smaller same-cluster siblings has, for any partner, at least k
    lexicographically smaller pairs in the same tier. So: collapse,
    all-pairs over unique vectors, keep the top-k cosine tiers
    (TakeOrdered, no window), expand capped members, re-rank, limit k.

    Why it matters: the naive all-pairs baseline was the r7 sf1 soak's
    tail maximum (380 s on the 90%-dup corpus — 10x duplicates mean
    100x the pair folds). The staged plan's pair stage shrinks with
    the square of the dup rate; the expansion is O(k^2) rows per kept
    tier. Equivalence proven by the unchanged all-pairs registry
    oracle (hash match) and the dup-heavy fixture equality test.
    """
    # the SHARED fold expressions — the staged==naive invariant rests
    # on these cosines being float-identical to the naive plan's, so
    # no local copies that could drift (r8 review finding)
    from .similarity import _dot, _norm, vec_exact_collapse

    uniq, mem = vec_exact_collapse(emb, id_col=id_col, vec_col=vec_col)
    a = spread(
        uniq.select(
            F.col("id").alias("ra"),
            F.col("vec").alias("va"),
            _norm(F.col("vec")).alias("na"),
            F.col("kdup").alias("ka"),
        ),
        "ra",
    )
    b = uniq.select(
        F.col("id").alias("rb"),
        F.col("vec").alias("vb"),
        _norm(F.col("vec")).alias("nb"),
    )
    dot = _dot(F.col("va"), F.col("vb"))
    # self pair (ra == rb) iff the cluster has >= 2 members: it carries
    # the within-cluster point pairs, whose cosine the SAME expression
    # computes from (v, v)
    pairs = (
        a.join(
            b,
            (F.col("ra") < F.col("rb"))
            | ((F.col("ra") == F.col("rb")) & (F.col("ka") >= 2)),
        )
        .withColumn("cos", F.round(dot / (F.col("na") * F.col("nb")), 4))
        .select("ra", "rb", "cos")
        .persist()
    )
    # top-k distinct cosine tiers — every tier supplies >= 1 point
    # pair, so the global top-k pairs live inside these tiers
    tiers = pairs.select("cos").distinct().orderBy(F.desc("cos")).limit(k)
    kept = pairs.join(F.broadcast(tiers), "cos")
    wm = Window.partitionBy("rep_id").orderBy(F.asc("pid"))
    topm = (
        mem.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") <= k + 1)
        .select("rep_id", "pid")
    )
    pa = topm.select(F.col("rep_id").alias("ra"), F.col("pid").alias("pa"))
    pb = topm.select(F.col("rep_id").alias("rb"), F.col("pid").alias("pb"))
    expanded = (
        kept.join(pa, "ra")
        .join(pb, "rb")
        .filter(
            (F.col("ra") != F.col("rb")) | (F.col("pa") < F.col("pb"))
        )
        .selectExpr(
            "least(pa, pb) AS id_a", "greatest(pa, pb) AS id_b", "cos"
        )
    )
    return (
        expanded.orderBy(F.desc("cos"), F.asc("id_a"), F.asc("id_b"))
        .limit(k)
    )


def simhash_near_pairs_staged(
    df: DataFrame,
    id_col: str = "id",
    body_col: str = "body",
    max_hamming: int = 3,
    max_chunk_freq: int | None = None,
) -> DataFrame:
    """:func:`simhash_near_pairs` staged through a signature-level
    collapse — the round-8 extension of the staged-dedup tier to the
    pigeonhole chunk join (the second-biggest r8 sf1 tail at 49 s:
    duplicate texts share every chunk value, so per-chunk frequency —
    and the candidate fan-out — grows with the SQUARE of cluster
    size).

    Why exact: the output relation {(a, b): popcount(xor(sim_a,
    sim_b)) <= max_hamming} depends on ids only through their
    signatures, so pairs expand exactly from distinct-signature
    clusters: cross-cluster pairs carry the rep pair's hamming, and
    within-cluster pairs are hamming 0 <= max_hamming by definition.
    The weighted chunk-frequency cap (sum of cluster sizes) equals
    the raw-document frequency, the same guard-identity argument as
    staged_jaccard_pairs' weighted shingle cap. The expansion is
    OUTPUT-sized — every generated row is an emitted pair — so only
    the candidate join shrinks, which is exactly the quadratic part.
    Equivalence proven by the unchanged all-pairs registry oracle
    (hash match) and a dup-heavy fixture equality test."""
    n_chunks = max_hamming + 1
    chunk_bits = SIMHASH_BITS // n_chunks
    sigs = simhash(df, id_col, body_col)
    w = Window.partitionBy("sim")
    tagged = (
        sigs.withColumn("rep_id", F.min("id").over(w))
        .withColumn("k", F.count(F.lit(1)).over(w).cast("long"))
        .persist()
    )
    uniq = tagged.filter(F.col("id") == F.col("rep_id")).select(
        F.col("rep_id").alias("rid"), "sim", "k"
    )
    mem = tagged.select("id", "rep_id")
    # shared chunking + k-weighted cap (== raw-document frequency,
    # the staged_jaccard_pairs guard identity)
    chunks = _simhash_chunks(
        uniq, n_chunks, chunk_bits, max_chunk_freq, weight_col="k"
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cval") == F.col("b.cval"))
            & (F.col("a.rid") < F.col("b.rid"))
            & (
                F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
                <= max_hamming
            ),
        )
        .select(
            F.col("a.rid").alias("ra"),
            F.col("b.rid").alias("rb"),
            F.bit_count(
                F.col("a.sim").bitwiseXOR(F.col("b.sim"))
            ).alias("hamming"),
        )
        .distinct()
    )
    cross = (
        rep_pairs.join(
            mem.select(F.col("id").alias("pa"), F.col("rep_id").alias("ra")),
            "ra",
        )
        .join(
            mem.select(F.col("id").alias("pb"), F.col("rep_id").alias("rb")),
            "rb",
        )
        .selectExpr(
            "least(pa, pb) AS id_a", "greatest(pa, pb) AS id_b", "hamming"
        )
    )
    # within-cluster pairs: identical signatures, hamming 0 — emitted
    # iff the signature kept AT LEAST ONE chunk after the frequency
    # cap (a signature whose every chunk is capped away has no
    # candidate rows in the naive plan, so its within-pairs vanish
    # there too — the staged_jaccard_pairs 'live set' rule; the
    # dup-heavy fixture test caught the unconditional form)
    live = mem.join(
        chunks.select(F.col("rid").alias("rep_id")).distinct(), "rep_id"
    )
    la = live.alias("la")
    lb = live.alias("lb")
    within = (
        la.join(
            lb,
            (F.col("la.rep_id") == F.col("lb.rep_id"))
            & (F.col("la.id") < F.col("lb.id")),
        )
        .selectExpr(
            "la.id AS id_a", "lb.id AS id_b", "CAST(0 AS INT) AS hamming"
        )
    )
    return cross.withColumn(
        "hamming", F.col("hamming").cast("int")
    ).unionByName(within)


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "id",
    body_col: str = "body",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard >= threshold pairs via AllPairs/PPJoin prefix
    filtering (Bayardo, Ma & Srikant, WWW 2007; Xiao et al., WWW
    2008) — no frequency cap, no LSH, no collapse: the full uncapped
    all-pairs relation, computed without the all-pairs join.

    The filter: order every document's shingles by one GLOBAL order
    (ascending document frequency, shingle hash as the tie-break) and
    keep only the first ``p = sz - ceil(t*sz) + 1`` as its *prefix*.
    If J(x, y) >= t, the pair must share a shingle inside both
    prefixes: x's suffix has only ``ceil(t*sz_x) - 1`` elements, too
    few to reach the overlap bound ``ceil(t/(1+t) * (sz_x+sz_y))``
    implied by the threshold, so a pair missed by the prefix join
    provably fails the threshold. Candidates therefore equi-join on
    PREFIX shingles only — and because the global order is
    rarest-first, prefix shingles are the LOW-fan-out ones by
    construction (boilerplate lands in suffixes and never generates
    candidates). This is the 100 TB complement to the capped tier
    (ngram_jaccard_pairs changes semantics to tame fan-out) and the
    LSH tier (probabilistic recall): exact semantics, bounded join.

    PPJoin's length filter is applied at the candidate join
    (``t*max(sz) <= min(sz)`` integer cross-multiplied), and the
    verify stage counts intersections only for surviving candidates.
    Output (id_a, id_b, jaccard) with id_a < id_b — identical schema
    and relation to the uncapped ``ngram_jaccard_pairs(...,
    max_shingle_freq=None)``.
    """
    t_ppm = round(threshold * 1_000_000)
    sh = shingles(df, id_col, body_col, n).cache()
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df_"))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy("id").orderBy(F.asc("df_"), F.asc("sh"))
    # prefix keep rule: rn <= sz + 1 - ceil(t*sz); exact-integer ceil
    # via (t_ppm*sz + 999999) DIV 1000000 (sz is doc-bounded, no wrap)
    pref = (
        sh.join(freq, "sh")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "id")
        .filter(F.expr(f"rn <= sz + 1 - (({t_ppm} * sz + 999999) DIV 1000000)"))
    )
    pa = pref.select(
        F.col("id").alias("id_a"), "sh", F.col("sz").alias("sz_a")
    )
    pb = pref.select(
        F.col("id").alias("id_b"), "sh", F.col("sz").alias("sz_b")
    )
    cand = (
        pa.join(pb, "sh")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: t * max(sz) <= min(sz), both directions
            & (F.lit(t_ppm) * F.col("sz_a") <= F.lit(1_000_000) * F.col("sz_b"))
            & (F.lit(t_ppm) * F.col("sz_b") <= F.lit(1_000_000) * F.col("sz_a"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # verify: exact intersection size, candidates only — two equi-joins
    # against the cached shingle table, never a shingle self-join
    inter = (
        cand.join(sh.select(F.col("id").alias("id_a"), "sh"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "sh"), ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        inter.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"),
            "id_b",
        )
        .filter(F.col("inter") * 1_000_000 >= F.lit(t_ppm) * union)
        .withColumn("jaccard", F.round(F.col("inter") / union.cast("double"), 6))
        .select("id_a", "id_b", "jaccard")
    )


def dbscan_simhash_clusters(
    df: DataFrame,
    id_col: str = "id",
    body_col: str = "body",
    eps: int = 3,
    min_pts: int = 3,
) -> DataFrame:
    """DBSCAN (Ester, Kriegel, Sander & Xu, KDD 1996) over SimHash
    signatures with Hamming-distance eps-neighborhoods — density
    clustering as a dedup/curation primitive: dense regions of
    near-identical documents become clusters, isolated documents stay
    noise, no k chosen in advance.

    Scale shape — the whole algorithm runs on the SIGNATURE-CLASS
    graph, never on document pairs: a point's role and cluster depend
    on its id only through its signature (distances are signature
    functions), so identical-signature documents share one node whose
    weight k is the class size. Degree is |N_eps(p)| = k_self +
    sum of adjacent-class weights (the point counts itself, the
    paper's definition) — identical for every member, so core is a
    CLASS property. Adjacency comes from the exact pigeonhole chunk
    join (:func:`_simhash_chunks`, cap None) over DISTINCT
    signatures; clusters are connected components of the core-class
    subgraph via the existing min-label machinery
    (:func:`resolve_duplicates`) on class-min doc ids, so cluster id
    = min core doc id — the textbook's order-dependent border
    assignment is canonicalized to the MINIMUM cluster id among a
    border's core neighbor classes, making the relation deterministic
    and oracle-able. Only the final per-document expansion (one hash
    join on signature) is corpus-sized; on a 90%-duplicate corpus the
    pair-level plan this replaced did quadratic-in-cluster candidate
    work (sf1: 44 s -> the class graph is dup-count-invariant).

    Output: (id, role in core|border|noise, cluster BIGINT, -1 for
    noise), one row per input document, ordered by id.
    """
    sigs = simhash(df, id_col, body_col).persist()
    classes = (
        sigs.groupBy("sim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.min("id").alias("min_id"),
        )
        .persist()
    )
    n_chunks = eps + 1
    chunk_bits = SIMHASH_BITS // n_chunks
    chunks = _simhash_chunks(classes, n_chunks, chunk_bits, None)
    a = chunks.alias("a")
    b = chunks.alias("b")
    adj = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cval") == F.col("b.cval"))
            & (F.col("a.sim") < F.col("b.sim"))
            & (
                F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
                <= eps
            ),
        )
        .select(
            F.col("a.sim").alias("sa"),
            F.col("a.min_id").alias("ma"),
            F.col("b.sim").alias("sb"),
            F.col("b.min_id").alias("mb"),
            F.col("a.k").alias("ka"),
            F.col("b.k").alias("kb"),
        )
        .distinct()
        # class-sized; eager checkpoint (not persist) truncates the
        # chunk-join lineage so the downstream degree/CC/border plans
        # — and the plan audit — see a table, not the whole subtree
        .localCheckpoint(eager=True)
    )
    sym = adj.selectExpr(
        "sa AS s", "sb AS nbr", "kb AS nbr_k"
    ).unionByName(adj.selectExpr("sb AS s", "sa AS nbr", "ka AS nbr_k"))
    nbr_w = sym.groupBy("s").agg(F.sum("nbr_k").alias("adj_k"))
    verdict = classes.join(
        nbr_w.withColumnRenamed("s", "sim"), "sim", "left"
    ).selectExpr(
        "sim",
        "min_id",
        f"CAST(k + coalesce(adj_k, 0L) >= {min_pts} AS BOOLEAN) AS is_core",
    ).localCheckpoint(eager=True)
    core = verdict.filter("is_core").select("sim", "min_id")
    core_edges = (
        adj.join(core.selectExpr("sim AS sa"), "sa")
        .join(core.selectExpr("sim AS sb"), "sb")
        .select(F.col("ma").alias("id_a"), F.col("mb").alias("id_b"))
    )
    comps = resolve_duplicates(core_edges)  # (id = class min_id, canonical_id)
    core_cluster = core.join(
        comps.withColumnRenamed("id", "min_id"), "min_id", "left"
    ).select(
        "sim", F.coalesce("canonical_id", F.col("min_id")).alias("cluster")
    )
    border = (
        sym.join(core_cluster.withColumnRenamed("sim", "nbr"), "nbr")
        .join(core.selectExpr("sim AS s"), "s", "left_anti")
        .groupBy(F.col("s").alias("sim"))
        .agg(F.min("cluster").alias("cluster"))
    )
    return (
        sigs.join(
            core_cluster.withColumnRenamed("cluster", "c_cl"), "sim", "left"
        )
        .join(border.withColumnRenamed("cluster", "b_cl"), "sim", "left")
        .selectExpr(
            "id",
            "CASE WHEN c_cl IS NOT NULL THEN 'core' "
            "WHEN b_cl IS NOT NULL THEN 'border' ELSE 'noise' END AS role",
            "CAST(coalesce(c_cl, b_cl, -1) AS BIGINT) AS cluster",
        )
        .orderBy("id")
    )



def prefix_filter_jaccard_pairs_staged(
    df: DataFrame,
    id_col: str = "id",
    body_col: str = "body",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """:func:`prefix_filter_jaccard_pairs` composed with the exact-
    duplicate collapse (the staged-tier treatment): PPJoin runs on
    UNIQUE texts, then representative pairs expand to document pairs
    and within-cluster pairs are jaccard = 1.0 by construction.
    Semantics identical to the naive prefix join AND to the uncapped
    all-pairs relation — the registry twin keeps the naive all-pairs
    oracle verbatim.

    Why both stages: the prefix filter bounds fan-out per SHINGLE
    (rarest-first order), but duplicate documents share their entire
    prefix, so candidate fan-out still grows with the SQUARE of dup-
    cluster size — the sf1 soak (10 copies per doc, the web-crawl
    shape) measured the plain prefix join at 263 s; collapsing first
    runs it on 10x fewer rows and only the output-sized expansion
    touches duplicate ids.
    """
    recs = df.select(F.col(id_col).alias("id"), F.col(body_col).alias("body"))
    clusters, mem, reps = _exact_collapse(recs)
    rep_pairs = prefix_filter_jaccard_pairs(
        reps, "id", "body", n, threshold
    ).withColumnRenamed("id_a", "ra").withColumnRenamed("id_b", "rb")
    # within-cluster pairs exist in the naive output iff the text has
    # at least one shingle (an empty set never joins; uncapped, so any
    # shingle counts). A text has >= 1 n-gram shingle iff it has >= n
    # tokens — probed with the shared tokenizer directly, which skips
    # a second run of the hashing UDF over the unique texts (the
    # prefix join inside prefix_filter_jaccard_pairs already paid it)
    live = mem.join(
        reps.filter(F.size(Ft.tokens(F.col("body"))) >= n)
        .select(F.col("id").alias("rep_id")),
        "rep_id",
    ).select("id", "rep_id")
    return _expand_rep_pairs(
        rep_pairs, mem, live, round(threshold * 1_000_000)
    )
