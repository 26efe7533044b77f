"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast join of the (small) query
set against the candidate table, dot products as JVM higher-order
expressions (zip_with + left-to-right aggregate fold, which both Spark and
the DuckDB oracle evaluate in identical order → bit-identical doubles).

Scale path: LSH bucketing by random-hyperplane signs (deterministic
md5-derived hyperplanes) so the candidate set per query is a bucket, not
the full table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orion_spark.sources.kgx import read_parquet


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two double arrays (deterministic
    summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    The query side is broadcast (queries ≪ candidates); candidates stream
    through one narrow stage — at 100 TB of embeddings this is a single scan,
    no shuffle except the final per-query top-k aggregation. Ranking is on
    the 6-decimal-rounded cosine with id tie-break, so results are stable
    across engines and summation orders.

    Round 11 (guide §2.2): the candidate side goes through the
    spread_narrow_input probe — a compact single-row-group local parquet
    otherwise pins the |Q| x dim scoring folds to ONE scan task
    (measured 10.1 s single-task of an 11 s query at sf1); wide corpora
    pass through untouched, preserving the single-scan shape at scale.
    """
    from orion_spark.llm.dedup import spread_narrow_input

    # norms are hoisted out of the pair fan-out: one fold per ROW here,
    # one fold per PAIR below (instead of three) — bit-identical doubles,
    # the division just reads the precomputed factors
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).withColumn("_qn", l2_norm(F.col("_qv")))
    c = spread_narrow_input(
        candidates.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("_cv"),
        )
    ).withColumn("_cn", l2_norm(F.col("_cv")))
    pairs = F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
            6,
        ).alias("cosine"),
    )
    # per-query top-k as a single aggregate: collect the (cosine, id) pairs
    # into a max-k sorted slice — avoids a full window sort of all pairs
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def brute_force_topk_oracle_sql(
    k: int = 10,
    query_filter: str = "vec_id % 100 = 0",
    table: str = "embeddings",
) -> str:
    """DuckDB equivalent (list comprehension dot product, identical fold
    order, identical rounding + tie-break)."""
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM {table} WHERE {query_filter}),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM {table}),
    pairs AS (
        SELECT query_id, neighbor_id,
               round(
                   list_sum([qv[i] * cv[i] for i in range(1, len(qv) + 1)]) /
                   (sqrt(list_sum([qv[i] * qv[i] for i in range(1, len(qv) + 1)])) *
                    sqrt(list_sum([cv[i] * cv[i] for i in range(1, len(cv) + 1)]))),
                   6) AS cosine
        FROM q JOIN c ON query_id <> neighbor_id),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
        FROM pairs)
    SELECT query_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= {k}
    """


def lsh_topk_oracle_sql(
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    query_filter: str = "vec_id % 100 = 0",
    table: str = "embeddings",
) -> str:
    """DuckDB ground truth for lsh_topk: the hyperplane signatures are
    RECOMPUTED in SQL from the same md5 generator
    (('0x' || substr(md5('plane:p:i'),1,8))::BIGINT / 2^32 - 0.5 — the
    division and the 0.5 subtraction are exact in doubles, so the
    coefficients are bit-identical to the plan-build-time hashlib values),
    with per-plane coefficient LISTS so the projection folds in the same
    index order as Spark's zip_with. Bucket equality + cosine scoring +
    rank then mirror brute_force_topk's oracle exactly. LSH is
    deterministic for fixed data, so the approximate operator is fully
    hash-checkable — not merely rows-only."""
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM {table}),
    cf AS (
        SELECT p,
               list(('0x' || substr(md5('plane:' || p || ':' || i), 1, 8))
                        ::BIGINT / 4294967296.0 - 0.5 ORDER BY i) AS cs
        FROM range(0, {n_planes}) t1(p), range(0, {dim}) t2(i)
        GROUP BY p),
    proj AS (
        SELECT v.vec_id, cf.p,
               list_sum([v.ev[i] * cf.cs[i] for i in range(1, {dim} + 1)]) AS pr
        FROM v, cf),
    sig AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN pr > 0 THEN (1::BIGINT << p)
                             ELSE 0 END) AS BIGINT) AS s
        FROM proj GROUP BY vec_id),
    q AS (SELECT v.vec_id AS query_id, ev AS qv, s
          FROM v JOIN sig USING (vec_id) WHERE {query_filter}),
    c AS (SELECT v.vec_id AS neighbor_id, ev AS cv, s
          FROM v JOIN sig USING (vec_id)),
    pairs AS (
        SELECT query_id, neighbor_id,
               round(
                   list_sum([qv[i] * cv[i] for i in range(1, len(qv) + 1)]) /
                   (sqrt(list_sum([qv[i] * qv[i] for i in range(1, len(qv) + 1)])) *
                    sqrt(list_sum([cv[i] * cv[i] for i in range(1, len(cv) + 1)]))),
                   6) AS cosine
        FROM q JOIN c ON q.s = c.s AND query_id <> neighbor_id),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
        FROM pairs)
    SELECT query_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= {k}
    """


# ---------------------------------------------------------------------------
# IVF (inverted-file) index — the other scale path
# ---------------------------------------------------------------------------

def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer: k-means over the
    candidate vectors assigns each to a centroid list; each query scores
    only the `n_probe` nearest lists instead of the full table.

    Built on Spark MLlib KMeans (distributed training) + a broadcast
    centroid table for assignment. Recall/n_probe trade off exactly as in a
    FAISS-style IVF; with n_probe == n_clusters this degrades gracefully to
    brute force.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    cand = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    ).withColumn("_features", array_to_vector("_cv"))
    km = KMeans(k=n_clusters, seed=seed, featuresCol="_features", predictionCol="_list")
    model = km.fit(cand)
    assigned = model.transform(cand).select("neighbor_id", "_cv", "_list")

    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    spark = candidates.sparkSession
    cent_df = spark.createDataFrame(
        centroids, "_list int, _centroid array<double>"
    )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    # rank centroids per query (tiny cross product: |q| x n_clusters)
    q_cent = F.broadcast(q).crossJoin(F.broadcast(cent_df))
    from pyspark.sql import Window

    wq = Window.partitionBy("query_id").orderBy(
        F.desc(cosine(F.col("_qv"), F.col("_centroid"))), F.asc("_list")
    )
    probes = (
        q_cent.withColumn("_crk", F.row_number().over(wq))
        .where(F.col("_crk") <= n_probe)
        .select("query_id", "_qv", "_list")
    )
    pairs = F.broadcast(probes).join(assigned, "_list").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


# ---------------------------------------------------------------------------
# LSH (random hyperplane) bucketing — the scale path
# ---------------------------------------------------------------------------

def plane_coefficients(plane: int, dim: int) -> list[float]:
    """Coefficients of deterministic pseudo-random hyperplane `plane`:
    md5('plane:<plane>:<i>') prefix / 2^32 - 0.5 for i < dim, exact in
    doubles, so DuckDB recomputes them bit for bit (lsh_topk_oracle_sql).
    Computed at plan-build time: one list literal per plane keeps the
    expression tree and the py4j traffic flat."""
    import hashlib

    return [
        int(hashlib.md5(f"plane:{plane}:{i}".encode()).hexdigest()[:8], 16)
        / float(1 << 32)
        - 0.5
        for i in range(dim)
    ]


def hyperplane_signature(vec: Column, dim: int, n_planes: int = 16) -> Column:
    """Sign bits against hyperplanes 0 .. n_planes - 1
    (`plane_coefficients`): reproducible anywhere, no stored model.
    Returns a bigint bucket id."""
    bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(vec, F.lit(plane_coefficients(p, dim)), lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(
            F.when(proj > 0, F.shiftleft(F.lit(1).cast("bigint"), p)).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compare each query only against candidates in the
    same hyperplane bucket. Recall is tunable via n_planes (fewer planes =
    bigger buckets = higher recall, more compute)."""
    sig = lambda df, alias: df.select(  # noqa: E731
        F.col(id_col).alias(alias),
        F.col(vec_col).cast("array<double>").alias(f"_{alias}_v"),
        hyperplane_signature(F.col(vec_col).cast("array<double>"), dim, n_planes).alias(
            f"_{alias}_sig"
        ),
    )
    q = sig(queries, "query_id")
    c = sig(candidates, "neighbor_id")
    pairs = F.broadcast(q).join(
        c,
        (F.col("_query_id_sig") == F.col("_neighbor_id_sig"))
        & (F.col("query_id") != F.col("neighbor_id")),
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("_query_id_v"), F.col("_neighbor_id_v")), 6).alias(
            "cosine"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def ivf_topk_fixed_centroids(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k with a DETERMINISTIC coarse quantizer: the centroid table
    is the first n_clusters candidate vectors ORDERED BY id (a valid
    sampled-centroid quantizer, the degenerate one-iteration case of
    k-means|| initialization). Everything downstream is the standard IVF
    contract — assign each candidate to its nearest list, probe the
    n_probe nearest lists per query — but with no trained model the whole
    operator is a pure function of the data, so it is fully
    hash-checkable cross-engine (ivf_topk_fixed_oracle_sql), unlike the
    KMeans-backed ivf_topk whose centroids are engine-specific.

    Centroid selection is orderBy(id).limit(n) — Spark plans this as
    TakeOrderedAndProject, no global sort — so sparse or offset id
    spaces still yield exactly n_clusters centroids (an `id < n` filter
    would silently shrink the table); too few candidates is a hard
    ValueError, not a degraded result. The list label stays the original
    id so tie-break ordering is engine-independent.

    Scale shape is identical to real IVF: centroids broadcast; candidate
    assignment is one narrow scan x n_clusters expression work + one
    min_by aggregate; query-side probing touches n_probe/n_clusters of
    the corpus. Assignment and ranking order on the 6-decimal-rounded
    cosine with id tie-breaks so results are stable across engines."""
    from pyspark.sql import Window

    cent_frame = (
        candidates.select(
            F.col(id_col).alias("_list"),
            F.col(vec_col).cast("array<double>").alias("_centroid"),
        )
        .orderBy("_list")
        .limit(n_clusters)
    )
    # one TakeOrderedAndProject job: collect the (tiny) centroid table,
    # validate, and re-broadcast it as a local relation — counting and
    # broadcasting the frame separately would scan the candidates twice
    cent_local = cent_frame.collect()
    if len(cent_local) < n_clusters:
        raise ValueError(
            f"ivf_topk_fixed_centroids needs >= {n_clusters} candidate "
            "vectors to seed the centroid table"
        )
    cent = F.broadcast(
        candidates.sparkSession.createDataFrame(cent_local, cent_frame.schema)
    )
    # Round 11 (guide §2.2): spread the candidate side off a narrow
    # local scan — the n_clusters cosine folds per candidate otherwise
    # run in ONE scan task (measured 5.3 s of an 8 s query at sf1);
    # wide corpora pass through untouched.
    from orion_spark.llm.dedup import spread_narrow_input

    cand = spread_narrow_input(
        candidates.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("_cv"),
        )
    )
    # nearest list per candidate: min_by over (neg rounded cosine, list id)
    scored_assign = cand.join(cent, how="cross").select(
        "neighbor_id", "_cv", "_list",
        F.round(cosine(F.col("_cv"), F.col("_centroid")), 6).alias("_ac"),
    )
    assigned = scored_assign.groupBy("neighbor_id").agg(
        F.min_by(
            F.struct("_list", "_cv"),
            F.struct((-F.col("_ac")).alias("nc"), F.col("_list").alias("l")),
        ).alias("_a")
    ).select("neighbor_id", F.col("_a._list").alias("_list"), F.col("_a._cv").alias("_cv"))

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(cosine(F.col("_qv"), F.col("_centroid")), 6)),
        F.asc("_list"),
    )
    probes = (
        F.broadcast(q).join(cent, how="cross")
        .withColumn("_crk", F.row_number().over(wq))
        .where(F.col("_crk") <= n_probe)
        .select("query_id", "_qv", "_list")
    )
    pairs = F.broadcast(probes).join(assigned, "_list").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id", "neighbor_id",
        F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def ivf_topk_fixed_oracle_sql(
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 3,
    query_filter: str = "vec_id < 64",
    table: str = "embeddings",
) -> str:
    """DuckDB ground truth for ivf_topk_fixed_centroids: identical
    centroid choice, rounded-cosine assignment with the same tie-breaks,
    probe ranking and final top-k."""
    cos = (
        "round(list_sum([av[i] * bv[i] for i in range(1, len(av) + 1)]) / "
        "(sqrt(list_sum([av[i] * av[i] for i in range(1, len(av) + 1)])) * "
        "sqrt(list_sum([bv[i] * bv[i] for i in range(1, len(bv) + 1)]))), 6)"
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM {table}),
    cent AS (SELECT vec_id AS list_id, ev AS cv FROM v
             ORDER BY vec_id LIMIT {n_clusters}),
    assign_scored AS (
        SELECT v.vec_id AS neighbor_id, v.ev, cent.list_id,
               {cos.replace('av', 'v.ev').replace('bv', 'cent.cv')} AS ac
        FROM v, cent),
    assigned AS (
        SELECT neighbor_id, ev, list_id FROM (
            SELECT neighbor_id, ev, list_id,
                   ROW_NUMBER() OVER (PARTITION BY neighbor_id
                                      ORDER BY ac DESC, list_id) AS arn
            FROM assign_scored) WHERE arn = 1),
    q AS (SELECT vec_id AS query_id, ev AS qv FROM v WHERE {query_filter}),
    probe_scored AS (
        SELECT q.query_id, q.qv, cent.list_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {cos.replace('av', 'q.qv').replace('bv', 'cent.cv')}
                       DESC, cent.list_id) AS crk
        FROM q, cent),
    probes AS (SELECT query_id, qv, list_id FROM probe_scored
               WHERE crk <= {n_probe}),
    pairs AS (
        SELECT p.query_id, a.neighbor_id,
               {cos.replace('av', 'p.qv').replace('bv', 'a.ev')} AS cosine
        FROM probes p JOIN assigned a USING (list_id)
        WHERE p.query_id <> a.neighbor_id),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
        FROM pairs)
    SELECT query_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= {k}
    """


# ---------------------------------------------------------------------------
# Persisted IVF index with incremental add (FAISS-style train-once /
# add-forever discipline, on plain parquet)
# ---------------------------------------------------------------------------

IVF_CENTROIDS = "centroids"
IVF_ASSIGNMENTS = "assignments"


def _assign_to_centroids(candidates, cent, id_col: str, vec_col: str):
    """Nearest-list assignment against a broadcast centroid table — the
    same 6-decimal-rounded cosine + list-id tie-break as
    ivf_topk_fixed_centroids, so persisted and in-memory paths agree."""
    cand = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    scored = cand.join(F.broadcast(cent), how="cross").select(
        "neighbor_id", "_cv", "_list",
        F.round(cosine(F.col("_cv"), F.col("_centroid")), 6).alias("_ac"),
    )
    return (
        scored.groupBy("neighbor_id")
        .agg(
            F.min_by(
                F.struct("_list", "_cv"),
                F.struct((-F.col("_ac")).alias("nc"), F.col("_list").alias("l")),
            ).alias("_a")
        )
        .select(
            "neighbor_id",
            F.col("_a._list").alias("_list"),
            F.col("_a._cv").alias("_cv"),
        )
    )


def build_ivf_index(
    spark,
    candidates: DataFrame,
    path: str,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Persist an IVF index: `centroids/` (the deterministic first-n-by-id
    quantizer of ivf_topk_fixed_centroids) + `assignments/` partitioned by
    `_list`. The partitioning is the on-disk payoff: a search that probes
    p of n lists reads p/n of the index FILES (partition pruning), not
    just p/n of the rows."""
    import os

    cent_frame = (
        candidates.select(
            F.col(id_col).alias("_list"),
            F.col(vec_col).cast("array<double>").alias("_centroid"),
        )
        .orderBy("_list")
        .limit(n_clusters)
    )
    cent_local = cent_frame.collect()
    if len(cent_local) < n_clusters:
        raise ValueError(
            f"build_ivf_index needs >= {n_clusters} candidate vectors"
        )
    cent = spark.createDataFrame(cent_local, cent_frame.schema)
    cent.write.mode("overwrite").parquet(os.path.join(path, IVF_CENTROIDS))
    (
        _assign_to_centroids(candidates, cent, id_col, vec_col)
        .write.mode("overwrite")
        .partitionBy("_list")
        .parquet(os.path.join(path, IVF_ASSIGNMENTS))
    )
    return path


def upsert_ivf_index(
    spark,
    delta: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Add vectors to a persisted index WITHOUT re-clustering: assign the
    delta against the FROZEN centroid table and append to the partitioned
    assignments — O(|delta| x n_clusters), never O(corpus). This is the
    standard IVF maintenance contract (train once, add forever): search
    results equal a from-scratch build whenever the from-scratch quantizer
    would pick the same centroids (e.g. delta ids sort above the seed
    ids — the registered query proves exactly that equivalence by
    hash-matching the full-corpus oracle). Re-cluster deliberately
    explicit, not silent: rebuild with build_ivf_index when the corpus
    has drifted enough that frozen lists skew."""
    import os

    cent = read_parquet(spark, os.path.join(path, IVF_CENTROIDS))
    (
        _assign_to_centroids(delta, cent, id_col, vec_col)
        .write.mode("append")
        .partitionBy("_list")
        .parquet(os.path.join(path, IVF_ASSIGNMENTS))
    )


def search_ivf_index(
    spark,
    queries: DataFrame,
    path: str,
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted index: rank lists per query against the broadcast
    centroid table, then read ONLY the probed `_list=` partitions (the
    filter is an IN over partition values — Spark prunes at file listing,
    so an un-probed list's files are never opened) and score within them.
    Ordering contract identical to ivf_topk_fixed_centroids."""
    import os

    from pyspark.sql import Window

    cent = F.broadcast(read_parquet(spark, os.path.join(path, IVF_CENTROIDS)))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(cosine(F.col("_qv"), F.col("_centroid")), 6)),
        F.asc("_list"),
    )
    probes = (
        F.broadcast(q)
        .join(cent, how="cross")
        .withColumn("_crk", F.row_number().over(wq))
        .where(F.col("_crk") <= n_probe)
        .select("query_id", "_qv", "_list")
    )
    # the probed-list union is bounded by |Q| x n_probe (and by n_clusters)
    # — a manifest-sized collect that buys file-level partition pruning
    probed_lists = [r["_list"] for r in probes.select("_list").distinct().collect()]
    assigned = read_parquet(spark, os.path.join(path, IVF_ASSIGNMENTS)).where(
        F.col("_list").isin(probed_lists)
    )
    pairs = F.broadcast(probes).join(assigned, "_list").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id", "neighbor_id",
        F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def embedding_decontamination(
    train: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic (embedding-space) decontamination: for every training
    vector, its maximum cosine similarity against the benchmark/eval set
    and a contaminated flag at `threshold` — the embedding-level
    counterpart of the n-gram `ngram_contamination` operator (the two
    together are the standard pre-training decontamination pair: lexical
    overlap AND paraphrase-level similarity).

    Output: (vec_id, best_bench_id, max_cosine, contaminated), one row
    per training vector. best_bench_id is the arg-max with
    smallest-bench-id tie-break on the 6-decimal-rounded cosine.

    Scale shape: benchmark/eval sets are small by nature (thousands of
    rows against a 100 TB train side), so the benchmark side broadcasts
    and the train side streams through one narrow stage — the arg-max is
    a map-side-combinable max of a (cosine, -bench_id) struct keyed on
    the train id, which under the broadcast join is already co-located:
    no corpus shuffle at all. Exact, not approximate — at benchmark
    sizes the brute-force scan per train row is cheaper than any index.

    Round 11 (guide §2.2): the train side goes through the
    spread_narrow_input probe first — a compact single-file train
    parquet otherwise pins the |bench| x dim fold per train row to its
    1-2 scan partitions (measured 11.4 s in ONE task at sf1, the whole
    query); already-wide train inputs (any real corpus) pass through
    untouched, keeping the no-corpus-shuffle contract at scale.
    """
    from orion_spark.llm.dedup import spread_narrow_input

    # norms are computed ONCE per row before the pair fan-out (the
    # per-pair cosine then costs a single zip_with fold instead of
    # three) — bit-identical to the per-pair formulation because the
    # same fold produces the same double either way
    b = benchmark.select(
        F.col(id_col).alias("bench_id"),
        F.col(vec_col).cast("array<double>").alias("_bv"),
    ).withColumn("_bn", l2_norm(F.col("_bv")))
    t = spread_narrow_input(
        train.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("_tv"),
        )
    ).withColumn("_tn", l2_norm(F.col("_tv")))
    pairs = t.join(F.broadcast(b), how="cross").select(
        "vec_id",
        "bench_id",
        F.round(
            dot(F.col("_tv"), F.col("_bv")) / (F.col("_tn") * F.col("_bn")),
            6,
        ).alias("_cos"),
    )
    best = pairs.groupBy("vec_id").agg(
        F.max(F.struct(F.col("_cos"), (-F.col("bench_id")).alias("_nb"))).alias(
            "_m"
        )
    )
    return best.select(
        "vec_id",
        (-F.col("_m._nb")).cast("bigint").alias("best_bench_id"),
        F.col("_m._cos").alias("max_cosine"),
        (F.col("_m._cos") >= F.lit(threshold)).alias("contaminated"),
    )


def embedding_decontamination_oracle_sql(
    threshold: float = 0.40,
    bench_filter: str = "vec_id % 25 = 0",
    table: str = "embeddings",
) -> str:
    """DuckDB ground truth: identical fold-order dot products, identical
    rounding, arg-max via ROW_NUMBER with the same tie-break."""
    return f"""
    WITH b AS (SELECT vec_id AS bench_id, embedding::DOUBLE[] AS bv
               FROM {table} WHERE {bench_filter}),
    t AS (SELECT vec_id, embedding::DOUBLE[] AS tv
          FROM {table} WHERE NOT ({bench_filter})),
    pairs AS (
        SELECT t.vec_id, b.bench_id,
               round(
                   list_sum([tv[i] * bv[i] for i in range(1, len(tv) + 1)]) /
                   (sqrt(list_sum([tv[i] * tv[i] for i in range(1, len(tv) + 1)])) *
                    sqrt(list_sum([bv[i] * bv[i] for i in range(1, len(bv) + 1)]))),
                   6) AS c
        FROM t, b),
    ranked AS (
        SELECT vec_id, bench_id, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY c DESC, bench_id) AS rk
        FROM pairs)
    SELECT vec_id,
           CAST(bench_id AS BIGINT) AS best_bench_id,
           c AS max_cosine,
           c >= {threshold} AS contaminated
    FROM ranked WHERE rk = 1
    """
