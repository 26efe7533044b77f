"""DSIR-style importance weighting for training-data selection.

Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
score every document in a large raw pool by how target-like it is under
two bag-of-hashed-n-gram models, then resample the pool with Gumbel
top-k on the importance weights. The feature space is hashed (unigrams +
bigrams -> `num_buckets` buckets), so BOTH models are fixed-size count
tables no matter how big the corpora are — that bound is what makes the
method run at 100 TB, and it is why this implementation never collects
anything larger than the bucket dimension.

    p_k = (tc_k + a) / (T + a·B)      target bucket distribution
    q_k = (rc_k + a) / (R + a·B)      raw-pool bucket distribution
    log w(doc) = sum_over_doc_features  log p_{b(f)} - log q_{b(f)}

Scale shape: one repartition on the document id makes the per-doc bucket
count a partition-local aggregate (the exploded feature rows never
shuffle); the two model dims are bucket-sized global aggregates; the
log-ratio dim (<= num_buckets rows) broadcasts back onto the per-doc
counts. Net: one wide shuffle of ids+counts, two tiny aggs, zero Python
in the row path.

No reference counterpart (ORION has no corpus-selection surface); this
is part of the engine's LLM-pipeline extension alongside
`llm/textstats.py` (same tokenizer contract as `_lm_tokens`).

Float note: the per-document sum of log-ratio terms is
order-nondeterministic (shuffle order) and libm log differs from
DuckDB's in the last ulp; registered queries round to 6 digits, ~5
orders above the accumulated jitter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orion_spark.sources.kgx import read_parquet

__all__ = [
    "dsir_log_weights",
    "dsir_log_weights_oracle_sql",
    "dsir_select_topk",
    "dsir_select_topk_oracle_sql",
    "save_dsir_model",
    "score_with_dsir_model",
]


def _features(
    docs: DataFrame, text_col: str, id_col: str, pre_partition: bool = False
) -> DataFrame:
    """(id, feature): lowercased whitespace unigrams + adjacent bigrams.
    Empty-after-trim documents are dropped (split('') yields [''], a
    phantom token) — mirrored in the SQL oracle. With `pre_partition`
    the explode runs after a repartition on the id so a downstream
    (id, bucket) aggregate is partition-local (HashPartitioning(id)
    satisfies the clustering); the target-model path skips it — its only
    aggregate is by bucket, so an id shuffle would be a wasted pass."""
    t = F.trim(F.col(text_col))
    base = docs.where(t != "").select(
        F.col(id_col).alias("_did"), F.split(F.lower(t), r"\s+").alias("w")
    )
    if pre_partition:
        base = base.repartition("_did")
    bigrams = F.when(
        F.size("w") > 1,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("w", i), F.element_at("w", i + F.lit(1))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select("_did", F.explode(F.concat(F.col("w"), bigrams)).alias("f"))


def _bucket(col, num_buckets: int):
    """Deterministic cross-engine feature hash: 16 md5 bits mod buckets
    (the same idiom as the registry's hash-mod sampling operators)."""
    return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("int") % num_buckets


def dsir_log_weights(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-raw-document DSIR log importance weight log p(doc)/q(doc)
    under add-alpha-smoothed hashed-bigram multinomials fit on `target`
    and on `raw` itself (the pool being selected from, per the paper).

    Returns (id_col, n_feats, log_weight). The model artifact is two
    bucket-count dims — persist them once at 100 TB and score any number
    of pool shards against the same dim (the train-once/reuse discipline
    of `save_lm_model` and the persisted IVF index).
    """
    b = num_buckets
    tdim = (
        _features(target, text_col, id_col)
        .groupBy(_bucket(F.col("f"), b).alias("bkt"))
        .agg(F.count("*").alias("tc"))
    )
    docb = (
        _features(raw, text_col, id_col, pre_partition=True)
        .groupBy("_did", _bucket(F.col("f"), b).alias("bkt"))
        .agg(F.count("*").alias("n"))
    )
    rdim = docb.groupBy("bkt").agg(F.sum("n").alias("rc"))
    consts = (
        tdim.agg(F.sum("tc").alias("t_total"))
        .crossJoin(rdim.agg(F.sum("rc").alias("r_total")))
    )
    a = F.lit(float(alpha))
    ab = F.lit(float(alpha) * b)
    ratio_dim = (
        rdim.join(tdim, "bkt", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "bkt",
            (
                F.log((F.coalesce(F.col("tc"), F.lit(0)) + a) / (F.col("t_total") + ab))
                - F.log((F.col("rc") + a) / (F.col("r_total") + ab))
            ).alias("lr"),
        )
    )
    return (
        docb.join(F.broadcast(ratio_dim), "bkt")
        .groupBy("_did")
        .agg(
            F.sum("n").cast("bigint").alias("n_feats"),
            F.sum(F.col("n") * F.col("lr")).alias("log_weight"),
        )
        .withColumnRenamed("_did", id_col)
    )


def _oracle_model_ctes(
    target_where: str, raw_where: str, num_buckets: int, alpha: float
) -> str:
    """Shared CTE chain: tokenize, hash, fit both models, score the pool.
    Identical tokenization/hash/smoothing constants as the Spark side."""
    b = num_buckets
    return f"""
    tdocs AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents WHERE trim(text) <> '' AND ({target_where})),
    rdocs AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents WHERE trim(text) <> '' AND ({raw_where})),
    tfeat AS (
        SELECT doc_id, f FROM (
            SELECT doc_id, unnest(ws) AS f FROM tdocs
            UNION ALL
            SELECT doc_id,
                   unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS f
            FROM tdocs)),
    rfeat AS (
        SELECT doc_id, f FROM (
            SELECT doc_id, unnest(ws) AS f FROM rdocs
            UNION ALL
            SELECT doc_id,
                   unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS f
            FROM rdocs)),
    tdim AS (
        SELECT ('0x' || substr(md5(f), 1, 4))::INT % {b} AS bkt, COUNT(*) AS tc
        FROM tfeat GROUP BY 1),
    docb AS (
        SELECT doc_id, ('0x' || substr(md5(f), 1, 4))::INT % {b} AS bkt,
               COUNT(*) AS n
        FROM rfeat GROUP BY 1, 2),
    rdim AS (SELECT bkt, SUM(n) AS rc FROM docb GROUP BY bkt),
    consts AS (
        SELECT (SELECT SUM(tc) FROM tdim) AS t_total,
               (SELECT SUM(rc) FROM rdim) AS r_total),
    ratio_dim AS (
        SELECT r.bkt,
               ln((COALESCE(t.tc, 0) + {alpha}) / (c.t_total + {alpha * b}))
               - ln((r.rc + {alpha}) / (c.r_total + {alpha * b})) AS lr
        FROM rdim r LEFT JOIN tdim t ON r.bkt = t.bkt CROSS JOIN consts c),
    weights AS (
        SELECT d.doc_id, CAST(SUM(d.n) AS BIGINT) AS n_feats,
               SUM(d.n * rd.lr) AS log_weight
        FROM docb d JOIN ratio_dim rd ON d.bkt = rd.bkt
        GROUP BY d.doc_id)
    """


def dsir_log_weights_oracle_sql(
    target_where: str,
    raw_where: str,
    num_buckets: int = 1024,
    alpha: float = 1.0,
    round_digits: int = 6,
) -> str:
    """DuckDB oracle over the `documents` view; the two predicates select
    the target slice and the raw pool."""
    ctes = _oracle_model_ctes(target_where, raw_where, num_buckets, alpha)
    return f"""
    WITH {ctes}
    SELECT doc_id, n_feats, ROUND(log_weight, {round_digits}) AS log_weight
    FROM weights
    """


def _gumbel(id_col, salt: str):
    """Deterministic per-document Gumbel noise: u in (0,1) from 16 md5
    bits (half-open shift keeps u off both endpoints), g = -ln(-ln(u)).
    Seeded hashing instead of rand() so two engines — and two runs of a
    100 TB job after a stage retry — draw identical samples."""
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), id_col.cast("string"))), 1, 4), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(65536.0)
    return -F.log(-F.log(u))


def dsir_select_topk(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    salt: str = "dsir",
) -> DataFrame:
    """Gumbel top-k resampling over DSIR log weights: rank by
    log_weight + Gumbel(seeded by id) and keep the k best — a sample
    without replacement from softmax(log_weight), per the Gumbel-max
    trick the paper uses. orderBy+limit compiles to TakeOrdered
    (per-partition top-k, then a k-row merge on the driver), so the
    selection is a single pass at any scale.

    Returns (id_col, log_weight, gumbel_key) for the k selected docs.
    """
    key = (F.col("log_weight") + _gumbel(F.col(id_col), salt)).alias("gumbel_key")
    return (
        weights.select(F.col(id_col), F.col("log_weight"), key)
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col))
        .limit(k)
    )


def dsir_select_topk_oracle_sql(
    target_where: str,
    raw_where: str,
    k: int,
    num_buckets: int = 1024,
    alpha: float = 1.0,
    salt: str = "dsir",
    round_digits: int = 6,
) -> str:
    ctes = _oracle_model_ctes(target_where, raw_where, num_buckets, alpha)
    return f"""
    WITH {ctes},
    keyed AS (
        SELECT doc_id, log_weight,
               log_weight - ln(-ln(
                   (('0x' || substr(md5('{salt}' || doc_id::VARCHAR), 1, 4))::INT
                    + 0.5) / 65536.0)) AS gumbel_key
        FROM weights)
    SELECT doc_id, ROUND(log_weight, {round_digits}) AS log_weight,
           ROUND(gumbel_key, {round_digits}) AS gumbel_key
    FROM keyed
    ORDER BY gumbel_key DESC, doc_id
    LIMIT {k}
    """


def save_dsir_model(
    target: DataFrame,
    raw: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 1024,
    alpha: float = 1.0,
) -> None:
    """Persist the DSIR log-ratio dimension: one parquet of exactly
    `num_buckets` rows (bkt, lr), covering every bucket — including those
    absent from both corpora, which carry the pure-smoothing ratio — so
    the model scores documents it has never seen. This is the
    train-once/reuse artifact (same discipline as textstats.save_lm_model
    and the persisted IVF index): fit the two multinomials once on the
    target corpus and a raw-pool sample, then score any number of pool
    shards — or a stream — against the same kilobyte-sized dim."""
    spark = target.sparkSession
    b = num_buckets
    tdim = (
        _features(target, text_col, id_col)
        .groupBy(_bucket(F.col("f"), b).alias("bkt"))
        .agg(F.count("*").alias("tc"))
    )
    rdim = (
        _features(raw, text_col, id_col)
        .groupBy(_bucket(F.col("f"), b).alias("bkt"))
        .agg(F.count("*").alias("rc"))
    )
    consts = (
        tdim.agg(F.coalesce(F.sum("tc"), F.lit(0)).alias("t_total"))
        .crossJoin(rdim.agg(F.coalesce(F.sum("rc"), F.lit(0)).alias("r_total")))
    )
    a = F.lit(float(alpha))
    ab = F.lit(float(alpha) * b)
    spine = spark.range(b).select(F.col("id").cast("int").alias("bkt"))
    ratio_dim = (
        spine.join(tdim, "bkt", "left")
        .join(rdim, "bkt", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "bkt",
            (
                F.log((F.coalesce(F.col("tc"), F.lit(0)) + a) / (F.col("t_total") + ab))
                - F.log((F.coalesce(F.col("rc"), F.lit(0)) + a) / (F.col("r_total") + ab))
            ).alias("lr"),
        )
    )
    # num_buckets rows — one file, no point fragmenting a kilobyte table
    ratio_dim.coalesce(1).write.mode("overwrite").parquet(path)


def score_with_dsir_model(
    spark,
    docs: DataFrame,
    model_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents against a persisted DSIR model: same
    (id, n_feats, log_weight) contract as :func:`dsir_log_weights`, but
    the model is the stream-static side — read once, broadcast onto the
    partition-local per-doc bucket counts. On the corpus the model was
    fit on, output equals the in-memory path exactly (pytest-pinned);
    num_buckets is implied by the dim's row count."""
    ratio_dim = read_parquet(spark, model_path)
    b = ratio_dim.count()
    docb = (
        _features(docs, text_col, id_col, pre_partition=True)
        .groupBy("_did", _bucket(F.col("f"), b).alias("bkt"))
        .agg(F.count("*").alias("n"))
    )
    return (
        docb.join(F.broadcast(ratio_dim), "bkt")
        .groupBy("_did")
        .agg(
            F.sum("n").cast("bigint").alias("n_feats"),
            F.sum(F.col("n") * F.col("lr")).alias("log_weight"),
        )
        .withColumnRenamed("_did", id_col)
    )
