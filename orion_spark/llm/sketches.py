"""Count-Min sketch: fixed-size approximate frequency table for corpus
vocabulary at scale.

At 100 TB the exact word-frequency table IS the scale problem (vocabulary
grows with the corpus; the groupBy output is unbounded). A Count-Min
sketch caps it: d x w counters (d hash rows, w buckets) built by ONE
partial-aggregatable groupBy over (row, bucket) — the aggregate output is
at most d*w rows regardless of corpus size, mergeable across shards by
plain addition, and any term's frequency is estimated as the minimum of
its d counters with one-sided error (estimate >= truth;
overestimate <= eps*N with eps = e/w at confidence 1 - e^-d).

Unlike the HLL panels (engine-specific sketch bytes, rows-only checks),
Count-Min is plain integer arithmetic over the shared md5-prefix hash
family — deterministic, so the sketch AND its estimates get full
value-hash DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orion_spark.llm.dedup import family_positions, family_positions_sql

CM_DEPTH = 4
CM_WIDTH = 1024


def _corpus_words(df: DataFrame, text_col: str) -> DataFrame:
    return df.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("word")
    )


def cm_build(
    df: DataFrame,
    text_col: str = "text",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """(row int, bucket int, cnt bigint): the sketch counters. One explode
    (depth entries per word occurrence) + one groupBy bounded at depth*width
    groups — map-side partials collapse almost everything."""
    words = _corpus_words(df, text_col)
    return (
        words.select(
            F.posexplode(family_positions(F.col("word"), depth, width)).alias(
                "row", "bucket"
            )
        )
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cm_merge(*sketches: DataFrame) -> DataFrame:
    """Counters add: union + re-aggregate. Shard-parallel builds and
    incremental maintenance both reduce to this."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cm_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    word_col: str = "word",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """probes + cm_estimate column: min over the word's d counters. The
    sketch is bounded (<= depth*width rows) so it broadcasts; the probe
    side takes one explode + one groupBy on its own key."""
    exploded = probes.select(
        word_col,
        F.posexplode(family_positions(F.col(word_col), depth, width)).alias(
            "row", "bucket"
        ),
    )
    return (
        exploded.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(word_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cm_estimate"))
    )


def cm_topk_accuracy(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """(word, true_count, cm_estimate) for the corpus's true top-k words
    (count desc, word asc — a total order): the one-sided-error report.
    Exercises build + estimate in one plan; true counts come from the
    exact aggregate for comparison."""
    words = _corpus_words(df, text_col)
    true_counts = words.groupBy("word").agg(F.count("*").alias("true_count"))
    top = true_counts.orderBy(F.desc("true_count"), F.asc("word")).limit(k)
    sketch = cm_build(df, text_col, depth, width)
    est = cm_estimate(sketch, top.select("word"), "word", depth, width)
    return (
        top.join(est, "word")
        .select("word", "true_count", "cm_estimate")
    )


def cm_topk_accuracy_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    k: int = 20,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> str:
    """DuckDB reproduction from the same hash constants."""
    bucket_list = family_positions_sql("word", depth, width)
    return f"""
    WITH words AS (
        SELECT x AS word
        FROM (SELECT unnest(string_split_regex(lower(trim({text_col})), '\\s+')) AS x
              FROM {table})
        WHERE x <> ''),
    sketch AS (
        SELECT row, bucket, COUNT(*) AS cnt
        FROM (SELECT unnest(range(0, {depth})) AS row,
                     unnest({bucket_list}) AS bucket
              FROM words)
        GROUP BY row, bucket),
    top AS (
        SELECT word, COUNT(*) AS true_count
        FROM words GROUP BY word
        ORDER BY true_count DESC, word ASC LIMIT {k}),
    probe AS (
        SELECT word, unnest(range(0, {depth})) AS row,
               unnest({bucket_list}) AS bucket
        FROM top)
    SELECT t.word, t.true_count,
           (SELECT MIN(coalesce(s.cnt, 0))
            FROM probe p LEFT JOIN sketch s
              ON p.row = s.row AND p.bucket = s.bucket
            WHERE p.word = t.word) AS cm_estimate
    FROM top t
    """


# ---------------------------------------------------------------------------
# Bottom-k (KMV-style) uniform-sample sketch for quantiles — the third
# classic mergeable sketch next to HLL (cardinality, rows-only panels)
# and Count-Min (frequency, above). Keep the R rows whose md5(key) hash
# is smallest: a deterministic uniform sample independent of the value
# distribution, mergeable by construction (the global bottom-R is a
# subset of the union of per-shard bottom-Rs), and — unlike t-digest /
# approx_percentile internals — plain arithmetic over the shared hash
# family, so the sketch AND its quantile estimates get full value-hash
# DuckDB oracles.
# ---------------------------------------------------------------------------

KMV_R = 256


def _kmv_hash(key: Column) -> Column:
    """32-bit md5-prefix hash; ties (birthday collisions at corpus scale)
    are broken by the key itself so bottom-R is a total order."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )


def kmv_build(
    df: DataFrame,
    value_col: str = "value",
    key_col: str = "event_id",
    r: int = KMV_R,
) -> DataFrame:
    """(hkey bigint, key bigint, value double): the R hash-smallest rows.
    TakeOrdered (per-partition top-R then a single R-row reduction) — no
    global sort, no full shuffle; the sketch is R rows regardless of
    input size."""
    return (
        df.select(
            _kmv_hash(F.col(key_col)).alias("hkey"),
            F.col(key_col).cast("bigint").alias("key"),
            F.col(value_col).cast("double").alias("value"),
        )
        .orderBy(F.asc("hkey"), F.asc("key"))
        .limit(r)
    )


def kmv_merge(*sketches: DataFrame, r: int = KMV_R) -> DataFrame:
    """Union + bottom-R again. Exactly equals the sketch built over the
    concatenated inputs (the global bottom-R survives in every shard's
    bottom-R), which the merge test asserts."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.orderBy(F.asc("hkey"), F.asc("key")).limit(r)


def kmv_quantile_accuracy(
    df: DataFrame,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    value_col: str = "value",
    key_col: str = "event_id",
    r: int = KMV_R,
) -> DataFrame:
    """(q, kmv_estimate, exact_value, abs_error): linear-interpolation
    quantiles of the R-row sample vs the exact corpus quantiles (Spark
    `percentile` == DuckDB `quantile_cont`, the verified parity pair).
    The exact side is the one full-data aggregate; the sample side runs
    on R rows. At 100 TB the exact column would be dropped and ONLY the
    sketch consulted — it exists here to make the error visible."""
    sample = kmv_build(df, value_col, key_col, r)
    qlit = ", ".join(str(q) for q in quantiles)
    est = sample.agg(
        F.expr(f"percentile(value, array({qlit}))").alias("_est")
    )
    exact = df.select(F.col(value_col).cast("double").alias("value")).agg(
        F.expr(f"percentile(value, array({qlit}))").alias("_ex")
    )
    qs = F.array(*[F.lit(float(q)) for q in quantiles])
    panel = est.crossJoin(exact).select(
        F.posexplode(
            F.zip_with(
                qs,
                F.zip_with(F.col("_est"), F.col("_ex"), lambda a, b: F.struct(
                    a.alias("e"), b.alias("x"))),
                lambda q, s: F.struct(q.alias("q"), s["e"].alias("e"),
                                      s["x"].alias("x")),
            )
        ).alias("_i", "_s")
    )
    return panel.select(
        F.col("_s.q").alias("q"),
        F.round(F.col("_s.e"), 6).alias("kmv_estimate"),
        F.round(F.col("_s.x"), 6).alias("exact_value"),
        F.round(F.abs(F.col("_s.e") - F.col("_s.x")), 6).alias("abs_error"),
    )


def kmv_quantile_accuracy_oracle_sql(
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    r: int = KMV_R,
    table: str = "events",
    value_col: str = "value",
    key_col: str = "event_id",
) -> str:
    """DuckDB mirror: same bottom-R by (md5-prefix hash, key), same
    quantile_cont interpolation on both the sample and the corpus. The
    quantile fraction must be a constant in DuckDB, so the panel is one
    UNION ALL branch per requested quantile."""
    branches = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({q} AS DOUBLE) AS q,
           ROUND((SELECT quantile_cont(value, {q}) FROM sample), 6)
               AS kmv_estimate,
           ROUND((SELECT quantile_cont(value, {q}) FROM corpus), 6)
               AS exact_value,
           ROUND(ABS((SELECT quantile_cont(value, {q}) FROM sample)
                     - (SELECT quantile_cont(value, {q}) FROM corpus)), 6)
               AS abs_error"""
        for q in quantiles
    )
    return f"""
    WITH hashed AS (
        SELECT ('0x' || substr(md5(CAST({key_col} AS VARCHAR)), 1, 8))::BIGINT
                   AS hkey,
               CAST({key_col} AS BIGINT) AS key,
               CAST({value_col} AS DOUBLE) AS value
        FROM {table}),
    sample AS (
        SELECT value FROM hashed ORDER BY hkey, key LIMIT {r}),
    corpus AS (SELECT CAST({value_col} AS DOUBLE) AS value FROM {table})
{branches}
    """
