"""Trained quality classifier, wholly inside the engine: closed-form ridge
regression over hashed bag-of-words features, trained in ONE distributed
aggregate pass and applied in a map-only scoring pass.

This is the trained-filter step of production LLM pipelines (the GPT-3
WebText-similarity classifier, LLaMA's Wikipedia-reference classifier):
label some documents (here: a deterministic target predicate), fit a linear
model, score everything, keep the high-scoring tail. The heuristic panels
(quality_score, gopher_panel) are hand-set weights; this learns them from
the corpus itself.

Scale + determinism design:
- Features: D hashed-unigram buckets (bucket = md5-prefix hash mod D,
  value = bucket word share) + a bias term — fixed-dimension regardless of
  vocabulary, the same trick DSIR uses for its n-gram models.
- Training: ridge normal equations. The Gram matrix X'X and moment vector
  X'y are (D+1)(D+2)/2 + (D+1) plain SUM aggregates — one partial-
  aggregatable pass, a single 1-row result, however many documents.
- Solve: Cramer's rule, expanded symbolically over the 1-row aggregate AS
  COLUMN EXPRESSIONS. No numpy, no collect, no Python in the loop — and
  because the DuckDB oracle is generated from the SAME term enumeration
  (identical association order), the IEEE-double weights are bit-identical
  across engines, so even the trained scores hash-match.
- Scoring: broadcast the 1-row weights frame back onto the corpus; score =
  dot(features, w) is a map-only projection.

D is deliberately small (default 4+bias): Cramer is O((D+1)!) terms, the
right tool up to ~6 features. For wide feature spaces swap the solve for a
driver-side linalg on the SAME collected Gram row (it is (D+1)^2 scalars —
bounded, not data-sized); the distributed passes are unchanged.
"""

from __future__ import annotations

from itertools import permutations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orion_spark.llm.dedup import base_hash, base_hash_sql

D_BUCKETS = 4  # hashed word buckets; +1 bias feature => 5x5 system


def _perm_terms(n: int):
    """Deterministic Leibniz-expansion term order shared by the Spark and
    SQL generators: permutations in itertools order, sign by parity."""
    for perm in permutations(range(n)):
        sign = 1
        p = list(perm)
        for i in range(n):
            for j in range(i + 1, n):
                if p[i] > p[j]:
                    sign = -sign
        yield sign, perm


def _word_buckets(text: Column, d: int) -> Column:
    w = F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda x: x != "")
    return F.transform(w, lambda x: base_hash(x) % d)


def hashed_features(text: Column, d: int = D_BUCKETS) -> list[Column]:
    """d bucket-share features + bias 1.0 (doubles; all-zero for empty
    docs except the bias, so empty documents train/score harmlessly)."""
    b = _word_buckets(text, d)
    n = F.when(F.size(b) > 0, F.size(b).cast("double"))
    feats = [
        F.coalesce(
            F.size(F.filter(b, lambda x: x == i)).cast("double") / n, F.lit(0.0)
        )
        for i in range(d)
    ]
    feats.append(F.lit(1.0))
    return feats


def _det_expr(m: list[list[Column]]) -> Column:
    n = len(m)
    total = None
    for sign, perm in _perm_terms(n):
        term = m[0][perm[0]]
        for i in range(1, n):
            term = term * m[i][perm[i]]
        if sign < 0:
            term = -term
        total = term if total is None else total + term
    return total


def ridge_weights_frame(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    d: int = D_BUCKETS,
    reg: float = 1.0,
) -> DataFrame:
    """One-row frame (w_0 .. w_d): ridge solution of (X'X + reg*I) w = X'y
    computed entirely as column expressions over the single aggregated
    Gram row."""
    feats = hashed_features(F.col(text_col), d)
    k = d + 1
    aggs = []
    for i in range(k):
        for j in range(i, k):
            aggs.append(F.sum(feats[i] * feats[j]).alias(f"g_{i}_{j}"))
    for i in range(k):
        aggs.append(F.sum(feats[i] * label).alias(f"b_{i}"))
    gram = df.agg(*aggs)

    def m_entry(i: int, j: int) -> Column:
        lo, hi = (i, j) if i <= j else (j, i)
        e = F.col(f"g_{lo}_{hi}")
        return e + F.lit(float(reg)) if i == j else e

    base = [[m_entry(i, j) for j in range(k)] for i in range(k)]
    det = _det_expr(base)
    cols = []
    for wi in range(k):
        replaced = [
            [F.col(f"b_{i}") if j == wi else base[i][j] for j in range(k)]
            for i in range(k)
        ]
        cols.append((_det_expr(replaced) / det).alias(f"w_{wi}"))
    return gram.select(*cols)


def ridge_quality_scores(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    d: int = D_BUCKETS,
    reg: float = 1.0,
) -> DataFrame:
    """(id, label, score): train on the whole frame, score every row.
    Train = one aggregate; score = broadcast the 1-row weights and project."""
    weights = ridge_weights_frame(df, label, text_col, d, reg)
    feats = hashed_features(F.col(text_col), d)
    score = feats[0] * F.col("w_0")
    for i in range(1, d + 1):
        score = score + feats[i] * F.col(f"w_{i}")
    return (
        df.crossJoin(F.broadcast(weights))
        .select(
            F.col(id_col),
            label.cast("double").alias("label"),
            F.round(score, 6).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracle builders — generated from the SAME term enumeration, so the
# double arithmetic associates identically and the weights/scores are
# bit-equal.
# ---------------------------------------------------------------------------

def _feats_sql(text_expr: str, d: int) -> list[str]:
    b = (
        f"[{base_hash_sql('x')} % {d} "
        f"for x in string_split_regex(lower(trim({text_expr})), '\\s+') "
        f"if x <> '']"
    )
    feats = [
        f"coalesce(len([v for v in {b} if v = {i}])::DOUBLE"
        f" / nullif(len({b}), 0), 0.0)"
        for i in range(d)
    ]
    feats.append("1.0")
    return feats


def _det_sql(m: list[list[str]]) -> str:
    n = len(m)
    terms = []
    for sign, perm in _perm_terms(n):
        prod = " * ".join(m[i][perm[i]] for i in range(n))
        terms.append(("- " if sign < 0 else "+ ") + f"({prod})")
    joined = " ".join(terms)
    if joined.startswith("+ "):
        joined = joined[2:]
    return "(" + joined + ")"


def ridge_scores_oracle_sql(
    table: str,
    label_expr: str,
    text_expr: str = "text",
    id_col: str = "doc_id",
    d: int = D_BUCKETS,
    reg: float = 1.0,
) -> str:
    k = d + 1
    feats = _feats_sql(text_expr, d)
    gram_cols = []
    for i in range(k):
        for j in range(i, k):
            gram_cols.append(f"SUM(({feats[i]}) * ({feats[j]})) AS g_{i}_{j}")
    for i in range(k):
        gram_cols.append(f"SUM(({feats[i]}) * ({label_expr})) AS b_{i}")
    gram_sql = "SELECT " + ",\n               ".join(gram_cols) + f" FROM {table}"

    def m_entry(i: int, j: int) -> str:
        lo, hi = (i, j) if i <= j else (j, i)
        e = f"g_{lo}_{hi}"
        return f"({e} + {float(reg)!r})" if i == j else e

    base = [[m_entry(i, j) for j in range(k)] for i in range(k)]
    det = _det_sql(base)
    w_cols = []
    for wi in range(k):
        replaced = [
            [f"b_{i}" if j == wi else base[i][j] for j in range(k)]
            for i in range(k)
        ]
        w_cols.append(f"{_det_sql(replaced)} / {det} AS w_{wi}")
    score = " + ".join(f"({feats[i]}) * w.w_{i}" for i in range(k))
    # score sum must left-associate exactly like the Spark chain: a + b + c
    w_select = ",\n           ".join(w_cols)
    return f"""
    WITH gram AS ({gram_sql}),
    w AS (SELECT {w_select} FROM gram)
    SELECT d.{id_col} AS doc_id,
           CAST(({label_expr}) AS DOUBLE) AS label,
           ROUND({score}, 6) AS score
    FROM {table} d, w
    """
