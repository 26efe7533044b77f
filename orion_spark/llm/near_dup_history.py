"""Persisted NEAR-duplicate history: a standing MinHash-LSH band-bucket
store with the same build / probe / update lifecycle as the exact-key
Bloom history (`llm/bloom.py`).

The streaming curation funnel's standing gates were exact-key only
(content bloom, URL bloom): a re-ingested document with one word changed
sailed through. This closes the loop — "never re-ingest a
near-duplicate of anything in the last 100 TB" — by persisting the
corpus's LSH band keys and probing each micro-batch against them.

Key scheme — IDENTICAL to the batch `minhash_lsh_pairs` (1-row bands):
shingle (k words, lowercased) → md5-prefix base hash → `num_hashes`
universal-hash minima → band key (band_index, minimum). A probe doc
collides with history iff ANY of its `num_hashes` band keys exists in
the store; P(miss) at Jaccard j is (1-j)^num_hashes (~4e-7 at j=0.6,
num_hashes=16). Because batch and stream share the constants in
`dedup.minhash_lanes`, a document the batch dedup would pair with the
history is exactly a document the gate drops.

Scale / lifecycle shape (deliberately different from the Bloom bitmap):
- the store is a plain parquet relation of distinct (band, bv) pairs —
  ~num_hashes rows per historical doc. It GROWS with history (a bitmap
  cannot represent near-dup bands), but the probe is an equi-join on
  (band, bv) — broadcast while small, shuffle-hash + AQE beyond — and
  never rewrites history.
- `append_band_store` appends ONLY the new batch's band keys: O(batch)
  per trigger, never O(corpus). Duplicate keys across appends are
  harmless (the probe is a semi-join), so a crash between append and
  checkpoint commit costs bytes, not correctness; a REPLAYED batch
  finds its own keys already appended and drops itself — the same
  idempotent-restart property as the Bloom standing gate.
- `compact_band_store` is the maintenance op (distinct rewrite), run on
  its own cadence like any index rebuild.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orion_spark.sources.kgx import read_parquet

_META = "_band_store_meta.json"


def minhash_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 16,
    rows_per_band: int = 1,
) -> DataFrame:
    """(doc_id, band, bv) — one row per (doc, band). With the default
    1-row bands, bv is the band's minhash minimum and a probe collision
    means "the batch minhash_lsh_pairs would have made this a candidate
    pair" — maximal recall, P(hit) = 1 - (1-j)^num_hashes, which fires
    often even at low Jaccard. `rows_per_band = r > 1` trades recall for
    precision the standard LSH way (the gate has no verify stage — the
    history text is not stored — so precision is the knob that controls
    over-dropping): bv becomes a hash of r consecutive signature lanes
    and P(hit) = 1 - (1 - j^r)^(num_hashes/r) — e.g. r=4 over 16 lanes
    fires at ~3% for j=0.3 but ~99% for j=0.9. num_hashes must divide
    by r.

    Docs with < k words have no shingles and emit no keys (they can
    never near-dup on this scheme, matching minhash_lsh_pairs). Pure
    column expressions; one explode, no shuffle (the repartition is a
    round-robin spread of the compute-bound md5-per-shingle projection —
    small-file inputs arrive in one partition, the same fix
    minhash_lsh_pairs carries).

    Plan-shape contract (regression-guarded in test_near_dup_history):
    the md5-per-shingle transform appears EXACTLY ONCE in the optimized
    plan. The hash array gets its own projection boundary under the
    Generate node, and the generator expression is built from per-lane
    minima (`minhash_lanes`) so no lane — and hence the `_hs` array
    feeding it — is ever duplicated per band. A previous shape that
    materialized the signature in its own intermediate select let
    CollapseProject inline the shingle-md5 transform into every
    signature lane (16× the dominant cost; the third recurrence of this
    trap after minhash_lsh_pairs round 7 and this module's first fix)."""
    from orion_spark.llm.dedup import (
        minhash_lanes,
        shingle_hashes,
        word_shingles,
    )

    if num_hashes % rows_per_band:
        raise ValueError(
            f"rows_per_band={rows_per_band} must divide num_hashes={num_hashes}"
        )
    from orion_spark.llm.dedup import spread_narrow_input

    sh = word_shingles(F.col(text_col), k=k)
    hashed = (
        spread_narrow_input(df, id_col, text_col)
        .select(F.col(id_col).alias("doc_id"), sh.alias("_sh"))
        .where(F.size("_sh") > 0)
        .select("doc_id", shingle_hashes(F.col("_sh")).alias("_hs"))
    )
    lanes = minhash_lanes(F.col("_hs"), num_hashes)
    if rows_per_band == 1:
        banded = F.array(*lanes)
    else:
        r = rows_per_band
        # bv = bigint of md5-prefix over the band's r lane values joined
        # by "," — identical arithmetic to the DuckDB mirror in
        # _band_rows_sql. Each lane column appears exactly once across
        # all bands, so the shingle-md5 projection is never duplicated.
        banded = F.array(
            *[
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    lane.cast("string")
                                    for lane in lanes[b * r : (b + 1) * r]
                                ],
                            )
                        ),
                        1, 15,
                    ),
                    16, 10,
                ).cast("bigint")
                for b in range(num_hashes // r)
            ]
        )
    return hashed.select("doc_id", F.posexplode(banded).alias("band", "bv"))


def band_store_build(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 16,
    rows_per_band: int = 1,
) -> DataFrame:
    """Distinct (band, bv) key set of a corpus — the store relation."""
    return (
        minhash_band_keys(df, text_col, id_col, k, num_hashes, rows_per_band)
        .select("band", "bv")
        .distinct()
    )


def save_band_store(
    store: DataFrame, path: str, k: int = 5, num_hashes: int = 16,
    rows_per_band: int = 1,
) -> None:
    """Overwrite-write the store relation + its key-scheme metadata (the
    probe must hash with the same k / num_hashes / rows_per_band the
    store was built with; a mismatched probe would silently never
    match)."""
    store.write.mode("overwrite").parquet(path)
    meta = json.dumps(
        {"k": k, "num_hashes": num_hashes, "rows_per_band": rows_per_band}
    )
    tmp = os.path.join(path, _META + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(meta)
    os.replace(tmp, os.path.join(path, _META))


def load_band_store(
    spark: SparkSession, path: str
) -> tuple[DataFrame, int, int, int]:
    with open(os.path.join(path, _META)) as fh:
        meta = json.load(fh)
    return (
        read_parquet(spark, path),
        meta["k"],
        meta["num_hashes"],
        meta.get("rows_per_band", 1),
    )


def append_band_store(delta: DataFrame, path: str) -> None:
    """Append a batch's (band, bv) keys — O(batch) per trigger; duplicate
    keys are harmless for the semi-join probe."""
    delta.select("band", "bv").write.mode("append").parquet(path)


def compact_band_store(spark: SparkSession, path: str) -> None:
    """Maintenance rewrite: distinct the accumulated appends. Runs on its
    own cadence (like an index rebuild), never in the batch loop."""
    store, k, num_hashes, rpb = load_band_store(spark, path)
    compacted = store.distinct().localCheckpoint(eager=True)
    save_band_store(
        compacted, path, k=k, num_hashes=num_hashes, rows_per_band=rpb
    )


def band_store_probe(
    df: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 16,
    rows_per_band: int = 1,
) -> DataFrame:
    """Input rows + `near_dup_hit`: true iff ANY of the doc's band keys
    exists in the store. One equi-join on (band, bv) (semi) + one
    doc-keyed join back to the input — both AQE-splittable; a hot band
    key (boilerplate-heavy history) never concentrates in one task."""
    keys = minhash_band_keys(df, text_col, id_col, k, num_hashes, rows_per_band)
    hits = (
        keys.join(store, ["band", "bv"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("near_dup_hit", F.lit(True))
    )
    joined = df.join(
        hits.withColumnRenamed("doc_id", id_col), id_col, "left"
    )
    return joined.withColumn(
        "near_dup_hit", F.coalesce("near_dup_hit", F.lit(False))
    )


def _band_rows_sql(
    src_sql: str, num_hashes: int, rows_per_band: int, with_doc: bool
) -> str:
    """SELECT producing (doc_id?, band, bv) from a subquery yielding
    (doc_id?, sl) where sl is the comma-split signature string list —
    the DuckDB twin of minhash_band_keys' banding arithmetic."""
    doc = "doc_id, " if with_doc else ""
    if rows_per_band == 1:
        return f"""SELECT {doc}unnest(range(0, len(sl))) AS band,
               unnest(list_transform(sl, s -> s::BIGINT)) AS bv
        FROM {src_sql}"""
    r = rows_per_band
    n_bands = num_hashes // r
    return f"""SELECT {doc}unnest(range(0, {n_bands})) AS band,
               unnest([('0x' || substr(md5(array_to_string(
                           sl[b*{r}+1 : b*{r}+{r}], ',')), 1, 15))::BIGINT
                       for b in range(0, {n_bands})]) AS bv
        FROM {src_sql}"""


def band_store_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    rows_per_band: int = 1,
) -> str:
    """DuckDB CTE body yielding the store's (band, bv) rows for `table` —
    bit-identical key scheme via minhash_signature_oracle_sql."""
    from orion_spark.llm.dedup import minhash_signature_oracle_sql

    sig = minhash_signature_oracle_sql(
        k=k, num_hashes=num_hashes, table=table,
        id_col=id_col, text_col=text_col,
    )
    return f"""
    SELECT DISTINCT band, bv FROM (
        {_band_rows_sql("(SELECT string_split(signature, ',') AS sl FROM (" + sig + "))", num_hashes, rows_per_band, with_doc=False)})
    """


def band_store_probe_sql(
    probe_table_sql: str,
    store_table_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    rows_per_band: int = 1,
) -> str:
    """DuckDB ground truth for `band_store_probe`: every probe row with
    near_dup_hit = EXISTS(any band key in the store built from
    `store_table_sql`)."""
    from orion_spark.llm.dedup import minhash_signature_oracle_sql

    probe_sig = minhash_signature_oracle_sql(
        k=k, num_hashes=num_hashes, table=f"({probe_table_sql})",
        id_col=id_col, text_col=text_col,
    )
    return f"""
    WITH store AS ({band_store_sql(f"({store_table_sql})", id_col, text_col, k, num_hashes, rows_per_band)}),
    probe_keys AS (
        {_band_rows_sql("(SELECT doc_id, string_split(signature, ',') AS sl FROM (" + probe_sig + "))", num_hashes, rows_per_band, with_doc=True)}),
    hits AS (
        SELECT DISTINCT doc_id FROM probe_keys pk
        WHERE EXISTS (SELECT 1 FROM store s
                      WHERE s.band = pk.band AND s.bv = pk.bv))
    SELECT p.{id_col} AS doc_id,
           (h.doc_id IS NOT NULL) AS near_dup_hit
    FROM ({probe_table_sql}) p LEFT JOIN hits h ON p.{id_col} = h.doc_id
    """
