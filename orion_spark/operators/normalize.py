"""Identifier / predicate normalization as join stages (SURVEY §2.4 J1-J3,
§2.5 H5, §2.3 A11, §2.2 P7-P8).

The reference calls remote REST services in batches and then applies the
returned maps row-at-a-time (orion/kgx_file_normalizer.py:253-327). The
Spark design splits that into:

  1. a *map-provider* stage that yields a normalization-map DataFrame
     (`original_id -> normalized_ids[] + attributes`) — either a snapshot
     table, or `distinct ids -> mapInPandas(batched HTTP)` (see
     orion_spark/sources/service_map.py);
  2. pure broadcast equi-joins applying the map, below.

The map is tiny relative to the edge set (distinct curies ≪ edges), so
Catalyst broadcasts it; at 100 TB the edges never shuffle for this join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from orion_spark.functions.scalars import flatten_ws
from orion_spark.model import (
    FALLBACK_EDGE_PREDICATE,
    NODE_ID,
    OBJECT,
    PREDICATE,
    SUBCLASS_OF,
    SUBJECT,
)

# node_norm_map columns (FIXTURES.md §3): original_id, normalized_ids[],
# normalized_name, normalized_categories[], equivalent_identifiers[],
# information_content, taxa[]


def normalize_nodes(
    nodes: DataFrame, norm_map: DataFrame, strict: bool = True,
    broadcast_map: bool = True,
) -> DataFrame:
    """N1/J1 node side: replace node ids via the normalization map.

    - id -> each normalized_id (1->N split explodes, orion/normalization.py:368-373)
    - name/categories/equivalent_identifiers/etc. taken from the map when
      present (orion/normalization.py:266-301)
    - strict mode drops nodes that fail to normalize; lenient keeps the
      original row (orion/normalization.py:244-301)
    - many->one collisions are NOT deduped here; run merge_nodes after
      (orion/kgx_file_normalizer.py:171-174).
    """
    m = broadcast(norm_map) if broadcast_map else norm_map
    joined = nodes.join(
        m, nodes[NODE_ID] == norm_map["original_id"], "left"
    )
    hit = joined["original_id"].isNotNull() & (F.size("normalized_ids") > 0)
    if strict:
        joined = joined.where(hit)
    # generators can't live inside when(); build the effective id list first
    # (lenient keeps the original id when the lookup misses), then explode.
    effective = (
        F.col("normalized_ids") if strict
        else F.when(hit, F.col("normalized_ids")).otherwise(F.array(F.col(NODE_ID)))
    )
    exploded = joined.withColumn("_nid", F.explode(effective))
    prop_cols = [
        c
        for c in nodes.columns
        if c not in (NODE_ID, "name", "category", "equivalent_identifiers")
    ]
    # map-provided node attributes propagate onto the normalized node
    # (orion/normalization.py:266-301: name, categories, synonyms,
    # description, taxa, information_content)
    extra = [
        F.col(c).alias(c)
        for c in ("information_content", "description")
        if c in norm_map.columns and c not in nodes.columns
    ]
    if "taxa" in norm_map.columns and "taxa" not in nodes.columns:
        extra.append(F.col("taxa"))
    out = exploded.select(
        F.col("_nid").alias(NODE_ID),
        F.col(NODE_ID).alias("original_id"),
        F.coalesce("normalized_name", "name").alias("name"),
        F.coalesce("normalized_categories", "category").alias("category"),
        F.coalesce(norm_map["equivalent_identifiers"], F.array(F.col(NODE_ID))).alias(
            "equivalent_identifiers"
        ),
        *extra,
        *prop_cols,
    )
    return out


def normalization_failures(nodes: DataFrame, norm_map: DataFrame) -> DataFrame:
    """Node ids with no (or empty) mapping — the failure sidecar
    (orion/kgx_file_normalizer.py:265-269, counts at 204-221)."""
    misses = nodes.join(
        broadcast(norm_map.where(F.size("normalized_ids") > 0)),
        nodes[NODE_ID] == norm_map["original_id"],
        "left_anti",
    )
    return misses.select(NODE_ID).distinct()


def normalize_edges(
    edges: DataFrame,
    norm_map: DataFrame,
    drop_self_subclass: bool = True,
    broadcast_map: bool = True,
) -> DataFrame:
    """J1+J2: re-key edges through the node-normalization map on subject and
    object; preserve originals; drop edges whose endpoint fails to normalize
    (inner joins); 1->N splits cross-multiply (explode × explode)
    (orion/kgx_file_normalizer.py:253-333).

    H5: optionally drop `biolink:subclass_of` self-loops created by
    normalization (orion/kgx_file_normalizer.py:298-301).
    """
    ok_map = norm_map.where(F.size("normalized_ids") > 0).select(
        "original_id", "normalized_ids"
    )
    # at 100 TB a curie map can exceed the broadcast budget; callers flip
    # broadcast_map=False and Catalyst falls back to a shuffle hash join
    hint = broadcast if broadcast_map else (lambda df: df)
    smap = hint(ok_map.select(
        F.col("original_id").alias("_s_orig"), F.col("normalized_ids").alias("_s_ids")
    ))
    omap = hint(ok_map.select(
        F.col("original_id").alias("_o_orig"), F.col("normalized_ids").alias("_o_ids")
    ))
    out = (
        edges.join(smap, edges[SUBJECT] == F.col("_s_orig"), "inner")
        .join(omap, edges[OBJECT] == F.col("_o_orig"), "inner")
        .withColumn("original_subject", F.col(SUBJECT))
        .withColumn("original_object", F.col(OBJECT))
        .withColumn(SUBJECT, F.explode("_s_ids"))
        .withColumn(OBJECT, F.explode("_o_ids"))
        .drop("_s_orig", "_s_ids", "_o_orig", "_o_ids")
    )
    if drop_self_subclass:
        out = out.where(
            ~((F.col(PREDICATE) == SUBCLASS_OF) & (F.col(SUBJECT) == F.col(OBJECT)))
        )
    return out


def remove_subclass_self_loops(edges: DataFrame) -> DataFrame:
    """H5 standalone: drop `biolink:subclass_of` edges whose endpoints are
    equal (orion/kgx_file_normalizer.py:298-301)."""
    return edges.where(
        ~((F.col(PREDICATE) == SUBCLASS_OF) & (F.col(SUBJECT) == F.col(OBJECT)))
    )


def normalize_predicates(edges: DataFrame, predicate_map: DataFrame) -> DataFrame:
    """J3/N3: predicate remap via broadcast map; misses fall back to
    `biolink:related_to` (orion/normalization.py:38,425-517). The map's
    `inverted` flag swaps subject/object (H4 inversion applied downstream via
    invert_edges — here we only attach the flag and remap the predicate)."""
    pmap = broadcast(
        predicate_map.select(
            F.col("original_predicate").alias("_p_orig"),
            F.col("normalized_predicate").alias("_p_norm"),
            F.coalesce(F.col("inverted"), F.lit(False)).alias("_p_inverted"),
        )
    )
    out = edges.join(pmap, edges[PREDICATE] == F.col("_p_orig"), "left")
    return (
        out.withColumn("original_predicate", F.col(PREDICATE))
        .withColumn(
            PREDICATE, F.coalesce(F.col("_p_norm"), F.lit(FALLBACK_EDGE_PREDICATE))
        )
        .withColumn("inverted", F.coalesce(F.col("_p_inverted"), F.lit(False)))
        .drop("_p_orig", "_p_norm", "_p_inverted")
    )


def prefix_stats(nodes: DataFrame, norm_map: DataFrame) -> DataFrame:
    """A11: per original-curie-prefix success/fail counts + target-prefix
    histogram (orion/kgx_file_normalizer.py:366-401)."""
    joined = nodes.select(NODE_ID).join(
        broadcast(norm_map), nodes[NODE_ID] == norm_map["original_id"], "left"
    )
    hit = (F.col("original_id").isNotNull()) & (F.size("normalized_ids") > 0)
    return (
        joined.select(
            F.split(F.col(NODE_ID), ":").getItem(0).alias("prefix"),
            F.when(hit, 1).otherwise(0).alias("_ok"),
            F.when(
                hit, F.split(F.col("normalized_ids").getItem(0), ":").getItem(0)
            ).alias("target_prefix"),
        )
        .groupBy("prefix")
        .agg(
            F.sum("_ok").alias("normalized"),
            (F.count("*") - F.sum("_ok")).alias("failed"),
            F.array_sort(
                F.array_distinct(
                    F.collect_list("target_prefix")
                )
            ).alias("target_prefixes"),
        )
    )


# ---------------------------------------------------------------------------
# Row-level hygiene (P7, P8)
# ---------------------------------------------------------------------------

def flatten_whitespace(df: DataFrame, columns: list[str]) -> DataFrame:
    """P7: remove newline/CR/tab from string values (orion/utils.py:20-29,
    applied at orion/kgx_file_converter.py:369-374) — Neo4j-CSV safety."""
    out = df
    for c in columns:
        out = out.withColumn(c, flatten_ws(F.col(c)))
    return out


def default_node_names(nodes: DataFrame) -> DataFrame:
    """P8: missing/empty name -> CURIE suffix (orion/normalization.py:231-233,
    orion/kgx_file_converter.py:355-356)."""
    return nodes.withColumn(
        "name",
        F.when(
            F.col("name").isNull() | (F.col("name") == ""),
            F.substring_index(F.col(NODE_ID), ":", -1),
        ).otherwise(F.col("name")),
    )
