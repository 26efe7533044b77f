"""Deterministic TPC-H -> KGX graph construction (FIXTURES.md §7).

The driver's correctness harness runs each declared query on Spark AND its
oracle SQL on DuckDB over the same parquet tables. Graph-shaped operators
(merge / semi-join / closure / normalization) therefore need a graph built
*deterministically* from those tables. This module holds both halves:

  - Spark builders (`nodes_df`, `edges_df`, `norm_map_df`, ...)
  - the equivalent DuckDB SQL CTE snippets (`NODES_SQL`, `EDGES_SQL`, ...)

kept adjacent so the two stay in lock-step. Any change here must change both.

Graph shape:
  nodes: CUST:* (customer), SUPP:* (supplier), PART:* (part),
         NATION:* (nation), REGION:* (region), ORDER:* (orders)
  edges: ORDER->CUST  `biolink:placed_by`   (from orders)
         ORDER->PART  `biolink:contains`    (from lineitem; duplicate
                      (order,part) groups across line numbers exercise the
                      property-merge aggregate)
         CUST->NATION `biolink:located_in`  (from customer)
         SUPP->NATION `biolink:located_in`  (from supplier)
         NATION->REGION `biolink:part_of`   (from nation)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orion_spark.sources.kgx import read_parquet


def read_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """One TPC-H table of an sf_dir: the registry's single table read."""
    return read_parquet(spark, f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# Nodes. Two "sources" provide PART nodes: the part table (ordinal 0, carries
# the name) and lineitem occurrences (ordinal 1, carries publications) — a
# deliberate overlap that exercises keep-first-truthy + list merge (A3).
# ---------------------------------------------------------------------------

def part_nodes_two_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").select(
        F.concat(F.lit("PART:"), F.col("p_partkey")).alias("id"),
        F.col("p_name").alias("name"),
        F.array(F.lit("biolink:ChemicalEntity")).alias("category"),
        F.array(F.lit("CATALOG")).alias("publications"),
        F.lit(0).alias("_source_ordinal"),
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("PART:"), F.col("l_partkey")).alias("id"),
        F.lit(None).cast("string").alias("name"),
        F.array(F.lit("biolink:ChemicalEntity"), F.lit("biolink:NamedThing")).alias(
            "category"
        ),
        F.array(F.concat(F.lit("ORDER:"), F.col("l_orderkey"))).alias("publications"),
        F.lit(1).alias("_source_ordinal"),
    )
    return part.unionByName(li)


PART_NODES_TWO_SOURCES_SQL = """
    part_nodes_src AS (
        SELECT 'PART:' || p_partkey AS id, p_name AS name,
               ['biolink:ChemicalEntity'] AS category,
               ['CATALOG'] AS publications, 0 AS _source_ordinal
        FROM part
        UNION ALL
        SELECT 'PART:' || l_partkey AS id, NULL AS name,
               ['biolink:ChemicalEntity','biolink:NamedThing'] AS category,
               ['ORDER:' || l_orderkey] AS publications, 1 AS _source_ordinal
        FROM lineitem
    )
"""


def nodes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified node table (already-merged shape, distinct ids)."""
    c = read_table(spark, sf_dir, "customer").select(
        F.concat(F.lit("CUST:"), F.col("c_custkey")).alias("id"),
        F.col("c_name").alias("name"),
        F.array(F.lit("biolink:Case")).alias("category"),
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.concat(F.lit("SUPP:"), F.col("s_suppkey")).alias("id"),
        F.col("s_name").alias("name"),
        F.array(F.lit("biolink:Agent")).alias("category"),
    )
    p = read_table(spark, sf_dir, "part").select(
        F.concat(F.lit("PART:"), F.col("p_partkey")).alias("id"),
        F.col("p_name").alias("name"),
        F.array(F.lit("biolink:ChemicalEntity")).alias("category"),
    )
    n = read_table(spark, sf_dir, "nation").select(
        F.concat(F.lit("NATION:"), F.col("n_nationkey")).alias("id"),
        F.col("n_name").alias("name"),
        F.array(F.lit("biolink:GeographicLocation")).alias("category"),
    )
    r = read_table(spark, sf_dir, "region").select(
        F.concat(F.lit("REGION:"), F.col("r_regionkey")).alias("id"),
        F.col("r_name").alias("name"),
        F.array(F.lit("biolink:GeographicLocation"), F.lit("biolink:NamedThing")).alias(
            "category"
        ),
    )
    o = read_table(spark, sf_dir, "orders").select(
        F.concat(F.lit("ORDER:"), F.col("o_orderkey")).alias("id"),
        F.lit(None).cast("string").alias("name"),
        F.array(F.lit("biolink:Activity")).alias("category"),
    )
    return c.unionByName(s).unionByName(p).unionByName(n).unionByName(r).unionByName(o)


NODES_SQL = """
    nodes AS (
        SELECT 'CUST:' || c_custkey AS id, c_name AS name,
               ['biolink:Case'] AS category FROM customer
        UNION ALL
        SELECT 'SUPP:' || s_suppkey, s_name, ['biolink:Agent'] FROM supplier
        UNION ALL
        SELECT 'PART:' || p_partkey, p_name, ['biolink:ChemicalEntity'] FROM part
        UNION ALL
        SELECT 'NATION:' || n_nationkey, n_name,
               ['biolink:GeographicLocation'] FROM nation
        UNION ALL
        SELECT 'REGION:' || r_regionkey, r_name,
               ['biolink:GeographicLocation','biolink:NamedThing'] FROM region
        UNION ALL
        SELECT 'ORDER:' || o_orderkey, NULL, ['biolink:Activity'] FROM orders
    )
"""


# ---------------------------------------------------------------------------
# Edges. lineitem edges carry qualifiers from returnflag/linestatus so the
# qualifier-aware merge key and the closure/collapse operators have real
# variation to chew on.
# ---------------------------------------------------------------------------

def lineitem_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER->PART edges; one row per lineitem line, duplicates per
    (order, part, qualifiers) group."""
    return read_table(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("ORDER:"), F.col("l_orderkey")).alias("subject"),
        F.lit("biolink:contains").alias("predicate"),
        F.concat(F.lit("PART:"), F.col("l_partkey")).alias("object"),
        F.lit("infores:tpch-lineitem").alias("primary_knowledge_source"),
        F.col("l_returnflag").alias("object_aspect_qualifier"),
        F.col("l_linestatus").alias("object_direction_qualifier"),
        F.array(F.concat(F.lit("LINE:"), F.col("l_linenumber"))).alias("publications"),
        F.col("l_quantity").alias("quantity"),
        # the generator can emit duplicate (order, linenumber) rows; the
        # quantity tiebreak keeps the "first by source order" total
        # (quantities are integral — see check in BENCH notes)
        (
            F.col("l_linenumber").cast("int") * 1000
            + F.col("l_quantity").cast("int")
        ).alias("_source_ordinal"),
    )


LINEITEM_EDGES_SQL = """
    lineitem_edges AS (
        SELECT 'ORDER:' || l_orderkey AS subject,
               'biolink:contains' AS predicate,
               'PART:' || l_partkey AS object,
               'infores:tpch-lineitem' AS primary_knowledge_source,
               l_returnflag AS object_aspect_qualifier,
               l_linestatus AS object_direction_qualifier,
               ['LINE:' || l_linenumber] AS publications,
               l_quantity AS quantity,
               CAST(l_linenumber AS INT) * 1000 + CAST(l_quantity AS INT)
                   AS _source_ordinal
        FROM lineitem
    )
"""


def all_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full heterogeneous edge table (core columns only)."""
    o = read_table(spark, sf_dir, "orders").select(
        F.concat(F.lit("ORDER:"), F.col("o_orderkey")).alias("subject"),
        F.lit("biolink:placed_by").alias("predicate"),
        F.concat(F.lit("CUST:"), F.col("o_custkey")).alias("object"),
        F.lit("infores:tpch-orders").alias("primary_knowledge_source"),
    )
    # dedup on the NATIVE int keys, then build the id strings from the
    # surviving rows (round 11, guide §2.3 shuffle-keys-not-payloads):
    # subject/object are injective functions of (l_orderkey, l_partkey),
    # so distinct-then-concat is row-identical to concat-then-distinct
    # while the dedup exchange carries 16 bytes/row instead of two
    # ~20-char strings plus two constant columns, and the per-row hash
    # work in the partial dedup is integer hashing.
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .dropDuplicates()
        .select(
            F.concat(F.lit("ORDER:"), F.col("l_orderkey")).alias("subject"),
            F.lit("biolink:contains").alias("predicate"),
            F.concat(F.lit("PART:"), F.col("l_partkey")).alias("object"),
            F.lit("infores:tpch-lineitem").alias("primary_knowledge_source"),
        )
    )
    c = read_table(spark, sf_dir, "customer").select(
        F.concat(F.lit("CUST:"), F.col("c_custkey")).alias("subject"),
        F.lit("biolink:located_in").alias("predicate"),
        F.concat(F.lit("NATION:"), F.col("c_nationkey")).alias("object"),
        F.lit("infores:tpch-customer").alias("primary_knowledge_source"),
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.concat(F.lit("SUPP:"), F.col("s_suppkey")).alias("subject"),
        F.lit("biolink:located_in").alias("predicate"),
        F.concat(F.lit("NATION:"), F.col("s_nationkey")).alias("object"),
        F.lit("infores:tpch-supplier").alias("primary_knowledge_source"),
    )
    n = read_table(spark, sf_dir, "nation").select(
        F.concat(F.lit("NATION:"), F.col("n_nationkey")).alias("subject"),
        F.lit("biolink:part_of").alias("predicate"),
        F.concat(F.lit("REGION:"), F.col("n_regionkey")).alias("object"),
        F.lit("infores:tpch-nation").alias("primary_knowledge_source"),
    )
    return o.unionByName(li).unionByName(c).unionByName(s).unionByName(n)


ALL_EDGES_SQL = """
    edges AS (
        SELECT 'ORDER:' || o_orderkey AS subject, 'biolink:placed_by' AS predicate,
               'CUST:' || o_custkey AS object,
               'infores:tpch-orders' AS primary_knowledge_source
        FROM orders
        UNION ALL
        SELECT DISTINCT 'ORDER:' || l_orderkey, 'biolink:contains',
               'PART:' || l_partkey, 'infores:tpch-lineitem'
        FROM lineitem
        UNION ALL
        SELECT 'CUST:' || c_custkey, 'biolink:located_in',
               'NATION:' || c_nationkey, 'infores:tpch-customer'
        FROM customer
        UNION ALL
        SELECT 'SUPP:' || s_suppkey, 'biolink:located_in',
               'NATION:' || s_nationkey, 'infores:tpch-supplier'
        FROM supplier
        UNION ALL
        SELECT 'NATION:' || n_nationkey, 'biolink:part_of',
               'REGION:' || n_regionkey, 'infores:tpch-nation'
        FROM nation
    )
"""


# ---------------------------------------------------------------------------
# Normalization map (FIXTURES.md §3 stand-in for NodeNorm). Derived from
# customer: every CUST:id normalizes to NORM:CUST:<nation>:<id>; ids
# divisible by 10 split into two (1->N fan-out); ids divisible by 97 fail
# (empty mapping).
# ---------------------------------------------------------------------------

def norm_map_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    base = F.concat(
        F.lit("NORM:CUST:"), F.col("c_nationkey"), F.lit(":"), F.col("c_custkey")
    )
    split2 = F.concat(F.lit("NORM2:CUST:"), F.col("c_custkey"))
    return c.select(
        F.concat(F.lit("CUST:"), F.col("c_custkey")).alias("original_id"),
        F.when(F.col("c_custkey") % 97 == 0, F.array().cast("array<string>"))
        .when(F.col("c_custkey") % 10 == 0, F.array(base, split2))
        .otherwise(F.array(base))
        .alias("normalized_ids"),
        F.col("c_name").alias("normalized_name"),
        F.array(F.lit("biolink:Case"), F.lit("biolink:IndividualOrganism")).alias(
            "normalized_categories"
        ),
        F.array(F.concat(F.lit("CUST:"), F.col("c_custkey")), base).alias(
            "equivalent_identifiers"
        ),
        (F.col("c_acctbal") / 100.0).alias("information_content"),
        F.array(F.lit("NCBITaxon:9606")).alias("taxa"),
    )


NORM_MAP_SQL = """
    norm_map AS (
        SELECT 'CUST:' || c_custkey AS original_id,
               CASE WHEN c_custkey % 97 = 0 THEN []::VARCHAR[]
                    WHEN c_custkey % 10 = 0 THEN
                        ['NORM:CUST:' || c_nationkey || ':' || c_custkey,
                         'NORM2:CUST:' || c_custkey]
                    ELSE ['NORM:CUST:' || c_nationkey || ':' || c_custkey]
               END AS normalized_ids,
               c_name AS normalized_name,
               ['biolink:Case','biolink:IndividualOrganism'] AS normalized_categories,
               ['CUST:' || c_custkey,
                'NORM:CUST:' || c_nationkey || ':' || c_custkey]
                   AS equivalent_identifiers,
               c_acctbal / 100.0 AS information_content,
               ['NCBITaxon:9606'] AS taxa
        FROM customer
    )
"""


# ---------------------------------------------------------------------------
# Predicate normalization map + closure dimension (FIXTURES.md §4/§5) —
# static literals, identical in both engines.
# ---------------------------------------------------------------------------

PREDICATE_MAP_ROWS = [
    ("placed_by", "biolink:placed_by", False),
    ("contains", "biolink:contains", False),
    ("located_in", "biolink:located_in", False),
    ("owned_by", "biolink:owns", True),  # inverted: subject/object swap
]


def predicate_map_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        PREDICATE_MAP_ROWS,
        "original_predicate string, normalized_predicate string, inverted boolean",
    )


PREDICATE_MAP_SQL = """
    predicate_map AS (
        SELECT * FROM (VALUES
            ('placed_by','biolink:placed_by', FALSE),
            ('contains','biolink:contains', FALSE),
            ('located_in','biolink:located_in', FALSE),
            ('owned_by','biolink:owns', TRUE)
        ) AS t(original_predicate, normalized_predicate, inverted)
    )
"""

# predicate hierarchy: contains < has_part < related_to;
# placed_by < attributed_to < related_to; located_in < related_to;
# part_of < related_to. interacts_with is symmetric.
CLOSURE_ROWS = [
    ("biolink:contains", "biolink:has_part", False, None),
    ("biolink:contains", "biolink:related_to", False, None),
    ("biolink:has_part", "biolink:related_to", False, "biolink:part_of"),
    ("biolink:placed_by", "biolink:attributed_to", False, None),
    ("biolink:placed_by", "biolink:related_to", False, None),
    ("biolink:attributed_to", "biolink:related_to", False, None),
    ("biolink:located_in", "biolink:related_to", False, "biolink:location_of"),
    ("biolink:part_of", "biolink:related_to", False, "biolink:has_part"),
    ("biolink:interacts_with", "biolink:related_to", True, None),
]


def closure_df(spark: SparkSession) -> DataFrame:
    """GENERATED from the packaged biolink-model-subset YAML (r6: the
    reference gets this from bmt at runtime, orion/redundant_kg.py:28-31);
    CLOSURE_ROWS above stays as the literal the oracle SQL and the
    generator-equivalence test pin against."""
    from orion_spark.sources.biolink_model import predicate_closure_df

    return predicate_closure_df(spark)


CATEGORY_CLOSURE_ROWS = [
    ("biolink:GeographicLocation", "biolink:NamedThing"),
    ("biolink:ChemicalEntity", "biolink:NamedThing"),
    ("biolink:Case", "biolink:NamedThing"),
    ("biolink:Agent", "biolink:NamedThing"),
    ("biolink:Activity", "biolink:NamedThing"),
]


def category_closure_df(spark: SparkSession) -> DataFrame:
    """GENERATED from the packaged biolink-model-subset YAML (the
    reference's bmt ancestor walk, orion/biolink_utils.py:44-61);
    CATEGORY_CLOSURE_ROWS pins the expected content."""
    from orion_spark.sources.biolink_model import category_closure_df as _cat

    return _cat(spark).select(
        "term", "ancestor", F.lit(False).alias("is_symmetric"),
        F.lit(None).cast("string").alias("inverse"),
    )


CATEGORY_CLOSURE_SQL = """
    cat_closure AS (
        SELECT * FROM (VALUES
            ('biolink:GeographicLocation','biolink:NamedThing'),
            ('biolink:ChemicalEntity','biolink:NamedThing'),
            ('biolink:Case','biolink:NamedThing'),
            ('biolink:Agent','biolink:NamedThing'),
            ('biolink:Activity','biolink:NamedThing')
        ) AS t(term, ancestor)
    )
"""

CLOSURE_SQL = """
    closure AS (
        SELECT * FROM (VALUES
            ('biolink:contains','biolink:has_part', FALSE, NULL),
            ('biolink:contains','biolink:related_to', FALSE, NULL),
            ('biolink:has_part','biolink:related_to', FALSE, 'biolink:part_of'),
            ('biolink:placed_by','biolink:attributed_to', FALSE, NULL),
            ('biolink:placed_by','biolink:related_to', FALSE, NULL),
            ('biolink:attributed_to','biolink:related_to', FALSE, NULL),
            ('biolink:located_in','biolink:related_to', FALSE, 'biolink:location_of'),
            ('biolink:part_of','biolink:related_to', FALSE, 'biolink:has_part'),
            ('biolink:interacts_with','biolink:related_to', TRUE, NULL)
        ) AS t(term, ancestor, is_symmetric, inverse)
    )
"""
