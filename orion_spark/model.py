"""KGX data model: core schemas and constants.

Reference semantics:
- node core = id, name, category[]            (orion/kgxmodel.py:10-19,
  orion/biolink_constants.py:153-157)
- edge core = subject, predicate, object, primary_knowledge_source,
  aggregator_knowledge_source[]               (orion/kgxmodel.py:22-38,
  orion/biolink_constants.py:207-212)
- open property tail: arbitrary extra columns (orion/extractor.py:126-152).

Spark-first representation: a columnar DataFrame whose first columns are the
non-nullable core, followed by typed property columns. At 100 TB the open
tail across 40+ sources is kept as real columns only for heavily-queried
properties; everything else can be folded into a MAP<STRING,STRING> column
(`fold_property_tail`) so scans stay narrow and unionByName stays cheap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Biolink-ish constants (reference: orion/biolink_constants.py)
# ---------------------------------------------------------------------------

NODE_ID = "id"
NODE_NAME = "name"
NODE_CATEGORY = "category"

SUBJECT = "subject"
PREDICATE = "predicate"
OBJECT = "object"
PRIMARY_KNOWLEDGE_SOURCE = "primary_knowledge_source"
AGGREGATOR_KNOWLEDGE_SOURCES = "aggregator_knowledge_source"

DEFAULT_NODE_CATEGORY = "biolink:NamedThing"
FALLBACK_EDGE_PREDICATE = "biolink:related_to"  # orion/normalization.py:38
SUBCLASS_OF = "biolink:subclass_of"

NODE_CORE_COLUMNS = [NODE_ID, NODE_NAME, NODE_CATEGORY]
EDGE_CORE_COLUMNS = [SUBJECT, PREDICATE, OBJECT, PRIMARY_KNOWLEDGE_SOURCE]

# Canonical list-valued properties (orion/biolink_constants.py:214-221):
# these always merge by concat+dedup(+sort), never keep-first.
LIST_PROPERTIES = frozenset(
    {
        NODE_CATEGORY,
        "equivalent_identifiers",
        "publications",
        "xref",
        AGGREGATOR_KNOWLEDGE_SOURCES,
        "synonym",
    }
)

# Keys excluded from property merging because they are (part of) the merge
# key itself (orion/merging.py:103-116).
MERGE_KEY_EXCLUDED = frozenset(
    {NODE_ID, SUBJECT, OBJECT, PREDICATE, PRIMARY_KNOWLEDGE_SOURCE}
)

# Qualifier columns participate in the edge merge key (orion/merging.py:72),
# redundant-graph expansion (orion/redundant_kg.py:74-96), and qualifier
# collapse (orion/collapse_qualifiers.py — full bmt.is_qualifier set).
QUALIFIER_COLUMNS = (
    "qualified_predicate",
    "subject_direction_qualifier",
    "subject_aspect_qualifier",
    "subject_form_or_variant_qualifier",
    "subject_derivative_qualifier",
    "subject_part_qualifier",
    "object_direction_qualifier",
    "object_aspect_qualifier",
    "object_form_or_variant_qualifier",
    "object_derivative_qualifier",
    "object_part_qualifier",
    "causal_mechanism_qualifier",
    "species_context_qualifier",
    "anatomical_context_qualifier",
)

# ---------------------------------------------------------------------------
# Core Spark schemas
# ---------------------------------------------------------------------------

NODES_CORE_SCHEMA = T.StructType(
    [
        T.StructField(NODE_ID, T.StringType(), nullable=False),
        T.StructField(NODE_NAME, T.StringType(), nullable=True),
        T.StructField(NODE_CATEGORY, T.ArrayType(T.StringType()), nullable=True),
    ]
)

EDGES_CORE_SCHEMA = T.StructType(
    [
        T.StructField(SUBJECT, T.StringType(), nullable=False),
        T.StructField(PREDICATE, T.StringType(), nullable=False),
        T.StructField(OBJECT, T.StringType(), nullable=False),
        T.StructField(PRIMARY_KNOWLEDGE_SOURCE, T.StringType(), nullable=True),
        T.StructField(
            AGGREGATOR_KNOWLEDGE_SOURCES, T.ArrayType(T.StringType()), nullable=True
        ),
    ]
)

# `sources` retrieval-source structs (orion/biolink_constants.py:52-54,
# merged by resource_id+resource_role at orion/merging.py:53-59).
RETRIEVAL_SOURCE_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("resource_id", T.StringType()),
            T.StructField("resource_role", T.StringType()),
            T.StructField("upstream_resource_ids", T.ArrayType(T.StringType())),
        ]
    )
)


def property_columns(df: DataFrame, core: list[str]) -> list[str]:
    """Columns of *df* beyond the fixed core — the open property tail."""
    return [c for c in df.columns if c not in core]


def first_category(nodes: DataFrame) -> Column:
    """A node's first category; null when the frame has no category."""
    if NODE_CATEGORY in nodes.columns:
        return F.col(NODE_CATEGORY).getItem(0)
    return F.lit(None).cast("string")


def ensure_node_core(df: DataFrame) -> DataFrame:
    """Add any missing core node columns with null/default values and order
    columns core-first (stable output schema regardless of source)."""
    out = df
    if NODE_NAME not in out.columns:
        out = out.withColumn(NODE_NAME, F.lit(None).cast("string"))
    if NODE_CATEGORY not in out.columns:
        out = out.withColumn(NODE_CATEGORY, F.array(F.lit(DEFAULT_NODE_CATEGORY)))
    props = property_columns(out, NODE_CORE_COLUMNS)
    return out.select(*NODE_CORE_COLUMNS, *sorted(props))


def ensure_edge_core(df: DataFrame) -> DataFrame:
    """Add any missing core edge columns and order columns core-first."""
    out = df
    if PRIMARY_KNOWLEDGE_SOURCE not in out.columns:
        out = out.withColumn(PRIMARY_KNOWLEDGE_SOURCE, F.lit(None).cast("string"))
    if AGGREGATOR_KNOWLEDGE_SOURCES not in out.columns:
        out = out.withColumn(
            AGGREGATOR_KNOWLEDGE_SOURCES, F.lit(None).cast("array<string>")
        )
    core = EDGE_CORE_COLUMNS + [AGGREGATOR_KNOWLEDGE_SOURCES]
    props = property_columns(out, core)
    return out.select(*core, *sorted(props))


def fold_property_tail(df: DataFrame, keep: list[str]) -> DataFrame:
    """Fold every non-kept string-able property column into one
    MAP<STRING,STRING> `properties` column.

    The 100-TB posture for the open schema (SURVEY §7.4 item 4): 40+ sources
    with disjoint property sets would otherwise explode the unioned schema;
    a map tail keeps the scan narrow and lets Catalyst prune the core.
    """
    tail = [c for c in df.columns if c not in keep]
    if not tail:
        return df.withColumn("properties", F.create_map().cast("map<string,string>"))
    entries = []
    for c in tail:
        entries.append(F.lit(c))
        entries.append(F.col(c).cast("string"))
    return df.select(
        *keep,
        F.map_filter(F.create_map(*entries), lambda k, v: v.isNotNull()).alias(
            "properties"
        ),
    )
