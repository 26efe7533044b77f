"""Entity merge engine (SURVEY §2.3 A2-A6, §2.4 J4-J5).

Reference semantics (orion/merging.py:103-183, re-expressed declaratively):

- group nodes by ``id``, edges by a deterministic hash of
  (subject, predicate, object, primary_knowledge_source, sorted qualifier
  key=value pairs, custom edge_merging_attributes)  [orion/merging.py:71-100]
- within a group, fold properties:
    * list properties     -> concat + dedup + sort      [orion/merging.py:160-179]
    * scalar properties   -> keep FIRST TRUTHY value    [orion/merging.py:137-158]
      ("first" = source/file order; we make that explicit with an ``ordinal``
      column so the result is deterministic under any partitioning — the
      subtlest correctness trap, SURVEY §7.4.1)
    * list-of-structs     -> dedup (``sources`` by resource_id+role)
                                                        [orion/merging.py:49-59]
- the reference's DiskGraphMerger (10M-row spill chunks + k-way heap merge,
  orion/merging.py:238-487) is replaced wholesale by Spark's shuffle +
  sort-based hash aggregation, which spills adaptively; RESOURCE_HOGS
  special-casing (orion/data_sources.py:68) disappears.

Scale notes: the groupBy shuffles once on the merge key. Hub nodes (millions
of duplicate ids) are handled by AQE skew splitting; the per-property
aggregates are all partial-aggregatable (map-side combine) because
collect_list/min_by combine associatively.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orion_spark.model import (
    EDGE_CORE_COLUMNS,
    NODE_ID,
    OBJECT,
    QUALIFIER_COLUMNS,
    SUBJECT,
)

SOURCE_ORDINAL = "_source_ordinal"
PREDICATE_COL = "predicate"
PKS_COL = "primary_knowledge_source"


# ---------------------------------------------------------------------------
# A2: merge keys
# ---------------------------------------------------------------------------

# The reference's fixed uuid5 namespace (orion/merging.py:13) — a public
# constant of the data model, required so `edge_id_type='uuid'` output is
# byte-identical to the reference's ids for the same key input.
ORION_UUID_NAMESPACE_HEX = "e2a5b21f4e4d4a6eb64a1f3c78e2a9d0"

# Valid edge_id_type values (orion/graph_pipeline.py:693-694 validates
# 'orion' | 'uuid'; 'uuid_md5' is the engine's SQL-reproducible sibling).
EDGE_ID_TYPES = ("orion", "uuid", "uuid_md5")


def _rfc4122_format(hex_digest: Column, version: str) -> Column:
    """Format the first 16 bytes of a hex digest as an RFC-4122 UUID string
    with the given version nibble and the variant bits set — the same byte
    surgery Python's uuid.uuid3/uuid5 constructors perform."""
    h = F.lower(hex_digest)
    variant = F.translate(
        F.substring(h, 17, 1), "0123456789abcdef", "89ab89ab89ab89ab"
    )
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit(version), F.substring(h, 14, 3)),
        F.concat(variant, F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


RETRIEVAL_SOURCES_COL = "sources"


def _effective_pks(df: DataFrame) -> Column:
    """primary_knowledge_source for the merge key: the column when truthy,
    else the resource_id of the primary retrieval source, else ''
    (orion/merging.py:72-78)."""
    pks = (
        F.coalesce(F.col(PKS_COL).cast("string"), F.lit(""))
        if PKS_COL in df.columns
        else F.lit("")
    )
    dtypes = dict(df.dtypes)
    if "resource_role" in dtypes.get(RETRIEVAL_SOURCES_COL, ""):
        primary = F.element_at(
            F.filter(
                F.col(RETRIEVAL_SOURCES_COL),
                lambda s: s["resource_role"] == F.lit("primary_knowledge_source"),
            ),
            1,
        )["resource_id"]
        return F.when(pks != "", pks).otherwise(F.coalesce(primary, F.lit("")))
    return pks


def edge_merge_key(
    df: DataFrame,
    edge_merging_attributes: list[str] | None = None,
    qualifier_columns: tuple[str, ...] = QUALIFIER_COLUMNS,
    id_type: str = "orion",
) -> Column:
    """Deterministic edge merge key (orion/merging.py:70-100).

    The canonical key input reproduces the reference's exact string:
    ``subject + predicate + object + pks`` followed by the sorted
    ``f'{name}{value}'`` qualifier strings and the stringified custom
    attributes, all concatenated with NO separators (list-valued custom
    attributes render as Python's ``str(sorted(...))`` repr,
    orion/merging.py:88-89). ``pks`` falls back to the primary retrieval
    source when the column is empty (orion/merging.py:72-77). `id_type`
    selects the digest over that input (orion/merging.py:97-100,
    graph_pipeline.py:693):

    - ``orion``: md5 hex — a stable engine-native key every SQL engine can
      reproduce (documented divergence from the reference's xxh64, which
      neither Spark nor DuckDB exposes; SURVEY §7.4.2).
    - ``uuid``: RFC-4122 version-5 UUID under the reference's fixed
      namespace — byte-identical to the reference's uuid5 output
      (sha1 over namespace bytes + UTF-8 key input), pinned against
      Python's ``uuid.uuid5`` in tests/test_merge.py.
    - ``uuid_md5``: RFC-4122-formatted deterministic UUID derived by md5
      over the hex-text namespace + key — an engine extension whose value
      is reproducible in DuckDB SQL (which lacks sha1 and blob md5), used
      by the oracle gate; version nibble '3' marks the md5 family.

    Columnar-model conventions (documented divergences, both edge cases
    the reference's dict model can hit but parquet columns cannot
    distinguish): a NULL custom-attribute value contributes '' (the
    reference's ``str(None)`` would contribute 'None' for a key present
    with value None, '' for an absent key), and a NULL core column
    contributes '' (the reference raises KeyError on a missing subject/
    predicate/object).
    """
    parts: list[Column] = [
        F.coalesce(F.col(SUBJECT).cast("string"), F.lit("")),
        F.coalesce(F.col(PREDICATE_COL).cast("string"), F.lit("")),
        F.coalesce(F.col(OBJECT).cast("string"), F.lit("")),
        _effective_pks(df),
    ]
    # Qualifiers enter the key as sorted `{name}{value}` strings; absent
    # (null) qualifiers are omitted (orion/merging.py:71).
    quals = [q for q in qualifier_columns if q in df.columns]
    if quals:
        pairs = F.array(
            *[
                F.when(
                    F.col(q).isNotNull(), F.concat(F.lit(q), F.col(q).cast("string"))
                )
                for q in quals
            ]
        )
        parts.append(F.array_join(F.array_sort(F.filter(pairs, lambda x: x.isNotNull())), ""))
    for attr in edge_merging_attributes or []:
        if attr in df.columns:
            dt = dict(df.dtypes)[attr]
            if dt.startswith("array"):
                # list values render as str(sorted(str(v) for v in value))
                # — the Python list repr, e.g. "['a', 'b']" (orion/merging.py:88-89)
                inner = F.array_join(
                    F.transform(
                        F.array_sort(F.col(attr).cast("array<string>")),
                        lambda x: F.concat(F.lit("'"), x, F.lit("'")),
                    ),
                    ", ",
                )
                parts.append(
                    F.when(
                        F.col(attr).isNotNull(),
                        F.concat(F.lit("["), inner, F.lit("]")),
                    ).otherwise(F.lit(""))
                )
            else:
                parts.append(F.coalesce(F.col(attr).cast("string"), F.lit("")))
        else:
            parts.append(F.lit(""))
    key_input = F.concat(*parts)
    if id_type == "orion":
        return F.md5(key_input)
    if id_type == "uuid":
        digest = F.sha1(
            F.concat(
                F.lit(bytes.fromhex(ORION_UUID_NAMESPACE_HEX)),
                F.encode(key_input, "UTF-8"),
            )
        )
        return _rfc4122_format(digest, "5")
    if id_type == "uuid_md5":
        return _rfc4122_format(
            F.md5(F.concat(F.lit(ORION_UUID_NAMESPACE_HEX), key_input)), "3"
        )
    raise ValueError(f"invalid edge id_type {id_type!r}, must be one of {EDGE_ID_TYPES}")


# ---------------------------------------------------------------------------
# A3: property-merge aggregate
# ---------------------------------------------------------------------------

def _truthy(col: Column, dtype: T.DataType) -> Column:
    """Python-truthiness predicate per Spark type (orion/merging.py keeps the
    first *truthy* scalar on conflict; '' / 0 / false are falsy)."""
    if isinstance(dtype, T.StringType):
        return col.isNotNull() & (col != F.lit(""))
    if isinstance(dtype, T.BooleanType):
        return col.isNotNull() & col
    if isinstance(dtype, (T.ArrayType, T.MapType, T.StructType)):
        return col.isNotNull()
    # numeric
    return col.isNotNull() & (col != F.lit(0))


def _value_truthy(v: Column, vtype: T.DataType) -> Column:
    """Null-safe truthiness for values INSIDE a container (map values),
    where the column-level _truthy can't apply."""
    return F.coalesce(_truthy(v, vtype), F.lit(False))


def _map_entries(m: Column, ordinal: Column, vtype: T.DataType) -> Column:
    """Annotate each map entry with its merge rank: (t = 0 truthy / 1
    falsy, o = source ordinal, v = value). The per-key winner under
    lexicographic (t, o) is exactly the reference rule — first truthy
    value by source order, else first value — and argmin is ASSOCIATIVE,
    so the same fold serves the plain aggregate and the two-phase salted
    aggregate (operators/skew.py) with bit-identical results."""
    return F.transform_values(
        m,
        lambda k, v: F.struct(
            F.when(_value_truthy(v, vtype), F.lit(0))
            .otherwise(F.lit(1))
            .alias("t"),
            ordinal.cast("long").alias("o"),
            v.alias("v"),
        ),
    )


def _entry_lt(a: Column, b: Column) -> Column:
    return (a["t"] < b["t"]) | ((a["t"] == b["t"]) & (a["o"] < b["o"]))


def _combine_entry_maps(acc: Column, em: Column) -> Column:
    """Per-key argmin of two entry maps; disjoint by construction so
    map_concat never sees a duplicate key."""
    keep_acc = F.map_filter(
        acc,
        lambda k, s: ~F.map_contains_key(em, k)
        | ~_entry_lt(F.element_at(em, k), s),
    )
    take_new = F.map_filter(
        em,
        lambda k, s: ~F.map_contains_key(acc, k)
        | _entry_lt(s, F.element_at(acc, k)),
    )
    return F.map_concat(keep_acc, take_new)


def _entry_map_type(dtype: T.MapType) -> T.MapType:
    return T.MapType(
        dtype.keyType,
        T.StructType(
            [
                T.StructField("t", T.IntegerType()),
                T.StructField("o", T.LongType()),
                T.StructField("v", dtype.valueType),
            ]
        ),
    )


def merge_entry_maps_agg(name_or_col, dtype: T.MapType) -> Column:
    """Aggregate a column of ENTRY maps (see _map_entries) down to one:
    collect + fold with the associative per-key argmin. NULL when every
    input was null (absent property stays absent)."""
    col = name_or_col if isinstance(name_or_col, Column) else F.col(name_or_col)
    collected = F.collect_list(col)
    folded = F.aggregate(
        collected,
        F.create_map().cast(_entry_map_type(dtype)),
        _combine_entry_maps,
    )
    return F.when(F.size(collected) > 0, folded)


def _merge_map_expr(name: str, dtype: T.MapType, ordinal: Column) -> Column:
    """PER-KEY map merge with the reference's dict semantics
    (orion/merging.py:117-133): for each key the first TRUTHY value (by
    source ordinal) wins, a falsy-valued key is upgraded by a later
    truthy value, new keys are copied, and two differing truthy values
    keep the earlier one (the reference's keep-entity-1 rule). Wholesale
    keep-first-map (the scalar rule) would silently drop every key the
    winning source didn't carry — exactly what the map-tail schema
    policy (model.fold_property_tail, SURVEY §7.4.4) must not do at
    100 TB.

    One aggregate: entry-annotated maps (value + (truthiness, ordinal)
    rank) folded with an associative per-key argmin — per-group JVM
    expression work that combines partially like every other A3
    aggregate. An all-null group stays NULL."""
    col = F.col(name)
    entries = F.when(col.isNotNull(), _map_entries(col, ordinal, dtype.valueType))
    merged = merge_entry_maps_agg(entries, dtype)
    return F.transform_values(merged, lambda k, s: s["v"]).alias(name)


RETRIEVAL_SOURCE_FIELDS = {
    "resource_id", "resource_role", "upstream_resource_ids"
}


def _is_retrieval_sources(name: str, dtype: T.DataType) -> bool:
    return (
        name == "sources"
        and isinstance(dtype, T.ArrayType)
        and isinstance(dtype.elementType, T.StructType)
        and {f.name for f in dtype.elementType.fields} == RETRIEVAL_SOURCE_FIELDS
    )


def _merge_sources_expr(name: str, ordinal: Column) -> Column:
    """A3 tail for the `sources` retrieval-source column: concatenate the
    group's arrays IN SOURCE-ORDINAL ORDER (a plain collect_list order is
    partition-dependent, which would make the first-occurrence output
    order nondeterministic), then key-dedup with merge_retrieval_sources.
    Generic array_distinct would dedup by whole-struct equality — two
    entries for the same (resource_id, resource_role) with different
    upstreams would BOTH survive instead of unioning
    (orion/merging.py:49-59,160-183)."""
    col = F.col(name)
    sorted_lists = F.array_sort(
        F.collect_list(
            F.when(col.isNotNull(), F.struct(ordinal.alias("o"), col.alias("a")))
        ),
        lambda l, r: F.when(l["o"] < r["o"], -1)
        .when(l["o"] > r["o"], 1)
        .otherwise(0),
    )
    flat = F.flatten(F.transform(sorted_lists, lambda x: x["a"]))
    return F.when(
        F.size(sorted_lists) > 0, merge_retrieval_sources(flat)
    ).alias(name)


def _merge_expr(name: str, dtype: T.DataType, ordinal: Column) -> Column:
    """Aggregate expression merging one property column within a group."""
    col = F.col(name)
    if isinstance(dtype, T.MapType):
        return _merge_map_expr(name, dtype, ordinal)
    if _is_retrieval_sources(name, dtype):
        return _merge_sources_expr(name, ordinal)
    if isinstance(dtype, T.ArrayType):
        merged = F.array_distinct(F.flatten(F.collect_list(col)))
        if not isinstance(dtype.elementType, (T.StructType, T.MapType, T.ArrayType)):
            # deterministic output order (orion/merging.py:179 sorts merged
            # list props); struct arrays keep insertion order after dedup.
            merged = F.array_sort(merged)
        # all-null group -> null, not [] (absent property stays absent)
        return F.when(F.size(merged) > 0, merged).alias(name)
    # scalar: first truthy by explicit source order; if none truthy, first
    # non-null (so a group of all-zero values still yields a value). ONE
    # aggregate: lexicographic arg-min over (not_truthy, ordinal) — null
    # values are excluded entirely because min_by skips null orderings.
    not_truthy = F.when(_truthy(col, dtype), F.lit(0)).otherwise(F.lit(1))
    order = F.when(
        col.isNotNull(), F.struct(not_truthy.alias("t"), ordinal.alias("o"))
    )
    return F.min_by(col, order).alias(name)


def merge_properties_agg(
    df: DataFrame,
    group_cols: list[str],
    ordinal_col: str = SOURCE_ORDINAL,
    count_col: str | None = None,
) -> DataFrame:
    """Group *df* by *group_cols* and fold every other column with the
    reference's property-merge semantics. *ordinal_col* (int) defines
    "first" — callers stamp it with the source/file position so the result
    is independent of partitioning (SURVEY §7.4.1). When *count_col* is
    given, the group's input-row count is emitted under that name (used by
    merge_edges to tell merged groups from singletons — zero extra shuffle,
    the count rides the same aggregate).
    """
    if ordinal_col not in df.columns:
        df = df.withColumn(ordinal_col, F.lit(0))
    ordinal = F.col(ordinal_col)
    schema = {f.name: f.dataType for f in df.schema.fields}
    aggs = [
        _merge_expr(c, schema[c], ordinal)
        for c in df.columns
        if c not in group_cols and c != ordinal_col
    ]
    if count_col is not None:
        aggs.append(F.count(F.lit(1)).alias(count_col))
    if not aggs:
        return df.select(*group_cols).dropDuplicates(group_cols)
    return df.groupBy(*group_cols).agg(*aggs)


def merge_nodes(df: DataFrame, ordinal_col: str = SOURCE_ORDINAL) -> DataFrame:
    """A3/A4: node merge — group by id, fold properties."""
    return merge_properties_agg(df, [NODE_ID], ordinal_col)


def edge_group_cols(
    df: DataFrame, edge_merging_attributes: list[str] | None
) -> list[str]:
    """The natural grouping columns the merge key is a pure function of."""
    group_cols = [c for c in EDGE_CORE_COLUMNS if c in df.columns]
    group_cols += [q for q in QUALIFIER_COLUMNS if q in df.columns]
    group_cols += [a for a in (edge_merging_attributes or []) if a in df.columns]
    seen: set[str] = set()
    return [c for c in group_cols if not (c in seen or seen.add(c))]


def merge_edges(
    df: DataFrame,
    edge_merging_attributes: list[str] | None = None,
    assign_id: bool = True,
    ordinal_col: str = SOURCE_ORDINAL,
    edge_id_type: str = "orion",
    overwrite_edge_ids: bool = True,
) -> DataFrame:
    """A3/A5/A6: edge merge — group by the natural key columns, fold
    properties, optionally assign ``id`` = the canonical merge-key hash
    (orion/merging.py:280-296).

    The hash is a pure function of the grouping columns, so it is computed
    AFTER the aggregate: one digest per merged group instead of one per
    input row, and the shuffle carries no redundant 32-char key column.
    Grouping by the raw columns instead of the hash also removes any
    (vanishing) digest-collision merge risk.

    ``edge_id_type`` selects the id digest (see :func:`edge_merge_key`;
    orion/merging.py:97-100). ``overwrite_edge_ids=False`` reproduces the
    reference's pre_merge_id behavior (orion/merging.py:283-289,459-463):
    an edge NOT involved in a merge (its group has exactly one input row)
    keeps its original non-null ``id`` — including an empty string, the
    reference's ``is None`` check — and gets the merge key only when the
    id was null; any group that actually merged (>1 input rows) is always
    assigned the merge key, with the original ids recorded separately via
    :func:`pre_merge_id_mapping`.
    """
    group_cols = edge_group_cols(df, edge_merging_attributes)
    preserve = not overwrite_edge_ids and assign_id and "id" in df.columns
    merged = merge_properties_agg(
        df, group_cols, ordinal_col, count_col="_merge_count" if preserve else None
    )
    if assign_id:
        key = edge_merge_key(merged, edge_merging_attributes, id_type=edge_id_type)
        if preserve:
            merged = merged.withColumn(
                "id",
                F.when(F.col("_merge_count") > 1, key).otherwise(
                    F.coalesce(F.col("id"), key)
                ),
            ).drop("_merge_count")
        else:
            merged = merged.withColumn("id", key)
    return merged


def pre_merge_id_mapping(
    df: DataFrame, original_id_col: str = "id", edge_merging_attributes: list[str] | None = None
) -> DataFrame:
    """A6: map merge-key -> original edge ids for groups that actually merged
    (>1 member), mirroring the pre/post-merge id mapping file
    (orion/merging.py:459-466). Same post-aggregate key computation as
    merge_edges. Null AND empty-string originals are excluded from the
    mapping (the reference round-trips '' through its temp-file format as
    None, merging.py:309-311,375-380) and a merged group whose every
    original id was missing emits no record (`if pre_merge_ids`,
    merging.py:464)."""
    group_cols = edge_group_cols(df, edge_merging_attributes)
    orig = F.col(original_id_col)
    grouped = (
        df.groupBy(*group_cols)
        .agg(
            F.array_sort(
                F.collect_list(F.when(orig != "", orig))
            ).alias("original_ids"),
            F.count(F.lit(1)).alias("_merge_count"),
        )
        .where((F.col("_merge_count") > 1) & (F.size("original_ids") > 0))
        .drop("_merge_count")
    )
    return grouped.select(
        edge_merge_key(grouped, edge_merging_attributes).alias("merged_id"),
        "original_ids",
    )


def merge_retrieval_sources(col: Column) -> Column:
    """A3 tail: dedup a merged `sources` array (retrieval-source structs) by
    (resource_id, resource_role), unioning upstream_resource_ids within each
    key group (orion/merging.py:49-59 custom key fn + 117-183 recursive
    dict merge, specialized to the depth the data actually has). Output
    groups keep first-occurrence order (list(grouped.values()) in the
    reference); a group whose every member has NULL upstreams yields NULL
    — an absent property stays absent — while any present list (even
    empty) yields the sorted-distinct union, exactly the reference's
    None/[] asymmetry. Two deliberate divergences from the reference,
    both strictly safer: the key is the (resource_id, resource_role)
    PAIR, not their string concatenation (the reference's `id + role` key
    would collide ("a","bc") with ("ab","c")), and NULL key fields group
    null-safely instead of raising. The differential hypothesis fuzz
    (tests/test_merge_properties_hypothesis.py) checks this column
    against an independent Python oracle of the reference semantics.

    Pure nested higher-order functions — per-row n is tiny (a handful of
    retrieval sources per edge), so the quadratic inner filter is free and
    nothing leaves the JVM.
    """
    keys = F.array_distinct(
        F.transform(
            col, lambda s: F.struct(s["resource_id"], s["resource_role"])
        )
    )

    def entry(k: Column) -> Column:
        group = F.filter(
            col,
            lambda s: s["resource_id"].eqNullSafe(k["resource_id"])
            & s["resource_role"].eqNullSafe(k["resource_role"]),
        )
        ups = F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        group,
                        lambda s: F.coalesce(
                            s["upstream_resource_ids"],
                            F.array().cast("array<string>"),
                        ),
                    )
                )
            )
        )
        has_any = F.exists(
            group, lambda s: s["upstream_resource_ids"].isNotNull()
        )
        return F.struct(
            k["resource_id"].alias("resource_id"),
            k["resource_role"].alias("resource_role"),
            F.when(has_any, ups).alias("upstream_resource_ids"),
        )

    return F.transform(keys, entry)


# ---------------------------------------------------------------------------
# R3: dont_merge union
# ---------------------------------------------------------------------------

def union_all(dfs: list[DataFrame]) -> DataFrame:
    """Union heterogeneous-schema frames by name (orion/kgx_file_merger.py:102-114,
    164-213 `dont_merge` append)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


# ---------------------------------------------------------------------------
# J4: connected_edge_subset merge strategy
# ---------------------------------------------------------------------------

def connected_edge_subset(
    primary_nodes: DataFrame, secondary_nodes: DataFrame, secondary_edges: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Keep secondary edges touching the primary node-id set, then the
    secondary nodes newly referenced by those kept edges
    (orion/kgx_file_merger.py:127-162).

    Spark shape: semi- and anti-joins against the id and endpoint
    columns as they are, with no `distinct` (a semi-join keeps each
    probe row once however often its key repeats). The kept edges are
    the subject hits plus the object hits among the subject misses: two
    disjoint sets, so no edge is kept twice and none needs deduplicating,
    and an edge with a null subject is kept when its object hits. The id
    set is usually small enough to broadcast — Catalyst decides, AQE
    corrects at runtime. Every secondary row keeps its columns (a source
    ordinal included).
    """
    ids = primary_nodes.select(F.col(NODE_ID).alias("_pid"))

    def on(edges: DataFrame, end: str, how: str) -> DataFrame:
        return edges.join(ids, edges[end] == ids["_pid"], how)

    kept_edges = on(secondary_edges, SUBJECT, "left_semi").unionByName(
        on(on(secondary_edges, SUBJECT, "left_anti"), OBJECT, "left_semi"))
    endpoints = kept_edges.select(F.col(SUBJECT).alias("_eid")).unionByName(
        kept_edges.select(F.col(OBJECT).alias("_eid")))
    kept_nodes = secondary_nodes.join(
        endpoints, secondary_nodes[NODE_ID] == endpoints["_eid"], "left_semi"
    )
    return kept_nodes, kept_edges


# ---------------------------------------------------------------------------
# J5: unconnected-node prune
# ---------------------------------------------------------------------------

def edge_endpoints(edges: DataFrame) -> DataFrame:
    """Distinct node ids referenced by any edge endpoint."""
    return (
        edges.select(F.col(SUBJECT).alias(NODE_ID))
        .unionByName(edges.select(F.col(OBJECT).alias(NODE_ID)))
        .distinct()
    )


def prune_unconnected_nodes(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Drop nodes referenced by no edge (orion/kgx_file_normalizer.py:419-439;
    toggled by preserve_unconnected_nodes, orion/loader_interface.py:15-16).

    The endpoint set is materialized with localCheckpoint (eager): when
    `nodes` is a union of N per-source frames (the normal bundle shape),
    Catalyst pushes the semi-join into every branch — without
    materialization the endpoints dedup (a full edge-table scan + shuffle)
    would execute N times, once per branch. localCheckpoint (not
    .persist()) so the blocks are released when the frame is GC'd rather
    than pinning executor storage for the life of the session."""
    return nodes.join(
        edge_endpoints(edges).localCheckpoint(eager=True), NODE_ID, "left_semi"
    )
