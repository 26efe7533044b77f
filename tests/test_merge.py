"""Merge-engine unit tests, mirroring the reference's merge suite
(reference: tests/test_merging.py — list concat+dedup, keep-first scalar,
edge_merging_attributes same/different values, id mapping)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from orion_spark.operators import merge as M


def _nodes(spark):
    rows = [
        Row(id="HGNC:1", name="alpha", category=["biolink:Gene"],
            publications=["PMID:1", "PMID:2"], score=1.5, _source_ordinal=0),
        Row(id="HGNC:1", name="", category=["biolink:Gene", "biolink:NamedThing"],
            publications=["PMID:2", "PMID:3"], score=0.0, _source_ordinal=1),
        Row(id="HGNC:2", name=None, category=["biolink:Gene"],
            publications=None, score=0.0, _source_ordinal=0),
    ]
    return spark.createDataFrame(rows)


def test_merge_nodes_list_concat_dedup_sort(spark):
    out = M.merge_nodes(_nodes(spark)).orderBy("id").collect()
    assert len(out) == 2
    r = out[0]
    assert r.id == "HGNC:1"
    assert r.publications == ["PMID:1", "PMID:2", "PMID:3"]
    assert r.category == ["biolink:Gene", "biolink:NamedThing"]


def test_merge_nodes_keep_first_truthy_scalar(spark):
    out = {r.id: r for r in M.merge_nodes(_nodes(spark)).collect()}
    # '' in ordinal 1 is falsy -> keep 'alpha'; 0.0 falsy -> keep 1.5
    assert out["HGNC:1"].name == "alpha"
    assert out["HGNC:1"].score == 1.5
    # all falsy -> falls back to first non-null (0.0), name stays None
    assert out["HGNC:2"].score == 0.0
    assert out["HGNC:2"].name is None


def _edges(spark):
    rows = [
        Row(subject="A", predicate="biolink:affects", object="B",
            primary_knowledge_source="infores:x",
            object_aspect_qualifier="activity", publications=["PMID:1"],
            _source_ordinal=0),
        Row(subject="A", predicate="biolink:affects", object="B",
            primary_knowledge_source="infores:x",
            object_aspect_qualifier="activity", publications=["PMID:2"],
            _source_ordinal=1),
        # different qualifier value -> different merge group
        Row(subject="A", predicate="biolink:affects", object="B",
            primary_knowledge_source="infores:x",
            object_aspect_qualifier="abundance", publications=["PMID:3"],
            _source_ordinal=2),
        # different pks -> different group
        Row(subject="A", predicate="biolink:affects", object="B",
            primary_knowledge_source="infores:y",
            object_aspect_qualifier=None, publications=None, _source_ordinal=3),
    ]
    return spark.createDataFrame(rows)


def test_merge_edges_groups_by_key_and_qualifiers(spark):
    out = M.merge_edges(_edges(spark))
    assert out.count() == 3
    merged = out.where(F.col("object_aspect_qualifier") == "activity").collect()[0]
    assert merged.publications == ["PMID:1", "PMID:2"]
    assert len(merged.id) == 32  # md5 hex


def test_edge_merging_attributes_split_groups(spark):
    rows = [
        Row(subject="A", predicate="p", object="B",
            primary_knowledge_source="infores:x", abstract_id="abs1", _source_ordinal=0),
        Row(subject="A", predicate="p", object="B",
            primary_knowledge_source="infores:x", abstract_id="abs2", _source_ordinal=1),
        Row(subject="A", predicate="p", object="B",
            primary_knowledge_source="infores:x", abstract_id="abs1", _source_ordinal=2),
    ]
    df = spark.createDataFrame(rows)
    assert M.merge_edges(df).count() == 1  # attribute not in key by default
    assert M.merge_edges(df, edge_merging_attributes=["abstract_id"]).count() == 2


def test_merge_key_deterministic(spark):
    df = _edges(spark)
    k1 = [r[0] for r in df.select(M.edge_merge_key(df)).collect()]
    k2 = [r[0] for r in df.select(M.edge_merge_key(df)).collect()]
    assert k1 == k2


def test_connected_edge_subset(spark):
    primary = spark.createDataFrame([Row(id="A"), Row(id="B")])
    sec_nodes = spark.createDataFrame(
        [Row(id="A"), Row(id="C"), Row(id="D"), Row(id="Z")]
    )
    sec_edges = spark.createDataFrame(
        [
            Row(subject="A", predicate="p", object="C"),   # hits primary A
            Row(subject="C", predicate="p", object="B"),   # hits primary B
            Row(subject="C", predicate="p", object="D"),   # no hit
        ]
    )
    nodes, edges = M.connected_edge_subset(primary, sec_nodes, sec_edges)
    assert edges.count() == 2
    assert sorted(r.id for r in nodes.collect()) == ["A", "C"]


def test_connected_edge_subset_keeps_each_edge_once(spark):
    """An edge hitting the primary set at both ends is kept once (no
    dedup pass needed), an edge with a null subject is kept when its
    object hits, duplicate primary ids match once, and every secondary
    column (an ordinal included) rides through."""
    primary = spark.createDataFrame([Row(id="A"), Row(id="B"), Row(id="A")])
    sec_nodes = spark.createDataFrame(
        [Row(id="A", _source_ordinal=0), Row(id="C", _source_ordinal=1)]
    )
    sec_edges = spark.createDataFrame(
        [("A", "p", "B", 0), (None, "p", "A", 1), (None, "p", "C", 2),
         ("C", "p", None, 3)],
        "subject string, predicate string, object string, _source_ordinal long",
    )
    nodes, edges = M.connected_edge_subset(primary, sec_nodes, sec_edges)
    assert sorted(edges.collect(), key=lambda r: r._source_ordinal) == [
        Row(subject="A", predicate="p", object="B", _source_ordinal=0),
        Row(subject=None, predicate="p", object="A", _source_ordinal=1),
    ]
    assert [r.id for r in nodes.collect()] == ["A"]


def test_prune_unconnected_nodes(spark):
    nodes = spark.createDataFrame([Row(id="A"), Row(id="B"), Row(id="Z")])
    edges = spark.createDataFrame([Row(subject="A", predicate="p", object="B")])
    out = M.prune_unconnected_nodes(nodes, edges)
    assert sorted(r.id for r in out.collect()) == ["A", "B"]


def test_pre_merge_id_mapping(spark):
    rows = [
        Row(subject="A", predicate="p", object="B",
            primary_knowledge_source="x", id="e1"),
        Row(subject="A", predicate="p", object="B",
            primary_knowledge_source="x", id="e2"),
        Row(subject="A", predicate="q", object="B",
            primary_knowledge_source="x", id="e3"),
    ]
    df = spark.createDataFrame(rows)
    mapping = M.pre_merge_id_mapping(df).collect()
    assert len(mapping) == 1
    assert mapping[0].original_ids == ["e1", "e2"]


def test_merge_retrieval_sources(spark):
    from pyspark.sql import functions as F

    rows = [
        Row(
            id="e1",
            sources=[
                {"resource_id": "infores:a", "resource_role": "primary",
                 "upstream_resource_ids": ["infores:x"]},
                {"resource_id": "infores:b", "resource_role": "aggregator",
                 "upstream_resource_ids": None},
                # duplicate key with extra upstream -> must merge
                {"resource_id": "infores:a", "resource_role": "primary",
                 "upstream_resource_ids": ["infores:y", "infores:x"]},
            ],
        )
    ]
    schema = (
        "id string, sources array<struct<resource_id:string,"
        "resource_role:string,upstream_resource_ids:array<string>>>"
    )
    df = spark.createDataFrame(rows, schema)
    out = df.select(M.merge_retrieval_sources(F.col("sources")).alias("s")).collect()[0].s
    assert len(out) == 2
    primary = [s for s in out if s.resource_role == "primary"][0]
    assert primary.resource_id == "infores:a"
    assert primary.upstream_resource_ids == ["infores:x", "infores:y"]
    agg = [s for s in out if s.resource_role == "aggregator"][0]
    # every member of the group had NULL upstreams -> the property stays
    # absent (reference None), not [] (orion/merging.py:137-146)
    assert agg.upstream_resource_ids is None


def test_merge_map_tail_per_key(spark):
    """MAP property columns (the fold_property_tail 100 TB schema policy)
    merge PER KEY with the reference dict semantics
    (orion/merging.py:117-133): first truthy value per key wins, falsy
    values are upgraded by later truthy ones, new keys are copied —
    NOT wholesale keep-first-map, which would drop every key the winning
    source lacks."""
    from pyspark.sql import functions as F

    rows = [
        # ordinal 0: the persisted/earlier source
        ("N:1", 0, {"color": "red", "size": "", "shape": "round"}),
        # ordinal 1: later source — new key, upgrade for falsy `size`,
        # conflicting truthy `color` loses
        ("N:1", 1, {"color": "blue", "size": "XL", "weight": "3"}),
        ("N:2", 0, None),
        ("N:2", 1, {"a": "1"}),
        ("N:3", 0, None),  # all-null group stays null
    ]
    df = spark.createDataFrame(
        rows, "id string, _source_ordinal int, properties map<string,string>"
    )
    out = {r.id: r.properties for r in M.merge_nodes(df).collect()}
    assert out["N:1"] == {
        "color": "red",      # earlier truthy wins the conflict
        "size": "XL",        # falsy '' upgraded by later truthy
        "shape": "round",    # only in source 0
        "weight": "3",       # only in source 1 -> copied
    }
    assert out["N:2"] == {"a": "1"}  # null map contributes nothing
    assert out["N:3"] is None

    # ordinal order, not row order, decides: reversed input, same result
    df_rev = spark.createDataFrame(
        list(reversed(rows)),
        "id string, _source_ordinal int, properties map<string,string>",
    ).repartition(5)
    out_rev = {r.id: r.properties for r in M.merge_nodes(df_rev).collect()}
    assert out_rev == out


def test_merge_edges_sources_column_key_dedup(spark):
    """The `sources` retrieval-source column merges through the A3
    aggregate itself: same-key entries across group members union their
    upstreams (generic whole-struct dedup would keep both), ordinal
    order decides first-occurrence output order, and all-null groups
    stay null."""
    schema = (
        "subject string, predicate string, object string, "
        "primary_knowledge_source string, _source_ordinal int, "
        "sources array<struct<resource_id:string,resource_role:string,"
        "upstream_resource_ids:array<string>>>"
    )
    rows = [
        ("A", "p", "B", "infores:x", 0,
         [{"resource_id": "infores:x", "resource_role": "primary",
           "upstream_resource_ids": ["u1"]}]),
        ("A", "p", "B", "infores:x", 1,
         [{"resource_id": "infores:x", "resource_role": "primary",
           "upstream_resource_ids": ["u2"]},
          {"resource_id": "infores:agg", "resource_role": "aggregator",
           "upstream_resource_ids": None}]),
        ("C", "p", "D", "infores:x", 0, None),
        ("C", "p", "D", "infores:x", 1, None),
    ]
    df = spark.createDataFrame(rows, schema)
    out = {(r.subject, r.object): r for r in M.merge_edges(df).collect()}
    s = out[("A", "B")].sources
    assert [(e.resource_id, e.resource_role) for e in s] == [
        ("infores:x", "primary"), ("infores:agg", "aggregator")]
    assert s[0].upstream_resource_ids == ["u1", "u2"]  # unioned, sorted
    assert s[1].upstream_resource_ids is None
    assert out[("C", "D")].sources is None

    # partition/order invariance: reversed rows, more partitions
    df2 = spark.createDataFrame(list(reversed(rows)), schema).repartition(5)
    out2 = {(r.subject, r.object): r for r in M.merge_edges(df2).collect()}
    assert out2[("A", "B")].sources == out[("A", "B")].sources


def test_edge_id_type_uuid_matches_python_uuid5(spark):
    """edge_id_type='uuid' is byte-identical to the reference's uuid5 ids
    (orion/merging.py:13,97-98): RFC-4122 v5 under the fixed ORION
    namespace over the canonical key input."""
    import uuid as _uuid

    df = spark.createDataFrame(
        [Row(subject="S:1", predicate="biolink:related_to", object="O:2",
             primary_knowledge_source="infores:x", _source_ordinal=0),
         Row(subject="S:1", predicate="biolink:related_to", object="O:2",
             primary_knowledge_source="infores:x", _source_ordinal=1),
         Row(subject="S:3", predicate="biolink:affects", object="O:4",
             primary_knowledge_source="", _source_ordinal=0)]
    )
    out = {r.subject: r.id
           for r in M.merge_edges(df, edge_id_type="uuid").collect()}
    ns = _uuid.UUID(hex=M.ORION_UUID_NAMESPACE_HEX)
    # reference key input: no separators (orion/merging.py:78-80)
    assert out["S:1"] == str(_uuid.uuid5(ns, "S:1biolink:related_toO:2infores:x"))
    assert out["S:3"] == str(_uuid.uuid5(ns, "S:3biolink:affectsO:4"))


def test_edge_id_type_uuid_md5_is_rfc4122_and_deterministic(spark):
    """The SQL-reproducible uuid_md5 sibling: version nibble 3, variant in
    [89ab], and equal to the hand-computed md5 construction."""
    import hashlib
    import re

    df = spark.createDataFrame(
        [Row(subject="S:1", predicate="p", object="O:2",
             primary_knowledge_source="infores:x", _source_ordinal=0)]
    )
    got = M.merge_edges(df, edge_id_type="uuid_md5").collect()[0].id
    assert re.fullmatch(
        r"[0-9a-f]{8}-[0-9a-f]{4}-3[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}", got
    )
    h = hashlib.md5(
        (M.ORION_UUID_NAMESPACE_HEX + "S:1pO:2infores:x").encode()
    ).hexdigest()
    variant = "89ab89ab89ab89ab"[int(h[16], 16)]
    expect = f"{h[:8]}-{h[8:12]}-3{h[13:16]}-{variant}{h[17:20]}-{h[20:32]}"
    assert got == expect


def test_merge_edges_preserve_original_ids(spark):
    """overwrite_edge_ids=False (orion/merging.py:283-289, 459-463): a group
    that actually merged (>1 input rows) ALWAYS gets the merge key (originals
    go to the pre-merge id mapping); a singleton keeps its original non-null
    id — including '' (the reference's `is None` check) — and gets the key
    only when the id was null; default overwrites everything."""
    schema = ("subject string, predicate string, object string, "
              "primary_knowledge_source string, id string, _source_ordinal int")
    rows = [
        ("S:1", "p", "O:2", "infores:x", "", 0),
        ("S:1", "p", "O:2", "infores:x", "KEEP:b", 2),
        ("S:1", "p", "O:2", "infores:x", "KEEP:a", 1),
        ("S:9", "p", "O:9", "infores:x", "", 0),       # singleton, empty id
        ("S:8", "p", "O:8", "infores:x", "SOLO:8", 0),  # singleton, real id
        ("S:7", "p", "O:7", "infores:x", None, 0),      # singleton, null id
    ]
    df = spark.createDataFrame(rows, schema)
    kept = {r.subject: r.id
            for r in M.merge_edges(df, overwrite_edge_ids=False).collect()}
    key_of = {r.subject: r.id for r in M.merge_edges(df).collect()}
    assert kept["S:1"] == key_of["S:1"]  # merged group -> merge key, not KEEP:a
    assert kept["S:8"] == "SOLO:8"       # singleton keeps its id
    assert kept["S:9"] == ""             # '' is non-null -> preserved
    assert kept["S:7"] == key_of["S:7"]  # null id -> canonical key
    # the originals of the merged group are recoverable via the mapping
    mapping = {r.merged_id: list(r.original_ids)
               for r in M.pre_merge_id_mapping(df).collect()}
    assert mapping == {key_of["S:1"]: ["KEEP:a", "KEEP:b"]}  # '' excluded
    # default path overwrites pre-existing ids with the key
    over = {r.subject: r.id for r in M.merge_edges(df).collect()}
    assert over["S:1"] != "KEEP:a" and len(over["S:1"]) == 32


def test_graph_spec_validates_edge_id_type():
    import pytest

    from orion_spark.plans.pipeline import GraphSource, GraphSpec

    with pytest.raises(ValueError, match="edge_id_type"):
        GraphSpec(graph_id="g", sources=[GraphSource(source_id="s")],
                  edge_id_type="nope")
    spec = GraphSpec(graph_id="g", sources=[GraphSource(source_id="s")],
                     edge_id_type="uuid", overwrite_edge_ids=False)
    assert spec.edge_id_type == "uuid"
