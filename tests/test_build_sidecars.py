"""build_graph's sidecars against independently computed values, and the
Spark-job budget of the metadata it records after the bundle write."""

import json
import os

import pytest
from pyspark.sql import Row

from orion_spark.operators.analyze import (
    curie_prefix_counts,
    knowledge_source_breakdown,
    predicate_counts,
    spo_type_counts,
)
from orion_spark.plans import pipeline as P
from orion_spark.plans.stage_metrics import PhaseRecorder
from orion_spark.sources.kgx import read_bundle, write_bundle

NODE_SCHEMA = "id string, name string, category array<string>"
EDGE_SCHEMA = (
    "subject string, predicate string, object string, "
    "primary_knowledge_source string, aggregator_knowledge_source array<string>"
)


def _edge(s, p, o, pks, agg=None):
    return Row(subject=s, predicate=p, object=o,
               primary_knowledge_source=pks, aggregator_knowledge_source=agg)


# source -> (merge strategy, node rows, edge rows). Covers every merge
# strategy, a null predicate, a null primary_knowledge_source, aggregator
# sources and nodes without a category.
SOURCES = {
    "a": ("default",
          [Row(id="A:1", name="a1", category=["biolink:Gene"]),
           Row(id="A:2", name="a2", category=None),
           Row(id="B:1", name="b1",
               category=["biolink:Disease", "biolink:NamedThing"])],
          [_edge("A:1", "biolink:affects", "B:1", "infores:a", ["infores:agg"]),
           _edge("A:2", None, "A:1", None),
           _edge("B:1", "biolink:related_to", "A:2", "infores:a")]),
    "b": ("default",
          [Row(id="A:1", name=None, category=["biolink:Gene"]),
           Row(id="C:1", name="c1", category=["biolink:Drug"])],
          [_edge("C:1", "biolink:treats", "B:1", "infores:b",
                 ["infores:agg", "infores:z"]),
           _edge("A:1", "biolink:affects", "B:1", "infores:a", ["infores:agg"])]),
    "sub": ("connected_edge_subset",
            [Row(id="D:1", name="d1", category=["biolink:Gene"]),
             Row(id="D:2", name="d2", category=["biolink:Gene"])],
            [_edge("D:1", "biolink:related_to", "A:1", None),
             _edge("D:2", "biolink:related_to", "X:9", "infores:d")]),
    "verb": ("dont_merge",
             [Row(id="E:1", name="e1", category=None)],
             [_edge("E:1", None, "A:1", "infores:e")]),
}


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """The build's output dir, its source frames and its per-phase job
    counts."""
    root = tmp_path_factory.mktemp("sidecars")
    paths, frames = {}, {}
    for sid, (_, node_rows, edge_rows) in SOURCES.items():
        paths[sid] = str(root / sid)
        frames[sid] = (spark.createDataFrame(node_rows, NODE_SCHEMA),
                       spark.createDataFrame(edge_rows, EDGE_SCHEMA))
        write_bundle(*frames[sid], paths[sid])
    spec = P.GraphSpec(
        graph_id="sidecars",
        sources=[P.GraphSource(source_id=sid, merge_strategy=strategy)
                 for sid, (strategy, _, _) in SOURCES.items()],
    )
    sc = spark.sparkContext
    rec = PhaseRecorder(spark, f"sidecar-build-{id(root)}")
    # the recorder puts this group back after each phase, so it collects
    # the jobs the build starts outside its phases
    sc.setJobGroup(rec.tag, "build")
    try:
        out = P.build_graph(spark, spec, paths, str(root / "storage"),
                            recorder=rec)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = {p: rec.jobs(p) for p in ("metadata_sidecars", "merge_report")}
    jobs["outside phases"] = len(sc.statusTracker().getJobIdsForGroup(rec.tag))
    return out, frames, jobs


def _sidecar(out, name):
    with open(os.path.join(out, name)) as fh:
        return json.load(fh)


def _as_json(obj):
    """What a dict looks like after a JSON round trip (None keys -> "null")."""
    return json.loads(json.dumps(obj))


def test_fixture_covers_the_edge_cases(spark, built):
    out, _, _ = built
    nodes, edges = read_bundle(spark, out)
    assert edges.where("predicate IS NULL").count() == 2
    assert edges.where("primary_knowledge_source IS NULL").count() == 2
    assert edges.where("aggregator_knowledge_source IS NOT NULL").count() == 2
    assert nodes.where("category IS NULL").count() == 2


def test_merge_metadata_matches_counts(built):
    out, frames, _ = built
    src_nodes = sum(n.count() for n, _ in frames.values())
    src_edges = sum(e.count() for _, e in frames.values())
    merged_nodes, merged_edges = read_bundle(frames["a"][0].sparkSession, out)
    mn, me = merged_nodes.count(), merged_edges.count()
    assert _sidecar(out, "merge-metadata.json") == {
        "source_nodes": src_nodes,
        "merged_nodes": mn,
        "nodes_merged_away": src_nodes - mn,
        "source_edges": src_edges,
        "merged_edges": me,
        "edges_merged_away": src_edges - me,
    }


def test_graph_metadata_matches_independent_census(spark, built):
    out, _, _ = built
    nodes, edges = read_bundle(spark, out)
    meta = _sidecar(out, "graph-metadata.json")
    assert meta["node_count"] == nodes.count()
    assert meta["edge_count"] == edges.count()
    key = ["subject_category", "predicate", "object_category"]
    # no vocabulary and no node count passed: the census collects its own
    want = [r.asDict() for r in spo_type_counts(edges, nodes).sort(*key).collect()]
    got = sorted(meta["spo_type_counts"],
                 key=lambda r: tuple((r[k] is not None, r[k] or "") for k in key))
    want.sort(key=lambda r: tuple((r[k] is not None, r[k] or "") for k in key))
    assert got == want


def test_qc_results_match_independent_aggregates(spark, built):
    out, _, _ = built
    nodes, edges = read_bundle(spark, out)
    qc = _sidecar(out, "qc-results.json")
    assert qc["pass"] is True and qc["warnings"] == {} and qc["errors"] == {}
    assert qc["node_curie_prefixes"] == _as_json(
        {r["prefix"]: r["n"] for r in curie_prefix_counts(nodes).collect()})
    assert qc["predicate_totals"] == _as_json(
        {r["predicate"]: r["n"] for r in predicate_counts(edges).collect()})
    assert qc["edge_properties"] == sorted(edges.columns)

    def by_key(rows):
        return sorted(rows, key=lambda r: (r["aggregator_sources"],
                                           r["primary_knowledge_source"] or ""))

    assert by_key(qc["edges_per_knowledge_source"]) == by_key(
        _as_json([r.asDict() for r in knowledge_source_breakdown(edges).collect()]))


def test_post_write_metadata_job_budget(built):
    """The merge report is one job (the merged counts ride the bundle
    write); the sidecars are the node census, the edge census, the
    spo-type census and, with an aggregator column, the per-source
    breakdown; reading the bundle back runs no schema-inference job."""
    _, _, jobs = built
    assert jobs["merge_report"] <= 1, jobs
    # node and edge census 2 + 2, spo-type census 3, breakdown 5
    assert jobs["metadata_sidecars"] <= 12, jobs
    # four source reads, two parquet schema-inference jobs each
    assert jobs["outside phases"] <= 8, jobs

