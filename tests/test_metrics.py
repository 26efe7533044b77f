"""Self-reported metrics + qualifier-closure tests."""

from pyspark.sql import Row

from orion_spark.operators import derive as D
from orion_spark.operators import metrics as MX
from orion_spark.operators.merge import merge_edges, merge_nodes


def test_merge_report(spark):
    raw_nodes = spark.createDataFrame(
        [Row(id="A", name="x", _source_ordinal=0),
         Row(id="A", name="y", _source_ordinal=1),
         Row(id="B", name="z", _source_ordinal=0)]
    )
    raw_edges = spark.createDataFrame(
        [Row(subject="A", predicate="p", object="B",
             primary_knowledge_source="i", _source_ordinal=0),
         Row(subject="A", predicate="p", object="B",
             primary_knowledge_source="i", _source_ordinal=1)]
    )
    rep = MX.merge_report(
        raw_nodes.count(), raw_edges.count(),
        merge_nodes(raw_nodes).count(), merge_edges(raw_edges).count(),
    )
    assert rep["source_nodes"] == 3 and rep["merged_nodes"] == 2
    assert rep["nodes_merged_away"] == 1
    assert rep["source_edges"] == 2 and rep["merged_edges"] == 1


def test_normalization_report(spark):
    nodes = spark.createDataFrame(
        [Row(id="X:1"), Row(id="X:2"), Row(id="X:3"), Row(id="Y:9")]
    )
    norm_map = spark.createDataFrame(
        [
            Row(original_id="X:1", normalized_ids=["N:1"]),
            Row(original_id="X:2", normalized_ids=["N:2", "N:2b"]),  # split
            Row(original_id="X:3", normalized_ids=[]),               # failure
        ],
        "original_id string, normalized_ids array<string>",
    )
    edges = spark.createDataFrame(
        [Row(subject="X:1", object="X:2"),   # 1 x 2 -> 2 output edges
         Row(subject="X:1", object="X:3"),   # dropped (X:3 failed)
         Row(subject="Y:9", object="X:1")]   # dropped (Y:9 unmapped)
    )
    rep = MX.normalization_report(nodes, edges, norm_map)
    assert rep["nodes_total"] == 4
    assert rep["nodes_normalized"] == 2 and rep["nodes_failed"] == 2
    assert rep["node_splits"] == 1
    assert rep["edges_total"] == 3
    assert rep["edges_dropped_missing_endpoint"] == 2
    assert rep["edges_after_split_fanout"] == 2
    # invariant: surviving (1) + splits = post-norm edges (2)
    assert rep["edge_splits"] == 1
    prefixes = {p["prefix"]: p for p in rep["prefix_stats"]}
    assert prefixes["X"]["normalized"] == 2 and prefixes["X"]["failed"] == 1


def test_qualifier_closure_edges(spark):
    edges = spark.createDataFrame(
        [Row(subject="A", predicate="biolink:affects", object="B",
             object_aspect_qualifier="expression",
             object_direction_qualifier="increased")]
    )
    aspect = spark.createDataFrame(
        [Row(term="expression", ancestor="expression"),
         Row(term="expression", ancestor="activity_or_abundance")]
    )
    direction = spark.createDataFrame(
        [Row(term="increased", ancestor="increased"),
         Row(term="increased", ancestor="changed")]
    )
    out = D.qualifier_closure_edges(edges, aspect, direction).collect()
    combos = {(r.object_aspect_qualifier, r.object_direction_qualifier) for r in out}
    # 2 aspects x (2 directions + direction-free) = 6 permutations
    assert combos == {
        ("expression", "increased"), ("expression", "changed"), ("expression", None),
        ("activity_or_abundance", "increased"),
        ("activity_or_abundance", "changed"),
        ("activity_or_abundance", None),
    }


def test_point_interval_join_bin_edges(spark):
    """Range join correctness at bin boundaries: intervals spanning bins,
    points exactly on start/end, window widening."""
    from orion_spark.operators.range_join import point_interval_join

    points = spark.createDataFrame(
        [("p1", 1, 999), ("p2", 1, 1000), ("p3", 1, 2500), ("p4", 2, 1500)],
        "pid string, chrom int, pos bigint",
    )
    intervals = spark.createDataFrame(
        [("iv_span", 1, 900, 1100),   # spans the 1000 bin edge
         ("iv_far", 1, 2000, 2400),   # p3 outside unless window>=100
         ("iv_otherchrom", 2, 1400, 1600)],
        "gid string, chrom int, start bigint, end bigint",
    )
    out = point_interval_join(points, intervals, bin_size=1000)
    got = {(r.pid, r.gid) for r in out.collect()}
    assert got == {("p1", "iv_span"), ("p2", "iv_span"), ("p4", "iv_otherchrom")}
    widened = point_interval_join(points, intervals, bin_size=1000, window=100)
    got_w = {(r.pid, r.gid) for r in widened.collect()}
    assert ("p3", "iv_far") in got_w
    # plan: must be an equi hash join on (chrom, bin), not a nested loop
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_as_of_join_semantics(spark):
    """Most-recent-at-or-before semantics: equal timestamps match, unmatched
    left rows drop (inner) or null (outer)."""
    from orion_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [("L1", 1, 100), ("L2", 1, 205), ("L3", 1, 50), ("L4", 2, 100)],
        "lid string, k int, t bigint",
    )
    right = spark.createDataFrame(
        [(1, 100, 10.0), (1, 200, 20.0), (2, 300, 30.0)],
        "k int, t bigint, v double",
    )
    out = as_of_join(left, right, ["k"], "t", ["v"])
    got = {r.lid: r.v_asof for r in out.collect()}
    # L1 at t=100 matches the t=100 right row (<=); L2 gets t=200's value;
    # L3 precedes all rights -> dropped; L4's key-2 right is later -> dropped
    assert got == {"L1": 10.0, "L2": 20.0}
    outer = as_of_join(left, right, ["k"], "t", ["v"], inner=False)
    got_outer = {r.lid: r.v_asof for r in outer.collect()}
    assert got_outer["L3"] is None and got_outer["L4"] is None


def test_approx_sketches_error_bounds(spark):
    """HLL++ at rsd=2% and percentile_approx(acc=10000) must land within
    tight bands of the exact answers on the sf0.001 events table."""
    from orion_spark.plans.queries import QUERIES
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    approx = {
        r.event_type: r for r in QUERIES["qc_approx_sketches"](spark, sf).collect()
    }
    ev = spark.read.parquet(f"{sf}/events.parquet")
    exact = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.95)").alias("p95"),
        )
        .collect()
    }
    for et, e in exact.items():
        a = approx[et]
        assert abs(a.approx_users - e.users) <= max(2, 0.05 * e.users)
        # percentile_approx returns an actual data value near the quantile
        spread = ev.agg(F.max("value") - F.min("value")).first()[0]
        assert abs(a.approx_p95_value - e.p95) <= 0.05 * spread


def test_interval_self_overlap_owner_bin_dedup(spark):
    """Pairs spanning several shared bins must appear exactly once, pairs
    meeting only at a shared endpoint not at all (half-open semantics),
    and blocks never mix."""
    from orion_spark.operators.range_join import interval_self_overlap

    iv = spark.createDataFrame(
        [
            # block X: [0,25) overlaps [20,40) across bins 0..2 (bin_size 10)
            ("X", 1, 0.0, 25.0),
            ("X", 2, 20.0, 40.0),
            # touching endpoints only: [40,50) vs [50,60) -> no pair
            ("X", 3, 50.0, 60.0),
            # same coordinates, different block -> no cross-block pair
            ("Y", 4, 0.0, 25.0),
        ],
        "block string, id int, s double, e double",
    )
    rows = interval_self_overlap(iv, bin_size=10).collect()
    assert [(r.block, r.id_a, r.id_b) for r in rows] == [("X", 1, 2)]


def test_interval_self_overlap_matches_naive_join(spark):
    """Bucketed result == plain quadratic non-equi join on a dense block."""
    from orion_spark.operators.range_join import interval_self_overlap

    data = [("B", i, float(i * 3 % 17), float(i * 3 % 17 + 1 + i % 5)) for i in range(40)]
    iv = spark.createDataFrame(data, "block string, id int, s double, e double")
    got = {
        (r.id_a, r.id_b)
        for r in interval_self_overlap(iv, bin_size=4).collect()
    }
    naive = {
        (a_id, b_id)
        for (_, a_id, a_s, a_e) in data
        for (_, b_id, b_s, b_e) in data
        if a_id < b_id and a_s < b_e and b_s < a_e
    }
    assert got == naive


def test_validate_graph_verdict_layer(spark):
    """kgx_validation.py verdict parity: deprecated/invalid infores ids
    (across primary AND aggregator sources, with the missing-pks
    default) and out-of-model categories land in warnings; pass stays
    True (warnings never fail the build); clean graphs produce empty
    warnings."""
    from pyspark.sql import Row

    from orion_spark.sinks.metadata import validate_graph

    nodes = spark.createDataFrame(
        [Row(id="HGNC:1", category=["biolink:Gene"]),
         Row(id="X:2", category=["biolink:MadeUpThing"])]
    )
    edges = spark.createDataFrame(
        [Row(subject="HGNC:1", predicate="biolink:related_to", object="X:2",
             primary_knowledge_source="infores:old",
             aggregator_knowledge_source=["infores:bogus", "infores:fine"]),
         Row(subject="X:2", predicate="biolink:related_to", object="HGNC:1",
             primary_knowledge_source=None,
             aggregator_knowledge_source=None)],
    )
    out = validate_graph(
        nodes, edges,
        infores_status={"infores:old": "deprecated",
                        "infores:bogus": "invalid",
                        "missing_primary_knowledge_source": "invalid"},
        valid_node_types={"biolink:Gene", "biolink:NamedThing"},
    )
    assert out["pass"] is True and out["errors"] == {}
    assert out["warnings"]["deprecated_knowledge_sources"] == ["infores:old"]
    # the missing-pks default participates in the status check
    assert out["warnings"]["invalid_knowledge_sources"] == [
        "infores:bogus", "missing_primary_knowledge_source"]
    assert out["warnings"]["invalid_node_types"] == ["biolink:MadeUpThing"]
    assert out["predicate_totals"] == {"biolink:related_to": 2}

    clean = validate_graph(nodes, edges)  # no catalogs injected
    assert clean["warnings"] == {}


def test_spo_type_counts_broadcast_and_slim_paths_agree(spark):
    """The census's two physical strategies (broadcast dict-encoded cat map
    vs slim dict-encoded sort-merge) must be value-identical, and the
    broadcast path must not shuffle the edge set at all."""
    from pyspark.sql import Row, functions as F

    from orion_spark.operators.analyze import spo_type_counts

    nodes = spark.createDataFrame(
        [Row(id=f"N:{i}", category=[["biolink:Gene", "biolink:Disease", None][i % 3]])
         for i in range(9)]
    )
    edges = spark.createDataFrame(
        [Row(subject=f"N:{i % 9}", predicate=["biolink:affects", "biolink:related_to"][i % 2],
             object=f"N:{(i * 3 + 1) % 9}")
         for i in range(40)]
    )
    key = ["subject_category", "predicate", "object_category"]
    bc = spo_type_counts(edges, nodes).sort(*key).collect()
    slim = spo_type_counts(edges, nodes, broadcast_max_nodes=0).sort(*key).collect()
    assert [r.asDict() for r in bc] == [r.asDict() for r in slim]
    assert sum(r.n for r in bc) == 40  # every edge counted exactly once
    # null category[0] survives as a null census row (reference keeps them)
    assert any(r.subject_category is None for r in bc)
    # broadcast path: no Exchange anywhere above the edge scan
    plan = spo_type_counts(edges, nodes)._jdf.queryExecution().executedPlan().toString()
    # one (tiny, vocab-sized) aggregate shuffle is allowed; the two endpoint
    # joins must both be BroadcastHashJoin (BroadcastExchange is not a shuffle)
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("Exchange hashpartitioning") <= 1  # agg only, no join shuffles


def _final_plan(df) -> str:
    """The executed (adaptive, final) physical plan of `df` after it ran."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_meta_kg_edges_builds_one_category_map(spark, tmp_path):
    """Both endpoint joins read one (id, first category) frame: the plan
    builds it once and reuses it (one ReusedExchange), and nothing is
    checkpointed, so no job runs before the plan does."""
    from orion_spark.operators.analyze import meta_kg_edges
    from orion_spark.sources.kgx import read_bundle, write_bundle

    nodes = spark.createDataFrame(
        [Row(id=f"N:{i}", category=[["biolink:Gene", "biolink:Disease"][i % 2]])
         for i in range(20)])
    edges = spark.createDataFrame(
        [Row(subject=f"N:{i % 20}", predicate="biolink:affects",
             object=f"N:{(i * 7 + 3) % 20}", primary_knowledge_source="infores:x")
         for i in range(60)])
    write_bundle(nodes, edges, str(tmp_path / "b"))
    nodes, edges = read_bundle(spark, str(tmp_path / "b"))
    sc = spark.sparkContext
    sc.setJobGroup("meta-kg-plan", "meta-kg plan")
    try:
        out = meta_kg_edges(edges, nodes)
        built = len(sc.statusTracker().getJobIdsForGroup("meta-kg-plan"))
        plan = _final_plan(out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert built == 0
    assert plan.count("ReusedExchange") == 1, plan
    assert "ExistingRDD" not in plan, plan
    assert sum(r.n_edges for r in out.collect()) == 60


def test_sidecar_census_plan_broadcasts_one_node_map(spark):
    """The census with its spo rows: two broadcast endpoint joins over one
    (id, code) map, and the single aggregate's exchange the only shuffle."""
    from orion_spark.operators.analyze import sidecar_census

    nodes = spark.createDataFrame(
        [Row(id=f"N:{i}", category=[["biolink:Gene", "biolink:Disease", None][i % 3]])
         for i in range(9)])
    edges = spark.createDataFrame(
        [Row(subject=f"N:{i % 9}", predicate="biolink:affects",
             object=f"N:{(i * 3 + 1) % 9}", primary_knowledge_source=None)
         for i in range(40)],
        "subject string, predicate string, object string, "
        "primary_knowledge_source string")
    df = sidecar_census(nodes, edges, ["biolink:Disease", "biolink:Gene"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastExchange") == 2, plan
    final = _final_plan(df)
    assert final.count("ReusedExchange") == 1, final
    rows = df.collect()
    assert sum(r.n for r in rows if r.side == "spo") == 40
    assert sum(r.n for r in rows if r.side == "node") == 9
