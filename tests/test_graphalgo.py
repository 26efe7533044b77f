"""Iterative graph-algorithm tests (operators/graphalgo.py)."""

import ast
import pathlib
import re
import uuid
from collections import Counter

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from orion_spark.operators.graphalgo import pagerank

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "orion_spark"


def _jobs(spark, fn):
    """(fn's result, the number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"graphalgo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "graphalgo")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _k4_pendant(spark):
    """K4 on 1..4 plus the pendant edge (4, 5): 7 edges, 4 triangles."""
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    return spark.createDataFrame(k4 + [(4, 5)], "a int, b int")


def test_undirected_and_node_degrees_match_the_union_forms(spark):
    """Both helpers emit what the two-branch union (and its groupBy)
    emits, as multisets: duplicate rows stay duplicated, a self-loop
    comes out twice, a null endpoint is kept."""
    from orion_spark.operators.graphalgo import node_degrees, undirected

    pairs = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (3, 3), (4, None)], "a int, b int"
    )
    union = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    got = Counter(map(tuple, undirected(pairs, "a", "b", "u", "v").collect()))
    assert got == Counter(map(tuple, union.collect()))
    assert got[(3, 3)] == 2 and got[(None, 4)] == 1

    want_deg = union.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("deg")
    )
    assert Counter(map(tuple, node_degrees(pairs).collect())) == Counter(
        map(tuple, want_deg.collect())
    )
    assert node_degrees(pairs).columns == ["node", "deg"]


def test_pagerank_two_node_cycle_is_uniform(spark):
    """A 2-cycle is symmetric: pr stays exactly 1/2 per node at every
    iteration ((1-d)/2 + d*(1/2) = 1/2)."""
    edges = spark.createDataFrame([Row(src="A", dst="B"), Row(src="B", dst="A")])
    out = {r.id: r.pr for r in pagerank(edges, iterations=4).collect()}
    assert out["A"] == pytest.approx(0.5, abs=1e-12)
    assert out["B"] == pytest.approx(0.5, abs=1e-12)


def test_pagerank_star_sink_accumulates(spark):
    """Star A,B,C -> D: after one iteration the sink holds
    (1-d)/4 + d * 3/4; the leaves hold (1-d)/4 (no in-edges)."""
    edges = spark.createDataFrame(
        [Row(src="A", dst="D"), Row(src="B", dst="D"), Row(src="C", dst="D")]
    )
    out = {r.id: r.pr for r in pagerank(edges, iterations=1, damping=0.85).collect()}
    leaf = 0.15 / 4
    assert out["A"] == pytest.approx(leaf, abs=1e-12)
    assert out["D"] == pytest.approx(leaf + 0.85 * 0.75, abs=1e-12)
    # total mass shrinks only by the dangling-sink leak (documented
    # simplification) — every node still gets the base term
    assert all(v >= leaf - 1e-12 for v in out.values())


def test_pagerank_empty_graph_is_empty(spark):
    """No edges means no nodes: an empty (id, pr) frame, not a division
    by the zero node count."""
    edges = spark.createDataFrame([], "src string, dst string")
    out = pagerank(edges, iterations=3)
    assert out.dtypes == [("id", "string"), ("pr", "double")]
    assert out.collect() == []


def test_triangle_count_known_graph(spark):
    """K4 plus a pendant vertex: C(4,3)=4 triangles, 7 edges, 5 nodes."""
    from orion_spark.operators.graphalgo import triangle_count

    row = triangle_count(_k4_pendant(spark)).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (5, 7, 4)


def test_triangle_count_empty_graph(spark):
    """No edges: one row, 0 nodes, a null edge count (the sum over no
    degree rows), 0 triangles."""
    from orion_spark.operators.graphalgo import triangle_count

    pairs = spark.createDataFrame([], "a int, b int")
    assert [tuple(r) for r in triangle_count(pairs).collect()] == [(0, None, 0)]


def _checkpoint_rdds(df) -> set[int]:
    """Ids of the checkpointed RDDs the physical plan of `df` scans."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    leaves = plan.collectLeaves().iterator()
    ids = set()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "RDDScanExec":
            ids.add(leaf.rdd().id())
    return ids


def test_triangle_count_plan_is_one_checkpoint_and_one_aggregate(spark):
    """The input checkpoint is the only eager barrier: the degree table
    and the orientation are scanned from it inside the final plan, and
    the summary is one aggregate, with no cross join of 1-row sides."""
    from orion_spark.operators.graphalgo import triangle_count

    df = triangle_count(_k4_pendant(spark))
    assert len(_checkpoint_rdds(df)) == 1
    assert df.collect()[0].n_triangles == 4
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_triangle_count_job_count_repeats_under_aqe(spark):
    """With adaptive execution on, the same count runs the same number
    of jobs every time (the cross join it replaced broadcast in a job of
    its own only when one 1-row side's stage finished first)."""
    from orion_spark.operators.graphalgo import triangle_count

    pairs = _k4_pendant(spark)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        counts = [
            _jobs(spark, lambda: triangle_count(pairs).collect())[1]
            for _ in range(5)
        ]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(set(counts)) == 1, counts


# two components (the path B-C-D-E-F and X-Y), a null endpoint on Y, a
# (null, null) edge and an isolated self-loop S
_LPA_EDGES = [("C", "B"), ("D", "C"), ("E", "D"), ("F", "E"), ("X", "Y"),
              ("Y", None), (None, None), ("S", "S")]


def _lpa_fixture(spark):
    """`_LPA_EDGES` as a local relation (no RDD scan in its plan)."""
    def lit(v):
        return "NULL" if v is None else f"'{v}'"

    values = ", ".join(f"({lit(s)}, {lit(d)})" for s, d in _LPA_EDGES)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t(src, dst)")


@pytest.mark.parametrize("iterations", [0, 1, 2, 3])
def test_label_propagation_matches_the_oracle(spark, iterations):
    """Null endpoints and all, every round count gives the DuckDB
    oracle's rows: the null id keeps a null label and labels no one."""
    import duckdb

    from orion_spark.operators.graphalgo import (
        label_propagation_min,
        label_propagation_oracle_sql,
    )

    got = label_propagation_min(_lpa_fixture(spark), iterations=iterations)
    assert got.columns == ["id", "label"]
    con = duckdb.connect()
    con.execute("CREATE TABLE lpa_edges (src VARCHAR, dst VARCHAR)")
    con.executemany("INSERT INTO lpa_edges VALUES (?, ?)", _LPA_EDGES)
    want = con.sql(label_propagation_oracle_sql(
        "lp_edges AS (SELECT src, dst FROM lpa_edges)", iterations
    )).fetchall()
    assert Counter(map(tuple, got.collect())) == Counter(want)
    assert (None, None) in want


def test_label_propagation_zero_rounds_is_the_start_labels(spark):
    """iterations=0 labels every endpoint, the null id included, with
    itself; a negative round count is refused."""
    from orion_spark.operators.graphalgo import label_propagation_min

    edges = _lpa_fixture(spark)
    got = label_propagation_min(edges, iterations=0).collect()
    assert {r.id for r in got} == {n for e in _LPA_EDGES for n in e}
    assert all(r.id == r.label for r in got if r.id is not None)
    with pytest.raises(ValueError):
        label_propagation_min(edges, iterations=-1)


def test_label_propagation_is_one_lazy_plan(spark):
    """The builder starts no job, and the final plan shuffles the
    symmetrized edges once: every other read of them is a reuse of that
    exchange, and nothing is cached or checkpointed."""
    from orion_spark.operators.graphalgo import label_propagation_min

    edges = _lpa_fixture(spark)
    df, n_jobs = _jobs(spark, lambda: label_propagation_min(edges, iterations=3))
    assert n_jobs == 0
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    sym = [ln for ln in final.splitlines() if "REPARTITION_BY_COL" in ln]
    assert len([ln for ln in sym if "ReusedExchange" not in ln]) == 1, final
    # round 1's group-by and rounds 2 and 3's joins each read sym
    assert len(sym) == 3, final
    assert "InMemoryRelation" not in plan
    assert "ExistingRDD" not in plan


def test_label_propagation_converges_to_components(spark):
    """Two disjoint paths: after enough rounds every node carries its
    component's min id."""
    from orion_spark.operators.graphalgo import label_propagation_min

    edges = spark.createDataFrame(
        [("B", "C"), ("C", "D"), ("X", "Y")], "src string, dst string"
    )
    out = {r.id: r.label for r in label_propagation_min(edges, iterations=3).collect()}
    assert out == {"B": "B", "C": "B", "D": "B", "X": "X", "Y": "X"}


def test_kcore_peels_tail_and_keeps_core(spark):
    """Triangle 1-2-3 with a pendant chain 3-4-5: the chain peels off over
    two rounds (5 first, then 4), the triangle survives 2-core peeling
    with every surviving degree == 2."""
    from orion_spark.operators.graphalgo import kcore_prune

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)], "a int, b int"
    )
    out = {r.node: r.degree for r in kcore_prune(pairs, k=2, rounds=3).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_bounded_rounds_stop_short(spark):
    """A length-4 path needs 2 rounds to fully dissolve under k=2;
    rounds=1 must leave the partially-peeled middle (bounded-cost
    semantics, not fixpoint)."""
    from orion_spark.operators.graphalgo import kcore_prune

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a int, b int")
    after1 = {r.node for r in kcore_prune(pairs, k=2, rounds=1).collect()}
    assert after1 == {2, 3}
    after2 = kcore_prune(pairs, k=2, rounds=2).count()
    assert after2 == 0


def test_cooccurrence_pairs_matches_self_join(spark):
    """HOF pair explode == textbook self-join-on-group, including
    duplicate source rows (collect_set dedups within group) and
    singleton groups (no pairs)."""
    from pyspark.sql import functions as F

    from orion_spark.operators.graphalgo import cooccurrence_pairs

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (1, "a"), (2, "x"), (3, "b"), (3, "a")],
        "g int, item string",
    )
    got = sorted(
        (r.g, r.a, r.b) for r in cooccurrence_pairs(df, "g", "item").collect()
    )
    op = df.select("g", "item").distinct()
    x = op.select("g", F.col("item").alias("a"))
    y = op.select(F.col("g").alias("g2"), F.col("item").alias("b"))
    want = sorted(
        (r.g, r.a, r.b)
        for r in x.join(
            y, (x["g"] == F.col("g2")) & (F.col("a") < F.col("b"))
        ).select("g", "a", "b").collect()
    )
    assert got == want == [(1, "a", "b"), (1, "a", "c"), (1, "b", "c"), (3, "a", "b")]


def test_bfs_distances_path_graph(spark):
    # path a-b-c-d-e, seed {a}: dist a=0 b=1 c=2 d=3 within 3 hops; e absent
    from pyspark.sql import Row

    from orion_spark.operators.graphalgo import bfs_distances

    edges = spark.createDataFrame(
        [Row(src=s, dst=d) for s, d in [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]]
    )
    seeds = spark.createDataFrame([Row(id="a")])
    got = {r.id: r.dist for r in bfs_distances(edges, seeds, max_hops=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_bfs_distances_min_combines_over_shorter_path(spark):
    # triangle a-b, b-c, a-c: c is 1 hop via a-c even though a-b-c exists
    from pyspark.sql import Row

    from orion_spark.operators.graphalgo import bfs_distances

    edges = spark.createDataFrame(
        [Row(src=s, dst=d) for s, d in [("a", "b"), ("b", "c"), ("a", "c")]]
    )
    seeds = spark.createDataFrame([Row(id="a")])
    got = {r.id: r.dist for r in bfs_distances(edges, seeds, max_hops=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 1}


def test_bfs_distances_multi_seed_undirected(spark):
    # seeds {a, e} on path a-b-c-d-e: c reached at dist 2 from either end
    from pyspark.sql import Row

    from orion_spark.operators.graphalgo import bfs_distances

    edges = spark.createDataFrame(
        [Row(src=s, dst=d) for s, d in [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]]
    )
    seeds = spark.createDataFrame([Row(id="a"), Row(id="e")])
    got = {r.id: r.dist for r in bfs_distances(edges, seeds, max_hops=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 1, "e": 0}


def test_ktruss_peels_tail_edges(spark):
    """K4 plus a pendant path: every K4 edge sits in 2 triangles
    (support 2, survives 3-truss and even 4-truss), the path edges sit in
    none and peel off in round one. A triangle hanging off the K4 by one
    shared vertex survives 3-truss (support 1) but dies in a 4-truss."""
    from orion_spark.operators.graphalgo import ktruss_prune

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    tri = [(4, 5), (4, 6), (5, 6)]          # triangle sharing vertex 4
    tail = [(6, 7), (7, 8)]                 # pendant path
    pairs = spark.createDataFrame(k4 + tri + tail, "a bigint, b bigint")

    t3 = {(r.a, r.b): r.support for r in ktruss_prune(pairs, k=3, rounds=2).collect()}
    assert set(t3) == set(k4 + tri)
    assert all(t3[e] == 2 for e in k4)
    assert all(t3[e] == 1 for e in tri)

    t4 = {(r.a, r.b): r.support for r in ktruss_prune(pairs, k=4, rounds=2).collect()}
    assert set(t4) == set(k4)


@pytest.mark.parametrize("k", [3, 4])
@pytest.mark.parametrize("rounds", [1, 2, 3])
def test_ktruss_matches_duckdb_on_a_hub_graph(spark, k, rounds):
    """Seeded random graph on 40 nodes whose hub 0 touches most of them:
    the surviving edges and their support equal the oracle's wedge
    self-join, round for round."""
    import random

    import duckdb

    from orion_spark.operators.graphalgo import ktruss_oracle_sql, ktruss_prune

    rng = random.Random(13)
    edges = sorted(
        {(0, b) for b in range(1, 40) if rng.random() < 0.8}
        | {(a, b) for a in range(1, 40) for b in range(a + 1, 40)
           if rng.random() < 0.12}
    )
    pairs = spark.createDataFrame(edges, "a bigint, b bigint")
    got = sorted(tuple(r) for r in ktruss_prune(pairs, k=k, rounds=rounds).collect())
    con = duckdb.connect()
    con.register("edge_fixture", pairs.toPandas())
    want = sorted(
        (int(a), int(b), int(s))
        for a, b, s in con.sql(ktruss_oracle_sql(
            "pairs AS (SELECT a, b FROM edge_fixture)", k=k, rounds=rounds
        )).fetchall()
    )
    assert got == want and got


def _neighbour_joins(plan: str) -> list[tuple[str, str]]:
    """Equi-join key pairs of an optimized plan whose two sides are both
    neighbour columns: the far endpoint of a directed edge (`dst`) or a
    rename of one (`w`, `w2`), the key of a wedge self-join."""
    neighbour = {"dst", "w", "w2"}
    found = []
    for line in plan.splitlines():
        if "Join " not in line:
            continue
        for x, y in re.findall(r"\b(\w+)#\d+L? = (\w+)#\d+L?", line):
            if x in neighbour and y in neighbour:
                found.append((x, y))
    return found


def test_ktruss_support_reads_the_adjacency_intersect(spark):
    """k-truss support intersects sorted out-neighbour arrays; no round
    enumerates wedges with a self-join on the shared neighbour."""
    from orion_spark.operators.graphalgo import ktruss_prune, undirected

    pairs = _k4_pendant(spark)
    plan = ktruss_prune(pairs, k=3, rounds=1)._jdf.queryExecution()
    text = plan.optimizedPlan().toString()
    assert "array_intersect" in text
    assert _neighbour_joins(text) == []

    # the guard sees the wedge self-join that support used to run
    sym = undirected(pairs, "a", "b", "src", "dst")
    wedges = sym.select(F.col("src").alias("u"), F.col("dst").alias("w")).join(
        sym.select(F.col("src").alias("v"), F.col("dst").alias("w2")),
        (F.col("w") == F.col("w2")) & (F.col("u") < F.col("v")),
    )
    assert _neighbour_joins(
        wedges._jdf.queryExecution().optimizedPlan().toString()
    ) == [("w", "w2")]


def test_no_cache_pinned_after_multi_branch_ops(spark):
    """Storage hygiene (round-2 verdict #4): operators that materialize
    multi-consumer frames must not leave DataFrame caches registered for
    the session lifetime — they either localCheckpoint (GC-releasable,
    never registered in the cache manager) or explicitly unpersist once
    their in-function actions complete."""
    from pyspark.sql import Row

    from orion_spark.llm.dedup import minhash_lsh_pairs, simhash_near_pairs
    from orion_spark.operators.graphalgo import (
        bfs_distances,
        kcore_prune,
        ktruss_prune,
        label_propagation_min,
        triangle_count,
    )

    spark.catalog.clearCache()
    pairs = _k4_pendant(spark)
    triangle_count(pairs).collect()
    kcore_prune(pairs, k=2, rounds=2).collect()
    ktruss_prune(pairs, k=3, rounds=2).collect()

    edges = spark.createDataFrame(
        [Row(src=s, dst=d) for s, d in [("a", "b"), ("b", "c"), ("x", "y")]]
    )
    label_propagation_min(edges, iterations=2).collect()
    seeds = spark.createDataFrame([Row(id="a")])
    bfs_distances(edges, seeds, max_hops=2).collect()

    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=f"the quick brown fox jumps over dog {i % 2}")
            for i in range(8)
        ]
    )
    minhash_lsh_pairs(docs).collect()
    simhash_near_pairs(docs).collect()

    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "an operator left a DataFrame cache registered after its action"
    )


def test_random_walks_deterministic_and_valid(spark):
    """Walks follow real edges, are reproducible (keyed hash, no RNG),
    differ by seed, and end early at dead ends on a directed graph."""
    from pyspark.sql import Row

    from orion_spark.operators.graphalgo import random_walks

    edges = spark.createDataFrame(
        [Row(src="a", dst="b"), Row(src="a", dst="c"), Row(src="b", dst="c"),
         Row(src="c", dst="a"), Row(src="c", dst="b"), Row(src="b", dst="a"),
         Row(src="d", dst="x")],  # x is a dead end
        "src string, dst string",
    )
    adj = {("a"): {"b", "c"}, ("b"): {"a", "c"}, ("c"): {"a", "b"},
           ("d"): {"x"}}

    out1 = random_walks(edges, walk_length=3, seed=1).collect()
    out2 = random_walks(edges, walk_length=3, seed=1).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))  # reproducible

    walks = {}
    for r in sorted(out1, key=lambda r: (r.walk_id, r.step)):
        walks.setdefault(r.walk_id, []).append(r.node)
    # every step is a real out-edge of the previous node
    for wid, path in walks.items():
        assert path[0] == wid
        for u, v in zip(path, path[1:]):
            assert v in adj[u], f"walk {wid} took non-edge {u}->{v}"
    # the d-walk dies at x (no out-edges): steps 0,1 only
    assert walks["d"] == ["d", "x"]
    # a,b,c walks run the full length
    for wid in "abc":
        assert len(walks[wid]) == 4

    out3 = random_walks(edges, walk_length=3, seed=2).collect()
    assert sorted(map(tuple, out1)) != sorted(map(tuple, out3))  # seed matters


def test_random_walks_hub_gate_invariant(spark):
    """The degree gate is a pure execution-strategy choice: forcing
    every src down the hub (two-level) path or every src down the
    regular (single-window) path yields byte-identical walks, because
    both paths realize the same (md5-bucket, dst) neighbor ranking.
    Uses a star graph (hub h with 30 spokes, plus spoke back-edges) so
    both regimes exist when the threshold sits between the degrees."""
    from pyspark.sql import Row

    from orion_spark.operators.graphalgo import random_walks

    rows = [Row(src="h", dst=f"s{i:02d}") for i in range(30)]
    rows += [Row(src=f"s{i:02d}", dst="h") for i in range(30)]
    rows += [Row(src=f"s{i:02d}", dst=f"s{(i + 1) % 30:02d}") for i in range(30)]
    edges = spark.createDataFrame(rows, "src string, dst string")

    outs = [
        sorted(
            map(
                tuple,
                random_walks(
                    edges, walk_length=4, seed=7, hub_degree_threshold=th
                ).collect(),
            )
        )
        for th in (0, 10, 10**9)  # all-hub, mixed (h=30 > 10 > spokes=2), all-regular
    ]
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) > 0


def test_random_walks_null_dst_same_on_both_gate_paths(spark):
    """A null dst is a neighbor on both adjacency paths: it takes the
    same rank and counts in the same out-degree whether its src is a
    hub or not, so the walks (some of which step onto the null and end
    there) are identical under every threshold."""
    from pyspark.sql import Row

    from orion_spark.operators.graphalgo import random_walks

    rows = [Row(src="h", dst=f"s{i:02d}") for i in range(30)]
    rows += [Row(src=f"s{i:02d}", dst="h") for i in range(30)]
    rows += [Row(src=f"s{i:02d}", dst=None) for i in range(0, 30, 3)]
    rows += [Row(src="h", dst=None)]
    edges = spark.createDataFrame(rows, "src string, dst string")

    outs = [
        sorted(
            map(
                tuple,
                random_walks(
                    edges, walk_length=4, seed=7, hub_degree_threshold=th
                ).collect(),
            ),
            key=lambda r: (r[0], r[1], r[2] or ""),
        )
        for th in (0, 10, 10**9)
    ]
    assert outs[0] == outs[1] == outs[2]
    assert any(node is None for _, _, node in outs[0])


def test_triangle_sampled_full_keep_is_exact(spark):
    """keep == denom (p = 1) degenerates to the exact count: every edge
    survives, the scale factor is 1, est == exact."""
    from orion_spark.operators.graphalgo import triangle_count_sampled

    row = triangle_count_sampled(_k4_pendant(spark), keep=1000, denom=1000).collect()[0]
    assert (
        row.n_edges_total,
        row.n_edges_sampled,
        row.n_triangles_sampled,
        row.est_triangles,
    ) == (7, 7, 4, 4)


def test_triangle_sampled_costs_no_job_beyond_the_exact_count(spark):
    """The sample is not materialized on its own and its edge total is
    observed on triangle_count's first checkpoint, so the sampled count
    runs no more jobs than the exact count of the same graph. Counted
    with adaptive execution off, where each checkpoint or collect is
    one job (its per-stage jobs vary by a few from run to run)."""
    from orion_spark.operators.graphalgo import (
        triangle_count,
        triangle_count_sampled,
    )

    pairs = _k4_pendant(spark)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        (row,), n_sampled = _jobs(
            spark,
            lambda: triangle_count_sampled(pairs, keep=1000, denom=1000).collect(),
        )
        _, n_exact = _jobs(spark, lambda: triangle_count(pairs).collect())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert row.n_edges_total == 7
    assert n_sampled <= n_exact, (n_sampled, n_exact)


def test_triangle_sampled_rejects_bad_keep(spark):
    from orion_spark.operators.graphalgo import triangle_count_sampled

    pairs = spark.createDataFrame([(1, 2)], "a int, b int")
    with pytest.raises(ValueError):
        triangle_count_sampled(pairs, keep=0)
    with pytest.raises(ValueError):
        triangle_count_sampled(pairs, keep=2000, denom=1000)


def test_triangle_sampled_error_bound_contract(spark):
    """The declared error-bound contract for the DOULION sibling
    (round-4 verdict ask #2), pinned on the sf0.001 part co-occurrence
    graph (125,968 exact triangles). Deterministic — the sampler is a
    pure md5 of (salt, a, b) — so these are regression pins, not flaky
    statistical assertions. Measured per-salt errors at p=0.5 were
    <= 5.3% over 8 salts with mean 0.35%; asserted at 10% / 2% margin.
    Variance follows the DOULION bound Var <= T(1/p^3-1) + 2k(1/p-1)."""
    from orion_spark.operators.graphalgo import (
        cooccurrence_pairs,
        triangle_count,
        triangle_count_sampled,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    pairs = (
        cooccurrence_pairs(li, "l_orderkey", "l_partkey")
        .select("a", "b")
        .distinct()
        .localCheckpoint()
    )
    exact = triangle_count(pairs).collect()[0].n_triangles
    assert exact == 125968
    ests = []
    for salt in ["", "s1", "s2", "s3"]:
        row = triangle_count_sampled(pairs, keep=500, denom=1000, salt=salt).collect()[0]
        rel = abs(row.est_triangles - exact) / exact
        assert rel <= 0.10, (salt, row.est_triangles, rel)
        ests.append(row.est_triangles)
    mean_rel = abs(sum(ests) / len(ests) - exact) / exact
    assert mean_rel <= 0.02, (ests, mean_rel)


def test_triangle_sampled_registered_config_error(spark):
    """The registered query's production config (p = 0.1): coarser — each
    triangle survives with p^3 = 0.001 — but still within 25% on the
    sf0.001 graph at its default salt (measured 4.0%; at sf0.01 the same
    config lands within 0.07% because concentration tightens with count).
    Deterministic pin, not a statistical test."""
    from orion_spark.operators.graphalgo import (
        cooccurrence_pairs,
        triangle_count_sampled,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    pairs = (
        cooccurrence_pairs(li, "l_orderkey", "l_partkey")
        .select("a", "b")
        .distinct()
    )
    row = triangle_count_sampled(pairs, keep=100, denom=1000).collect()[0]
    assert row.n_edges_total == 8899
    # ~10% of edges survive the md5 bucket
    assert 700 <= row.n_edges_sampled <= 1100
    assert abs(row.est_triangles - 125968) / 125968 <= 0.25


def test_adamic_adar_hand_case(spark):
    """Square a-c-b-d-a: (a,b) and (c,d) are the non-edges; each shares
    two degree-2 neighbors -> AA = 2/ln(2). Connected pairs are excluded."""
    import math

    from orion_spark.operators.graphalgo import adamic_adar

    pairs = spark.createDataFrame(
        [(1, 3), (3, 2), (2, 4), (1, 4)], ["a", "b"]
    )
    out = {(r.a, r.b): r for r in adamic_adar(pairs, min_common=2).collect()}
    assert set(out) == {(1, 2), (3, 4)}
    want = round(2.0 / math.log(2.0), 6)
    assert all(abs(r.adamic_adar - want) < 1e-6 for r in out.values())
    assert all(r.common_neighbors == 2 for r in out.values())


def test_adamic_adar_matches_duckdb(spark):
    import duckdb

    from orion_spark.operators.graphalgo import adamic_adar, adamic_adar_oracle_sql

    # hubs 1-3 attach to overlapping leaf sets but never to each other,
    # so hub-hub pairs are guaranteed non-edges with common neighbors
    edges = sorted(
        {(h, leaf) for h in (1, 2, 3) for leaf in range(10, 20)
         if (h + leaf) % 4 != 0}
        | {(10, 11), (12, 13), (14, 15)}
    )
    pairs = spark.createDataFrame(edges, ["a", "b"])
    got = sorted(
        (r.a, r.b, r.common_neighbors, round(r.adamic_adar, 6))
        for r in adamic_adar(pairs, min_common=2).collect()
    )
    con = duckdb.connect()
    con.register("edge_fixture", pairs.toPandas())
    want = sorted(
        (int(a), int(b), int(c), round(float(d), 6))
        for a, b, c, d in con.sql(
            adamic_adar_oracle_sql("SELECT a, b FROM edge_fixture",
                                   min_common=2)
        ).fetchall()
    )
    assert got == want and got


def test_adamic_adar_max_degree_excludes_hub_centers(spark):
    """Star hub 0 -> leaves 1..6 plus a square 1-2-3-4-1: with
    max_degree below the hub's degree the hub contributes no wedges, so
    leaf pairs whose only shared neighbor is the hub disappear and the
    square's AA scores fold only their degree-bounded centers.
    True degrees stay in the 1/ln(d) term for surviving centers."""
    import math

    from orion_spark.operators.graphalgo import adamic_adar

    edges = [(0, i) for i in range(1, 7)] + [(1, 2), (2, 3), (3, 4), (1, 4)]
    pairs = spark.createDataFrame(edges, ["a", "b"])

    uncapped = {
        (r.a, r.b): r for r in adamic_adar(pairs, min_common=1).collect()
    }
    capped = {
        (r.a, r.b): r
        for r in adamic_adar(pairs, min_common=1, max_degree=3).collect()
    }
    # hub-only pairs (e.g. leaves 5,6 share only node 0) vanish under the cap
    assert (5, 6) in uncapped and (5, 6) not in capped
    # (1,3) shares 0 (deg 6, capped out), 2 and 4 (deg 3 each, kept, true deg)
    assert uncapped[(1, 3)].common_neighbors == 3
    assert capped[(1, 3)].common_neighbors == 2
    assert abs(capped[(1, 3)].adamic_adar - round(2 / math.log(3), 6)) < 1e-6


def test_adamic_adar_loose_cap_is_identity(spark):
    """A max_degree at/above the graph's max degree reproduces the
    uncapped result exactly — the cap only ever removes hub centers."""
    from orion_spark.operators.graphalgo import adamic_adar

    edges = sorted(
        {(h, leaf) for h in (1, 2, 3) for leaf in range(10, 20)
         if (h + leaf) % 4 != 0}
        | {(10, 11), (12, 13), (14, 15)}
    )
    pairs = spark.createDataFrame(edges, ["a", "b"])
    got = sorted(
        (r.a, r.b, r.common_neighbors, round(r.adamic_adar, 6))
        for r in adamic_adar(pairs, min_common=2, max_degree=1000).collect()
    )
    want = sorted(
        (r.a, r.b, r.common_neighbors, round(r.adamic_adar, 6))
        for r in adamic_adar(pairs, min_common=2).collect()
    )
    assert got == want and got


def test_adamic_adar_capped_matches_duckdb(spark):
    import duckdb

    from orion_spark.operators.graphalgo import adamic_adar, adamic_adar_oracle_sql

    edges = sorted(
        {(h, leaf) for h in (1, 2, 3) for leaf in range(10, 20)
         if (h + leaf) % 4 != 0}
        | {(10, 11), (12, 13), (14, 15)}
    )
    pairs = spark.createDataFrame(edges, ["a", "b"])
    got = sorted(
        (r.a, r.b, r.common_neighbors, round(r.adamic_adar, 6))
        for r in adamic_adar(pairs, min_common=1, max_degree=3).collect()
    )
    con = duckdb.connect()
    con.register("edge_fixture", pairs.toPandas())
    want = sorted(
        (int(a), int(b), int(c), round(float(d), 6))
        for a, b, c, d in con.sql(
            adamic_adar_oracle_sql("SELECT a, b FROM edge_fixture",
                                   min_common=1, max_degree=3)
        ).fetchall()
    )
    assert got == want and got


def _loop_materializations(tree):
    """(enclosing function, method) of each localCheckpoint / checkpoint /
    persist / cache call inside the body of a for or while loop."""
    found = []

    def visit(node, func, in_loop):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.FunctionDef):
                visit(child, child.name, False)
                continue
            if (in_loop and isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in (
                        "localCheckpoint", "checkpoint", "persist", "cache")):
                found.append((func, child.func.attr))
            visit(child, func, in_loop or isinstance(child, (ast.For, ast.While)))

    visit(tree, None, False)
    return found


def test_per_round_materialization_lives_in_the_round_driver():
    """Across the whole engine, eager per-round truncation is decided in
    `eager_rounds`. The other materializations inside a loop are listed
    here: random_walks' lazy per-step persist (graphalgo's docstring names
    both policies) and the BPE merge loop."""
    allowed = {
        ("operators/graphalgo.py", "eager_rounds", "localCheckpoint"),
        ("operators/graphalgo.py", "random_walks", "persist"),
        ("llm/textstats.py", "_bpe_learn", "localCheckpoint"),
    }
    found = {
        (path.relative_to(ENGINE).as_posix(), func, method)
        for path in ENGINE.rglob("*.py")
        for func, method in _loop_materializations(ast.parse(path.read_text()))
    }
    assert found == allowed, found


def test_loop_materialization_guard_sees_each_loop_form():
    src = (
        "def f(df, n):\n"
        "    df = df.localCheckpoint(eager=True)\n"
        "    for _ in range(n):\n"
        "        df = df.join(df).localCheckpoint(eager=True)\n"
        "    while n:\n"
        "        if n > 1:\n"
        "            df = df.persist()\n"
        "        n -= 1\n"
        "    for _ in range(n):\n"
        "        def g(x):\n"
        "            return x.cache()\n"
        "    return df\n"
    )
    assert _loop_materializations(ast.parse(src)) == [
        ("f", "localCheckpoint"), ("f", "persist"),
    ]
