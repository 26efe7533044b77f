"""Salted-aggregation equivalence tests: the skewed two-phase merge must be
bit-identical to the direct merge under any bucketing."""

import random

from pyspark.sql import Row

from orion_spark.operators.merge import merge_properties_agg
from orion_spark.operators.skew import merge_properties_salted, salted_counts


def _hub(spark):
    """One hub key with many rows (falsy-then-truthy ordering traps) plus
    normal keys."""
    rng = random.Random(42)
    rows = []
    for i in range(200):
        rows.append(
            Row(
                id="HUB:1",
                name="" if i < 150 else f"name{i}",  # first truthy at ord 150
                score=0.0 if i != 137 else 3.25,     # only truthy at ord 137
                publications=[f"PMID:{rng.randint(1, 50)}"],
                _source_ordinal=i,
            )
        )
    rows += [
        Row(id=f"K:{k}", name=f"n{k}", score=float(k),
            publications=[f"PMID:{k}"], _source_ordinal=0)
        for k in range(20)
    ]
    return spark.createDataFrame(rows)


def test_salted_merge_equals_direct(spark):
    df = _hub(spark)
    direct = {r.id: r for r in merge_properties_agg(df, ["id"]).collect()}
    salted = {r.id: r for r in merge_properties_salted(df, ["id"], salt_buckets=8).collect()}
    assert set(direct) == set(salted)
    for k in direct:
        assert direct[k].name == salted[k].name, k
        assert direct[k].score == salted[k].score, k
        assert direct[k].publications == salted[k].publications, k
    # the traps specifically: globally-first truthy survives bucketing
    assert salted["HUB:1"].name == "name150"
    assert salted["HUB:1"].score == 3.25


def test_salted_counts(spark):
    df = _hub(spark)
    out = {r.id: r.n for r in salted_counts(df, ["id"]).collect()}
    assert out["HUB:1"] == 200
    assert out["K:5"] == 1


def test_salted_merge_map_tail_identical(spark):
    """The salted two-phase aggregate must reproduce the plain per-key
    map merge exactly — the entry-map argmin is associative, so salting
    cannot change which value wins a key."""
    import random

    from orion_spark.operators.merge import merge_properties_agg
    from orion_spark.operators.skew import merge_properties_salted

    rng = random.Random(11)
    rows = []
    for i in range(400):
        m = {k: rng.choice(["", "x", "y", "z"])
             for k in rng.sample(["a", "b", "c", "d"], rng.randint(0, 4))}
        rows.append((f"N:{rng.randint(0, 5)}", i, m or None))
    schema = "id string, _source_ordinal int, properties map<string,string>"
    df = spark.createDataFrame(rows, schema)

    def canon(out):
        return sorted(
            (r.id, tuple(sorted(r.properties.items()))
             if r.properties is not None else None)
            for r in out.collect()
        )

    plain = canon(merge_properties_agg(df, ["id"]))
    salted = canon(merge_properties_salted(df, ["id"], salt_buckets=8))
    assert salted == plain


def test_salted_merge_sources_identical(spark):
    """Salted two-phase must reproduce the plain sources key-dedup,
    including first-occurrence order and the null-vs-empty distinction."""
    import random

    from orion_spark.operators.merge import merge_properties_agg
    from orion_spark.operators.skew import merge_properties_salted

    rng = random.Random(23)
    roles = [("infores:a", "primary"), ("infores:b", "aggregator"),
             ("infores:c", "supporting")]
    rows = []
    for i in range(300):
        if rng.random() < 0.15:
            src = None
        elif rng.random() < 0.1:
            src = []
        else:
            src = [
                {"resource_id": rid, "resource_role": role,
                 "upstream_resource_ids":
                     rng.choice([None, [], [f"u{rng.randint(0, 3)}"]])}
                for rid, role in rng.sample(roles, rng.randint(1, 3))
            ]
        rows.append((f"E:{rng.randint(0, 4)}", i, src))
    schema = (
        "id string, _source_ordinal int, "
        "sources array<struct<resource_id:string,resource_role:string,"
        "upstream_resource_ids:array<string>>>"
    )
    df = spark.createDataFrame(rows, schema)

    def canon(out):
        return sorted(
            (r.id, tuple(
                (e.resource_id, e.resource_role,
                 tuple(e.upstream_resource_ids)
                 if e.upstream_resource_ids is not None else None)
                for e in r.sources
            ) if r.sources is not None else None)
            for r in out.collect()
        )

    plain = canon(merge_properties_agg(df, ["id"]))
    salted = canon(merge_properties_salted(df, ["id"], salt_buckets=8))
    assert salted == plain


def test_skew_graph_fixture_shape(spark):
    """The registered power-law fixture (plans/skewgraph.py): edges are
    distinct by construction (no dedup shuffle), hub degrees follow the
    Zipf ladder d_j = (N//2) // (j+1), and the base tier stays bounded —
    the degree spread the sweep-gate skew queries rely on."""
    from pyspark.sql import functions as F

    from orion_spark.plans.skewgraph import N_HUBS, skew_edges, skew_n

    sf = "/root/testdata/sf0.001"
    n = skew_n(spark, sf)
    edges = skew_edges(spark, sf).localCheckpoint(eager=True)
    total = edges.count()
    assert edges.distinct().count() == total  # construction guarantees
    expected_hub = sum(max(1, (n // 2) // (j + 1)) for j in range(N_HUBS))
    assert total == 3 * n + expected_hub
    deg = (
        edges.select(F.col("a").alias("u"))
        .unionAll(edges.select(F.col("b").alias("u")))
        .groupBy("u").count()
    )
    hub_deg = {
        r.u - n: r["count"] for r in deg.where(F.col("u") >= n).collect()
    }
    assert hub_deg[0] == n // 2 and hub_deg[1] == n // 4
    base_max = deg.where(F.col("u") < n).agg(F.max("count")).first()[0]
    assert base_max < 64  # warm tier stays bounded; hubs carry the skew


def test_skew_merge_salted_survives_hot_key(spark):
    """merge_properties_salted on the fixture's Zipf property rows: the
    globally-first truthy name (spoke ordinal 13) must win on the N/2-row
    hot key despite the 16-way salt bucketing."""
    from orion_spark.plans.skewgraph import skew_hub_property_rows

    rows = skew_hub_property_rows(spark, "/root/testdata/sf0.001")
    merged = {
        r.id: r for r in merge_properties_salted(
            rows, ["id"], salt_buckets=16
        ).collect()
    }
    assert merged["H:0"].name == "n0_13"
    assert merged["H:15"].name == "n15_13"
    # publications fold: sorted distinct across all spokes of the key
    assert merged["H:0"].publications == sorted(
        {f"PMID:{(k * 31) % 50}" for k in range(250)}
    )
