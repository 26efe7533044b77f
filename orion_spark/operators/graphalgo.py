"""Iterative graph algorithms over the edge table (extension surface —
the reference computes adjacency/degree-style aggregates only; these add
the whole-graph iterative family a large-scale graph pipeline needs,
reusing the same nodes/edges data model).

Scale design: each iteration is one broadcast-or-shuffle join plus one
aggregate. Lineage follows one of three policies:

- eager per round (`eager_rounds`: k-core, k-truss, BFS, connected
  components, and the ChEBI role closure in plans/parsers.py): every
  round's result is materialized with `localCheckpoint(eager=True)`
  before the next round reads it;
- one input checkpoint (`triangle_count` and its sampled sibling): the
  degree table, orientation, adjacency intersect and summary aggregate
  are one plan over the checkpointed edges;
- lazy (`pagerank`, `label_propagation_min`, `random_walks`): the rounds
  stay one plan, which the final action (or, for the walks, one
  checkpoint of the step union over lazily persisted steps) runs in a
  single pass. Label propagation's rounds share one exchange of the
  symmetrized edges and shuffle only their aggregates.

SCALE.md and OPTIMIZATION_r11.md record the measurements behind each.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def _cached_join_parts(df: DataFrame, approx_rows: int,
                       rows_per_part: int = 1_000_000) -> int:
    """Partition count for a persisted join-side table consumed by the
    per-round joins of an iterative algorithm: one partition per core
    (full occupancy floor), growing with row count (~1M narrow rows ≈
    tens of MB per partition). The session's input-bytes shuffle
    autoscale is the wrong layout for these — it is sized so UNAGGREGATED
    shuffles of the whole input stay spill-safe, which over-partitions a
    compact cached relation: measured at sf0.1, the walk tables cached at
    128 partitions made every per-step job run 128 near-empty tasks
    (~1 s of pure task scheduling per step, task-time ≈ 0). Scale-
    adaptive on both axes: more cores → more partitions, more rows →
    more partitions; never a local constant."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return max(par, math.ceil(approx_rows / rows_per_part))


def undirected(df: DataFrame, a: str, b: str, u: str, v: str) -> DataFrame:
    """Both directions of every (a, b) row as (u, v): (a, b) and (b, a).

    One explode over one scan of `df`; a two-branch union would scan it
    twice, because Spark does not share a subtree between union branches.
    Duplicate rows, self-loops and null endpoints pass through as the
    union would emit them."""
    return df.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias(u), F.col(b).alias(v)),
                F.struct(F.col(b).alias(u), F.col(a).alias(v)),
            )
        ).alias("_e")
    ).select(f"_e.{u}", f"_e.{v}")


def node_degrees(pairs: DataFrame) -> DataFrame:
    """(node, deg): how many (a, b) rows of `pairs` each node ends,
    counting both endpoints of every row."""
    return (
        pairs.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


class NotConverged(RuntimeError):
    """An iterative operator reached its round cap before its fixed point."""


def eager_rounds(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    n: int,
    probe: Column | None = None,
) -> DataFrame:
    """`step` applied `n` times, each round materialized before the next.

    The eager per-round truncation is load-bearing: a round reads the
    previous round's result more than once (k-core's edges feed the degree
    aggregate and both semi-joins), so an untruncated plan grows
    multiplicatively with the round count.
    localCheckpoint, not persist: the blocks go when the frame is dropped
    and nothing stays registered in the cache manager.

    With a `probe` (an aggregate over a round's rows that changes every
    round until the fixed point and never after it), `n` is a cap: the
    loop stops at the first round whose probe equals the previous
    round's, and raises `NotConverged` if that round does not come. The
    probe rides the round's own checkpoint job as an `Observation`, so it
    costs no job."""
    prev = None
    for _ in range(n):
        nxt = step(state)
        if probe is not None:
            obs = Observation()
            nxt = nxt.observe(obs, probe.alias("v"))
        state = nxt.localCheckpoint(eager=True)
        if probe is not None:
            # a first-round None is the empty state, its own fixed point
            if obs.get["v"] == prev:
                return state
            prev = obs.get["v"]
    if probe is not None:
        raise NotConverged(f"no fixed point after {n} rounds")
    return state


def pagerank(
    edges: DataFrame, iterations: int = 3, damping: float = 0.85
) -> DataFrame:
    """Fixed-iteration PageRank (simplified: dangling mass is not
    redistributed, matching the plain SQL formulation so the DuckDB oracle
    can chain the identical recurrence):

        pr_0(v)   = 1/N
        pr_k+1(v) = (1-d)/N + d * sum_{(u,v) in E} pr_k(u) / outdeg(u)

    `edges` needs src/dst columns. Returns (id, pr) for every node, and an
    empty frame for an empty graph. Deterministic up to float summation
    order; callers round for cross-engine comparison. The rounds stay one
    lazy plan (see the module docstring), so the plan grows with
    `iterations`: this is the few-round form.
    """
    e = edges.select(F.col("src").alias("_src"), F.col("dst").alias("_dst"))
    nodes = (
        e.select(F.col("_src").alias("id"))
        .unionByName(e.select(F.col("_dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pr", F.lit(0.0))
    deg = e.groupBy("_src").agg(F.count("*").alias("_outdeg"))
    # (src, dst, outdeg) is loop-invariant: materialize once, reuse per round
    graph = e.join(deg, "_src").localCheckpoint(eager=True)

    pr = nodes.withColumn("pr", F.lit(1.0 / n))
    base = F.lit((1.0 - damping) / n)
    for _ in range(iterations):
        contrib = graph.join(pr, graph["_src"] == pr["id"]).select(
            F.col("_dst").alias("id"), (F.col("pr") / F.col("_outdeg")).alias("_c")
        )
        summed = contrib.groupBy("id").agg(F.sum("_c").alias("_s"))
        pr = nodes.join(summed, "id", "left").select(
            "id",
            (base + F.lit(damping) * F.coalesce(F.col("_s"), F.lit(0.0))).alias("pr"),
        )
    return pr


def pagerank_oracle_sql(
    edges_cte: str,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "subject",
    dst: str = "object",
    round_digits: int = 9,
) -> str:
    """DuckDB oracle: the identical recurrence unrolled as chained CTEs.
    `edges_cte` must define a CTE named `edges` with *src*/*dst* columns."""
    base = f"(1.0 - {damping})/(SELECT cnt FROM n)"
    chain = []
    for k in range(iterations):
        chain.append(f"""
    pr{k + 1} AS (
        SELECT nd.id,
               {base} + {damping} * COALESCE(SUM(p.pr / d.outdeg), 0) AS pr
        FROM nodes nd
        LEFT JOIN e ON e.dst = nd.id
        LEFT JOIN pr{k} p ON p.id = e.src
        LEFT JOIN deg d ON d.src = e.src
        GROUP BY nd.id)""")
    return f"""
    WITH {edges_cte},
    e AS (SELECT {src} AS src, {dst} AS dst FROM edges),
    nodes AS (SELECT DISTINCT id FROM
              (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
    n AS (SELECT COUNT(*) AS cnt FROM nodes),
    pr0 AS (SELECT id, 1.0/(SELECT cnt FROM n) AS pr FROM nodes),
    {",".join(chain)}
    SELECT id, round(pr, {round_digits}) AS pagerank
    FROM pr{iterations}
    """


def _intersect(oriented: DataFrame) -> DataFrame:
    """(src, dst, _common) per oriented edge: `_common` holds the nodes
    both endpoints point at, so each triangle appears once, at its edge
    between the two lowest endpoints of the order.

    `oriented` holds unique (src, dst) edges under any strict total order
    on the nodes. The plan is one groupBy building sorted out-neighbour
    arrays and two equi-joins of the edges against them; the wedges are
    enumerated inside array_intersect's hash probe and never become rows.
    The adjacency side auto-broadcasts when its estimate fits and is a
    shuffled join on the node key otherwise. The tail join is a left
    join, equal to an inner one since every non-null tail has an
    adjacency row: a left join can only build on the adjacency side, so
    adaptive execution never lets whichever of the edges' and the
    adjacency's concurrent stages finishes first pick the build side (and
    with it the job count). An edge whose head points at nothing closes
    no triangle and is dropped by the inner head join."""
    oriented = oriented.where(F.col("src").isNotNull())
    adj = oriented.groupBy("src").agg(
        F.array_sort(F.collect_list("dst")).alias("_nbrs")
    )
    au = adj.select(F.col("src").alias("_u"), F.col("_nbrs").alias("_nu"))
    av = adj.select(F.col("src").alias("_v"), F.col("_nbrs").alias("_nv"))
    return (
        oriented.join(au, F.col("src") == F.col("_u"), "left")
        .join(av, F.col("dst") == F.col("_v"))
        .select("src", "dst", F.array_intersect("_nu", "_nv").alias("_common"))
    )


def triangle_count(pairs: DataFrame) -> DataFrame:
    """Global triangle count over an undirected edge list.

    `pairs` must hold unique undirected edges as (a, b) with a < b.
    Uses the standard degree-orientation trick: each edge is directed from
    its lower-(degree, id) endpoint to the higher one, so every triangle is
    counted exactly once AND the per-node oriented out-neighborhood is
    bounded (O(sqrt(|E|)) for any graph; hubs point only at higher-degree
    nodes) — the reason plain pair-joins die at scale and this does not.

    Counts with `_intersect`; plan history in OPTIMIZATION_r11.md.

    One eager job, the checkpoint of `pairs` (it also carries
    `triangle_count_sampled`'s edge-total observation). The degree table
    and the orientation stay lazy: the final plan builds the degree
    aggregate and reuses its exchange for both orientation joins. Those
    are left joins of the non-null pairs, equal to inner joins because
    every endpoint has a degree row; a left join can only build on the
    degree side, so adaptive execution never races the pairs' shuffle
    against the degree table's for the build side. The summary is ONE
    global aggregate over the degree rows (deg, null) and the intersect
    rows (null, |common|): no 1-row side is cross-joined to another, a
    join whose broadcast ran as a job of its own only when one side's
    stage finished first.

    Returns one row: n_nodes, n_edges, n_triangles (n_edges is null on an
    empty graph, n_triangles 0).
    """
    # pairs feeds the degree table AND the orientation join. localCheckpoint,
    # not cache: GC-releasable once the frame is dropped. Re-spreading
    # pairs after the checkpoint measured worse (OPTIMIZATION_r11.md,
    # "Blind alley ... checkpoint-then-re-spread").
    pairs = pairs.localCheckpoint(eager=True)
    deg = node_degrees(pairs)
    da = deg.select(F.col("node").alias("_na"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("_nb"), F.col("deg").alias("deg_b"))
    with_deg = (
        pairs.where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .join(da, F.col("a") == F.col("_na"), "left")
        .join(db, F.col("b") == F.col("_nb"), "left")
    )
    # orient by (deg, id): strict total order because ids are unique
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    tri = _intersect(oriented).select(
        F.lit(None).cast("bigint").alias("deg"),
        F.size("_common").alias("_c"),
    )
    # count(deg) is count(*) over the degree table (deg >= 1 on every
    # degree row, null on every intersect row); sum(deg) == 2|E| exactly
    return (
        deg.select("deg", F.lit(None).cast("int").alias("_c"))
        .unionByName(tri)
        .agg(
            F.count("deg").alias("n_nodes"),
            F.floor(F.sum("deg") / 2).cast("bigint").alias("n_edges"),
            F.coalesce(F.sum("_c"), F.lit(0)).cast("bigint").alias("n_triangles"),
        )
    )


def _triangle_ctes(src: str) -> str:
    """Oracle CTEs `deg`, `oriented` and `tri` (one row, n_triangles): the
    degree-oriented triangle count of CTE `src`, which holds unique
    undirected (a, b), a < b. A three-way join of the oriented edges,
    independent of the engine's adjacency intersect."""
    return f"""
    deg AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT a AS node FROM {src} UNION ALL SELECT b FROM {src})
        GROUP BY node),
    oriented AS (
        SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.a < p.b)
                    THEN p.a ELSE p.b END AS src,
               CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.a < p.b)
                    THEN p.b ELSE p.a END AS dst
        FROM {src} p
        JOIN deg da ON p.a = da.node
        JOIN deg db ON p.b = db.node),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM oriented e1
        JOIN oriented e2 ON e1.dst = e2.src
        JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst)"""


def triangle_count_oracle_sql(pairs_cte: str) -> str:
    """DuckDB oracle: identical degree-oriented count. `pairs_cte` must
    define a CTE named `pairs` with unique undirected (a, b), a < b."""
    return f"""
    WITH {pairs_cte},{_triangle_ctes("pairs")}
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM pairs) AS n_edges,
           (SELECT n_triangles FROM tri) AS n_triangles
    """


def _edge_sample_bucket(salt: str):
    """Deterministic md5 bucket of an undirected edge (a, b) in [0, denom).

    Engine-independent (the same md5 hex prefix parses identically in
    Spark and DuckDB), so the sampled subgraph is a pure function of the
    data — two engines and two runs agree on the exact edge set, unlike
    rand()/TABLESAMPLE."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(salt),
                    F.col("a").cast("string"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")


def triangle_count_sampled(
    pairs: DataFrame, keep: int = 100, denom: int = 1000, salt: str = ""
) -> DataFrame:
    """DOULION edge-sampled triangle estimate (Tsourakakis et al., KDD'09
    "DOULION: counting triangles in massive graphs with a coin").

    Keep each undirected edge with probability p = keep/denom via a
    deterministic md5 bucket, count triangles exactly on the sampled
    subgraph with the same degree-oriented plan as `triangle_count`, and
    scale by 1/p^3 (each triangle survives with probability p^3, so the
    estimator is unbiased). At p = 0.1 the wedge join touches ~1% of the
    edge pairs the exact count does — this is the registered scale
    sibling for the exact count, the same contract ANN top-k has with its
    IVF path. The estimate's variance is the DOULION bound
    Var <= T(1/p^3 - 1) + 2k(1/p - 1) (k = triangle pairs sharing an
    edge); the error-bound contract is pinned by tests/test_graphalgo.py.

    Because the sampler is deterministic, the whole result — including
    the estimate — is exactly reproducible by the DuckDB oracle: this is
    a full value-hash query, not a rows-only one.

    Returns one row: n_edges_total, n_edges_sampled, n_triangles_sampled,
    est_triangles (all bigint).
    """
    if not 0 < keep <= denom:
        raise ValueError(f"keep must be in (0, {denom}], got {keep}")
    # the total is observed below the sampling filter, so triangle_count's
    # own checkpoint of the sample counts every input edge on the way
    total = Observation()
    sampled = pairs.observe(total, F.count(F.lit(1)).alias("n")).where(
        _edge_sample_bucket(salt) % denom < keep
    )
    base = triangle_count(sampled)
    scale = (denom / keep) ** 3
    return base.select(
        F.lit(total.get["n"]).cast("bigint").alias("n_edges_total"),
        F.col("n_edges").alias("n_edges_sampled"),
        F.col("n_triangles").alias("n_triangles_sampled"),
        F.round(F.col("n_triangles") * F.lit(scale))
        .cast("bigint")
        .alias("est_triangles"),
    )


def triangle_count_sampled_oracle_sql(
    pairs_cte: str, keep: int = 100, denom: int = 1000, salt: str = ""
) -> str:
    """DuckDB oracle: identical deterministic sample + degree-oriented
    count + 1/p^3 scale. `pairs_cte` must define a CTE named `pairs` with
    unique undirected (a, b), a < b."""
    return f"""
    WITH {pairs_cte},
    spairs AS (
        SELECT a, b FROM pairs
        WHERE ('0x' || substr(md5('{salt}' || '|' || CAST(a AS VARCHAR)
                                  || '|' || CAST(b AS VARCHAR)), 1, 8))::BIGINT
              % {denom} < {keep}),{_triangle_ctes("spairs")}
    SELECT (SELECT COUNT(*) FROM pairs) AS n_edges_total,
           (SELECT COUNT(*) FROM spairs) AS n_edges_sampled,
           (SELECT n_triangles FROM tri) AS n_triangles_sampled,
           CAST(ROUND((SELECT n_triangles FROM tri)
                      * POWER({denom} / CAST({keep} AS DOUBLE), 3)) AS BIGINT)
               AS est_triangles
    """


def cooccurrence_pairs(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """Per-group item pairs (a, b) with a < b — one output row per
    (group, pair) occurrence (callers dedupe or count as needed).

    Built as collect_set-per-group + a higher-order pair explode instead
    of the textbook self-join-on-group: one shuffle (the groupBy, with
    map-side partial collect_set) replaces the self-join's two shuffled
    sides, and no join ever materializes. Baskets are bounded (TPC-H
    orders hold <= 7 parts), so the in-row pair expansion is O(k²) on a
    tiny k — the plan-level win is removing a whole exchange of the big
    side. A 100 TB run with unbounded groups would cap items per group
    before the expansion (same hub-cap discipline as triangle_count's
    degree orientation).
    """
    grouped = df.groupBy(F.col(group_col).alias("g")).agg(
        F.array_sort(F.collect_set(F.col(item_col))).alias("items")
    )
    # for sorted items, all (items[i], items[j]) with i < j give a < b
    pair_structs = F.flatten(
        F.transform(
            "items",
            lambda x, i: F.transform(
                F.slice(
                    "items", i + 2, F.greatest(F.size("items") - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return grouped.select(
        F.col("g"), F.explode(pair_structs).alias("pr")
    ).select("g", F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))


def kcore_prune(pairs: DataFrame, k: int = 2, rounds: int = 3) -> DataFrame:
    """Bounded-round k-core peeling over an undirected edge list.

    `pairs` must hold unique undirected edges as (a, b) with a < b. Each
    round drops every node whose current degree is < k, then drops edges
    touching a dropped node; the fixed round count is the bounded-cost
    variant (full k-core = iterate to fixpoint). Returns (node, degree)
    for the surviving nodes with their degree in the surviving subgraph.

    Scale design: one round = one degree aggregate plus two left-semi
    joins, all keyed on node ids — no row ever carries more than (a, b).
    The edge set shrinks monotonically and each round is materialized
    (`eager_rounds`). Extension surface: the reference computes
    degree-style aggregates only (orion/answercoalesce_build.py:100-165).
    """

    def peel(e: DataFrame) -> DataFrame:
        keep = node_degrees(e).where(F.col("deg") >= k).select("node")
        return e.join(keep, e["a"] == keep["node"], "left_semi").join(
            keep, F.col("b") == keep["node"], "left_semi"
        )

    e = eager_rounds(
        pairs.select("a", "b").localCheckpoint(eager=True), peel, rounds
    )
    return node_degrees(e).withColumnRenamed("deg", "degree")


def kcore_oracle_sql(pairs_cte: str, k: int = 2, rounds: int = 3) -> str:
    """DuckDB oracle: identical peeling rounds as chained CTEs. `pairs_cte`
    must define a CTE named `pairs` with unique undirected (a, b), a < b."""
    chain = ["e0 AS (SELECT a, b FROM pairs)"]
    for r in range(1, rounds + 1):
        chain.append(f"""
    d{r} AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT a AS node FROM e{r - 1} UNION ALL SELECT b FROM e{r - 1})
        GROUP BY node),
    k{r} AS (SELECT node FROM d{r} WHERE deg >= {k}),
    e{r} AS (
        SELECT e.a, e.b FROM e{r - 1} e
        JOIN k{r} x ON e.a = x.node
        JOIN k{r} y ON e.b = y.node)""")
    return f"""
    WITH {pairs_cte},
    {",".join(chain)}
    SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds})
    GROUP BY node
    """


def _self_looped(edges: DataFrame, u: str, v: str) -> DataFrame:
    """(a, b): both directions of every (u, v) row plus one self-loop per
    endpoint, from one explode over one scan (not `undirected`: the
    self-loops must come from the same scan). The self-loops give every
    node its initial label and fold "least(own label, neighbour min)"
    into the neighbour min."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(u).alias("a"), F.col(v).alias("b")),
                F.struct(F.col(v).alias("a"), F.col(u).alias("b")),
                F.struct(F.col(u).alias("a"), F.col(u).alias("b")),
                F.struct(F.col(v).alias("a"), F.col(v).alias("b")),
            )
        ).alias("_e")
    ).select("_e.a", "_e.b")


def _own_labels(sym: DataFrame) -> DataFrame:
    """(id, label = id) per node: the self-loop rows of a distinct `sym`,
    by a narrow filter, without a distinct exchange."""
    return sym.where(F.col("a") == F.col("b")).select(
        F.col("a").alias("id"), F.col("a").alias("label")
    )


def _neighbour_labels(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """(id, label): each labelled node's label offered to each of its
    `sym` neighbours, itself included through its self-loop. `sym` is
    symmetric, so joining on `a` and keying the offers on `b` reaches
    the neighbours the mirrored form does, and a `sym` hash-partitioned
    on `a` joins without an exchange of its own."""
    return sym.join(labels, sym["a"] == labels["id"]).select(
        F.col("b").alias("id"), "label"
    )


def _min_label(rows: DataFrame) -> DataFrame:
    """(id, label): the min label offered to each id in `rows`."""
    return rows.groupBy("id").agg(F.min("label").alias("label"))


# Path halving needs O(diameter) rounds, not O(log diameter) (Kiveris et
# al., SoCC 2014): a shuffled-id 100-node path takes 57. The cap is a
# runaway guard above the 17 rounds the sf0.1 co-occurrence graph takes.
CC_MAX_ROUNDS = 64


class NullEndpointError(ValueError):
    """An edge to connect has a null endpoint; a null is no node id."""


def connected_components(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(id, label): every node of the undirected `(src, dst)` graph with
    the minimum node id of its connected component, run to the fixed
    point (at most `CC_MAX_ROUNDS` rounds, else `NotConverged`).

    Each round is `label_propagation_min`'s neighbour min followed by one
    path-halving hop, label <- label[label]; every label is a node id, so
    the hop always finds its row. The convergence probe is
    the label sum, which falls every round until the fixed point (labels
    never rise); decimal(38,0) keeps 1e9 labels of 1e18-scale ids from
    overflowing it. A null endpoint raises `NullEndpointError`.

    `sym` is checkpointed, not persisted pre-partitioned on `b`: with the
    hop's self-join, that layout measured 90 builder jobs against 60 on
    graph_connected_components at sf0.01."""
    n_null = Observation()
    sym = (
        _self_looped(edges, src, dst)
        .dropDuplicates()
        .observe(n_null, F.count(F.when(F.col("a").isNull(), 1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    if n_null.get["n"]:
        raise NullEndpointError(
            f"connected_components: {src}/{dst} holds null endpoints"
        )

    def step(labels: DataFrame) -> DataFrame:
        nbr = _min_label(_neighbour_labels(sym, labels))
        hop = nbr.select(F.col("id").alias("_h"), F.col("label").alias("_hl"))
        return nbr.join(hop, nbr["label"] == hop["_h"]).select(
            "id", F.col("_hl").alias("label")
        )

    return eager_rounds(
        _own_labels(sym), step, CC_MAX_ROUNDS,
        probe=F.sum(F.col("label").cast("decimal(38,0)")),
    )


def label_propagation_min(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Synchronous min-label propagation for a fixed round count: every
    node starts with its own id as label; each round takes the min of its
    label and its neighbors' labels. Deterministic (min is order-free), so
    the DuckDB oracle matches exactly — unlike classic randomized LPA.
    After enough rounds this converges to connected components; the fixed
    round count is the bounded-cost variant (k rounds = k shuffles).

    `edges` needs src/dst columns; the graph is treated as undirected.
    Returns (id, label) after `iterations` rounds; `iterations=0` returns
    the start labels (id, id), and a negative count raises ValueError.
    A null endpoint is no node: it labels no neighbour, and the null id
    (present when an edge has a null endpoint) keeps a null label.

    One lazy plan; the builder starts no job. `sym` holds both directions
    of every non-null pair plus one self-loop per non-null endpoint, and
    is hash-partitioned on `a` once: that exchange serves its dedup, round
    1 (every label is still its node's id, so a node's first label is the
    min of its `sym` neighbours, one group-by on `a`) and every later
    round's join on `a`, so a later round shuffles only its aggregate.
    The null id's row joins the last aggregate from the self-looped rows
    with a null `a`; that filter stays above the explode, so the read
    shares the edges' plan, and any exchange in it, with `sym`. Kept in
    `sym`, the row would take a join-inferred `isnotnull(a)` into some
    reads of `sym` and not others, and those reads would stop sharing
    its exchange.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    looped = _self_looped(edges, "src", "dst")
    sym = (
        looped.where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .repartition("a")
        .dropDuplicates()
    )
    null = F.lit(None).cast(sym.schema["a"].dataType)
    null_id = looped.where(F.col("a").isNull()).select(
        null.alias("id"), null.alias("label")
    )
    if iterations == 0:
        rows = _own_labels(sym)
    else:
        rows = sym.select(F.col("a").alias("id"), F.col("b").alias("label"))
        for _ in range(iterations - 1):
            rows = _neighbour_labels(sym, _min_label(rows))
    return _min_label(rows.unionByName(null_id))


def label_propagation_oracle_sql(edges_cte: str, iterations: int = 3) -> str:
    """DuckDB oracle: the identical rounds as chained CTEs. `edges_cte`
    must define a CTE named `lp_edges` with src/dst columns."""
    chain = [f"""
    sym AS (
        SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM lp_edges
            UNION ALL SELECT dst AS a, src AS b FROM lp_edges)),
    lp0 AS (SELECT DISTINCT a AS id, a AS label FROM sym)"""]
    for i in range(1, iterations + 1):
        chain.append(f"""
    lp{i} AS (
        SELECT n.id,
               LEAST(n.label, COALESCE(m.minlab, n.label)) AS label
        FROM lp{i - 1} n LEFT JOIN (
            SELECT e.a AS id, MIN(l.label) AS minlab
            FROM sym e JOIN lp{i - 1} l ON e.b = l.id GROUP BY e.a) m
        ON n.id = m.id)""")
    return f"""
    WITH {edges_cte},{",".join(chain)}
    SELECT id, label FROM lp{iterations}
    """


def bfs_distances(edges: DataFrame, seeds: DataFrame, max_hops: int = 3) -> DataFrame:
    """Bounded-hop BFS: hop distance from a seed set over an undirected
    graph, the relational encoding of ORION's neighborhood expansion
    (reference walks adjacency imperatively; here each hop is one
    join+min-aggregate round, so k hops = k shuffles on a cluster).

    `edges` needs src/dst columns, `seeds` a single `id` column. Returns
    (id, dist) for every node within `max_hops` of a seed — unreached
    nodes are absent, matching the oracle's frontier semantics. Distances
    are min-combined per round, so revisiting a node through a longer
    path never raises its distance. The symmetrized edge list is
    persisted pre-partitioned on the join key (shuffled once, reused
    every round); the rounds are eager (`eager_rounds`).
    """
    sym = (
        undirected(edges, "src", "dst", "a", "b")
        .distinct()
        .repartition("b")
        # persist + unpersist-after-loop: the cached InMemoryRelation
        # keeps the hashpartitioning(b) metadata, so each round's join
        # shuffles only the small side (a localCheckpoint's scan drops
        # it), and the eager rounds are the actions that make the final
        # unpersist safe
        .persist()
    )

    def hop(dist: DataFrame) -> DataFrame:
        expanded = sym.join(dist, sym["b"] == dist["id"]).select(
            F.col("a").alias("id"), (F.col("dist") + 1).alias("dist")
        )
        return dist.unionAll(expanded).groupBy("id").agg(F.min("dist").alias("dist"))

    dist0 = seeds.select(F.col("id")).distinct().withColumn("dist", F.lit(0))
    dist = eager_rounds(dist0, hop, max_hops)
    sym.unpersist()
    return dist


def bfs_oracle_sql(edges_cte: str, seeds_sql: str, max_hops: int = 3) -> str:
    """DuckDB oracle: the identical BFS rounds as chained CTEs.
    `edges_cte` must define a CTE named `bfs_edges` with src/dst columns;
    `seeds_sql` is a SELECT yielding one `id` column."""
    chain = [f"""
    sym AS (
        SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM bfs_edges
            UNION ALL SELECT dst AS a, src AS b FROM bfs_edges)),
    d0 AS (SELECT DISTINCT id, 0 AS dist FROM ({seeds_sql}))"""]
    for i in range(1, max_hops + 1):
        chain.append(f"""
    d{i} AS (
        SELECT id, MIN(dist) AS dist FROM (
            SELECT id, dist FROM d{i - 1}
            UNION ALL
            SELECT e.a AS id, d.dist + 1 AS dist
            FROM sym e JOIN d{i - 1} d ON e.b = d.id)
        GROUP BY id)""")
    return f"""
    WITH {edges_cte},{",".join(chain)}
    SELECT id, dist FROM d{max_hops}
    """


def ktruss_prune(pairs: DataFrame, k: int = 3, rounds: int = 2) -> DataFrame:
    """Bounded-round k-truss peeling over an undirected edge list: each
    round computes per-edge support (# triangles through the edge, i.e.
    common neighbors of its endpoints) and drops edges with support
    < k-2; the fixed round count is the bounded-cost variant (full
    k-truss iterates to fixpoint). `pairs` must hold unique undirected
    edges (a, b), a < b. Returns the surviving edges with their support
    in the surviving subgraph.

    Scale design: support reads `_intersect` over the edges in their
    a < b order, so each triangle is found once and credited to its three
    edges; the edge set shrinks monotonically and each round is
    materialized (`eager_rounds`). Completes the cohesive-subgraph family
    next to kcore_prune. Extension surface: the reference computes
    degree-style aggregates only (orion/answercoalesce_build.py:100-165)."""

    def edge(u: str, v: str) -> Column:
        return F.struct(F.col(u).alias("u"), F.col(v).alias("v"))

    def support(e: DataFrame) -> DataFrame:
        tri = _intersect(
            e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        ).select("src", "dst", F.explode("_common").alias("w"))
        # the triangle src < dst < w credits each of its three edges
        counts = (
            tri.select(F.explode(F.array(
                edge("src", "dst"), edge("src", "w"), edge("dst", "w")
            )).alias("_e"))
            .groupBy("_e.u", "_e.v")
            .agg(F.count("*").alias("support"))
        )
        return e.join(
            counts, (e["a"] == counts["u"]) & (e["b"] == counts["v"]), "left"
        ).select(
            "a",
            "b",
            F.coalesce(F.col("support"), F.lit(0)).cast("bigint").alias("support"),
        )

    e = eager_rounds(
        pairs.select("a", "b").localCheckpoint(eager=True),
        lambda e: support(e).where(F.col("support") >= k - 2).select("a", "b"),
        rounds,
    )
    return support(e)


def ktruss_oracle_sql(pairs_cte: str, k: int = 3, rounds: int = 2) -> str:
    """DuckDB oracle: identical peeling rounds as chained CTEs. `pairs_cte`
    must define a CTE named `pairs` with unique undirected (a, b), a < b."""

    def sup(src: str, out: str) -> str:
        return f"""
    sym_{out} AS (SELECT a AS src, b AS dst FROM {src}
                  UNION ALL SELECT b, a FROM {src}),
    cn_{out} AS (
        SELECT s1.src AS u, s2.src AS v, COUNT(*) AS support
        FROM sym_{out} s1 JOIN sym_{out} s2
          ON s1.dst = s2.dst AND s1.src < s2.src
        GROUP BY s1.src, s2.src),
    {out} AS (
        SELECT e.a, e.b, CAST(COALESCE(c.support, 0) AS BIGINT) AS support
        FROM {src} e LEFT JOIN cn_{out} c ON e.a = c.u AND e.b = c.v)"""

    chain = ["e0 AS (SELECT a, b FROM pairs)"]
    for r in range(1, rounds + 1):
        chain.append(sup(f"e{r - 1}", f"s{r}"))
        chain.append(
            f"e{r} AS (SELECT a, b FROM s{r} WHERE support >= {k - 2})"
        )
    chain.append(sup(f"e{rounds}", "final"))
    return f"""
    WITH {pairs_cte},
    {",".join(chain)}
    SELECT a, b, support FROM final
    """


WALK_RANK_BUCKETS = 64
# srcs above this out-degree take the two-level (bucketed) ranking path;
# at or below it, one window partition per src is bounded and cheap.
# 8192 < the skewgraph hub's 50k spokes at sf0.1, so the registered skew
# query exercises the hub path in every sweep.
WALK_HUB_DEGREE_THRESHOLD = 8192


def random_walks(
    edges: DataFrame,
    walk_length: int = 4,
    seed: int = 42,
    starts: DataFrame | None = None,
    hub_degree_threshold: int = WALK_HUB_DEGREE_THRESHOLD,
    assume_distinct: bool = False,
) -> DataFrame:
    """Deterministic random-walk corpus generation — the sampling pass of
    DeepWalk/node2vec-style graph-embedding training, made fully
    value-checkable cross-engine by replacing RNG with a keyed hash: at
    step t, walk w moves from node u to neighbor with index
    md5(w, t, seed) mod outdeg(u), neighbors ranked by
    (md5-bucket(dst), dst) within each src. Same "derandomize with a
    hash, unroll the rounds in SQL" treatment as the deterministic IVF
    and the BPE trainer.

    `edges` needs src/dst (directed; symmetrize first for undirected
    walks). `starts` defaults to every distinct src; one walk per start,
    walk_id = start node. A walk reaching a node with no out-edges
    simply ends (inner join), mirroring DeepWalk's early termination.

    Scale shape (round 12, guide §1.2/§2.4 — revised after profiling):
    the adjacency is held as per-src neighbor ARRAYS sorted by
    (md5-bucket-of-dst, dst) — the identical deterministic order the
    DuckDB oracle replays bit-for-bit — with the rank implicit in array
    POSITION instead of a row_number window. Each adjacency row is
    (src, _dsts, _off, _outdeg):

    - srcs with outdeg ≤ `hub_degree_threshold` hold their WHOLE sorted
      neighbor list in one row (_off = 0, _outdeg = size): the
      collect_list buffer is bounded by the gate, and no window runs at
      all on this path.
    - srcs above the threshold (true power-law hubs — the skewgraph
      fixture's hub 0 owns N/2 spokes) split into one row per md5
      bucket (≤ `WALK_RANK_BUCKETS` rows per hub, each array bounded at the
      bucket size), re-based to the global 0..outdeg-1 index by a
      cumulative bucket-size offset window (≤ WALK_RANK_BUCKETS rows per
      src, bounded by construction).

    The gate itself is a partial-aggregatable degree count and a
    broadcast semi/anti split (hubs ≤ |edges|/threshold rows — tiny by
    construction).

    Why arrays beat the round-11 ranked row-per-edge table (profiled at
    sf0.1): every step joined the frontier against TWO persisted tables
    — the degree table (for the pick modulus) and the |E|-row ranked
    adjacency — so each of the walk_length steps re-scanned |E| + |V|
    cached rows; the array layout carries _outdeg in the adjacency row
    itself, so each step is ONE join against a ~|V|-row table (same
    total elements, |E|-|V| fewer row headers to deserialize per scan),
    the (pick == _idx) equality probe becomes an O(1) element_at, and
    the row_number window machinery disappears from the build. Walks
    are identical: position in the (bucket, dst)-sorted array IS the
    round-11 rank.

    The adjacency is built once and persisted pre-partitioned on the
    join key; each of the `walk_length` rounds then shuffles only the
    walk frontier (|starts| rows) against it — bfs_distances' reuse
    discipline. k steps = k bounded frontier joins, no per-round
    growth.

    Returns (walk_id, step, node) with step 0 = the start node.
    """
    from pyspark.sql import Window

    bkt = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("dst").cast("string")), 1, 15), 16, 10
        ).cast("bigint"),
        F.lit(WALK_RANK_BUCKETS),
    )
    # base feeds the degree gate plus the adjacency branch(es) — persist
    # it so the edge scan + distinct shuffle runs once, not once per
    # branch. `assume_distinct=True` (round 11, guide §2.4: a `distinct`
    # on data that is already unique is an accidental exchange) lets
    # callers whose edge list is distinct BY CONSTRUCTION skip the
    # dedup — a full exchange + hash aggregate over the largest table in
    # the walk build. Ranks, and therefore walks, are identical on
    # distinct input either way.
    base = edges.select("src", "dst")
    if not assume_distinct:
        base = base.distinct()
    base = base.withColumn("_bkt", bkt).persist()
    # the degree aggregate exists only for the hub gate now: the
    # per-step pick modulus reads _outdeg from the adjacency row itself
    degs = base.groupBy("src").agg(F.count(F.lit(1)).alias("_deg")).persist()
    hubs = degs.where(F.col("_deg") > hub_degree_threshold).select(
        F.col("src").alias("_hsrc")
    )

    def _whole_src_rows(df: DataFrame) -> DataFrame:
        # one row per src: neighbors sorted by (bucket, dst) — struct
        # array_sort compares field by field, exactly the old window's
        # ORDER BY _bkt, dst — with the global rank as array position
        return (
            df.groupBy("src")
            .agg(
                F.array_sort(F.collect_list(F.struct("_bkt", "dst"))).alias(
                    "_sd"
                )
            )
            .select(
                "src",
                F.transform("_sd", lambda s: s["dst"]).alias("_dsts"),
                F.lit(0).cast("bigint").alias("_off"),
                F.size("_sd").cast("bigint").alias("_outdeg"),
            )
        )

    # degree-gate short circuit (round 11): when NO src exceeds the hub
    # threshold — every KGX-derived graph at every measured sf point —
    # the hub branch, its anti/semi splits, the union, and the union's
    # repartition exchange are all dead weight that AQE still
    # materializes as query stages. Probe the gate once (degs is
    # persisted and the probe materializes base). n_parts sizes the
    # cached layouts on the edge count (array payload bytes track
    # elements, not rows — see _cached_join_parts); the count is a
    # near-free cached scan after the probe.
    #
    # Round 12 (measured A/B, same session interleaved): the adjacency
    # groupBy is REPARTITIONED on src FIRST so the exchange carries raw
    # (src, dst, _bkt) rows and the collect_list runs as one
    # exchange-free aggregate above hashpartitioning(src) — the default
    # two-phase plan serializes every partially-collected object-agg
    # array buffer through the shuffle for zero reduction (collect_list
    # partials ship every element anyway): adjacency build 1.82 s ->
    # 1.56 s warm on the string graph, 1.28 -> 1.11 s on the int-keyed
    # dedup variant. Same exchange count (one), cached partitioning
    # identical (hashpartitioning(src, n_parts)).
    n_edges = base.count()
    n_parts = _cached_join_parts(base, n_edges)
    rep = base.repartition(n_parts, "src")
    if hubs.isEmpty():
        adj = _whole_src_rows(rep).persist()
    else:
        # broadcast semi/anti splits preserve the streamed side's
        # hashpartitioning(src), so both branch aggregates and the hub
        # offset window stay exchange-free too
        reg = rep.join(
            F.broadcast(hubs), F.col("src") == F.col("_hsrc"), "left_anti"
        )
        hub = rep.join(
            F.broadcast(hubs), F.col("src") == F.col("_hsrc"), "left_semi"
        )
        # hub path: one row per (src, md5 bucket), each array bounded at
        # the bucket size; the cumulative bucket-size offsets re-base
        # positions to the global rank. Both window frames share one
        # (partitionBy src, orderBy _bkt) spec — ≤ WALK_RANK_BUCKETS rows per
        # partition by construction — so one sort computes offset AND
        # out-degree total.
        # collect (_bkt, dst) structs like the whole-src path: a struct is
        # never null, so a null dst is kept here too (a bare
        # collect_list("dst") would drop it and shift every rank after it)
        wb = Window.partitionBy("src").orderBy("_bkt")
        hb = hub.groupBy("src", "_bkt").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_bkt", "dst"))),
                lambda s: s["dst"],
            ).alias("_dsts")
        )
        hub_adj = hb.select(
            "src",
            "_dsts",
            F.coalesce(
                F.sum(F.size("_dsts")).over(
                    wb.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("bigint").alias("_off"),
            F.sum(F.size("_dsts")).over(
                wb.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).cast("bigint").alias("_outdeg"),
        )
        adj = (
            _whole_src_rows(reg)
            .unionByName(hub_adj)
            .repartition(n_parts, "src")
            .persist()
        )
    if starts is None:
        starts = adj.select("src").distinct()
    frontier = starts.select(
        F.col("src").cast("string").alias("walk_id"),
        F.col("src").alias("_cur"),
    )
    out = frontier.select(
        "walk_id", F.lit(0).alias("step"), F.col("_cur").alias("node")
    )
    # each step's frontier is read twice (next step, output union): a
    # lazy persist per step and one checkpoint of the union compute every
    # step once in a single job; all persists are released below.
    # Measured against eager steps: OPTIMIZATION_r11.md, "graph_walk_skipgrams".
    step_caches = []
    for t in range(1, walk_length + 1):
        pick = F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", F.col("walk_id"),
                            F.lit(str(t)), F.lit(str(seed)),
                        )
                    ),
                    1, 15,
                ),
                16, 10,
            ).cast("bigint"),
            F.col("a._outdeg"),
        )
        # alias-qualified join: frontier's _cur carries adj-derived
        # attribute ids from the previous round, so unqualified refs are
        # ambiguous against adj's own columns. ONE join per step: the
        # pick modulus reads _outdeg from the matched adjacency row, the
        # offset filter selects exactly one row per (frontier, hub) pair
        # (trivially true for whole-src rows, where _off = 0 and
        # pick < outdeg = size), and element_at reads the picked
        # neighbor at O(1).
        frontier = (
            frontier.alias("f")
            .join(adj.alias("a"), F.col("f._cur") == F.col("a.src"))
            .withColumn("_pick", pick)
            .where(
                (F.col("_pick") >= F.col("a._off"))
                & (F.col("_pick") < F.col("a._off") + F.size("a._dsts"))
            )
            .select(
                "f.walk_id",
                F.element_at(
                    "a._dsts",
                    (F.col("_pick") - F.col("a._off") + 1).cast("int"),
                ).alias("_cur"),
            )
            .persist()
        )
        step_caches.append(frontier)
        out = out.unionByName(
            frontier.select(
                "walk_id", F.lit(t).alias("step"), F.col("_cur").alias("node")
            )
        )
    # the 5-frame union inherits the SUM of its children's partition
    # counts (measured: a 160-near-empty-task materialization job);
    # narrow-coalesce it to the adjacency layout before the checkpoint —
    # no shuffle, and every downstream consumer reads n_parts partitions
    out = out.coalesce(n_parts).localCheckpoint(eager=True)
    for f in step_caches:
        f.unpersist()
    adj.unpersist()
    degs.unpersist()
    base.unpersist()
    return out


def random_walks_oracle_sql(
    edges_cte: str, walk_length: int = 4, seed: int = 42,
    starts_sql: str | None = None,
) -> str:
    """DuckDB ground truth: identical ranked adjacency (the two-level
    (md5-bucket, dst) neighbor order, expressed flat — the oracle does
    not need the hub-splitting shape, only its exact order), hash pick
    and unrolled steps. `edges_cte` must define a CTE `edges` with
    src/dst; `starts_sql` a query yielding a `src` column (defaults to
    all srcs)."""
    starts = starts_sql or "SELECT DISTINCT src FROM adj"
    ctes = [f"""{edges_cte},
    adj AS (
        SELECT src, dst,
               ROW_NUMBER() OVER (
                   PARTITION BY src
                   ORDER BY ('0x' || substr(md5(dst::VARCHAR), 1, 15))::BIGINT
                            % {WALK_RANK_BUCKETS},
                            dst) - 1 AS idx
        FROM (SELECT DISTINCT src, dst FROM edges)),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM adj GROUP BY src),
    f0 AS (SELECT CAST(src AS VARCHAR) AS walk_id, src AS cur
           FROM ({starts}))"""]
    for t in range(1, walk_length + 1):
        ctes.append(f"""
    f{t} AS (
        SELECT f.walk_id, a.dst AS cur
        FROM f{t - 1} f
        JOIN deg d ON f.cur = d.src
        JOIN adj a ON f.cur = a.src
                  AND a.idx = ('0x' || substr(md5(f.walk_id || '|{t}|{seed}'),
                                              1, 15))::BIGINT % d.outdeg)""")
    finals = " UNION ALL ".join(
        f"SELECT walk_id, {t} AS step, cur AS node FROM f{t}"
        for t in range(0, walk_length + 1)
    )
    return f"WITH {','.join(ctes)} {finals}"


def walk_skipgrams(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram (center, context) pair extraction over walk sequences —
    the step between random_walks and an embedding trainer: every
    ordered pair of nodes within `window` steps of each other on the
    same walk, weighted by occurrence count.

    Round 12 (guide §2.4, the cooccurrence_pairs discipline): one
    groupBy(walk_id) collects each walk's (step, node) rows — bounded at
    walk_length+1 elements per group by construction — and the pair
    enumeration runs IN-ROW as a higher-order transform/filter/flatten
    before the count aggregate. The previous self-join on walk_id
    shuffled the walk table twice (both join sides) plus once for the
    count; this shuffles it once plus the count — same pairs, same
    counts (the join enumerated exactly the row pairs the in-row filter
    enumerates over the collected array). Returns
    (center, context, pair_count)."""
    grouped = walks.groupBy("walk_id").agg(
        F.collect_list(F.struct("step", "node")).alias("_sn")
    )
    pairs = F.flatten(
        F.transform(
            "_sn",
            lambda x: F.transform(
                F.filter(
                    "_sn",
                    lambda y: (y["step"] != x["step"])
                    & (F.abs(x["step"] - y["step"]) <= window),
                ),
                lambda y: F.struct(
                    x["node"].alias("center"), y["node"].alias("context")
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("_p"))
        .groupBy(
            F.col("_p.center").alias("center"),
            F.col("_p.context").alias("context"),
        )
        .agg(F.count("*").cast("bigint").alias("pair_count"))
    )


def walk_skipgrams_oracle_sql(walks_sql: str, window: int = 2) -> str:
    """DuckDB ground truth over the same walks query (`walks_sql` must
    yield walk_id, step, node)."""
    return f"""
    WITH walks AS ({walks_sql})
    SELECT x.node AS center, y.node AS context,
           CAST(COUNT(*) AS BIGINT) AS pair_count
    FROM walks x JOIN walks y
      ON x.walk_id = y.walk_id
     AND abs(x.step - y.step) <= {window}
     AND x.step <> y.step
    GROUP BY x.node, y.node
    """


def adamic_adar(
    pairs: DataFrame,
    min_common: int = 2,
    topk: int | None = None,
    max_degree: int | None = None,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected edge list (a, b)
    with a < b: for every NON-adjacent node pair sharing >= min_common
    neighbors, AA(a,b) = sum over common neighbors w of 1/ln(deg(w)).
    Common neighbors have deg >= 2 by construction, so ln(deg) > 0.

    Determinism contract: the float sum folds contributions in
    ascending-common-neighbor order on both engines (the same
    sorted-fold trick as the BM25 scorer), then rounds to 6 decimals —
    so the oracle hash-matches despite per-group addition-order freedom.

    Scale shape: one symmetric-edge shuffle feeds both the degree
    aggregate (|V| rows, broadcast into the wedge) and the wedge
    self-join keyed on the shared neighbor; the anti-join against the
    existing edge list is key-hashed on (a, b).

    Hub-cap discipline, same knob family as triangle_count's DOULION
    sibling: with `max_degree` set, nodes whose degree exceeds it are
    excluded as wedge CENTERS (shared-neighbor role) before the
    self-join, bounding per-key fan-out at max_degree^2. Hubs barely
    matter to the score anyway (their contribution is 1/ln(deg) -> 0 as
    deg grows), but uncapped they drive a quadratic hot-key join —
    measured 12.8x wall at 10x data on the sf10 clone-densified graph.
    Excluded centers still count toward every node's TRUE degree: the
    1/ln(d) term of surviving centers is unchanged, so capped semantics
    are exact (and exactly oracle-able) on the capped wedge set."""
    sym = undirected(pairs, "a", "b", "u", "w").localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("w").alias("_n")).agg(F.count("*").alias("d"))
    centers = deg if max_degree is None else deg.where(
        F.col("d") <= max_degree
    )
    base = sym.join(F.broadcast(centers), F.col("w") == F.col("_n")).select(
        "u", "w", "d"
    )
    e1 = base.select(F.col("u").alias("a"), "w", "d")
    e2 = base.select(F.col("u").alias("b"), F.col("w").alias("w2"))
    wedge = (
        e1.join(e2, (e1["w"] == e2["w2"]) & (e1["a"] < e2["b"]))
        .select("a", "b", "w", (F.lit(1.0) / F.log(F.col("d"))).alias("c"))
    )
    scored = (
        wedge.groupBy("a", "b")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("w", "c"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["c"],
                ),
                6,
            ).alias("adamic_adar"),
        )
        .where(F.col("common_neighbors") >= min_common)
    )
    predicted = scored.join(pairs.select("a", "b"), ["a", "b"], "left_anti")
    out = predicted.select(
        "a", "b",
        F.col("common_neighbors").cast("bigint").alias("common_neighbors"),
        "adamic_adar",
    )
    if topk is not None:
        out = out.orderBy(
            F.desc("adamic_adar"), F.asc("a"), F.asc("b")
        ).limit(topk)
    return out


def adamic_adar_oracle_sql(
    pairs_cte: str,
    min_common: int = 2,
    topk: int | None = None,
    max_degree: int | None = None,
) -> str:
    """DuckDB mirror: same wedge join, in-order list_sum fold over the
    neighbor-sorted contributions, same rounding/anti-join; max_degree
    mirrors the engine's hub-center cap (wedge centers only, true
    degree kept in the 1/ln(d) term)."""
    limit = (
        f"ORDER BY adamic_adar DESC, a, b LIMIT {topk}" if topk is not None else ""
    )
    cap = f"WHERE deg.d <= {max_degree}" if max_degree is not None else ""
    return f"""
    WITH pairs AS ({pairs_cte}),
    sym AS (SELECT a AS u, b AS w FROM pairs
            UNION ALL SELECT b AS u, a AS w FROM pairs),
    deg AS (SELECT w AS n, COUNT(*) AS d FROM sym GROUP BY w),
    wedge AS (
        SELECT e1.u AS a, e2.u AS b, e1.w, 1.0 / ln(deg.d) AS c
        FROM sym e1
        JOIN sym e2 ON e1.w = e2.w AND e1.u < e2.u
        JOIN deg ON e1.w = deg.n
        {cap}),
    scored AS (
        SELECT a, b, COUNT(*) AS common_neighbors,
               ROUND(list_sum(list(c ORDER BY w)), 6) AS adamic_adar
        FROM wedge GROUP BY a, b
        HAVING COUNT(*) >= {min_common}),
    predicted AS (
        SELECT s.* FROM scored s
        WHERE NOT EXISTS (SELECT 1 FROM pairs p
                          WHERE p.a = s.a AND p.b = s.b))
    SELECT a, b, CAST(common_neighbors AS BIGINT) AS common_neighbors,
           adamic_adar
    FROM predicted {limit}
    """
