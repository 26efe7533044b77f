"""Graph analytics / QC operators (SURVEY §2.3 A7-A12, §2.4 J6).

Each reference scan-and-count pass (orion/kgx_validation.py:44-204,
orion/meta_kg.py:50-187, orion/answercoalesce_build.py:57-165) becomes a
single declarative groupBy/agg plan. Where the reference re-reads the file
per statistic, Spark computes several aggregates in one shuffle, and all of
them are partial-aggregatable (map-side combine) so they scale linearly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orion_spark.model import NODE_ID, OBJECT, PREDICATE, SUBJECT, first_category


# ---------------------------------------------------------------------------
# A9: QC aggregations (orion/kgx_validation.py:44-204)
# ---------------------------------------------------------------------------

MISSING_PRIMARY_KNOWLEDGE_SOURCE = "missing_primary_knowledge_source"


def _curie_prefix() -> Column:
    return F.split(F.col(NODE_ID), ":").getItem(0)


def curie_prefix_counts(nodes: DataFrame) -> DataFrame:
    """Node-id CURIE prefix histogram."""
    return (
        nodes.select(_curie_prefix().alias("prefix"))
        .groupBy("prefix")
        .agg(F.count("*").alias("n"))
    )


def predicate_counts(edges: DataFrame) -> DataFrame:
    """Edge count per predicate."""
    return edges.groupBy(PREDICATE).agg(F.count("*").alias("n"))


def _null(type_: str) -> Column:
    return F.lit(None).cast(type_)


def sidecar_census(
    nodes: DataFrame, edges: DataFrame, spo_categories: list[str] | None = None
) -> DataFrame:
    """The metadata sidecars' whole-graph scans as ONE aggregate, so the
    sidecars cost one Spark action. Each input row is tagged with its
    `side` and key, the tagged rows union, and one vocabulary-sized
    count (`n`) groups them by (side, key, subkey, aggregators, types,
    scode, ocode):

    - "node" rows, keyed (CURIE prefix, first category as subkey, the
      category list as types): the prefix histogram, the node count,
      the first-category vocabulary and the categories node-type
      validation checks;
    - "edge" rows, keyed (predicate, primary source as subkey — null
      becomes ``missing_primary_knowledge_source``, the validation
      default —, aggregator list): the predicate histogram, the edge
      count and the knowledge-source set;
    - with `spo_categories` (the sorted first-category vocabulary),
      "spo" rows, keyed (predicate, subject code, object code): the
      spo-type census of `spo_codes` — its broadcast node map is
      planned from the vocabulary, so planning starts no job.

    A plain count, partial-aggregated map-side, so the only shuffle is
    the one aggregate's and it carries one row per key. Unused key
    columns are null."""
    n = nodes.select(
        F.lit("node").alias("side"),
        _curie_prefix().alias("key"),
        first_category(nodes).alias("subkey"),
        _null("array<string>").alias("aggregators"),
        _null("int").alias("scode"),
        _null("int").alias("ocode"),
        (F.col("category") if "category" in nodes.columns
         else _null("array<string>")).alias("types"),
    )
    e = edges.select(
        F.lit("edge").alias("side"),
        F.col(PREDICATE).alias("key"),
        F.coalesce(F.col("primary_knowledge_source"),
                   F.lit(MISSING_PRIMARY_KNOWLEDGE_SOURCE)).alias("subkey"),
        (F.col("aggregator_knowledge_source")
         if "aggregator_knowledge_source" in edges.columns
         else _null("array<string>")).alias("aggregators"),
        _null("int").alias("scode"),
        _null("int").alias("ocode"),
        _null("array<string>").alias("types"),
    )
    rows = n.unionByName(e)
    if spo_categories is not None:
        rows = rows.unionByName(
            spo_codes(edges, nodes, spo_categories).select(
                F.lit("spo").alias("side"),
                F.col(PREDICATE).alias("key"),
                _null("string").alias("subkey"),
                _null("array<string>").alias("aggregators"),
                F.col("_scode").alias("scode"),
                F.col("_ocode").alias("ocode"),
                _null("array<string>").alias("types"),
            )
        )
    return rows.groupBy(
        "side", "key", "subkey", "aggregators", "types", "scode", "ocode"
    ).agg(F.count("*").alias("n"))


def publications_per_predicate(edges: DataFrame) -> DataFrame:
    """Total publication references per predicate
    (orion/kgx_validation.py publications tally)."""
    return edges.groupBy(PREDICATE).agg(
        F.sum(
            F.when(F.col("publications").isNotNull(), F.size("publications")).otherwise(0)
        ).alias("n_publications")
    )


SPO_BROADCAST_MAX_NODES = 32_000_000


def _code_maps(vocab: list) -> tuple[Column, Column]:
    """Literal maps value -> code and code -> value of a vocabulary."""
    if not vocab:
        return (F.create_map().cast("map<string,int>"),
                F.create_map().cast("map<int,string>"))
    return (F.create_map(*[F.lit(x) for i, v in enumerate(vocab) for x in (v, i)]),
            F.create_map(*[F.lit(x) for i, v in enumerate(vocab) for x in (i, v)]))


def _join_endpoints(
    edges: DataFrame, nodes: DataFrame, value: str, subject_as: str,
    object_as: str,
) -> DataFrame:
    """Inner-join `edges` to the (`_cid`, `value`) node frame on both
    endpoints, naming the subject's value `subject_as` and the object's
    `object_as`. The renames come after each join, so both joins read
    the same frame: one exchange (or broadcast) is built and the second
    join reuses it (`ReusedExchange`)."""
    j = (edges.join(nodes, edges[SUBJECT] == F.col("_cid"), "inner")
         .withColumnRenamed(value, subject_as).drop("_cid"))
    return (j.join(nodes, j[OBJECT] == F.col("_cid"), "inner")
            .withColumnRenamed(value, object_as).drop("_cid"))


def spo_codes(
    edges: DataFrame, nodes: DataFrame, categories: list[str],
    predicate: Column | None = None, broadcast: bool = True,
) -> DataFrame:
    """(_scode, predicate, _ocode) per edge whose endpoints are both
    nodes: the endpoints' first categories as their index in the sorted
    vocabulary `categories` (null for a category outside it or a node
    without one). The node map is the compact (id, int code) frame,
    broadcast unless `broadcast` is off; `predicate` replaces the
    predicate column (the slim path's dictionary code)."""
    code_of, _ = _code_maps(categories)
    cat = nodes.select(
        F.col(NODE_ID).alias("_cid"),
        F.element_at(code_of, first_category(nodes)).alias("_ccode"),
    )
    if broadcast:
        cat = F.broadcast(cat)
    e = edges.select(SUBJECT, OBJECT,
                     PREDICATE if predicate is None else predicate)
    return _join_endpoints(e, cat, "_ccode", "_scode", "_ocode").drop(
        SUBJECT, OBJECT)


def spo_type_counts(
    edges: DataFrame,
    nodes: DataFrame,
    n_nodes: int | None = None,
    broadcast_max_nodes: int = SPO_BROADCAST_MAX_NODES,
    categories: list[str] | None = None,
) -> DataFrame:
    """J6 + A9: (subject-category, predicate, object-category) triple counts.

    Scale strategy (the r6 sf10 stage metrics showed this census paying
    ~3.6 GB of shuffle — most of the metadata_sidecars phase — when the
    endpoint joins sort-merge): the category vocabulary is bounded (the
    biolink model), so categories are dictionary-encoded through a
    broadcast literal map before anything shuffles. The node->category
    relation is the only graph-sized dimension; KG node sets run 1e6-1e8
    while edge sets run 1e8-1e10, so when the node count is within
    `broadcast_max_nodes` the compact (id, int-code) map is BROADCAST to
    both endpoint joins (`spo_codes`) and the edge set never shuffles at
    all. Above the cap, a slim sort-merge path ships only (subject,
    object, int codes) — roughly half the bytes of joining raw
    category/predicate strings. Exact either way. Callers that already
    hold the node count and the first-category vocabulary pass them and
    skip the count and distinct-collect jobs; null vocabulary entries
    are ignored. The metadata sidecars fold the broadcast path into
    their one census aggregate (`sidecar_census`).
    """
    if categories is None:
        categories = [
            r[0] for r in nodes.select(first_category(nodes)).distinct().collect()
        ]
    cat_vocab = sorted(c for c in categories if c is not None)
    _, name_of = _code_maps(cat_vocab)
    if n_nodes is None:
        n_nodes = nodes.count()
    if n_nodes <= broadcast_max_nodes:
        pkey, pname = PREDICATE, F.col(PREDICATE)
        codes = spo_codes(edges, nodes, cat_vocab)
    else:
        # slim shuffle path: predicate dictionary-encoded too (vocab-sized
        # collect), so the two sort-merge joins ship int codes + id strings
        pred_vocab = sorted(
            r[0] for r in edges.select(PREDICATE).distinct().collect()
            if r[0] is not None
        )
        pcode_of, pname_of = _code_maps(pred_vocab)
        pkey, pname = "_pcode", F.element_at(pname_of, F.col("_pcode"))
        codes = spo_codes(
            edges, nodes, cat_vocab,
            F.element_at(pcode_of, F.col(PREDICATE)).alias("_pcode"),
            broadcast=False,
        )
    grouped = codes.groupBy("_scode", pkey, "_ocode").agg(F.count("*").alias("n"))
    return grouped.select(
        F.element_at(name_of, F.col("_scode")).alias("subject_category"),
        pname.alias(PREDICATE),
        F.element_at(name_of, F.col("_ocode")).alias("object_category"),
        "n",
    )


def knowledge_source_breakdown(edges: DataFrame) -> DataFrame:
    """Per (aggregator-set, primary-source): edge count + distinct node count
    (orion/kgx_validation.py:120-204).

    The distinct-node census runs as explode -> two-phase count_distinct
    instead of collect_list'ing every (subject, object) pair through the
    shuffle: collect_list partials ARE the full lists (no map-side
    collapse — at sf10 this was most of the sidecar phase's shuffle when
    an aggregator column is present), while partial-distinct collapses
    repeated nodes inside each map partition before anything ships. Same
    exact result (count_distinct ignores NULLs, as does the DuckDB
    oracle's list_distinct)."""
    agg_key = F.coalesce(
        F.array_join(F.array_sort(F.col("aggregator_knowledge_source")), ","),
        F.lit(""),
    )
    group = ["aggregator_sources", "primary_knowledge_source"]
    proj = edges.select(
        agg_key.alias("aggregator_sources"),
        F.col("primary_knowledge_source"),
        SUBJECT,
        OBJECT,
    )
    n_edges = proj.groupBy(*group).agg(F.count("*").alias("n_edges"))
    n_nodes = (
        proj.select(*group, F.explode(F.array(SUBJECT, OBJECT)).alias("_node"))
        .groupBy(*group)
        .agg(F.count_distinct("_node").cast("int").alias("n_distinct_nodes"))
    )
    # both sides are vocabulary-sized after their aggregates; the join is
    # trivial (AQE broadcasts it)
    return n_edges.join(n_nodes, group, "inner")


def node_category_counts(nodes: DataFrame) -> DataFrame:
    """A8-style category histogram: explode the category array
    (orion/answercoalesce_build.py:100-165, orion/kgx_validation.py)."""
    return (
        nodes.select(F.explode("category").alias("category"))
        .groupBy("category")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# A7/A8: AnswerCoalesce adjacency + backlinks
# ---------------------------------------------------------------------------

def adjacency(edges: DataFrame, symmetric_predicates: frozenset[str] = frozenset()) -> DataFrame:
    """A7: per node, the list of (neighbor, predicate, is_subject) structs
    (orion/answercoalesce_build.py:107-160). Symmetric predicates are
    emitted in both directions."""
    # the fwd/rev union references the edge frame twice and Spark shares
    # no subtrees across union branches — for derived edge tables (the
    # KGX build chain) each branch re-ran the whole derivation including
    # its dedup exchange (round 11, measured: two ~1.5 s derivation map
    # stages per query). Materialize the three needed columns once.
    edges = edges.select(SUBJECT, OBJECT, PREDICATE).localCheckpoint(
        eager=True
    )
    fwd = edges.select(
        F.col(SUBJECT).alias("node"),
        F.col(OBJECT).alias("neighbor"),
        F.col(PREDICATE).alias("predicate"),
        F.lit(True).alias("is_subject"),
    )
    rev = edges.select(
        F.col(OBJECT).alias("node"),
        F.col(SUBJECT).alias("neighbor"),
        F.col(PREDICATE).alias("predicate"),
        F.lit(False).alias("is_subject"),
    )
    both = fwd.unionByName(rev)
    return both.groupBy("node").agg(
        F.array_sort(
            F.collect_list(F.struct("neighbor", "predicate", "is_subject"))
        ).alias("links")
    )


def backlinks(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """A8: count by (node, predicate, direction, neighbor-leading-category)
    (orion/answercoalesce_build.py:100-165)."""
    cat = nodes.select(
        F.col(NODE_ID).alias("_cid"), F.col("category").getItem(0).alias("_cat")
    )
    # same fan-out as adjacency() above: materialize the edge projection
    # once instead of re-deriving it per union branch (round 11)
    edges = edges.select(SUBJECT, OBJECT, PREDICATE).localCheckpoint(
        eager=True
    )
    fwd = edges.select(
        F.col(SUBJECT).alias("node"),
        F.col(PREDICATE).alias("predicate"),
        F.lit("out").alias("direction"),
        F.col(OBJECT).alias("_nbr"),
    )
    rev = edges.select(
        F.col(OBJECT).alias("node"),
        F.col(PREDICATE).alias("predicate"),
        F.lit("in").alias("direction"),
        F.col(SUBJECT).alias("_nbr"),
    )
    return (
        fwd.unionByName(rev)
        .join(cat, F.col("_nbr") == F.col("_cid"), "inner")
        .groupBy("node", "predicate", "direction", F.col("_cat").alias("neighbor_category"))
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# A10: meta-knowledge-graph
# ---------------------------------------------------------------------------

def meta_kg_edges(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """A10: per (subject-type, predicate, object-type): edge count, qualifier
    value sets, and a deterministic first example edge
    (orion/meta_kg.py:50-187). 'First seen' is made deterministic with a
    row_number window ordered by the edge key columns (the reference's
    file-order 'first' is not reproducible under parallelism).

    Both endpoint joins read one (id, first category) frame and rename
    after joining (`_join_endpoints`), so the category map is built once
    and the second join reuses it; no eager checkpoint, so no job runs
    before the plan does."""
    cat = nodes.select(
        F.col(NODE_ID).alias("_cid"), F.col("category").getItem(0).alias("_cat")
    )
    typed = _join_endpoints(edges, cat, "_cat", "subject_type", "object_type")
    # 'first example' = lexicographic min of (subject, object): a plain
    # min(struct) aggregate — partial-aggregatable, ONE shuffle. (A window +
    # row_number would shuffle twice and materialize ranks for every row.)
    return typed.groupBy("subject_type", PREDICATE, "object_type").agg(
        F.count("*").alias("n_edges"),
        F.min(F.struct(SUBJECT, OBJECT)).alias("example"),
    )


def meta_kg_nodes(nodes: DataFrame) -> DataFrame:
    """A10 node side: per leading category, distinct id-prefix set
    (orion/meta_kg.py:50-99)."""
    return (
        nodes.select(
            F.col("category").getItem(0).alias("category"),
            F.split(F.col(NODE_ID), ":").getItem(0).alias("prefix"),
        )
        .groupBy("category")
        .agg(
            F.array_sort(F.collect_set("prefix")).alias("id_prefixes"),
            F.count("*").alias("n_nodes"),
        )
    )


# ---------------------------------------------------------------------------
# A12: schema inference scan
# ---------------------------------------------------------------------------

WIDENING = {
    frozenset(["bigint", "double"]): "double",
    frozenset(["int", "double"]): "double",
    frozenset(["int", "bigint"]): "bigint",
}


def infer_property_schema(df: DataFrame, core: list[str]) -> list[tuple[str, str]]:
    """A12: property -> resolved type via the widening lattice
    (int+float->float, any-list->string[], else string)
    (orion/kgx_file_converter.py:224-305).

    Spark's schema IS the inferred schema after a json read; for an
    already-typed DataFrame this simply reports the property tail, applying
    the same lattice naming. Returns [(property, type_string)].
    """
    out = []
    for f in df.schema.fields:
        if f.name in core:
            continue
        dt = f.dataType.simpleString()
        if dt.startswith("array"):
            inner = dt[len("array<"):-1]
            out.append((f.name, f"{inner}[]"))
        else:
            out.append((f.name, dt))
    return sorted(out)


def bundle_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: tuple[str, ...] = ("subject", "predicate", "object"),
) -> DataFrame:
    """Release-to-release bundle diff: per entity key, whether it was
    added, removed, or kept between two builds (the QC companion to the
    content-addressed versioning in plans/pipeline.py — the reference
    records release metadata but cannot answer "what changed").

    Scale shape: both sides reduce to DISTINCT keys before the full-outer
    join, so the shuffle carries keys only — no properties; the join is
    key-partitioned on both sides (co-partitioned if the bundles are
    bucketed, see sources/bucketing.py).
    """
    keys = list(key_cols)
    o = old.select(*keys).distinct().withColumn("_in_old", F.lit(1))
    n = new.select(*keys).distinct().withColumn("_in_new", F.lit(1))
    joined = o.join(n, keys, "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("kept"))
    )
    return joined.select(*keys, status.alias("status"))
