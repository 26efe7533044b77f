"""The benchmark's workloads.

Each workload owns its fixtures and one repeatable unit of work, an
*iteration*, made of *ops* and *lookups* (point reads). ``wall_s`` is
the wall time of a whole iteration.

- ``kgx_lifecycle``: merge three source bundles with ``build_graph``, run
  the release chain on the new bundle (normalize, meta-KG, validate,
  Neo4j CSV), then keep a 16-shard edge
  bundle current: upsert a delta and refresh the QC partials of the
  shards it touched (the ``cli upsert --refresh-qc`` path). One op is
  one of these steps. The lookups read a node of the new graph and a
  subject the upsert just wrote.
- ``graph_iterative``: registered queries whose builders run eager
  barriers (checkpoints, persist+count, collect). One op is one query:
  its builder, forcing the physical plan, and a ``noop`` write. Each op
  is followed by a point read of the graph the queries run on.

``iteration(i, check=True)`` also verifies the outputs and returns the
failures; the runner calls it that way once, on the warm-up iteration,
outside the timed window.

Engine code is reached only through module attributes
(``P.build_graph``, ``INC.upsert_sharded_edges``), so the traced run's
wrappers (``trace.WRAPS``) see the calls. Spans that name a layer by
module (``operators.normalize``) are opened here, around the step and
the sink action that executes it.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from orion_spark.operators import analyze as A
from orion_spark.operators import merge as M
from orion_spark.operators import normalize as N
from orion_spark.plans import pipeline as P
from orion_spark.plans import queries as Q
from orion_spark.plans import tpch_graph as G
from orion_spark.sinks import graph_csv as CSV
from orion_spark.sinks import incremental as INC
from orion_spark.sinks import metadata as META
from orion_spark.sinks import qc_incremental as QCI
from orion_spark.sources import kgx as KGX

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]

clock = time.perf_counter


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive form of a result, the rule of
    ``tools/check_correctness.py``: columns sorted by name, floats
    rounded to 6 places, every value stringified, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)}, "
                f"oracle {sorted(want.columns)}"]
    if not canon(got).equals(canon(want)):
        return [f"{name}: values differ from the oracle"]
    return []


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per input table, as the oracles expect."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def parquet_bytes(path: str, shards=None) -> int:
    """Parquet bytes under ``path``; only in the ``_shard=`` directories
    named by ``shards`` when given."""
    dirs = None if shards is None else {f"{INC.SHARD_COL}={s}" for s in shards}
    total = 0
    for dp, _, files in os.walk(path):
        if dirs is None or os.path.basename(dp) in dirs:
            total += sum(os.path.getsize(os.path.join(dp, f))
                         for f in files if f.endswith(".parquet"))
    return total


class Workload:
    """Shared plumbing; subclasses define ``prepare`` and ``iteration``."""

    name = ""
    # unchecked passes after the checked one, before timing starts, until
    # the JIT has compiled the driver's hot paths
    warm_passes = 0

    def __init__(self, spark, tracer, sf_dir: str, work: str, seed: int):
        self.spark = spark
        self.tr = tracer
        self.sf = sf_dir
        self.work = work
        self.seed = seed
        # the self-test sets this to prove the correctness gate fails on a
        # wrong expectation
        self.corrupt = False
        # per-layer counts measured by the workload itself (traced runs)
        self.counts: dict[str, list[float]] = {}

    def begin(self) -> None:
        self.log: list[tuple[str, float]] = []
        self.t0 = clock()

    def end(self) -> None:
        self.wall = clock() - self.t0

    def op(self, span: str, fn, *args):
        t = clock()
        with self.tr.span(span):
            out = fn(*args)
        self.log.append((span, clock() - t))
        return out

    def lookup(self, fn):
        return self.op("lookup", fn)

    def count(self, name: str, value: float) -> None:
        if self.tr.enabled:
            self.counts.setdefault(name, []).append(value)

    def result(self, failures: list[str]) -> dict:
        return {"wall": self.wall, "log": self.log, "failures": failures}


# ---------------------------------------------------------------------------
# kgx_lifecycle
# ---------------------------------------------------------------------------

SPEC_YAML = """
graphs:
  - graph_id: perfbench_build
    graph_name: benchmark build
    output_format: parquet
    sources:
      - source_id: src_a
        merge_strategy: default
      - source_id: src_b
        merge_strategy: default
      - source_id: src_qualified
        merge_strategy: connected_edge_subset
"""

EDGE_KEY = ("subject, predicate, object, primary_knowledge_source, "
            "object_aspect_qualifier, object_direction_qualifier")


def write_sources(sf_dir: str, dest: str, salt: str) -> dict[str, str]:
    """The build's source bundles, as in ``tools/build_stage_metrics.py``:
    the TPC-H graph split into two overlapping ``default`` sources by an
    md5 bucket of the row key salted with the seed, plus the qualified
    lineitem edges as a ``connected_edge_subset`` source. Written by
    DuckDB from the graph's SQL definitions, so that preparing them
    costs no Spark jobs."""
    con = duck(sf_dir)
    con.execute(f"CREATE VIEW n AS WITH {G.NODES_SQL} SELECT * FROM nodes")
    con.execute(f"CREATE VIEW e AS WITH {G.ALL_EDGES_SQL} SELECT * FROM edges")
    con.execute(f"CREATE VIEW li AS WITH {G.LINEITEM_EDGES_SQL} "
                "SELECT * EXCLUDE (_source_ordinal) FROM lineitem_edges")

    def bucket(col: str) -> str:
        return f"('0x' || substr(md5({col} || '{salt}'), 1, 8))::BIGINT % 3"

    parts = {
        "src_a": (f"SELECT * FROM n WHERE {bucket('id')} IN (0, 1)",
                  f"SELECT * FROM e WHERE {bucket('subject')} IN (0, 1)"),
        "src_b": (f"SELECT * FROM n WHERE {bucket('id')} IN (1, 2)",
                  f"SELECT * FROM e WHERE {bucket('subject')} IN (1, 2)"),
        "src_qualified": (f"SELECT * FROM n WHERE {bucket('id')} = 2",
                          "SELECT * FROM li"),
    }
    bundles = {}
    for src, queries in parts.items():
        bundles[src] = os.path.join(dest, src)
        for part, sql in zip(("nodes", "edges"), queries):
            os.makedirs(os.path.join(bundles[src], part))
            con.execute(f"COPY ({sql}) TO '{bundles[src]}/{part}/"
                        "part-0.parquet' (FORMAT parquet)")
    return bundles


class KgxLifecycle(Workload):
    name = "kgx_lifecycle"
    n_shards = 16
    n_deltas = 8  # of 2 shards each

    def prepare(self, dest: str) -> None:
        """Build sources: see ``write_sources``.

        Upserts: the merged lineitem edges of lines 1-3 as a 16-shard
        bundle with its QC partials, and the other lines as 8 deltas of
        2 shards each; the seed sets the shards of each delta and the
        order the deltas are applied in."""
        spark, sf = self.spark, self.sf
        rng = random.Random(self.seed)
        self.bundles = write_sources(sf, dest, salt=f"perfbench{self.seed}")
        li = G.lineitem_edges(spark, sf)
        self.spec = P.parse_graph_spec(SPEC_YAML)[0]

        self.base = os.path.join(dest, "sharded")
        INC.write_sharded_bundle(
            M.merge_edges(li.where(F.col("_source_ordinal") < 4000)),
            self.base, ["subject"], n_shards=self.n_shards)
        QCI.write_qc_partials(spark, self.base, "edges")
        shards = list(range(self.n_shards))
        rng.shuffle(shards)
        delta_of = [0] * self.n_shards
        for i, s in enumerate(shards):
            delta_of[s] = i % self.n_deltas
        self.deltas = os.path.join(dest, "deltas")
        (li.where(F.col("_source_ordinal") >= 4000)
         .withColumn("_delta", F.element_at(
             F.array(*[F.lit(d) for d in delta_of]),
             INC.shard_of(["subject"], self.n_shards) + 1))
         .write.mode("overwrite").partitionBy("_delta").parquet(self.deltas))
        # the lookup key of each delta: one subject it writes
        self.keys = {
            r["_delta"]: r["subject"]
            for r in spark.read.parquet(self.deltas).groupBy("_delta")
            .agg(F.min("subject").alias("subject")).collect()}
        self.order = sorted(self.keys)
        rng.shuffle(self.order)
        self.node_keys = [f"PART:{i}" for i in rng.sample(
            range(duck(sf).execute("SELECT count(*) FROM part").fetchone()[0]),
            16)]

    def iteration(self, it: int, check: bool = False) -> dict:
        root = os.path.join(self.work, f"iter{it}")
        live = os.path.join(root, "sharded")
        shutil.copytree(self.base, live)
        self.begin()
        out, csv_dir, report, node = self.build(root, it)
        delta = self.order[it % len(self.order)]
        failures = self.upsert(live, delta, check)
        self.end()
        if check:
            failures += self._check_build(out, csv_dir, report, node)
            failures += self._check_upsert(live, delta)
        shutil.rmtree(root, ignore_errors=True)
        return self.result(failures)

    def build(self, root: str, it: int):
        """Merge the sources, read one node of the new graph, then run
        the release chain on the new bundle. Each chain span holds the
        step and the sink action that runs it."""
        spark, sf = self.spark, self.sf
        out = self.op("plans.pipeline.build_graph", P.build_graph, spark,
                      self.spec, self.bundles, os.path.join(root, "storage"),
                      True)
        key = self.node_keys[it % len(self.node_keys)]
        node = self.lookup(lambda: KGX.read_bundle(spark, out)[0]
                           .where(F.col("id") == key).collect())
        norm = os.path.join(root, "normalized")

        def normalize():
            nodes, edges = KGX.read_bundle(spark, out)
            # the customer map, plus identity for every other id so that
            # edges between unmapped nodes survive
            cmap = G.norm_map_df(spark, sf)
            emap = cmap.select("original_id", "normalized_ids").unionByName(
                nodes.where(~F.col("id").startswith("CUST:")).select(
                    F.col("id").alias("original_id"),
                    F.array("id").alias("normalized_ids")))
            KGX.write_bundle(N.normalize_nodes(nodes, cmap, strict=False),
                             N.normalize_edges(edges, emap), norm)
            return KGX.read_bundle(spark, norm)

        n_nodes, n_edges = self.op("operators.normalize", normalize)

        def meta_kg():
            A.meta_kg_nodes(n_nodes).write.json(os.path.join(root, "mkg_n"))
            A.meta_kg_edges(n_edges, n_nodes).write.json(
                os.path.join(root, "mkg_e"))

        self.op("operators.analyze", meta_kg)
        report = self.op("sinks.metadata", META.validate_graph,
                         n_nodes, n_edges)
        csv_dir = os.path.join(root, "neo4j")
        self.op("sinks.graph_csv", CSV.write_neo4j_csv, n_nodes, n_edges,
                csv_dir)
        return out, csv_dir, report, node

    def upsert(self, live: str, d: int, check: bool) -> list[str]:
        """Upsert delta ``d`` and refresh the QC partials of the shards it
        touched (``cli upsert --refresh-qc``), then read back a subject
        the delta wrote."""
        spark = self.spark
        delta_dir = os.path.join(self.deltas, f"_delta={d}")

        def upsert():
            touched = INC.upsert_sharded_edges(
                spark, spark.read.parquet(delta_dir), live,
                n_shards=self.n_shards)
            QCI.refresh_qc_partials(spark, live, touched, "edges")
            return touched

        touched = self.op("cli.upsert", upsert)
        self.count("sinks.incremental.touched_shards", len(touched))
        if self.tr.enabled:
            self.count("sinks.incremental.rewritten_mb_per_delta_mb",
                       parquet_bytes(live, touched) / parquet_bytes(delta_dir))
        failures = []
        if check and QCI.verify_partials(spark, live):
            failures.append(f"delta {d}: QC partials stale")
        key = self.keys[d]
        rows = self.lookup(lambda: INC.read_sharded_bundle(spark, live)
                           .where(F.col("subject") == key).collect())
        if check and not rows:
            failures.append(f"delta {d}: lookup of {key} found nothing")
        return failures

    def _check_build(self, out: str, csv_dir: str, report: dict,
                     node: list) -> list[str]:
        """Merged counts against DuckDB over the source bundles. The
        bundle, the merge-report sidecar and the Neo4j export must agree
        with them, the graph must pass validation, and the node lookup
        must have found its node."""
        con = duckdb.connect()
        for s, path in self.bundles.items():
            for part, v in (("nodes", "n"), ("edges", "e")):
                con.execute(f"CREATE VIEW {s}_{v} AS SELECT * FROM "
                            f"read_parquet('{path}/{part}/*.parquet', "
                            "union_by_name=true)")
        con.execute("CREATE VIEW prim AS SELECT id FROM src_a_n "
                    "UNION SELECT id FROM src_b_n")
        con.execute("CREATE VIEW kept AS SELECT * FROM src_qualified_e "
                    "WHERE subject IN (SELECT id FROM prim) "
                    "OR object IN (SELECT id FROM prim)")
        con.execute(f"CREATE VIEW merged AS SELECT * FROM "
                    f"read_parquet('{out}/nodes/*.parquet')")

        def one(sql):
            return con.execute(sql).fetchone()[0]

        want = {
            "merged_nodes": one(
                "SELECT count(*) FROM (SELECT id FROM prim UNION "
                "SELECT id FROM src_qualified_n WHERE id IN "
                "(SELECT subject FROM kept UNION SELECT object FROM kept))"),
            "merged_edges": one(
                f"SELECT count(*) FROM (SELECT DISTINCT {EDGE_KEY} FROM ("
                "SELECT subject, predicate, object, primary_knowledge_source,"
                " NULL AS object_aspect_qualifier,"
                " NULL AS object_direction_qualifier FROM src_a_e UNION ALL "
                "SELECT subject, predicate, object, primary_knowledge_source,"
                f" NULL, NULL FROM src_b_e UNION ALL SELECT {EDGE_KEY} "
                "FROM kept))"),
            "source_nodes": one(
                "SELECT (SELECT count(*) FROM src_a_n) + (SELECT count(*) "
                "FROM src_b_n) + (SELECT count(*) FROM src_qualified_n)"),
            "source_edges": one(
                "SELECT (SELECT count(*) FROM src_a_e) + (SELECT count(*) "
                "FROM src_b_e) + (SELECT count(*) FROM src_qualified_e)"),
        }
        if self.corrupt:
            want["merged_nodes"] += 1
        # lenient normalization keeps unmapped nodes and splits every
        # tenth customer (except those the map drops, every 97th) in two
        splits = one("SELECT count(*) FROM merged WHERE id LIKE 'CUST:%' AND "
                     "CAST(substr(id, 6) AS BIGINT) % 10 = 0 AND "
                     "CAST(substr(id, 6) AS BIGINT) % 97 <> 0")
        with open(os.path.join(out, "merge-metadata.json")) as fh:
            sidecar = json.load(fh)
        got = {"bundle nodes": one("SELECT count(*) FROM merged"),
               "bundle edges": one(f"SELECT count(*) FROM read_parquet("
                                   f"'{out}/edges/*.parquet')"),
               "neo4j nodes": _lines(os.path.join(csv_dir, "nodes")),
               "validation": report.get("pass"),
               "node lookup rows": len(node)}
        expect = {"bundle nodes": want["merged_nodes"],
                  "bundle edges": want["merged_edges"],
                  "neo4j nodes": want["merged_nodes"] + splits,
                  "validation": True,
                  "node lookup rows": 1}
        for k, v in want.items():
            got[f"merge-metadata {k}"] = sidecar.get(k)
            expect[f"merge-metadata {k}"] = v
        return [f"build {k}: {got[k]}, expected {v}"
                for k, v in expect.items() if got[k] != v]

    def _check_upsert(self, live: str, d: int) -> list[str]:
        """The upserted bundle must equal the from-scratch merge of the
        rows it holds: the ``kgx_merge_edges`` oracle over lines 1-3 plus
        the orders of delta ``d`` (a delta holds every line >= 4 of its
        orders, since the shard key is the order)."""
        con = duck(self.sf)
        con.execute("ALTER VIEW lineitem RENAME TO lineitem_all")
        con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM lineitem_all WHERE "
            "l_linenumber <= 3 OR 'ORDER:' || l_orderkey IN (SELECT subject "
            f"FROM read_parquet('{self.deltas}/_delta={d}/*.parquet'))")
        want = con.execute(Q.ORACLES["kgx_merge_edges"]).df()
        if self.corrupt:
            want = want.iloc[1:]
        got = INC.read_sharded_bundle(self.spark, live).select(
            "id", "subject", "predicate", "object", "primary_knowledge_source",
            "object_aspect_qualifier", "object_direction_qualifier",
            F.array_join("publications", ",").alias("publications"),
            "quantity").toPandas()
        return compare("upserted bundle", got, want)


def _lines(path: str) -> int:
    n = 0
    for f in glob.glob(os.path.join(path, "part-*")):
        with open(f, "rb") as fh:
            n += sum(1 for _ in fh)
    return n


# ---------------------------------------------------------------------------
# graph_iterative
# ---------------------------------------------------------------------------

GRAPH_QUERIES = ["graph_label_propagation", "graph_triangle_count"]


class GraphIterative(Workload):
    name = "graph_iterative"
    # passes after the checked one took 6.6, 5.7, 5.1, 5.0, 4.3 s
    warm_passes = 2

    def prepare(self, dest: str) -> None:
        """The seed sets the query order and the lookup keys."""
        self.order = list(GRAPH_QUERIES)
        self.rng = random.Random(self.seed)
        self.rng.shuffle(self.order)
        self.n_orders = duck(self.sf).execute(
            "SELECT count(*) FROM orders").fetchone()[0]

    def iteration(self, it: int, check: bool = False) -> dict:
        spark = self.spark
        self.begin()
        failures = []
        con = duck(self.sf) if check else None

        def run(name):
            with self.tr.span(f"plans.queries.{name}.build"):
                df = Q.QUERIES[name](spark, self.sf)
            with self.tr.span(f"plans.queries.{name}.plan"):
                df._jdf.queryExecution().executedPlan()
            with self.tr.span(f"plans.queries.{name}.exec"):
                if check:
                    return df.toPandas()
                df.write.format("noop").mode("overwrite").save()

        for name in self.order:
            got = self.op(f"plans.queries.{name}", run, name)
            if check:
                want = con.execute(Q.ORACLES[name]).df()
                if self.corrupt:
                    want = want.iloc[1:]
                failures += compare(name, got, want)
            key = f"ORDER:{self.rng.randrange(self.n_orders)}"
            rows = self.lookup(lambda: G.lineitem_edges(spark, self.sf)
                               .where(F.col("subject") == key).collect())
            if check and not rows:
                failures.append(f"lookup {key}: no edges")
        self.end()
        return self.result(failures)


WORKLOADS = {w.name: w for w in (KgxLifecycle, GraphIterative)}
