"""Post-dump meta-KG verification (orion/neo4j_meta_kg.py counterpart).

The reference extracts a meta-KG from the LOADED Neo4j instance
(neo4j_meta_kg.py:17-139: schema query over (a)-[x]->(b), per-label curie
prefixes) as a release-time check that the dump actually contains what was
built. Same role here, Spark-first split: the DataFrame-side meta-KG
(operators/analyze.meta_kg_edges / meta_kg_nodes — A10) is the build-time
ground truth, the instance side runs through an INJECTABLE cypher-shell
(the sinks/neo4j_dump.py fake-binary pattern), and verify_dump_meta_kg
diffs the two, so a dump whose import dropped rows or labels fails loudly.

Deviations from the reference, by design:
- the instance queries return ONE pipe-joined string column per row
  (labels unwound in cypher), so the plain-format output parses without
  guessing at list rendering;
- per-label curie prefixes are computed with DISTINCT split(n.id,':')[0]
  INSIDE the database instead of the reference's collect(n.id) — which
  ships every node id to the driver (neo4j_meta_kg.py:143) and dies on a
  large graph;
- no biolink-toolkit leaf reduction or predicate inversion: the check
  compares the dump against the frames that produced it at the transport
  level (all labels except the NamedThing root), which is the property a
  release engineer is actually verifying.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orion_spark.sinks.external import NAMED_THING, run_tool

SCHEMA_QUERY = (
    "MATCH (a)-[x]->(b) UNWIND labels(a) AS sl UNWIND labels(b) AS tl "
    f"WITH DISTINCT sl, type(x) AS p, tl "
    f"WHERE sl <> '{NAMED_THING}' AND tl <> '{NAMED_THING}' "
    "RETURN sl + '|' + p + '|' + tl AS triple"
)


def prefix_query(label: str) -> str:
    return (
        f"MATCH (n:`{label}`) WITH DISTINCT split(n.id, ':')[0] AS pre "
        "RETURN pre"
    )


class MetaKGVerifyError(RuntimeError):
    pass


def run_cypher(
    cypher_shell: list[str], query: str, work_dir: str, name: str
) -> list[str]:
    """Execute one cypher query through the injectable shell and return the
    single-column result values (plain format: header line, then one
    possibly-quoted value per line)."""
    os.makedirs(work_dir, exist_ok=True)
    path = os.path.join(work_dir, f"{name}.cypher")
    with open(path, "w") as fh:
        fh.write(query + ";\n")
    lines = run_tool(
        cypher_shell + ["--format", "plain", "-f", path], MetaKGVerifyError
    ).splitlines()
    return [ln.strip().strip('"') for ln in lines[1:] if ln.strip()]


def expected_schema_triples(nodes: DataFrame, edges: DataFrame) -> set[str]:
    """The (source-label, predicate, target-label) expansion the loaded
    instance must contain, computed from the build frames: every non-root
    label of the subject crossed with every non-root label of the object,
    per distinct predicate between them. Schema-sized result (bounded by
    |labels|^2 x |predicates|), so the collect is a manifest collect."""
    cat = nodes.select(
        F.col("id").alias("_cid"),
        F.array_remove("category", NAMED_THING).alias("_cats"),
    )
    s = cat.select(F.col("_cid").alias("_sid"), F.col("_cats").alias("_scats"))
    o = cat.select(F.col("_cid").alias("_oid"), F.col("_cats").alias("_ocats"))
    triples = (
        edges.join(s, edges["subject"] == F.col("_sid"))
        .join(o, edges["object"] == F.col("_oid"))
        .select(
            F.explode("_scats").alias("sl"),
            F.col("predicate"),
            F.col("_ocats"),
        )
        .select("sl", "predicate", F.explode("_ocats").alias("tl"))
        .distinct()
    )
    return {
        f"{r.sl}|{r.predicate}|{r.tl}" for r in triples.collect()
    }


def expected_label_prefixes(nodes: DataFrame) -> dict[str, set[str]]:
    """Per non-root label, the distinct curie-prefix set the instance must
    report (neo4j_meta_kg.py:151-153 split-on-colon semantics)."""
    rows = (
        nodes.select(
            F.explode(F.array_remove("category", NAMED_THING)).alias("label"),
            F.split(F.col("id"), ":").getItem(0).alias("prefix"),
        )
        .distinct()
        .collect()
    )
    out: dict[str, set[str]] = {}
    for r in rows:
        out.setdefault(r.label, set()).add(r.prefix)
    return out


def verify_dump_meta_kg(
    nodes: DataFrame,
    edges: DataFrame,
    cypher_shell: list[str],
    work_dir: str,
) -> dict:
    """Diff the loaded instance's meta-KG against the build frames.
    Returns {"ok", "schema_missing_in_db", "schema_unexpected_in_db",
    "prefix_mismatches"}; ok is False on any discrepancy."""
    expected = expected_schema_triples(nodes, edges)
    db_triples = set(run_cypher(cypher_shell, SCHEMA_QUERY, work_dir, "schema"))
    missing = sorted(expected - db_triples)
    unexpected = sorted(db_triples - expected)

    prefix_mismatches: dict[str, dict[str, list[str]]] = {}
    for label, exp_prefixes in sorted(expected_label_prefixes(nodes).items()):
        got = set(
            run_cypher(
                cypher_shell, prefix_query(label), work_dir,
                f"prefixes_{label.replace(':', '_')}",
            )
        )
        if got != exp_prefixes:
            prefix_mismatches[label] = {
                "expected": sorted(exp_prefixes),
                "db": sorted(got),
            }
    return {
        "ok": not missing and not unexpected and not prefix_mismatches,
        "schema_missing_in_db": missing,
        "schema_unexpected_in_db": unexpected,
        "prefix_mismatches": prefix_mismatches,
    }
