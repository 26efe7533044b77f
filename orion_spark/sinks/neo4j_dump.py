"""K5: Neo4j dump orchestration (orion/neo4j_tools.py:255-338
create_neo4j_dump + 68-213 Neo4jTools command chain).

The reference ships a graph as a neo4j-admin dump: KGX -> typed CSVs ->
`neo4j-admin database import full` -> start -> index -> stop ->
`neo4j-admin database dump`. The CSV conversion here is the distributed
sink (sinks/graph_csv.write_neo4j_csv); its staging directory is deleted
once concatenated, so a finished run leaves the dump and
``indexes.cypher``. Everything after is a single-box subprocess chain, so
the executables are INJECTABLE (production passes the real tools, tests
fake binaries) and every step runs through sinks/external.run_tool, which
aborts the chain on a nonzero exit (the reference's exit-code gating).

One deliberate deviation: the reference creates indexes through the bolt
driver (neo4j_tools.py:181-213 add_db_indexes); without a bolt client the
same statements are generated from the node frame's label set and executed
via cypher-shell — identical cypher, different transport.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from orion_spark.sinks.external import (
    NAMED_THING,
    concat_parts,
    node_labels,
    run_tool,
)

NEO4J_ADMIN_DUMP_FILENAME = "neo4j.dump"


class Neo4jDumpError(RuntimeError):
    pass


def index_cypher_statements(nodes: DataFrame) -> list[str]:
    """add_db_indexes parity (neo4j_tools.py:181-213): a name index on the
    root label plus a unique-id constraint per label in the data."""
    stmts = [f"CREATE INDEX node_name_index FOR (n:`{NAMED_THING}`) ON (n.name)"]
    for label in node_labels(nodes):
        safe = label.replace(":", "_")
        stmts.append(
            f"CREATE CONSTRAINT node_id_{safe} FOR (n:`{label}`) "
            f"REQUIRE n.id IS UNIQUE"
        )
    stmts.append("CALL db.awaitIndexes()")
    return stmts


def create_neo4j_dump(
    nodes: DataFrame,
    edges: DataFrame,
    output_directory: str,
    graph_id: str = "graph",
    dump_filename: str = NEO4J_ADMIN_DUMP_FILENAME,
    neo4j_admin: list[str] | None = None,
    neo4j: list[str] | None = None,
    cypher_shell: list[str] | None = None,
    initial_password: str = "insecurepasswordexample",
) -> tuple[bool, list[str]]:
    """The full chain (neo4j_tools.py:255-338): CSVs -> set password ->
    import full (TAB delimiter, U+001F array delimiter — matching the
    sink's encoding) -> start -> indexes -> stop -> dump -> rename.
    Returns (success, command log). Idempotent: an existing dump short-
    circuits, like the reference's early return."""
    from orion_spark.sinks.graph_csv import write_neo4j_csv

    neo4j_admin = neo4j_admin or ["neo4j-admin"]
    neo4j = neo4j or ["neo4j"]
    cypher_shell = cypher_shell or ["cypher-shell"]
    log: list[str] = []

    graph_dump_path = os.path.join(output_directory, dump_filename)
    if os.path.exists(graph_dump_path):
        return True, log

    os.makedirs(output_directory, exist_ok=True)
    csv_dir = os.path.join(output_directory, "csv_staging")
    nodes_csv = os.path.join(output_directory, "nodes.temp_csv")
    edges_csv = os.path.join(output_directory, "edges.temp_csv")
    # the staged CSVs are a full copy of the graph: removed however the
    # chain ends
    try:
        manifest = write_neo4j_csv(nodes, edges, csv_dir)
        for kind, out in (("nodes", nodes_csv), ("edges", edges_csv)):
            header = manifest["sep"].join(manifest[f"{kind}_header"])
            concat_parts(os.path.join(csv_dir, kind), header, out)
        shutil.rmtree(csv_dir)

        run_tool(
            neo4j_admin + ["dbms", "set-initial-password", initial_password],
            Neo4jDumpError, log,
        )
        run_tool(
            neo4j_admin
            + [
                "database", "import", "full",
                f"--nodes={os.path.basename(nodes_csv)}",
                f"--relationships={os.path.basename(edges_csv)}",
                "--delimiter=TAB",
                "--array-delimiter=U+001F",
                "--overwrite-destination=true",
            ],
            Neo4jDumpError, log,
            cwd=output_directory,
        )
        run_tool(neo4j + ["start", "--verbose"], Neo4jDumpError, log)
        try:
            cypher_path = os.path.join(output_directory, "indexes.cypher")
            with open(cypher_path, "w") as fh:
                fh.write(";\n".join(index_cypher_statements(nodes)) + ";\n")
            run_tool(cypher_shell + ["-f", cypher_path], Neo4jDumpError, log)
        finally:
            run_tool(neo4j + ["stop"], Neo4jDumpError, log)
        run_tool(
            neo4j_admin
            + ["database", "dump", "neo4j", f"--to-path={output_directory}"],
            Neo4jDumpError, log,
        )
        produced = os.path.join(output_directory, NEO4J_ADMIN_DUMP_FILENAME)
        if produced != graph_dump_path:
            if not os.path.exists(produced):
                raise Neo4jDumpError(
                    f"dump reported success but {produced} was not found"
                )
            os.replace(produced, graph_dump_path)
    finally:
        shutil.rmtree(csv_dir, ignore_errors=True)
        for path in (nodes_csv, edges_csv):
            if os.path.exists(path):
                os.remove(path)
    return True, log
