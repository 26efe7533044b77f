"""Neo4j / Memgraph admin-import CSV sinks (SURVEY §2.1 K3/K4).

Reference behavior (orion/kgx_file_converter.py:151-181, 308-376):
- typed header line: `id:ID`, `name:string`, `category:LABEL`,
  `subject:START_ID`, `object:END_ID`, `predicate:TYPE`, `prop:float[]`, ...
- array values joined by the unit separator chr(31) ("array_delimiter")
- booleans written as true/false, dicts as JSON strings
- newline/tab/CR flattened out of every string (orion/utils.py:20-29)
- Memgraph (K4): edges additionally partitioned into one CSV per predicate
  (orion/kgx_file_converter.py:26-148) + manifest.

Spark shape: a pure projection to string columns + `write.csv`. The typed
header is computed from the DataFrame schema (the reference infers it with
a full extra scan — orion/kgx_file_converter.py:224-305; Spark already
knows). Data files are written headerless so neo4j-admin's
`--nodes=<header>,<data-glob>` layout works with any number of part files —
exactly how a 1000-executor cluster must write (no single-file bottleneck).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orion_spark.functions.scalars import flatten_ws

ARRAY_DELIMITER = chr(31)

_TYPE_SUFFIX = {
    T.LongType(): "long",
    T.IntegerType(): "long",
    T.DoubleType(): "float",
    T.FloatType(): "float",
    T.BooleanType(): "boolean",
}


def _to_csv_column(field: T.StructField):
    """String-rendering expression for one property column."""
    c = F.col(field.name)
    dt = field.dataType
    if isinstance(dt, T.ArrayType):
        if isinstance(dt.elementType, (T.StructType, T.MapType)):
            inner = F.transform(c, lambda x: F.to_json(x))
        elif isinstance(dt.elementType, T.BooleanType):
            inner = F.transform(c, lambda x: F.when(x, "true").otherwise("false"))
        else:
            inner = c.cast("array<string>")
        return flatten_ws(F.array_join(inner, ARRAY_DELIMITER))
    if isinstance(dt, T.BooleanType):
        return F.when(c, "true").otherwise("false")
    if isinstance(dt, (T.StructType, T.MapType)):
        return flatten_ws(F.to_json(c))
    return flatten_ws(c.cast("string"))


def _header_type(field: T.StructField) -> str:
    dt = field.dataType
    if isinstance(dt, T.ArrayType):
        inner = _TYPE_SUFFIX.get(dt.elementType, "string")
        return f"{field.name}:{inner}[]"
    suffix = _TYPE_SUFFIX.get(dt, "string")
    return f"{field.name}:{suffix}"


def neo4j_node_header(nodes: DataFrame) -> list[str]:
    """Typed header fields (orion/kgx_file_converter.py:13-23)."""
    cols = []
    for f in nodes.schema.fields:
        if f.name == "id":
            cols.append("id:ID")
        elif f.name == "category":
            cols.append("category:LABEL")
        else:
            cols.append(_header_type(f))
    return cols


def neo4j_edge_header(edges: DataFrame) -> list[str]:
    cols = []
    for f in edges.schema.fields:
        if f.name == "subject":
            cols.append("subject:START_ID")
        elif f.name == "object":
            cols.append("object:END_ID")
        elif f.name == "predicate":
            cols.append("predicate:TYPE")
        else:
            cols.append(_header_type(f))
    return cols


def _render(df: DataFrame) -> DataFrame:
    return df.select(
        *[_to_csv_column(f).alias(f.name) for f in df.schema.fields]
    )


def write_neo4j_csv(
    nodes: DataFrame, edges: DataFrame, out_dir: str, sep: str = "\t"
) -> dict:
    """K3: write `{nodes,edges}-header.csv` (driver-side, one line) plus
    headerless distributed data CSVs. Returns the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    node_header = neo4j_node_header(nodes)
    edge_header = neo4j_edge_header(edges)
    with open(os.path.join(out_dir, "nodes-header.csv"), "w") as fh:
        fh.write(sep.join(node_header) + "\n")
    with open(os.path.join(out_dir, "edges-header.csv"), "w") as fh:
        fh.write(sep.join(edge_header) + "\n")
    _render(nodes).write.mode("overwrite").option("sep", sep).option(
        "emptyValue", ""
    ).csv(os.path.join(out_dir, "nodes"))
    _render(edges).write.mode("overwrite").option("sep", sep).option(
        "emptyValue", ""
    ).csv(os.path.join(out_dir, "edges"))
    manifest = {
        "nodes_header": node_header,
        "edges_header": edge_header,
        "array_delimiter": ARRAY_DELIMITER,
        "sep": sep,
        # K5 parity: the admin-import invocation the driver-side dump step
        # runs (orion/neo4j_tools.py:255-338); Spark part-files glob in
        "import_command": (
            "neo4j-admin database import full "
            f"--delimiter='\\t' --array-delimiter='\\x1f' "
            f"--nodes={out_dir}/nodes-header.csv,{out_dir}/nodes/part-.* "
            f"--relationships={out_dir}/edges-header.csv,{out_dir}/edges/part-.* "
            "neo4j"
        ),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2)
    return manifest


def write_memgraph_csv(
    nodes: DataFrame, edges: DataFrame, out_dir: str, sep: str = "\t"
) -> dict:
    """K4: like K3 but edges are hive-partitioned by predicate — one
    directory per relationship type (orion/kgx_file_converter.py:26-148) —
    plus the index-cypher manifest. partitionBy gives the per-predicate
    split without a second pass."""
    os.makedirs(out_dir, exist_ok=True)
    node_header = neo4j_node_header(nodes)
    edge_header = [h for h in neo4j_edge_header(edges) if h != "predicate:TYPE"]
    with open(os.path.join(out_dir, "nodes-header.csv"), "w") as fh:
        fh.write(sep.join(node_header) + "\n")
    with open(os.path.join(out_dir, "edges-header.csv"), "w") as fh:
        fh.write(sep.join(edge_header) + "\n")
    _render(nodes).write.mode("overwrite").option("sep", sep).csv(
        os.path.join(out_dir, "nodes")
    )
    rendered = _render(edges)
    rendered.write.mode("overwrite").partitionBy("predicate").option("sep", sep).csv(
        os.path.join(out_dir, "edges")
    )
    predicates = [r[0] for r in edges.select("predicate").distinct().collect()]
    manifest = {
        "nodes_header": node_header,
        "edges_header": edge_header,
        "predicates": sorted(predicates),
        "index_cypher": [
            "CREATE INDEX ON :`{}`(id);".format(p) for p in sorted(predicates)
        ],
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2)
    return manifest
