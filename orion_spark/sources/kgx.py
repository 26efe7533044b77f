"""KGX JSON-lines bundle I/O (SURVEY §2.1 S1/S2/K1/K2).

The reference streams jsonl dicts row-at-a-time (orion/utils.py:468-475) and
writes with manual null pruning (orion/kgx_file_writer.py:99-160). Spark
replaces both with the columnar json reader/writer:

- read: `spark.read.json` — gzip transparent, schema inference == the
  reference's full-scan type widening (orion/kgx_file_converter.py:224-305);
  a 1M-row "chunk" (orion/kgx_file_normalizer.py:15-16) is just a partition.
- write: `df.write.json` with `ignoreNullFields` (K1's drop-None behavior);
  empty-string/empty-array pruning (orion/kgx_file_writer.py:131-135) is a
  projection before the write.

Bundles persist as a directory pair (`nodes/`, `edges/`) — on a cluster each
is a multi-file dataset; `.gz` codec gives K2's gzip finalize for free.
Parquet is the engine-native format (`write_bundle_parquet`); jsonl is the
KGX-compatibility boundary.
"""

from __future__ import annotations

import itertools
import json
import os
import re
from contextlib import nullcontext
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orion_spark.model import ensure_edge_core, ensure_node_core, first_category


def read_kgx_nodes(spark: SparkSession, path: str) -> DataFrame:
    """Read a KGX nodes jsonl[.gz] file/dir; enforce core columns."""
    return ensure_node_core(spark.read.json(path))


def read_kgx_edges(spark: SparkSession, path: str) -> DataFrame:
    return ensure_edge_core(spark.read.json(path))


def prune_empty_properties(df: DataFrame) -> DataFrame:
    """P6: None / '' / [] all become JSON-absent (null + ignoreNullFields)
    (orion/kgx_file_writer.py:131-135)."""
    out = df
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.StringType):
            out = out.withColumn(f.name, F.when(c != "", c))
        elif isinstance(f.dataType, T.ArrayType):
            out = out.withColumn(f.name, F.when(F.size(c) > 0, c))
        elif isinstance(f.dataType, T.MapType):
            out = out.withColumn(f.name, F.when(F.size(F.map_keys(c)) > 0, c))
    return out


def write_kgx(df: DataFrame, path: str, gzip: bool = False) -> None:
    """K1/K2: write node/edge DataFrame as KGX jsonl, optionally gzipped."""
    writer = prune_empty_properties(df).write.mode("overwrite")
    if gzip:
        writer = writer.option("compression", "gzip")
    writer.json(path)


# ---------------------------------------------------------------------------
# Bundle = the engine's unit of persistence (orion/kgx_bundle.py:16-20)
# ---------------------------------------------------------------------------

class BundleCounts(NamedTuple):
    """What `write_bundle(collect_counts=True)` observes on its writes."""

    nodes: int
    edges: int
    categories: list  # distinct first node categories, sorted, no null


def write_bundle(
    nodes: DataFrame, edges: DataFrame, path: str, fmt: str = "parquet",
    gzip: bool = False,
    edge_partition_by: list[str] | None = None,
    recorder=None,
    collect_counts: bool = False,
) -> BundleCounts | None:
    """Persist a bundle. `edge_partition_by` (e.g. ["predicate"]) writes
    hive-partitioned edges — at 100 TB this is what makes per-predicate
    derived jobs (closure expansion, Memgraph export, meta-KG) partition-
    prunable instead of full scans.

    `recorder` (plans/stage_metrics.PhaseRecorder) runs the two write
    actions — which is where the whole upstream merge lineage actually
    executes, Spark being lazy — as its "write_nodes"/"write_edges"
    phases, so their jobs carry those phases' job groups. Without one,
    the writes run under whatever job group the caller set.

    `collect_counts=True` rides `observe()` metrics on the write actions
    and returns their `BundleCounts`: the node and edge counts and the
    first-category vocabulary, which the sidecar census needs before it
    is planned — for free, instead of whole-bundle re-scan jobs
    afterwards."""
    phase = recorder.phase if recorder else lambda _: nullcontext()
    obs_nodes = obs_edges = None
    if collect_counts:
        from pyspark.sql import Observation

        obs_nodes, obs_edges = Observation(), Observation()
        nodes = nodes.observe(
            obs_nodes, F.count(F.lit(1)).alias("n"),
            F.collect_set(first_category(nodes)).alias("categories"))
        edges = edges.observe(obs_edges, F.count(F.lit(1)).alias("n"))
    if fmt == "parquet":
        with phase("write_nodes"):
            nodes.write.mode("overwrite").parquet(os.path.join(path, "nodes"))
        with phase("write_edges"):
            ew = edges.write.mode("overwrite")
            if edge_partition_by:
                ew = ew.partitionBy(*edge_partition_by)
            ew.parquet(os.path.join(path, "edges"))
    else:
        with phase("write_nodes"):
            write_kgx(nodes, os.path.join(path, "nodes"), gzip=gzip)
        with phase("write_edges"):
            write_kgx(edges, os.path.join(path, "edges"), gzip=gzip)
    if collect_counts:
        node_obs = obs_nodes.get
        return BundleCounts(int(node_obs["n"]), int(obs_edges.get["n"]),
                            sorted(node_obs["categories"]))
    return None


# ---------------------------------------------------------------------------
# Parquet read boundary: the schema comes from one footer read on the driver
# ---------------------------------------------------------------------------

_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
_SUMMARIES = ("_common_metadata", "_metadata")


def _listed(name: str) -> bool:
    """Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName):
    names starting with `_` or `.` are skipped unless they hold `=` (a
    partition directory) or start like a parquet summary file."""
    hidden = ((name.startswith("_") and "=" not in name)
              or name.startswith(".") or name.endswith("._COPYING_"))
    return not hidden or name.startswith(_SUMMARIES)


def _parquet_files(path: str) -> list[str] | None:
    """The files Spark lists under a local parquet path, sorted by path as
    its schema inference sorts them. None for anything that is not a plain
    local path (a URI, a glob) or does not exist: Spark handles those."""
    scheme = re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", path)
    if scheme or re.search(r"[*?\[{\\]", path):
        return None
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return None
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if _listed(d)]
        files += [os.path.join(root, n) for n in names if _listed(n)]
    return sorted(files)


def _footer_file(files: list[str]) -> str | None:
    """The one file Spark's schema inference reads without mergeSchema
    (ParquetUtils.inferSchema): `_common_metadata`, else `_metadata`,
    else the first data file."""
    for summary in _SUMMARIES:
        for f in files:
            if os.path.basename(f) == summary:
                return f
    data = [f for f in files if os.path.basename(f) not in _SUMMARIES]
    return data[0] if data else None


def _spark_leaf(col, ntz: bool, binary_as_string: bool) -> T.DataType | None:
    """The Spark type ParquetToSparkSchemaConverter gives one parquet leaf
    column, or None where this map does not cover it exactly (INT96,
    unsigned ints, nanosecond timestamps, TIME, FLOAT16, UUID, ...)."""
    lt = json.loads(col.logical_type.to_json())
    kind, phys = lt["Type"], col.physical_type
    if kind == "Decimal":
        # the most digits Spark reads from each physical type
        max_digits = {"INT32": 9, "INT64": 18}.get(phys, 38)
        if phys != "BOOLEAN" and 1 <= lt["precision"] <= max_digits:
            return T.DecimalType(lt["precision"], lt["scale"])
        return None
    if kind == "Int" and lt["isSigned"]:
        return {("INT32", 8): T.ByteType(), ("INT32", 16): T.ShortType(),
                ("INT32", 32): T.IntegerType(),
                ("INT64", 64): T.LongType()}.get((phys, lt["bitWidth"]))
    if kind == "Timestamp" and phys == "INT64" and lt["timeUnit"] in (
            "milliseconds", "microseconds"):
        naive = not lt["isAdjustedToUTC"] and ntz
        return T.TimestampNTZType() if naive else T.TimestampType()
    if kind == "Date" and phys == "INT32":
        return T.DateType()
    if kind == "String" and phys == "BYTE_ARRAY":
        return T.StringType()
    if kind != "None":
        return None
    return {"BOOLEAN": T.BooleanType(), "INT32": T.IntegerType(),
            "INT64": T.LongType(), "FLOAT": T.FloatType(),
            "DOUBLE": T.DoubleType(), "FIXED_LEN_BYTE_ARRAY": T.BinaryType(),
            "BYTE_ARRAY": T.StringType() if binary_as_string else T.BinaryType(),
            }.get(phys)


def _leaves(dt: T.DataType, path: str = ""):
    """(parquet column path, Spark leaf type) of each leaf of `dt`, in
    column order, for the standard list (`list.element`) and map
    (`key_value.key/value`) layouts."""
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            yield from _leaves(f.dataType, f"{path}{f.name}.")
    elif isinstance(dt, T.ArrayType):
        yield from _leaves(dt.elementType, f"{path}list.element.")
    elif isinstance(dt, T.MapType):
        yield from _leaves(dt.keyType, f"{path}key_value.key.")
        yield from _leaves(dt.valueType, f"{path}key_value.value.")
    else:
        yield path[:-1], dt


def _file_schema(spark: SparkSession, footer: str) -> T.StructType | None:
    """The schema Spark reads from one parquet footer, read on the driver;
    None whenever it cannot be had exactly.

    A Spark-written footer carries Spark's own schema (the row-metadata
    JSON its inference reads). Any other footer maps through
    `from_arrow_schema`, kept only if every leaf column matches the type
    Spark's converter gives it (`_spark_leaf`) at the same column path."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    try:
        meta = pq.read_metadata(footer)
        if _ROW_METADATA in (meta.metadata or {}):
            return T.StructType.fromJson(json.loads(meta.metadata[_ROW_METADATA]))
        conf = spark.conf.get
        ntz = conf("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
        as_str = conf("spark.sql.parquet.binaryAsString") == "true"
        pschema = meta.schema
        schema = from_arrow_schema(pschema.to_arrow_schema(), ntz)
        want = [(c.path, _spark_leaf(c, ntz, as_str))
                for c in map(pschema.column, range(len(pschema)))]
    except Exception:
        return None
    return schema if list(_leaves(schema)) == want else None


def _merge_types(left: T.DataType, right: T.DataType) -> T.DataType | None:
    """Spark's `StructType.merge` of two types: struct fields merge by
    name in the left's order, with the right's new fields appended in
    its order; arrays and maps merge their element types; nullability is
    or-ed. None on anything Spark would widen, reject or resolve by its
    case-sensitivity setting: two different leaf types (decimals
    included), or field names equal only when case is ignored."""
    if isinstance(left, T.StructType) and isinstance(right, T.StructType):
        lnames = {f.name.lower(): f for f in left.fields}
        rnames = {f.name.lower(): f for f in right.fields}
        if len(lnames) < len(left.fields) or len(rnames) < len(right.fields):
            return None
        fields = []
        for key, lf in lnames.items():
            rf = rnames.get(key)
            if rf is None:
                fields.append(lf)
                continue
            dt = _merge_types(lf.dataType, rf.dataType)
            if dt is None or lf.name != rf.name:
                return None
            fields.append(T.StructField(lf.name, dt, lf.nullable or rf.nullable,
                                        lf.metadata))
        return T.StructType(
            fields + [f for key, f in rnames.items() if key not in lnames])
    if isinstance(left, T.ArrayType) and isinstance(right, T.ArrayType):
        el = _merge_types(left.elementType, right.elementType)
        if el is None:
            return None
        return T.ArrayType(el, left.containsNull or right.containsNull)
    if isinstance(left, T.MapType) and isinstance(right, T.MapType):
        k = _merge_types(left.keyType, right.keyType)
        v = _merge_types(left.valueType, right.valueType)
        if k is None or v is None:
            return None
        return T.MapType(k, v, left.valueContainsNull or right.valueContainsNull)
    return left if left == right else None


def _footer_schema(
    spark: SparkSession, path: str, merge: bool = False,
    partitions: list[str] | None = None,
) -> T.StructType | None:
    """The schema `spark.read.parquet(path)` would infer, read from
    footers on the driver; None whenever it cannot be had exactly.

    Without `merge` that is one footer (`_footer_file`). With it, it is
    Spark's `mergeSchema` fold: every data file's schema in path order,
    then the summary files', folded with `StructType.merge`
    (`_merge_types`). `partitions` (top-level partition directory names,
    such as `_shard=3`) narrows the fold to the data files under them,
    for a read that keeps only their rows; when none of them holds a
    file, every data file is folded. A data column that is also a
    partition directory key falls back too: Spark types it from the
    path and keeps its data position."""
    files = _parquet_files(path)
    if not files:
        return None
    if not merge:
        footers = [_footer_file(files)]
    elif spark.conf.get("spark.sql.parquet.respectSummaryFiles") == "true":
        return None
    else:
        data = [f for f in files if os.path.basename(f) not in _SUMMARIES]
        if partitions is not None:
            wanted = set(partitions)
            data = [f for f in data if os.path.relpath(f, path).split(os.sep)[0]
                    in wanted] or data
        footers = data + [f for s in ("_metadata", "_common_metadata")
                          for f in files if os.path.basename(f) == s]
    if footers == [None]:
        return None
    schema = None
    for footer in footers:
        one = _file_schema(spark, footer)
        if one is None:
            return None
        schema = one if schema is None else _merge_types(schema, one)
        if schema is None:
            return None
    part_keys = {part.split("=", 1)[0].lower()
                 for f in files
                 for part in os.path.relpath(os.path.dirname(f), path).split(os.sep)
                 if "=" in part}
    if part_keys & {n.lower() for n in schema.names}:
        return None
    return schema


def read_parquet(
    spark: SparkSession, path: str, merge_schema: bool = False,
    partitions: list[str] | None = None,
) -> DataFrame:
    """`spark.read.parquet(path)` without its schema-inference job.

    Spark infers a parquet schema by reading one footer in a one-task job
    (even for a single file), or, with `mergeSchema`, every footer in a
    distributed job. This reads the same footers on the driver and passes
    the schema they yield (`_footer_schema`); partition columns are still
    typed from the directory names by Spark. `merge_schema=True` is the
    `mergeSchema` read: a table whose files were written with different
    columns (a sharded bundle after an upsert that widened some shards)
    reads as the union schema. `partitions` narrows that merge to the
    footers of the named top-level partition directories, for a caller
    that keeps only their rows.

    When no footer can be read or mapped exactly (a missing path, an
    empty directory, a URI, INT96 or unsigned columns, a type conflict
    between files) no schema is passed, so Spark infers, or raises, as
    it always has."""
    schema = _footer_schema(spark, path, merge_schema, partitions)
    reader = spark.read
    if merge_schema and schema is None:
        reader = reader.option("mergeSchema", "true")
    return reader.load(path, "parquet", schema)


def stamp_file_order(
    spark: SparkSession, df: DataFrame, path: str, col: str, start: int,
) -> tuple[DataFrame, int]:
    """Stamp the parquet read `df` of `path` with `col`, a long giving
    each row's place in file order: `start`, plus the rows of the files
    listed before its own (sorted by path, as Spark lists them), plus
    its `_metadata.row_index`. The per-file offsets come from the
    footers on the driver, so stamping starts no job. Returns the frame
    and the first ordinal after its rows.

    Where the files cannot be listed or their footers read locally (or
    `df` has a data column named `_metadata`), every row gets `start`
    and the next ordinal is `start + 1`: rows of that one path tie."""
    import pyarrow.parquet as pq

    files = [f for f in _parquet_files(path) or []
             if os.path.basename(f) not in _SUMMARIES]
    try:
        counts = [pq.read_metadata(f).num_rows for f in files]
    except Exception:
        files = []
    if not files or "_metadata" in df.columns:
        return df.withColumn(col, F.lit(start).cast("long")), start + 1
    offsets = list(itertools.accumulate([start] + counts[:-1]))
    if len(files) == 1:
        first = F.lit(start).cast("long")
    else:
        # `_metadata.file_path` is the URL-encoded path Hadoop lists
        jvm = spark._jvm

        def uri(f):
            return jvm.org.apache.hadoop.fs.Path(
                jvm.java.io.File(os.path.abspath(f)).toURI()).toUri().toString()

        table = F.create_map(*[F.lit(v) for f, o in zip(files, offsets)
                               for v in (uri(f), o)])
        file_path = F.col("_metadata.file_path")
        first = F.coalesce(table[file_path], F.raise_error(
            F.concat(F.lit("no row offset for "), file_path)))
    return (df.withColumn(col, first + F.col("_metadata.row_index")),
            offsets[-1] + counts[-1])


def parquet_num_rows(spark: SparkSession, path: str) -> int:
    """`read_parquet(spark, path).count()` from the data files' footers,
    with no Spark job; a path that cannot be listed locally is counted by
    Spark."""
    import pyarrow.parquet as pq

    files = _parquet_files(path)
    if files:
        try:
            return sum(pq.read_metadata(f).num_rows for f in files
                       if os.path.basename(f) not in _SUMMARIES)
        except Exception:
            pass
    return read_parquet(spark, path).count()


def read_bundle(
    spark: SparkSession, path: str, fmt: str = "parquet",
) -> tuple[DataFrame, DataFrame]:
    """Read a bundle's (nodes, edges). Parquet sides read their schema
    from a footer (`read_parquet`); JSON lines do not round-trip a schema
    (the writer prunes empties, the reader widens numbers and drops
    all-null columns), so a jsonl read always infers."""
    if fmt == "parquet":
        return (
            read_parquet(spark, os.path.join(path, "nodes")),
            read_parquet(spark, os.path.join(path, "edges")),
        )
    return (
        read_kgx_nodes(spark, os.path.join(path, "nodes")),
        read_kgx_edges(spark, os.path.join(path, "edges")),
    )


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> int:
    """Compact a parquet table directory to ~target-sized files.

    Incremental ingest (streaming micro-batches, per-source merges)
    accumulates small files; at 100 TB the scan cost becomes dominated by
    file-open overhead and tiny row groups long before data volume. This
    rewrites the table with a file count derived from its actual byte
    size, optionally sorting within partitions (clustered columns give
    parquet min/max stats real skipping power).

    Returns the new file count (0 = nothing to compact). Rewrite is staged
    through a sibling temp dir then swapped; stale leftovers from a
    crashed prior run are cleaned at entry, and a failure between the two
    renames restores ``path`` from the saved copy so concurrent readers
    never see the table permanently missing.
    """
    import shutil

    tmp = path.rstrip("/") + "__compact_tmp"
    old = path.rstrip("/") + "__compact_old"
    # Recover from a prior crashed run: a leftover __compact_old with no
    # live table means the swap died mid-flight — restore it; otherwise
    # both leftovers are garbage from before the failure point.
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
    for stale in (tmp, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)

    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    if total == 0:
        return 0
    n_files = max(1, -(-total // target_file_bytes))  # ceil div
    df = read_parquet(spark, path)
    out = df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    out.write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except BaseException:
        os.rename(old, path)  # restore — table must never stay missing
        raise
    shutil.rmtree(old)
    return n_files
